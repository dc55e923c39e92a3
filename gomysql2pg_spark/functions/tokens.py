"""The word tokenizer and the whitespace-collapsed normal form of
`documents.text`: the one definition the text, dedup, ranking, quality,
multimodal, pipeline, sampling and streaming operators use. (The word
counters of `text_stats`, `token_fertility` and `curriculum_order`
split the trimmed text without lowercasing it, a different rule.)

The rule: trim the text, lowercase it, then split on runs of regex
whitespace (`split(lower(trim(text)), '\\s+')`); the normal form
replaces each run with one space instead of splitting on it. The
DuckDB oracles replay the rule verbatim as
`string_split_regex(lower(trim(text)), '\\s+')` and
`regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')`, so a copy that
drifts from it breaks cross-engine exactness only where the copy
runs. Each operator calls these functions and builds the same Column
tree, so its plan is the one an inline copy would give.

Three engine facts make Spark and DuckDB disagree on text outside the
fixtures' charset; each is pinned in `tests/test_oracle_parity.py`:

- U+0130 (İ): Spark's full Unicode case mapping lowercases it to
  `i` + U+0307, DuckDB's to `i`;
- U+000B (vertical tab): Java's `\\s` matches it, RE2's does not, so
  Spark splits on it and DuckDB keeps it inside a token;
- final sigma: Spark lowercases a word-final `Σ` to `ς` (U+03C2),
  DuckDB to `σ` (U+03C3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize(text_col: Column) -> Column:
    """Word tokens of `text_col`: trimmed, lowercased, split on runs of
    whitespace. An empty or all-whitespace text yields `[""]`."""
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def norm_text(text_col: Column) -> Column:
    """`text_col` trimmed, lowercased, with each run of whitespace
    collapsed to one space: the text the exact-norm dedups hash and the
    decontamination probes search."""
    return F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")

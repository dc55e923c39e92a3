"""End-to-end parity: every queries() entry vs its DuckDB oracle.

This is the registry's correctness gate: it covers every entry on each
run, and `scripts/oracle_sweep.py` runs the same comparison at any scale."""

import contextlib
import io
import os
import sys

import pytest

import __spark_entry__ as entry
from gomysql2pg_spark.catalog import TABLES
from tests.oracle_utils import compare_query


def _pairs():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    return [(name, qs[name], os_.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(name, fn, sql, spark, sf_dir, duck):
    df = fn(spark, sf_dir)
    # driver rows reach a plan only as a LocalTableScan: a Python-list
    # frame would fork a Python worker per core for the session
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        df.explain(mode="formatted")
    assert "applySchemaToPythonRDD" not in plan.getvalue(), plan.getvalue()
    if sql is None:
        # rows-only check (non-SQL-expressible operator)
        assert df.count() >= 0
        return
    report = compare_query(df, sql, duck)
    assert report["count_match"], report
    assert report["schema_match"], report
    assert report["dtype_match"], report["dtype_mismatches"]
    assert report["value_match"], report


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_registry_invariants_no_oracle_entries_have_gated_twins():
    """Registry meta-gate: every rows-only entry (no SQL oracle by
    design — sketches, LSH neighbor sets) must have a deterministic
    `<name>_check` / `<name>_verified` twin that IS oracle-gated, so
    the parity record never depends on an unverifiable row."""
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    for name in qs:
        if name in os_:
            continue
        # EXPLICIT variant allowlist: each key is a rows-only variant
        # of the oracle-gated base it maps to (same operator, a
        # different — engine-specific — candidate generator); the base
        # oracle gates the semantics, invariant pytests gate the
        # variant wiring. Deliberately not a name-prefix heuristic: a
        # future <entry>_<suffix> must be added here CONSCIOUSLY or
        # carry its own twin.
        variants = {"dedup_survivors_lsh": "dedup_survivors"}
        if name in variants:
            assert variants[name] in os_, (
                f"{name}'s base {variants[name]} lost its oracle"
            )
            continue
        twin = f"{name}_check" if f"{name}_check" in qs else f"{name}_verified"
        assert twin in qs, f"rows-only entry {name} has no twin"
        assert twin in os_, f"{name}'s twin {twin} is not oracle-gated"


def test_registry_surfaces_a_broken_operator_module(monkeypatch):
    """A module that fails to import must fail queries(), not drop its
    entries from the registry (and from this file's parity matrix)."""
    monkeypatch.setitem(
        sys.modules, "gomysql2pg_spark.operators.layout", None
    )
    with pytest.raises(ImportError):
        entry.queries()


def test_known_unicode_case_mapping_divergence_is_pinned(spark, duck):
    """r12 hostile-text audit: Spark (JVM, FULL Unicode case mapping)
    lowercases U+0130 (LATIN CAPITAL LETTER I WITH DOT ABOVE) to
    'i' + U+0307 combining dot; DuckDB's lower() maps it to plain
    'i'. Operators that normalize via lower() (dedup_exact_norm,
    tfidf_top_terms, the n-gram LMs, repetition_filter) therefore
    diverge from the DuckDB oracle on text containing İ — an
    engine-collation fact, not an implementation bug: each engine is
    self-consistent, and a corpus pipeline runs inside ONE engine.
    Pinned here so the divergence stays visible (and so a future
    engine upgrade that changes either mapping is noticed); the
    driver fixtures contain no such codepoints, so every oracle gate
    is unaffected."""
    from pyspark.sql import functions as F

    jvm = (
        spark.range(1)
        .select(F.lower(F.lit("İ")).alias("x"))
        .collect()[0]["x"]
    )
    dd = duck.execute("SELECT lower('İ')").fetchone()[0]
    assert jvm == "i̇"
    assert dd == "i"
    assert jvm != dd


def test_known_whitespace_class_divergence_is_pinned(spark, duck):
    """r13 review: Java's regex \\s includes vertical tab U+000B;
    DuckDB's RE2 \\s does not. Every \\s-based tokenizer therefore
    splits on \\x0B in Spark but keeps it inside a token in DuckDB —
    an engine-regex fact of the same class as the İ case-mapping
    divergence above: each engine is self-consistent, a pipeline runs
    inside one engine, and the driver fixtures' charset never emits
    \\x0B. Pinned so the divergence stays visible and an engine
    upgrade that changes either \\s definition is noticed."""
    from pyspark.sql import functions as F

    jvm = (
        spark.range(1)
        .select(F.split(F.lit("a\x0bb"), r"\s+").alias("t"))
        .collect()[0]["t"]
    )
    dd = duck.execute(
        r"SELECT string_split_regex('a' || chr(11) || 'b', '\s+')"
    ).fetchone()[0]
    assert jvm == ["a", "b"]  # Java \s matches \x0B
    assert dd == ["a\x0bb"]  # RE2 \s does not
    assert jvm != dd


def test_known_final_sigma_divergence_is_pinned(spark, duck):
    """Spark's lower() applies the Unicode final-sigma rule: a capital
    sigma at the end of a word becomes U+03C2 (ς), elsewhere U+03C3
    (σ); DuckDB's lower() maps every capital sigma to σ. Any operator
    that normalizes via lower() therefore diverges from its DuckDB
    oracle on Greek text whose words end in Σ: an engine-collation
    fact of the same class as the İ case mapping above. Pinned so the
    divergence stays visible and an engine upgrade that changes either
    mapping is noticed; the driver fixtures contain no Greek text."""
    from pyspark.sql import functions as F

    jvm = (
        spark.range(1)
        .select(F.lower(F.lit("ΑΣ ΣΑ")).alias("x"))
        .collect()[0]["x"]
    )
    dd = duck.execute("SELECT lower('ΑΣ ΣΑ')").fetchone()[0]
    assert jvm == "ας σα"  # word-final U+03C2, word-initial U+03C3
    assert dd == "ασ σα"  # U+03C3 in both places
    assert jvm != dd


HOSTILE_TEXT = [
    "emoji 🙂🙂 and 家族 mixed",
    "combining é acute and zero​width",
    "  leading and trailing   ",
    "",  # empty string != NULL
    "TAB\there NEW\nline CR\rreturn",
    "a" * 500,  # one huge token
    "word " * 200,  # long repetitive doc
    "ACENTÚÀ àccents ÇÉDILLE",
    "𝔪𝔞𝔱𝔥 𝓈𝒸𝓇𝒾𝓅𝓉 astral plane",
    "sharp-s ß only; dotted-capital-I excluded (pinned above)",
    # a word-final capital sigma is excluded too (pinned above)
]

# the text-processing family: every operator whose result is a pure
# function of documents.text normalization/tokenization/hashing
HOSTILE_TEXT_ENTRIES = [
    "text_stats",
    "token_count",
    "char_entropy",
    "lang_id",
    "quality_score",
    "dedup_exact_norm",
    "unigram_logprob",
    "bigram_counts",
    "tfidf_top_terms",
    "repetition_filter",
    "mm_features",
    "doc_chunking",
    # r15: the classifier family + fertility are pure functions of
    # documents.text/lang (review finding: they were missing from
    # exactly the sweep whose comment claims that coverage)
    "classifier_score",
    "classifier_calibration",
    "quality_signal_correlation",
    "token_fertility",
    # entries that split words with functions/tokens.py, whose rule
    # the oracles replay verbatim
    "distinct_ngram_ratio",
    "quality_rule_ablation",
    "bpe_fertility",
    "bpe_token_counts",
    "bpe_merges",
    "bpe_merges_k64",
    "bpe_fertility_curve",
    "bigram_lm_logprob",
    "kn_bigram_logprob",
    "weak_label_vote",
    "bm25_topk",
    "bm25_components",
    "winnowing_fingerprint",
    "winnow_near_dup",
    "label_agreement_kappa",
    "dedup_jaccard",
    "dedup_containment",
]


@pytest.fixture(scope="module")
def hostile_text_dir(spark, sf_dir, tmp_path_factory):
    """sf fixtures with documents.text swapped for adversarial strings
    (emoji, astral plane, combining marks, zero-width, empty, embedded
    control whitespace, degenerate token shapes). r12 audit origin:
    this sweep surfaced the mm_features divide-by-zero on empty text
    and the İ case-mapping divergence pinned above."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("sf_hostile_text"))
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src) and t != "documents":
            shutil.copy(src, os.path.join(out, f"{t}.parquet"))
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    d = tbl.to_pydict()
    for i in range(len(d["text"])):
        d["text"][i] = HOSTILE_TEXT[i % len(HOSTILE_TEXT)]
    pq.write_table(
        pa.Table.from_pydict(d, schema=tbl.schema),
        os.path.join(out, "documents.parquet"),
    )
    return out


@pytest.fixture(scope="module")
def hostile_duck(hostile_text_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(hostile_text_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", HOSTILE_TEXT_ENTRIES)
def test_text_operators_hash_match_on_hostile_text(
    spark, hostile_text_dir, hostile_duck, name
):
    """Cross-engine EXACTNESS (not just survival) on adversarial text:
    normalization, tokenization, hashing, and codepoint math must
    agree with the DuckDB oracle byte-for-byte beyond the friendly
    fixture charset."""
    qs, osql = entry.queries(), entry.oracle_sql()
    r = compare_query(
        qs[name](spark, hostile_text_dir), osql[name], hostile_duck
    )
    assert r["count_match"] and r["schema_match"] and r["value_match"], (
        name,
        r.get("sample_diff"),
    )


def test_oracle_money_casts_are_try_cast():
    """Mechanical drift guard for the r12-advice class: the Spark side
    converts money to exact cents via numeric.cents() (try_cast — a
    non-finite value becomes a missing measurement), so EVERY oracle's
    cents conversion must be TRY_CAST too. A plain CAST diverges on
    poisoned input (DuckDB hard-errors where Spark yields NULL); six
    hand-inlined copies drifted exactly this way before r13."""
    import re

    import __spark_entry__ as entry

    bad = {}
    for name, sql in entry.oracle_sql().items():
        hits = re.findall(r"(?<!TRY_)CAST\(ROUND\([^()]*\* 100\)\s*AS\s*BIGINT\)", sql)
        if hits:
            bad[name] = hits
    assert not bad, f"plain CAST on money cents in oracles: {bad}"


def test_epoch_shuffle_hash_match_on_null_doc_id(
    spark, sf_dir, tmp_path_factory
):
    """Cross-engine determinism of the shard key on a hostile NULL
    doc_id: Spark's concat returns NULL where DuckDB's concat skips
    the NULL argument, so the r14 form silently diverged (engine:
    NULL shard; oracle: a real shard) — r14 ADVICE. concat_ws is
    NULL-skipping in BOTH engines; pin hash-exactness on a fixture
    that actually contains the NULL."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("sf_null_docid"))
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    d = tbl.to_pydict()
    d["doc_id"][0] = None
    pq.write_table(
        pa.Table.from_pydict(d, schema=tbl.schema),
        os.path.join(out, "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{out}/documents.parquet')"
    )
    qs, osql = entry.queries(), entry.oracle_sql()
    r = compare_query(
        qs["epoch_shuffle"](spark, out), osql["epoch_shuffle"], con
    )
    con.close()
    assert r["count_match"] and r["schema_match"] and r["value_match"], r

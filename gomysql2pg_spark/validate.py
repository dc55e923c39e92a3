"""Validation layer (reference A16 compareDb, `cmd/compare.go:102-132`)
plus the content-hash upgrade SURVEY.md §2.A calls for.

The reference compares row counts only; a mismatched VALUE at equal
cardinality passes silently. `content_hash` closes that: an
order-insensitive checksum — sum of xxhash64 over all columns per
row — detects any single-cell change with probability ~1-2^-64, computes
in one scan, and is partitioning independent (addition is
associative/commutative), so it is stable under AQE re-plans and cluster
re-sizings. The sum runs in decimal(38,0): exact at any row count and
immune to ANSI-mode long-overflow errors (Spark 4 default).

`compare_tables` checks one table in ONE single-stage Spark job: the
count and hash of each side are Observation metrics over a union of the
two scans, so no Exchange is planned and both scans are tasks of the
result stage, whose accumulator updates Spark applies exactly once per
partition. The hash and the column alignment are generated as SQL
text over quoted identifiers (`functions.sqltext.ident`): a few py4j
calls per table, whatever its width, and a column name may hold a dot
or a backtick.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .functions.sqltext import ident


@dataclass(frozen=True)
class TableCompareResult:
    table: str
    src_rows: int
    dst_rows: int
    src_hash: int | None = None
    dst_hash: int | None = None
    error: str = ""  # why a side could not be read (dst_rows < 0)

    @property
    def count_ok(self) -> bool:  # the reference's verdict (compare.go:124)
        return self.src_rows == self.dst_rows

    @property
    def content_ok(self) -> bool:
        return (
            self.count_ok
            and self.src_hash is not None
            and self.src_hash == self.dst_hash
        )


def _hash_sum(cols: list[str]) -> str:
    """SQL text of the content hash over the named columns."""
    names = ", ".join(ident(c) for c in cols)
    return f"sum(cast(xxhash64({names}) as decimal(38,0)))"


def content_hash(df: DataFrame, cols: list[str] | None = None) -> int:
    """Order-insensitive whole-table checksum: sum(xxhash64(*cols))
    in exact decimal. Null-safe (xxhash64 hashes nulls
    deterministically)."""
    cols = cols or df.columns
    row = df.agg(F.expr(f"{_hash_sum(cols)} AS h")).collect()[0]
    return int(row["h"]) if row["h"] is not None else 0


def _observed_union(
    src: DataFrame, dst: DataFrame, with_hash: bool
) -> tuple[DataFrame, Observation, Observation]:
    """Both sides under an Observation of their count (and hash sum),
    unioned and projected to a constant: writing the result runs every
    scan of both sides as tasks of one stage, with no Exchange."""

    def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
        metrics = [F.expr("count(1) AS n")]
        if with_hash:
            metrics.append(F.expr(f"{_hash_sum(df.columns)} AS h"))
        obs = Observation()
        return df.observe(obs, *metrics).selectExpr("1 AS `_`"), obs

    s, s_obs = observed(src)
    d, d_obs = observed(dst)
    return s.union(d), s_obs, d_obs


def compare_tables(
    src: DataFrame,
    dst: DataFrame,
    table: str = "",
    with_hash: bool = True,
) -> TableCompareResult:
    """compareDb per-table check (`compare.go:102-132`) with the
    content-hash upgrade, as ONE single-stage Spark job: each side's
    count and hash sum are Observation metrics, and the job is a
    `noop` write of the union of the two observed scans (a global
    aggregate per side would plan an Exchange, which AQE runs as two
    jobs).

    The observed numbers are exact: the metrics are accumulators of
    the result stage, and Spark applies a result task's accumulator
    updates once per partition, however often a task is retried or
    speculated (the data phase's row count relies on the same rule).
    Both the source and the destination are scanned in full."""
    if with_hash:
        # align the destination to the SOURCE column order first:
        # per-row xxhash64(*cols) is order-sensitive, so byte-identical
        # content in a different physical column order reported a false
        # content mismatch (r13 review finding). A genuinely different
        # column SET still fails loudly below (AnalysisException names
        # the missing column — a real schema mismatch IS an error).
        if set(src.columns) == set(dst.columns) and (
            src.columns != dst.columns
        ):
            dst = dst.selectExpr(*[ident(c) for c in src.columns])
    both, s_obs, d_obs = _observed_union(src, dst, with_hash)
    both.write.format("noop").mode("overwrite").save()
    s, d = s_obs.get, d_obs.get
    if not with_hash:
        return TableCompareResult(table, s["n"], d["n"])
    return TableCompareResult(
        table,
        s["n"],
        d["n"],
        int(s["h"]) if s["h"] is not None else 0,
        int(d["h"]) if d["h"] is not None else 0,
    )


def compare_report(results: list[TableCompareResult]) -> dict:
    """The reference's two summary tables (all + failed-only,
    `compare.go:78-97`) as a structured dict."""
    return {
        "tables": [
            {
                "table": r.table,
                "src_rows": r.src_rows,
                "dst_rows": r.dst_rows,
                "count_ok": r.count_ok,
                "content_ok": r.content_ok,
            }
            for r in results
        ],
        "failed": [r.table for r in results if not r.content_ok],
        "ok": all(r.content_ok for r in results),
    }

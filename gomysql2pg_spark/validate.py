"""Validation layer (reference A16 compareDb, `cmd/compare.go:102-132`)
plus the content-hash upgrade SURVEY.md §2.A calls for.

The reference compares row counts only; a mismatched VALUE at equal
cardinality passes silently. `content_hash` closes that: an
order-insensitive checksum — sum of xxhash64 over all columns per
row — detects any single-cell change with probability ~1-2^-64, computes
in one scan with map-side partial aggregation, and is partitioning
independent (addition is associative/commutative), so it is stable under
AQE re-plans and cluster re-sizings. The sum runs in decimal(38,0):
exact at any row count and immune to ANSI-mode long-overflow errors
(Spark 4 default).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def _hash_sum(cols: list[str]) -> "F.Column":
    return F.sum(
        F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    )


def content_hash(df: DataFrame, cols: list[str] | None = None) -> int:
    """Order-insensitive whole-table checksum: sum(xxhash64(*cols))
    in exact decimal. Null-safe (xxhash64 hashes nulls
    deterministically)."""
    cols = cols or df.columns
    row = df.agg(_hash_sum(cols).alias("h")).collect()[0]
    return int(row["h"]) if row["h"] is not None else 0


def compare_tables(
    src: DataFrame,
    dst: DataFrame,
    table: str = "",
    with_hash: bool = True,
) -> TableCompareResult:
    """compareDb per-table check (`compare.go:102-132`) with the
    content-hash upgrade. Counts and hashes are single-scan aggregates;
    at scale both run as one job per side with partial aggregation."""
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
            dst = dst.select(*src.columns)
        # one pass per side: count + hash together
        s = src.agg(
            F.count("*").alias("n"), _hash_sum(src.columns).alias("h")
        ).collect()[0]
        d = dst.agg(
            F.count("*").alias("n"), _hash_sum(dst.columns).alias("h")
        ).collect()[0]
        return TableCompareResult(
            table,
            s["n"],
            d["n"],
            int(s["h"]) if s["h"] is not None else 0,
            int(d["h"]) if d["h"] is not None else 0,
        )
    return TableCompareResult(table, src.count(), dst.count())


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

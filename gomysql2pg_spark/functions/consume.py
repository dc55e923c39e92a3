"""The boundary between driver rows and frames: building a frame from
driver-held rows (``local_frame``), draining a one-row report back to
the driver (``drain_one_row``), and benchmark-side result consumption
that cannot be pruned away (``force_count``).

``df.count()`` is the natural way to drain a query, but Catalyst's
column pruning makes it a LIE for timing: counting rows never needs
the output columns, so a projection-only query (per-doc scores,
transforms) degenerates to a parquet row count and an aggregate-only
query drops every aggregate expression whose value is not needed to
enumerate groups. Measured on this repo (r15): the semantic
decontamination scan — 19M broadcast pairs, a 64-element cosine fold
per pair — timed 0.31 s under ``count()`` and 18.6 s once ANY
downstream consumer actually read the aggregate's value; the plans
are identical except for a 19k-row top filter, the difference is
purely which expressions pruning deletes.

``force_count`` returns the same row count while hashing EVERY output
column into a throwaway aggregate, so the timed number includes the
work a real consumer (a writer, an oracle compare, a downstream join)
would pay. xxhash64 covers atomic, array, struct, and binary columns;
map-typed columns are viewed through ``map_entries`` (hash-able);
anything still unsupported falls back to a plain count rather than
failing the harness.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """Driver-held rows as a LocalTableScan with the DECLARED schema:
    the package's one builder of a frame from driver rows, and it never
    starts a Python worker. `createDataFrame(<python list>)` compiles
    to `Scan ExistingRDD ... applySchemaToPythonRDD`; draining it forks
    `pyspark.daemon` plus a worker per core that stay resident for the
    session (~180 MB on 4 cores), and a model table pays a Python task
    in every consuming query's broadcast build (the r14 PQ regression,
    ~0.3 s each). Rows ride as one `pyarrow.Table` instead: one
    driver-local batch, O(model) bytes at any size, where inlined
    literals would re-create the M2 plan-size bomb (nlist 4096 × dim
    768 ≈ 3M literals). A pyarrow table takes the Arrow path whatever
    the session's `spark.sql.execution.arrow.pyspark.enabled` says
    (a pandas frame takes it only when that is on), and a NaN stays
    NaN (pandas would read it as a missing value, i.e. NULL). Zero
    rows are a typed-NULL row under a false filter, which Catalyst
    folds to `LocalTableScan <empty>` (its collect runs no job)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # a real DDL parse: composite types (decimal(p,s), map<k,v>) carry
    # commas, which a split would mistake for columns (r14 ADVICE)
    schema = StructType.fromDDL(ddl)
    rows = list(rows)
    if not rows:
        return (
            spark.range(1)
            .select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
            )
            .where(F.lit(False))
        )
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array(list(col), type=f.type)
            for col, f in zip(zip(*rows), arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def drain_one_row(df: DataFrame, *caches: DataFrame) -> DataFrame:
    """Eagerly drain a provably ONE-row report frame and RELEASE the
    given corpus-scale caches before returning.

    The repo's persist-release discipline
    (tests/test_plan_quality.py::test_persist_release_discipline):
    an operator whose output is a bounded scalar report must not hand
    back a lazy frame that keeps corpus-scale persists pinned for the
    session (r16 ADVICE — the `bm25_topk` postings squatter class).
    The drain is `.first()` — `.limit(1).collect()` by construction,
    so the no-unbounded-collect lint's invariant holds — and the row
    is rebuilt as a local literal frame (LocalTableScan) with the
    SAME schema, which the driver/bench consume like any result. A
    None row (empty report, e.g. an empty-corpus HAVING guard)
    returns `df.limit(0)`: the caches are already released, so the
    empty re-evaluation recomputes at most an empty plan. The release
    is try/finally: a drain that dies (executor OOM, transient FS
    error) must not leave the handed-over corpus-scale caches pinned
    for the session — that failure path would reopen exactly the
    squatter class this helper closes (r16 review)."""
    spark = df.sparkSession
    try:
        row = df.first()
    finally:
        for c in caches:
            c.unpersist()
    if row is None:
        return df.limit(0)
    cols = [
        F.lit(row[f.name]).cast(f.dataType).alias(f.name)
        for f in df.schema.fields
    ]
    return spark.range(1).select(*cols)


def force_count(df: DataFrame) -> int:
    """Row count that forces full evaluation of every output column."""
    try:
        cols = []
        for f in df.schema.fields:
            # backtick-quote: a dotted output name would otherwise
            # resolve as a nested-field reference and trip the
            # fallback for a perfectly hashable column (r15 review)
            c = F.col(f"`{f.name}`")
            if "map<" in f.dataType.simpleString():
                c = F.map_entries(c)
            cols.append(c)
        if not cols:
            return df.count()
        forced = df.select(F.xxhash64(*cols).alias("__h")).agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(__h)").alias("x"),  # overflow-free sink
        )
        forced.schema  # trigger ANALYSIS inside the guard
    except Exception as exc:
        # ANALYSIS-time failure only (unsupported type composition,
        # e.g. a map nested in an array, which xxhash64 rejects) — an
        # honest-but-degraded fallback beats a dead harness. Execution
        # errors must PROPAGATE: swallowing them would re-open the
        # pruning lie this helper exists to close (a query whose
        # expressions fail when actually evaluated would silently
        # fall back to the pruned count and bench as healthy).
        # LOUD, never silent: the bench records claim "hash-forced";
        # an entry that quietly degraded to the prunable count would
        # make that claim a lie for that entry (r15 review finding)
        print(
            "# force_count: analysis fallback to plain count() "
            f"({type(exc).__name__}) — this entry is NOT hash-forced",
            file=sys.stderr,
        )
        return df.count()
    # .first() == .limit(1).collect(): driver receives ONE row by
    # construction (the global aggregate has exactly one), so the
    # no-unbounded-collect lint's invariant holds without an exemption
    return int(forced.first()["n"])

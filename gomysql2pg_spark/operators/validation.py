"""Validation + catalog + typemap operators exposed through the driver
correctness gate (reference A1/A2/A10/A16).

These put the metadata/validation layers under the same oracle check as
the query operators: table discovery with exclusions, per-table row
counts (compareDb parity), content checksums (rows-only — xxhash64 is
Spark-specific), the cell-transform pipeline, and the type map rendered
as a DataFrame against a literal expected table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import list_tables, load_table
from ..functions.consume import local_frame
from ..functions.transforms import strip_nul
from ..functions.typemap import ColumnMeta, map_column


def q_catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: catalog discovery with exclusion patterns — the
    `fetchTableMap` semantics (`cmd/root.go:218-291`) over the parquet
    catalog, excluding `e*` (events/embeddings) like an `exclude:` list."""
    names = list_tables(sf_dir, exclude=["e*"])
    return local_frame(
        spark, [(n,) for n in names], "table_name string"
    ).orderBy("table_name")


ORACLE_CATALOG_TABLES = """
SELECT * FROM (VALUES ('customer'), ('documents'), ('lineitem'),
  ('nation'), ('orders'), ('part'), ('region'), ('supplier'))
  AS t(table_name)
"""


def q_validate_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 compareDb: per-table `select count(*)` fan-out
    (`cmd/compare.go:102-132`), as one unioned aggregate plan."""
    parts = []
    for t in ["region", "nation", "customer", "supplier", "part", "orders"]:
        parts.append(
            load_table(spark, sf_dir, t).agg(
                F.lit(t).alias("tbl"), F.count("*").alias("n_rows")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


ORACLE_VALIDATE_ROWCOUNT = """
SELECT 'region' AS tbl, COUNT(*) AS n_rows FROM region
UNION ALL SELECT 'nation', COUNT(*) FROM nation
UNION ALL SELECT 'customer', COUNT(*) FROM customer
UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
UNION ALL SELECT 'part', COUNT(*) FROM part
UNION ALL SELECT 'orders', COUNT(*) FROM orders
"""


# canonical per-row serializations for the cross-engine checksum: ints
# verbatim, doubles as exact cents, strings raw, '|'-separated. Defined
# per table because the canonical form is a *contract* (what compareDb
# hashes), not reflection.
_CHECKSUM_COLS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "CENTS:s_acctbal"],
}


def q_validate_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-checksum upgrade over compareDb (SURVEY.md §2.A16):
    order-insensitive per-table checksum = bit_xor over a 60-bit
    integer digest of each row's canonical string (md5 prefix). XOR is
    commutative/associative (partitioning-independent) and cannot
    overflow, unlike an integer SUM under ANSI mode. md5 + explicit
    canonical serialization (doubles → exact cents) makes the checksum
    engine-portable, so this is a hard oracle gate rather than the
    rows-only check the xxhash64 form allowed."""
    from ..functions.numeric import cents

    parts = []
    for t, cols in _CHECKSUM_COLS.items():
        df = load_table(spark, sf_dir, t)
        canon = [
            cents(c.split(":", 1)[1]).cast("string")
            if c.startswith("CENTS:")
            else F.col(c).cast("string")
            for c in cols
        ]
        digest = F.conv(
            F.substring(F.md5(F.concat_ws("|", *canon)), 1, 15), 16, 10
        ).cast("long")
        parts.append(
            df.select(digest.alias("d")).agg(
                F.lit(t).alias("tbl"),
                F.count("*").alias("n_rows"),
                F.expr("bit_xor(d)").alias("checksum"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _sql_checksum(table: str, cols: list[str]) -> str:
    canon = ", ".join(
        f"TRY_CAST(ROUND({c.split(':', 1)[1]} * 100) AS BIGINT)"
        if c.startswith("CENTS:")
        else f"CAST({c} AS VARCHAR)"
        for c in cols
    )
    return (
        f"SELECT '{table}' AS tbl, COUNT(*) AS n_rows, "
        f"bit_xor(CAST(('0x' || substring(md5(concat_ws('|', {canon})), "
        f"1, 15)) AS BIGINT)) AS checksum FROM {table}"
    )


ORACLE_VALIDATE_CONTENT_HASH = " UNION ALL ".join(
    _sql_checksum(t, cols) for t, cols in _CHECKSUM_COLS.items()
)


def q_cell_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8: the row pump's cell transforms over real data — NUL strip
    on text (no-op on clean rows, exercised on planted rows in unit
    tests) and the hex pipeline on fabricated binary."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(strip_nul("text")).alias("clean_len"),
        (F.length("text") - F.length(strip_nul("text"))).alias(
            "n_nul_bytes"
        ),
        F.lower(
            F.substring(
                F.hex(F.substring(F.col("text"), 1, 8).cast("binary")),
                9,
                1024,
            )
        ).alias("hex_after_srid"),
    )


ORACLE_CELL_TRANSFORMS = """
SELECT doc_id,
  LENGTH(replace(text, chr(0), '')) AS clean_len,
  LENGTH(text) - LENGTH(replace(text, chr(0), '')) AS n_nul_bytes,
  lower(substring(hex(encode(substring(text, 1, 8))), 9)) AS hex_after_srid
FROM documents
"""


# ---------------------------------------------------------------------------
# typemap rendered as data (FIXTURES.md typemap_matrix) — the expected
# side is a LITERAL table, independent of the implementation
# ---------------------------------------------------------------------------

_MATRIX = [
    ColumnMeta("c_int", "int"),
    ColumnMeta("c_mediumint", "mediumint"),
    ColumnMeta("c_tinyint", "tinyint"),
    ColumnMeta("c_varchar", "varchar", char_max_len=50),
    ColumnMeta("c_char", "char", char_max_len=8),
    ColumnMeta("c_text", "text"),
    ColumnMeta("c_datetime", "datetime"),
    ColumnMeta("c_timestamp", "timestamp"),
    ColumnMeta(
        "c_decimal_ps", "decimal", numeric_precision=12, numeric_scale=2
    ),
    ColumnMeta("c_decimal_p", "decimal", numeric_precision=10),
    ColumnMeta("c_double", "double"),
    ColumnMeta("c_float", "float"),
    ColumnMeta("c_blob", "blob"),
    ColumnMeta("c_bigint", "bigint"),
    ColumnMeta("c_date", "date"),
    ColumnMeta("c_bit", "bit"),
    ColumnMeta("c_geometry", "geometry"),
]


def q_typemap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (
            c.name,
            c.data_type,
            map_column(c).spark_type.simpleString(),
            map_column(c).pg_type,
        )
        for c in _MATRIX
    ]
    ddl = "col_name string, mysql_type string, spark_type string, pg_type string"
    return local_frame(spark, rows, ddl)


ORACLE_TYPEMAP_MATRIX = """
SELECT * FROM (VALUES
  ('c_int', 'int', 'int', 'int'),
  ('c_mediumint', 'mediumint', 'int', 'int'),
  ('c_tinyint', 'tinyint', 'int', 'int'),
  ('c_varchar', 'varchar', 'string', 'varchar(50)'),
  ('c_char', 'char', 'string', 'char(8)'),
  ('c_text', 'text', 'string', 'text'),
  ('c_datetime', 'datetime', 'timestamp_ntz', 'timestamp'),
  ('c_timestamp', 'timestamp', 'timestamp', 'timestamp'),
  ('c_decimal_ps', 'decimal', 'decimal(12,2)', 'decimal(12,2)'),
  ('c_decimal_p', 'decimal', 'decimal(10,0)', 'decimal(10)'),
  ('c_double', 'double', 'double', 'double precision'),
  ('c_float', 'float', 'double', 'double precision'),
  ('c_blob', 'blob', 'binary', 'bytea'),
  ('c_bigint', 'bigint', 'bigint', 'bigint'),
  ('c_date', 'date', 'date', 'date'),
  ('c_bit', 'bit', 'binary', 'bit'),
  ('c_geometry', 'geometry', 'binary', 'geometry'))
  AS t(col_name, mysql_type, spark_type, pg_type)
"""


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of `orders` (rows, nulls, distincts,
    min/max rendered as strings) — the ANALYZE-style inventory a
    migration runs before moving a table (extends the reference's
    count-only validation). One pass: every metric is an aggregate of
    the same scan; the long format comes from a literal explode, not a
    second read."""
    orders = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


ORACLE_PROFILE_ORDERS = """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_orderkey IS NULL AS BIGINT)) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_str FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), CAST(SUM(CAST(o_custkey IS NULL AS BIGINT)) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), CAST(SUM(CAST(o_orderstatus IS NULL AS BIGINT)) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), CAST(SUM(CAST(o_totalprice IS NULL AS BIGINT)) AS BIGINT),
       COUNT(DISTINCT o_totalprice),
       CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CAST(o_orderpriority IS NULL AS BIGINT)) AS BIGINT),
       COUNT(DISTINCT o_orderpriority),
       CAST(MIN(o_orderpriority) AS VARCHAR),
       CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
"""


#: FK edges of the fixture star schema (child, fk_col, parent, pk_col).
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def q_validate_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity validation: per FK edge, child rows whose
    key has no parent — the post-migration check compareDb's rowcount
    pass cannot see (counts can match while references dangle;
    `cmd/compare.go:102-132` stops at counts). Left-anti join per edge;
    parent key sets are dimension-sized, so every anti-join broadcasts
    at 100 TB — the child side never shuffles.

    NULL child keys are excluded before the anti-join: SQL referential
    integrity treats a NULL FK as "no reference", not a violation, and
    this also keeps the Spark plan aligned with a NOT EXISTS oracle on
    engines where NOT IN would three-value-logic the whole edge to
    empty if any parent PK were NULL."""
    parts = []
    for child, fk, parent, pk in _FK_EDGES:
        c = (
            load_table(spark, sf_dir, child)
            .select(F.col(fk).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        orphans = c.join(F.broadcast(p), "k", "left_anti")
        parts.append(
            orphans.agg(
                F.lit(f"{child}.{fk}").alias("fk_edge"),
                F.count("*").alias("n_orphans"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


ORACLE_VALIDATE_FK_ORPHANS = " UNION ALL ".join(
    f"SELECT '{child}.{fk}' AS fk_edge, COUNT(*) AS n_orphans "
    f"FROM {child} c WHERE c.{fk} IS NOT NULL AND NOT EXISTS "
    f"(SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"
    for child, fk, parent, pk in _FK_EDGES
)


#: canonical columns for the bucketed orders checksum
_BUCKET_CHECKSUM_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "CENTS:o_totalprice",
]
N_CHECKSUM_BUCKETS = 16


def q_validate_bucket_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed content checksums: the resumable/parallel upgrade of
    `validate_content_hash` — orders split into key-modulo buckets,
    one order-insensitive XOR digest per bucket. After an incremental
    re-load only the touched buckets need re-checking, and buckets
    compare in parallel on both engines; one map-side-combinable
    shuffle of N_CHECKSUM_BUCKETS rows."""
    from ..functions.numeric import cents

    df = load_table(spark, sf_dir, "orders")
    canon = [
        cents(c.split(":", 1)[1]).cast("string")
        if c.startswith("CENTS:")
        else F.col(c).cast("string")
        for c in _BUCKET_CHECKSUM_COLS
    ]
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", *canon)), 1, 15), 16, 10
    ).cast("long")
    return (
        df.select(
            (F.col("o_orderkey") % N_CHECKSUM_BUCKETS)
            .cast("int")
            .alias("bucket"),
            digest.alias("d"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(d)").alias("checksum"),
        )
    )


ORACLE_VALIDATE_BUCKET_CHECKSUM = f"""
SELECT CAST(o_orderkey % {N_CHECKSUM_BUCKETS} AS INTEGER) AS bucket,
       COUNT(*) AS n_rows,
       bit_xor(CAST(('0x' || substring(md5(concat_ws('|',
         CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
         CAST(o_orderstatus AS VARCHAR),
         CAST(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
       )), 1, 15)) AS BIGINT)) AS checksum
FROM orders GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level anti-entropy diff between two dataset versions — the
    step beyond the reference's count-and-checksum compareDb
    (`cmd/compare.go`): classify every key as added / removed /
    changed / unchanged and report per-status counts with the key
    range. Version 2 is derived deterministically from orders
    (drop keys ≡0 mod 97, bump o_totalprice by 1 for keys ≡0 mod 89,
    insert a negated-key twin for keys ≡0 mod 101 — orderkeys are
    strictly positive, so negative twin keys cannot collide with a
    real key at ANY scale factor, unlike the old key+10M scheme that
    collided once sf ≳ 1.7) so the diff exercises all four statuses
    with an exact oracle.

    Scale shape (r9 rewrite): rows collapse to (key, md5-of-content,
    side) BEFORE any wide operator, and the two versions merge through
    ONE hash aggregate on the key — union + groupBy replaces the
    previous full outer join, trading two shuffles + a sort-merge for
    a single keyed exchange with map-side partials (0.68 → 0.60 s min
    at sf0.1, and the general two-independent-snapshots form is the
    same merge over a union of two scans). Because v2 here DERIVES
    from v1's table, both sides come out of one scan: each row emits
    its v1 entry plus 0-2 v2 entries through an array-filter explode,
    so the fact table is read once, not three times. The status
    classification is a stateless CASE and the final aggregate is
    4-group-bounded."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).try_cast("bigint")

    def h_of(c):
        return F.md5(
            F.concat_ws("|", F.col("o_orderstatus"), c.cast("string"))
        )

    k = F.col("o_orderkey")
    entries = F.array(
        F.struct(
            k.alias("k"), h_of(cents).alias("h"), F.lit(1).alias("side")
        ),
        F.when(
            k % 97 != 0,
            F.struct(
                k.alias("k"),
                h_of(
                    F.when(k % 89 == 0, cents + 100).otherwise(cents)
                ).alias("h"),
                F.lit(2).alias("side"),
            ),
        ),
        F.when(
            k % 101 == 0,
            F.struct(
                (-k).alias("k"),
                h_of(cents).alias("h"),
                F.lit(2).alias("side"),
            ),
        ),
    )
    kv = orders.select(
        F.explode(F.filter(entries, lambda s: s.isNotNull())).alias("e")
    ).select("e.k", "e.h", "e.side")
    merged = kv.groupBy("k").agg(
        F.max(F.when(F.col("side") == 1, F.col("h"))).alias("h1"),
        F.max(F.when(F.col("side") == 2, F.col("h"))).alias("h2"),
    )
    status = merged.select(
        "k",
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return status.groupBy("status").agg(
        F.count("*").alias("n_keys"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


ORACLE_SNAPSHOT_DIFF = """
WITH v1 AS (
  SELECT o_orderkey AS k,
         md5(o_orderstatus || '|' ||
             CAST(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))
           AS h1
  FROM orders
),
v2 AS (
  SELECT o_orderkey AS k,
         md5(o_orderstatus || '|' ||
             CAST(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END
                  AS VARCHAR)) AS h2
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey AS k,
         md5(o_orderstatus || '|' ||
             CAST(TRY_CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))
           AS h2
  FROM orders WHERE o_orderkey % 101 = 0
),
diff AS (
  SELECT COALESCE(v1.k, v2.k) AS k,
         CASE WHEN v1.k IS NULL THEN 'added'
              WHEN v2.k IS NULL THEN 'removed'
              WHEN v1.h1 <> v2.h2 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
)
SELECT status, COUNT(*) AS n_keys,
       MIN(k) AS min_key, MAX(k) AS max_key
FROM diff GROUP BY status
"""


# ---------------------------------------------------------------------------
# end-to-end migration (round 12): the reference's TableData phase as
# ONE benched, oracle-gated entry
# ---------------------------------------------------------------------------

# canonical checksum serialization per migrated table (same contract
# discipline as _CHECKSUM_COLS): CENTS: = money double as exact cents,
# DATE: = calendar date as 'YYYY-MM-DD'
_E2E_TABLES = {
    "nation": {
        "canon": ["n_nationkey", "n_name", "n_regionkey"],
    },
    "customer": {
        "canon": [
            "c_custkey",
            "c_name",
            "c_nationkey",
            "CENTS:c_acctbal",
            "c_mktsegment",
        ],
    },
    "orders": {
        "canon": [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "CENTS:o_totalprice",
            "DATE:o_orderdate",
            "o_orderpriority",
        ],
    },
}


def _canon_checksum(df: DataFrame, table: str, canon: list[str]):
    """(tbl, n_rows, checksum) over the canonical serialization — the
    same 60-bit md5/bit_xor digest as `q_validate_content_hash`
    (order-insensitive, engine-portable, overflow-free)."""
    from ..functions.numeric import cents

    cols = []
    for c in canon:
        tag, _, name = c.partition(":")
        if tag == "CENTS":
            cols.append(cents(name).cast("string"))
        elif tag == "DATE":
            cols.append(F.col(name).cast("date").cast("string"))
        else:
            cols.append(F.col(c).cast("string"))
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
    ).cast("long")
    return df.select(digest.alias("d")).agg(
        F.lit(table).alias("tbl"),
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(d)").alias("checksum"),
    )


def q_migration_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole TableData phase (`cmd/root.go:311-504`:
    per-table bounded-parallel pump → COPY wire encode → load →
    compareDb), end-to-end on the Spark stack: the `Migrator`
    orchestrator drives each table through the JVM COPY-text encoder
    into a staged dump tree (`sinks.jdbc.copy_dump_sink` — the bulk-
    load layout `psql \\copy` consumes, proven live in
    tests/test_postgres_live.py), the tree is read BACK on the JVM by
    `sources.copytext.read_copy_text` (the CLI's compareDb read-back,
    each table's schema taken from its source as there), and the
    result is the read-back side's content checksum per table. The
    oracle computes the identical canonical checksum over the ORIGINAL
    tables, so any corruption in encode, file split, decode, or type
    round-trip (money doubles, dates, int widths) fails the value
    hash — a strictly stronger
    verdict than the reference's count-only compare, measured as one
    bench row against the reference's published migration wall times
    (BASELINE.md; its only benchmarks are this phase). Every rep
    re-stages the dump tree: the measured number IS the migration, not
    a cached scan. The staging tree lives at a FIXED per-user,
    per-fixture path that every rep overwrites (the table writers are
    mode("overwrite")), so repeated bench reps / scale-smoke runs reuse
    one tree instead of leaking a fresh mkdtemp per invocation; the
    path is ownership-verified (`secure_private_dir`) so a squatted
    pre-created dir at the predictable name is refused, and the
    single-runner assumption is explicit: two CONCURRENT runs of this
    entry on the same fixture would overwrite each other's staging
    (the bench, smoke, and driver all execute entries sequentially)."""
    import hashlib as _hashlib
    import os as _os
    import tempfile as _tempfile

    from ..functions.paths import secure_private_dir
    from ..migrate import MigrationConfig, Migrator
    from ..sinks.jdbc import copy_dump_sink
    from ..sources.copytext import read_copy_text

    fixture = _hashlib.md5(
        _os.path.abspath(sf_dir).encode()
    ).hexdigest()[:12]
    uid = _os.getuid() if hasattr(_os, "getuid") else 0
    out_dir = secure_private_dir(
        _os.path.join(
            _tempfile.gettempdir(),
            f"spark_graft_mig_e2e-u{uid}-{fixture}",
        )
    )

    def source(table: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        if table == "orders":
            # exercise the DATE wire form (fixture stores a timestamp)
            df = df.select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
                "o_orderpriority",
            )
        return df

    mig = Migrator(
        spark,
        MigrationConfig(max_parallel=len(_E2E_TABLES)),
        source_fn=source,
        sink_fn=copy_dump_sink(out_dir),
    )
    report = mig.run(list(_E2E_TABLES))
    if report.failed:
        raise RuntimeError(f"migration_e2e failed: {report.failed}")
    parts = []
    for table, spec in _E2E_TABLES.items():
        back = read_copy_text(
            spark, _os.path.join(out_dir, table), source(table).schema
        )
        parts.append(_canon_checksum(back, table, spec["canon"]))
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _e2e_oracle_one(table: str, canon: list[str]) -> str:
    cols = []
    for c in canon:
        tag, _, name = c.partition(":")
        if tag == "CENTS":
            cols.append(f"CAST(TRY_CAST(ROUND({name} * 100) AS BIGINT) AS VARCHAR)")
        elif tag == "DATE":
            cols.append(f"CAST(CAST({name} AS DATE) AS VARCHAR)")
        else:
            cols.append(f"CAST({c} AS VARCHAR)")
    return (
        f"SELECT '{table}' AS tbl, COUNT(*) AS n_rows, "
        f"bit_xor(CAST(('0x' || substring(md5(concat_ws('|', "
        f"{', '.join(cols)})), 1, 15)) AS BIGINT)) AS checksum "
        f"FROM {table}"
    )


ORACLE_MIGRATION_E2E = " UNION ALL ".join(
    _e2e_oracle_one(t, spec["canon"]) for t, spec in _E2E_TABLES.items()
)


QUERIES = {
    "snapshot_diff": q_snapshot_diff,
    "migration_e2e": q_migration_e2e,
    "profile_orders": q_profile_orders,
    "validate_fk_orphans": q_validate_fk_orphans,
    "validate_bucket_checksum": q_validate_bucket_checksum,
    "catalog_tables": q_catalog_tables,
    "validate_rowcount": q_validate_rowcount,
    "validate_content_hash": q_validate_content_hash,
    "cell_transforms": q_cell_transforms,
    "typemap_matrix": q_typemap_matrix,
}

ORACLES = {
    "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "migration_e2e": ORACLE_MIGRATION_E2E,
    "profile_orders": ORACLE_PROFILE_ORDERS,
    "validate_fk_orphans": ORACLE_VALIDATE_FK_ORPHANS,
    "validate_bucket_checksum": ORACLE_VALIDATE_BUCKET_CHECKSUM,
    "catalog_tables": ORACLE_CATALOG_TABLES,
    "validate_rowcount": ORACLE_VALIDATE_ROWCOUNT,
    "validate_content_hash": ORACLE_VALIDATE_CONTENT_HASH,
    "cell_transforms": ORACLE_CELL_TRANSFORMS,
    "typemap_matrix": ORACLE_TYPEMAP_MATRIX,
}

"""Catalog: table discovery + loading (reference A1/A2, `cmd/root.go:218-291`).

The reference discovers tables from MySQL `information_schema.tables`
and applies `*`-wildcard exclusion patterns. Here the "catalog" is a
directory of parquet tables; the same discovery/exclusion semantics
apply (`exclude_tables`), and column names are lowercased exactly as the
reference lowercases them at scan time (`cmd/root.go:327-329`).
"""

from __future__ import annotations

import os
from fnmatch import fnmatch

from pyspark.sql import DataFrame, SparkSession

#: The star-schema fixture tables (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def excluded(name: str, patterns: list[str] | None) -> bool:
    """`exclude:` semantics of `cmd/root.go:227-247`: `*` wildcard, ANDed
    NOT LIKE — i.e. a table is dropped if it matches ANY pattern."""
    return any(fnmatch(name, p) for p in patterns or [])


def _fs_path(path_or_uri: str):
    """(pyarrow FileSystem, fs-internal path) for a local path OR a
    URI (`file://`, `s3://`, …) — the same `pyarrow.fs` routing as
    `fixture_stat`, extended to the load path itself (the r13
    VERDICT's URI-corpus item): the engine PLANS (lists, probes
    footers) through pyarrow.fs and READS through Spark at the same
    URI string, so an object-store sf_dir works end-to-end wherever
    the Spark cluster has the matching filesystem connector."""
    from pyarrow import fs as pafs

    if "://" in path_or_uri:
        fs, p = pafs.FileSystem.from_uri(path_or_uri)
        return fs, p
    return pafs.LocalFileSystem(), path_or_uri


def join_path(base: str, name: str) -> str:
    """Path join that preserves URI form."""
    if "://" in base:
        return base.rstrip("/") + "/" + name
    return os.path.join(base, name)


def list_tables(sf_dir: str, exclude: list[str] | None = None) -> list[str]:
    from pyarrow import fs as pafs

    fs, root = _fs_path(sf_dir)
    names = sorted(
        i.base_name[: -len(".parquet")]
        for i in fs.get_file_info(pafs.FileSelector(root))
        if i.base_name.endswith(".parquet")
    )
    return [n for n in names if not excluded(n, exclude)]


def _schema_probe_path(path: str):
    """Resolve a table path to (filesystem, single parquet file) for
    footer probes. A table may be a single file OR a directory of
    part-files (the multi-file layout the bench splitter produces and
    any real lake uses) — pyarrow's read_schema needs a concrete
    file."""
    from pyarrow import fs as pafs

    fs, p = _fs_path(path)
    if fs.get_file_info(p).type == pafs.FileType.Directory:
        parts = sorted(
            i.path
            for i in fs.get_file_info(pafs.FileSelector(p))
            if i.type == pafs.FileType.File
            and i.base_name.endswith(".parquet")
        )
        if parts:
            return fs, parts[0]
    return fs, p


def timestamp_units(path: str) -> dict[str, str]:
    """Physical parquet timestamp unit per column ('s'|'ms'|'us'|'ns').

    The fixtures have changed encoding between rounds (TIMESTAMP(NANOS)
    through round 3, TIMESTAMP(MICROS) from round 4) — the loader must be
    unit-agnostic, like the reference's byte-transparent row pump
    (`cmd/root.go:435-443`)."""
    return {name: unit for name, (unit, _tz) in timestamp_meta(path).items()}


def timestamp_meta(path: str) -> dict[str, tuple[str, str | None]]:
    """Physical parquet timestamp (unit, tz) per column.

    `tz` is None for naive (isAdjustedToUTC=false) columns and a zone
    string (usually 'UTC') for UTC-adjusted ones. Streaming sources pin
    an explicit schema, so they need BOTH facts: the unit decides
    long-vs-timestamp, the tz decides TIMESTAMP vs TIMESTAMP_NTZ."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    fs, probe = _schema_probe_path(path)
    schema = pq.read_schema(probe, filesystem=fs)
    return {
        f.name: (f.type.unit, f.type.tz)
        for f in schema
        if pat.is_timestamp(f.type)
    }


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; lowercase column names (reference `root.go:327-329`).

    Timestamp handling is unit-agnostic:

    - TIMESTAMP(NANOS) is unreadable by Spark's vectorized reader
      (PARQUET_TYPE_ILLEGAL); read as raw nanos
      (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
      microsecond timestamps — the same ns→us truncation DuckDB applies.
    - TIMESTAMP(MICROS/MILLIS) without UTC adjustment arrives as
      TIMESTAMP_NTZ; cast to TIMESTAMP under the pinned-UTC session
      timezone so `unix_micros` epoch math matches DuckDB's `epoch_us`
      on the same naive values.

    `sf_dir` may be a local path or a URI (`file://`, `s3://`, …):
    the footer probe routes through pyarrow.fs and the read hands the
    URI to Spark unchanged (the cluster needs the matching Hadoop
    filesystem connector for remote schemes — standard Spark
    deployment surface, not engine code)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    path = join_path(sf_dir, f"{name}.parquet")
    units = timestamp_units(path)
    ns_cols = [c for c, u in units.items() if u == "ns"]
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    lowered = [c.lower() for c in df.columns]
    if lowered != df.columns:
        df = df.toDF(*lowered)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or list_tables(sf_dir))}


def fixture_stat(sf_dir: str, table: str):
    """Identity of one fixture table for driver-side caches, read
    through `pyarrow.fs` like every other file the engine plans
    against: (canonical path, ((name, size, mtime_ns), ...)) over the
    file or its shallow listing, or None when the table is missing /
    unstatable. (size, mtime_ns) — not whole-second mtime, not bare
    path — so a fixture rewritten in place within the same second
    still changes the key (the r12/r13 cache-staleness findings), and
    a URI sf_dir keys through the same FileInfo surface instead of
    os.stat (os.path.abspath would mangle 's3://…' into a local
    path)."""
    from pyarrow import fs as pafs

    try:
        if "://" in sf_dir:
            fs, root = pafs.FileSystem.from_uri(sf_dir)
            path = root.rstrip("/") + f"/{table}.parquet"
            ident = sf_dir.rstrip("/") + f"/{table}.parquet"
        else:
            fs = pafs.LocalFileSystem()
            path = os.path.join(sf_dir, f"{table}.parquet")
            ident = os.path.abspath(path)
        info = fs.get_file_info(path)
        if info.type == pafs.FileType.NotFound:
            return None
        entries = [("", info.size or -1, info.mtime_ns or -1)]
        if info.type == pafs.FileType.Directory:
            entries += sorted(
                (i.base_name, i.size or -1, i.mtime_ns or -1)
                for i in fs.get_file_info(pafs.FileSelector(path))
                if i.type == pafs.FileType.File
            )
        return (ident, tuple(entries))
    except (OSError, ValueError):
        # ValueError covers pyarrow ArrowInvalid (e.g. an unrecognized
        # URI scheme) — "unstatable" means CACHE MISS, never a crash
        # (r13 review finding)
        return None

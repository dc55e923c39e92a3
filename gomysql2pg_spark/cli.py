"""The reference's command-line surface, rebuilt on the Spark stack.

`gomysql2pg` is a CLI tool (cobra commands at `/root/reference/cmd/
root.go:39`, `create.go:28-179`, `compare.go:24`, `version.go:19`); a
user switching to this repo needs the same entry points, not just the
library. This module maps each subcommand onto the already-proven
layers:

    python -m gomysql2pg_spark -c config.yml [command]

| command     | reference              | here                                |
|-------------|------------------------|-------------------------------------|
| migrate     | root `gomysql2pg`      | full phase order: tables -> data -> idx/view/trigger/seq -> compareDb |
| onlyData    | create.go:178          | Migrator data phase only            |
| createTable | create.go:28           | A10 CREATE TABLE DDL per table      |
| seqOnly     | create.go:86           | A11 sequence DDL (metadata block)   |
| idxOnly     | create.go:116          | A12 index/PK/unique DDL (metadata)  |
| viewOnly    | create.go:148          | A14 rewritten view DDL (metadata)   |
| compareDb   | compare.go:24          | A16 row counts + content hash       |
| version     | version.go:19          | prints the package version          |

Config is the reference's example.yml shape (`MigrationConfig.
from_yaml`). Source/destination resolution extends it just enough to
be runnable without a live MySQL:

- ``src.host`` set -> the partitioned JDBC reader: a ``jdbc:`` URL
  passes through (the shape the embedded-Derby migration tests prove);
  a verbatim example.yml host/port/database block builds the MySQL URL
  the reference opens (`cmd/app.go:36-44`);
- ``src.database`` naming a DIRECTORY -> a parquet table tree
  (`catalog.list_tables`/`load_table`) — the offline-dump form of a
  source database. Per-table custom SQL from the ``tables:`` block
  runs against temp views of the tree (reference `root.go:531-545`).
- ``dest.dbType: copydump`` (or a directory ``dest.database`` with no
  host) -> each table stages as a COPY-text dump tree
  (`sinks.jdbc.copy_dump_sink`, bulk-loadable via ``psql \\copy``),
  and compareDb reads it back on the JVM through
  `sources.copytext.read_copy_text`, so a `migrate` run starts no
  Python worker;
- ``dest.host`` set -> the batched JDBC sink: a ``jdbc:`` URL passes
  through; a verbatim host/port/database block routes through the
  reference's dbType dialect switch (postgres/gauss/vastbase/kingbase,
  `cmd/app.go:59-81`).

DDL commands print statements to stdout (or ``--out FILE``); execution
on a live target is proven separately (tests/test_postgres_live.py) —
the CLI emits, the DBA applies, exactly how dump-based migrations are
operated. Sequences/indexes/views need catalog metadata a parquet tree
doesn't carry, so they read an optional ``metadata:`` block in the
config (lists of sequence/index/view/trigger specs) — the
declared-metadata form of the reference's information_schema queries.
The data phase applies the reference's A8 NUL-strip to text cells
(`root.go:441-470`), records stripped rows under
``errorsDir/invalidTableData/<table>`` when ``errorsDir`` is set, and
compareDb's content hash will flag such rows as changed — the honest
verdict for data the pump mutated.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys

VERSION = "0.12.0"  # tracks the build round


# ---------------------------------------------------------------------------
# Spark schema -> ColumnMeta (for DDL over parquet sources)
# ---------------------------------------------------------------------------


def column_meta_from_field(field, pos: int):
    """Reverse-map a Spark StructField to the MySQL-shaped ColumnMeta
    the A10 generator consumes. Parquet carries no length/default
    metadata, so strings map to text (longtext) and defaults are
    absent. Nested types (array/map/struct) have no MySQL source form
    — they fail loudly per table rather than emit wrong DDL."""
    from pyspark.sql import types as T

    from .functions.typemap import ColumnMeta

    dt = field.dataType
    if isinstance(dt, T.DecimalType):
        return ColumnMeta(
            name=field.name,
            data_type="decimal",
            numeric_precision=dt.precision,
            numeric_scale=dt.scale,
            is_nullable="YES" if field.nullable else "NO",
            ordinal_position=pos,
        )
    simple = {
        T.LongType: "bigint",
        T.IntegerType: "int",
        T.ShortType: "smallint",
        T.ByteType: "tinyint",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.BooleanType: "tinyint",
        T.StringType: "longtext",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.TimestampNTZType: "datetime",
        T.BinaryType: "blob",
    }
    for spark_t, mysql_t in simple.items():
        if isinstance(dt, spark_t):
            return ColumnMeta(
                name=field.name,
                data_type=mysql_t,
                is_nullable="YES" if field.nullable else "NO",
                ordinal_position=pos,
            )
    raise ValueError(
        f"column {field.name}: Spark type {dt.simpleString()} has no "
        f"MySQL source form (nested types are not migratable DDL)"
    )


# ---------------------------------------------------------------------------
# source / destination resolution
# ---------------------------------------------------------------------------


#: JDBC driver class by URL scheme (the reference hard-codes the MySQL
#: driver for src and switches dest on dbType, `cmd/app.go:36-81`;
#: derby is the embedded engine the test suite proves round-trips)
_JDBC_DRIVERS = {
    "jdbc:mysql": "com.mysql.cj.jdbc.Driver",
    "jdbc:postgresql": "org.postgresql.Driver",
    "jdbc:derby": "org.apache.derby.jdbc.EmbeddedDriver",
}


def _driver_for(url: str) -> str:
    for prefix, driver in _JDBC_DRIVERS.items():
        if url.startswith(prefix):
            return driver
    return _JDBC_DRIVERS["jdbc:mysql"]


def src_source_config(cfg):
    """The JdbcSourceConfig a src block resolves to: a ``jdbc:`` URL
    in ``src.host`` passes through; a verbatim example.yml
    host/port/database block builds the MySQL URL the reference's
    driver opens (`cmd/app.go:36-44`). Exposed for unit tests."""
    from .sources.jdbc import JdbcSourceConfig

    src = cfg.src
    url = (
        src.host
        if src.host.startswith("jdbc:")
        else f"jdbc:mysql://{src.host}:{src.port}/{src.database}"
    )
    return JdbcSourceConfig(
        url=url,
        user=src.username,
        password=src.password,
        driver=_driver_for(url),
        max_parallel=cfg.max_parallel,
    )


def _build_source(spark, cfg):
    """-> (tables, source_fn). Parquet-dir or JDBC sources (URL or
    the reference's native host/port/database block). `source_fn` is
    memoized: createTable, onlyData and compareDb share one DataFrame
    per table (one schema probe per table and invocation); each action
    still scans the live source."""
    from .catalog import list_tables, load_table
    from .functions.patterns import excluded_tables
    from .sources.jdbc import read as jdbc_read

    src = cfg.src
    if src.host:
        jcfg = src_source_config(cfg)
        if not cfg.tables:
            raise SystemExit(
                "jdbc source: list the tables to move under `tables:` "
                "(catalog discovery needs a dialect-specific query)"
            )

        @functools.cache
        def source(table: str):
            sql = cfg.tables.get(table) or None
            return jdbc_read(spark, jcfg, table=None if sql else table,
                             query=sql)

        return excluded_tables(list(cfg.tables), cfg.exclude), source

    root = src.database
    if not os.path.isdir(root):
        raise SystemExit(
            f"src: {root!r} is neither a directory of parquet tables "
            f"nor a jdbc: URL in src.host"
        )
    tables = list_tables(root, exclude=cfg.exclude)
    if any(cfg.tables.get(t) for t in tables):
        for t in tables:  # custom SQL may join any source table
            load_table(spark, root, t).createOrReplaceTempView(t)

    @functools.cache
    def source(table: str):
        sql = cfg.tables.get(table, "")
        return spark.sql(sql) if sql else load_table(spark, root, table)

    return tables, source


def _dest_is_dump(cfg) -> bool:
    d = cfg.dest
    return d.dbtype == "copydump" or (
        not d.host and bool(d.database) and not d.username
    )


def dest_sink_config(cfg):
    """The JdbcSinkConfig a dest block resolves to. A verbatim
    example.yml (host/port/database + dbType postgres|gauss|vastbase|
    kingbase) goes through the reference's dialect switch
    (`sink_config_for`, `cmd/app.go:59-81`); a ``jdbc:`` URL in
    ``dest.host`` passes straight through. Exposed (not underscored)
    so the URL/driver resolution is unit-testable without a server."""
    from .sinks.jdbc import JdbcSinkConfig, sink_config_for

    dest = cfg.dest
    if dest.host.startswith("jdbc:"):
        return JdbcSinkConfig(
            url=dest.host,
            user=dest.username,
            password=dest.password,
            driver=_driver_for(dest.host),
        )
    return sink_config_for(
        dest.dbtype,
        dest.host,
        dest.port,
        dest.database,
        user=dest.username,
        password=dest.password,
    )


def _build_sink(spark, cfg):
    """-> (sink_fn, readback_fn|None). Dump-tree or JDBC destinations;
    readback_fn(table, src_df) -> DataFrame re-reads what was loaded,
    for compareDb."""
    from .sinks.jdbc import copy_dump_sink, write
    from .sources.copytext import read_copy_text

    dest = cfg.dest
    if _dest_is_dump(cfg):
        dump_dir = dest.database
        os.makedirs(dump_dir, exist_ok=True)
        sink = copy_dump_sink(dump_dir)

        def readback(table: str, src_df):
            # the staged columns ARE the source columns
            return read_copy_text(
                spark, os.path.join(dump_dir, table), src_df.schema
            )

        return sink, readback
    if not dest.host:
        raise SystemExit(
            "dest: set dbType: copydump with a directory in "
            "dest.database, a host/port/database block, or a jdbc: "
            "URL in dest.host"
        )
    jcfg = dest_sink_config(cfg)

    def sink(df, table: str):
        write(df, jcfg, table)

    def readback(table: str, src_df):
        return (
            spark.read.format("jdbc")
            .option("url", jcfg.url)
            .option("user", jcfg.user)
            .option("password", jcfg.password)
            .option("driver", jcfg.driver)
            .option("dbtable", table)
            .load()
        )

    return sink, readback


# ---------------------------------------------------------------------------
# commands
# ---------------------------------------------------------------------------


def _emit(
    statements: list[str], out_path: str | None, append: bool = False
) -> None:
    text = ";\n".join(statements) + (";\n" if statements else "")
    if out_path:
        with open(out_path, "a" if append else "w", encoding="utf-8") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


def cmd_create_table(spark, cfg, tables, source, out=None) -> int:
    """createTable (`create.go:28-84`): target DDL per source table;
    un-migratable tables (nested Spark types) are reported and counted
    as failures, like the reference's per-table error accounting."""
    from .ddl import create_table_sql

    stmts, failed = [], []
    for t in tables:
        df = source(t)
        try:
            cols = [
                column_meta_from_field(f, i + 1)
                for i, f in enumerate(df.schema.fields)
            ]
        except ValueError as exc:
            failed.append((t, str(exc)))
            continue
        stmts += create_table_sql(
            t, cols, cfg.char_in_length, cfg.use_nvarchar2
        )
    _emit(stmts, out)
    for t, err in failed:
        print(f"-- SKIPPED {t}: {err}", file=sys.stderr)
    # any un-migratable table is a nonzero exit, even when other
    # tables succeeded — the reference counts per-table failures into
    # its summary verdict (`root.go:166-209`); the stderr SKIPPED
    # notes alone would let scripted callers miss a partial failure
    return 1 if failed else 0


def _metadata_block(config_path: str) -> dict:
    import yaml

    with open(config_path) as f:
        raw = yaml.safe_load(f) or {}
    return raw.get("metadata") or {}


def _seq_stmts(config_path) -> list[str]:
    from .ddl import sequence_sql

    stmts = []
    for s in _metadata_block(config_path).get("sequences", []):
        stmts += sequence_sql(
            s["table"], s["column"], int(s.get("start", 1))
        )
    return stmts


def cmd_seq_only(config_path, out=None) -> int:
    _emit(_seq_stmts(config_path), out)
    return 0


def _idx_stmts(config_path, cfg=None) -> list[str]:
    from .ddl import IndexMeta, index_sql

    distributed = bool(cfg and cfg.distributed)
    stmts = []
    for s in _metadata_block(config_path).get("indexes", []):
        stmts.append(
            index_sql(
                IndexMeta(
                    table=s["table"],
                    index_name=s["name"],
                    columns=list(s["columns"]),
                    non_unique=not bool(s.get("unique", False)),
                    index_type=str(s.get("type", "BTREE")),
                ),
                distributed=distributed,
                suffix=s.get("suffix"),
            )
        )
    return stmts


def cmd_idx_only(config_path, cfg=None, out=None) -> int:
    _emit(_idx_stmts(config_path, cfg), out)
    return 0


def _view_stmts(config_path) -> list[str]:
    from .ddl import view_sql

    return [
        view_sql(
            v["name"], v["definition"], v.get("sourceSchema", "")
        ).rstrip(";")
        for v in _metadata_block(config_path).get("views", [])
    ]


def cmd_view_only(config_path, out=None) -> int:
    _emit(_view_stmts(config_path), out)
    return 0


def _trigger_stmts(config_path) -> list[str]:
    """Trigger DDL from the metadata block in the vanilla-PG
    two-statement plpgsql form that actually executes on PostgreSQL
    (A15; the Gauss one-statement grammar stays available as
    `ddl.trigger_sql` for reference-parity emission)."""
    from .ddl import TriggerMeta, trigger_sql_pg

    stmts = []
    for s in _metadata_block(config_path).get("triggers", []):
        fn_sql, trg_sql = trigger_sql_pg(
            TriggerMeta(
                name=s["name"],
                table=s["table"],
                timing=s["timing"],
                event=s["event"],
                body=s["body"],
            )
        )
        stmts += [fn_sql.rstrip(";"), trg_sql.rstrip(";")]
    return stmts


def cmd_only_data(spark, cfg, tables, source, sink) -> int:
    """onlyData (`create.go:178`): the bounded-parallel data phase with
    the reference's per-table failure accounting, the invalidTableData
    side channel when errorsDir is set (`root.go:450-470`), and the
    summary."""
    from .functions.transforms import nul_predicate, strip_nul_columns
    from .migrate import Migrator

    def _string_cols(df):
        # parquet sources carry no MySQL catalog; treat every string
        # column as NUL-vulnerable text (the superset)
        return [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() == "string"
        ]

    def transform(df):
        # A8: the reference's pump strips U+0000 from text cells before
        # writing (`root.go:441-470` — PG text rejects NUL). NOTE: a
        # stripped row therefore hashes differently from its source in
        # compareDb — by design; the side channel below records it
        return strip_nul_columns(df, _string_cols(df))

    def error_predicate(df):
        return nul_predicate(df, {c: "text" for c in _string_cols(df)})

    mig = Migrator(
        spark, cfg, source_fn=source, sink_fn=sink,
        transform_fn=transform,
        error_predicate=error_predicate if cfg.errors_dir else None,
    )
    report = mig.run(tables)
    for r in report.results:
        status = "ok" if r.ok else f"FAILED ({(r.error or '').splitlines()[0]})"
        print(f"{r.table}: {r.rows} rows in {r.seconds:.2f}s {status}")
    print(
        f"migrated {sum(1 for r in report.results if r.ok)}/"
        f"{len(report.results)} tables"
    )
    return 1 if report.failed else 0


def cmd_compare_db(spark, cfg, tables, source, readback) -> int:
    """compareDb (`compare.go:24-132`) upgraded with the content hash:
    per-table row counts AND the order-insensitive checksum, compared
    on the `maxParallel` pool (`Migrator.validate`)."""
    from .migrate import Migrator
    from .validate import compare_report

    results = Migrator(spark, cfg, source_fn=source, sink_fn=None).validate(
        tables, readback
    )
    for r in results:
        if r.error:
            print(f"{r.table}: {r.error}", file=sys.stderr)
    rep = compare_report(results)
    for row in rep["tables"]:
        verdict = "ok" if row["content_ok"] else "MISMATCH"
        print(
            f"{row['table']}: src={row['src_rows']} "
            f"dst={row['dst_rows']} {verdict}"
        )
    print("compareDb:", "ok" if rep["ok"] else f"failed {rep['failed']}")
    return 0 if rep["ok"] else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="gomysql2pg-spark",
        description=__doc__.splitlines()[0],
    )
    p.add_argument("-c", "--config", help="example.yml-shaped config")
    p.add_argument(
        "command",
        nargs="?",
        default="migrate",
        choices=[
            "migrate", "onlyData", "createTable", "seqOnly", "idxOnly",
            "viewOnly", "compareDb", "version",
        ],
    )
    p.add_argument("--out", help="write DDL here instead of stdout")
    args = p.parse_args(argv)

    if args.command == "version":
        print(f"gomysql2pg-spark {VERSION}")
        return 0
    if not args.config:
        p.error("-c/--config is required for every command but version")

    from .migrate import MigrationConfig

    cfg = MigrationConfig.from_yaml(args.config)

    # DDL-from-metadata commands need no Spark session at all
    if args.command == "seqOnly":
        return cmd_seq_only(args.config, args.out)
    if args.command == "idxOnly":
        return cmd_idx_only(args.config, cfg, args.out)
    if args.command == "viewOnly":
        return cmd_view_only(args.config, args.out)

    from .session import get_spark
    spark = get_spark(app_name="gomysql2pg-spark-cli")
    tables, source = _build_source(spark, cfg)

    if args.command == "createTable":
        return cmd_create_table(spark, cfg, tables, source, args.out)

    sink, readback = _build_sink(spark, cfg)
    if args.command == "onlyData":
        return cmd_only_data(spark, cfg, tables, source, sink)
    if args.command == "compareDb":
        if readback is None:
            raise SystemExit("compareDb: destination is not readable")
        return cmd_compare_db(spark, cfg, tables, source, readback)

    # migrate = the reference's full phase order (`root.go:60-213`):
    # table DDL -> data -> indexes -> views -> triggers -> sequences
    # (from the metadata block, where declared) -> compareDb summary
    rc = cmd_create_table(spark, cfg, tables, source, args.out)
    rc = cmd_only_data(spark, cfg, tables, source, sink) or rc
    post_ddl = (
        _idx_stmts(args.config, cfg)
        + _view_stmts(args.config)
        + _trigger_stmts(args.config)
        + _seq_stmts(args.config)
    )
    if post_ddl:
        # same destination as the table DDL: one --out file carries the
        # whole DDL artifact (append — cmd_create_table already wrote it)
        _emit(post_ddl, args.out, append=True)
    if readback is not None:
        rc = cmd_compare_db(spark, cfg, tables, source, readback) or rc
    return rc


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())

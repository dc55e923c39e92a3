"""END-TO-END migration against a real database target: the reference's
core flow (discover → transform → parallel load → compareDb validate,
`cmd/root.go:60-213`) run with embedded Derby standing in for
PostgreSQL. Everything real: the Migrator thread pool, the JDBC batched
writes, and the count validation read back over JDBC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gomysql2pg_spark.catalog import load_table
from gomysql2pg_spark.migrate import MigrationConfig, Migrator

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TABLES = ["region", "nation", "customer", "supplier"]


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby_mig") / "migdb"
    return f"jdbc:derby:{db};create=true"


def _normalize(df):
    # Derby has no TIMESTAMP_NTZ; cast like the typemap layer does for
    # zone-less MySQL datetimes
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def test_streaming_ingest_into_database(spark, sf_dir, derby_url, tmp_path):
    """Continuous load: a file stream drained micro-batch-by-micro-batch
    into the JDBC target through foreachBatch, with checkpoint-resume —
    the streaming twin of the batch migration. Restarting with the same
    checkpoint after new files arrive appends ONLY the new rows
    (exactly-once across restarts)."""
    ev = _normalize(
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
    )
    us = F.unix_micros("ts")
    stats = ev.select(F.min(us).alias("lo"), F.max(us).alias("hi")).first()
    cut = stats["lo"] + (stats["hi"] - stats["lo"]) // 2

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "stream_ckpt")
    ev.filter(us < cut).coalesce(1).write.parquet(src)

    def write_batch(batch_df, batch_id):
        (
            batch_df.write.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", "EVENTS_STREAMED")
            .option("driver", DRIVER)
            .option("batchsize", "5000")
            .mode("append")
            .save()
        )

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # bootstrap the target table, then stream into it
    spark.createDataFrame([], ev.schema).write.format("jdbc").option(
        "url", derby_url
    ).option("dbtable", "EVENTS_STREAMED").option("driver", DRIVER).mode(
        "overwrite"
    ).save()

    run_once()
    got1 = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "EVENTS_STREAMED")
        .option("driver", DRIVER)
        .load()
    )
    assert got1.count() == ev.filter(us < cut).count()

    ev.filter(us >= cut).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got2 = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "EVENTS_STREAMED")
        .option("driver", DRIVER)
        .load()
    )
    assert got2.count() == ev.count()
    assert got2.select("event_id").distinct().count() == ev.count()


def test_full_migration_with_validation(spark, sf_dir, derby_url):
    cfg = MigrationConfig(max_parallel=4, exclude=["sup*"])

    def source_fn(table):
        return _normalize(load_table(spark, sf_dir, table))

    def sink_fn(df, table):
        (
            df.write.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", table.upper())
            .option("driver", DRIVER)
            .option("batchsize", "5000")
            .mode("overwrite")
            .save()
        )

    migrator = Migrator(spark, cfg, source_fn, sink_fn)
    report = migrator.run(TABLES)
    summary = report.summary()

    # exclusion honored (reference `exclude:` semantics)
    assert "supplier" not in summary["per_table"]
    assert summary["tables_failed"] == 0
    assert set(summary["per_table"]) == {"region", "nation", "customer"}

    # compareDb (A16): source count == target count per migrated table
    for table in ["region", "nation", "customer"]:
        src_n = load_table(spark, sf_dir, table).count()
        dst_n = (
            spark.read.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", table.upper())
            .option("driver", DRIVER)
            .load()
            .count()
        )
        assert src_n == dst_n, table
        assert summary["per_table"][table]["rows"] == src_n

    # content validation beyond the reference: value-level fidelity
    src = load_table(spark, sf_dir, "nation")
    dst = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "NATION")
        .option("driver", DRIVER)
        .load()
    )
    cols = sorted(src.columns)
    assert sorted(map(tuple, src.select(*cols).collect())) == sorted(
        map(tuple, dst.select(*cols).collect())
    )


def test_cli_jdbc_source_honours_exclude(spark, derby_url, tmp_path, capsys):
    """`exclude:` drops a listed table from every CLI phase over a jdbc:
    source, as it does for a parquet tree: no DDL, no dump, and no
    compareDb row (an excluded table once got DDL, was never pumped,
    then failed compareDb as unreadable)."""
    import yaml

    from gomysql2pg_spark.cli import main

    rows = spark.createDataFrame([(1, "a"), (2, "b\tc")], "id int, s string")
    for t in ("EXCL_KEEP", "EXCL_DROP"):
        rows.write.format("jdbc").option("url", derby_url).option(
            "dbtable", t
        ).option("driver", DRIVER).mode("overwrite").save()
    dump, ddl = tmp_path / "dump", tmp_path / "ddl.sql"
    cfg = tmp_path / "cfg.yml"
    cfg.write_text(yaml.safe_dump({
        "src": {"host": derby_url},
        "dest": {"dbType": "copydump", "database": str(dump)},
        "tables": {"excl_keep": [], "excl_drop": []},
        "exclude": ["*_drop"],
        "maxParallel": 2,
    }))
    assert main(["-c", str(cfg), "migrate", "--out", str(ddl)]) == 0
    out = capsys.readouterr().out
    assert "excl_keep: src=2 dst=2 ok" in out
    assert "excl_drop" not in out
    assert "excl_drop" not in ddl.read_text()
    assert sorted(os.listdir(dump)) == ["excl_keep"]


def test_cli_builds_each_jdbc_source_once(
    spark, derby_url, tmp_path, monkeypatch, capsys
):
    """createTable, onlyData and compareDb share one source DataFrame
    per table: a CLI `migrate` opens one JDBC relation (one schema
    probe) per table, not one per phase."""
    import yaml

    from gomysql2pg_spark.cli import main
    from gomysql2pg_spark.sources import jdbc

    rows = spark.createDataFrame([(1, "a"), (2, "b\x00c")], "id int, s string")
    tables = ["ONCE_A", "ONCE_B", "ONCE_C"]
    for t in tables:
        rows.write.format("jdbc").option("url", derby_url).option(
            "dbtable", t
        ).option("driver", DRIVER).mode("overwrite").save()
    reads = []
    real_read = jdbc.read

    def counting_read(*a, **kw):
        reads.append(kw.get("table") or kw.get("query"))
        return real_read(*a, **kw)

    monkeypatch.setattr(jdbc, "read", counting_read)
    cfg = tmp_path / "cfg.yml"
    cfg.write_text(yaml.safe_dump({
        "src": {"host": derby_url},
        "dest": {"dbType": "copydump", "database": str(tmp_path / "dump")},
        "tables": {t.lower(): [] for t in tables},
        "errorsDir": str(tmp_path / "errors"),
        "maxParallel": 3,
    }))
    # the NUL-stripped rows differ from the source: compareDb exits 1
    assert main(["-c", str(cfg), "migrate",
                 "--out", str(tmp_path / "ddl.sql")]) == 1
    out = capsys.readouterr().out
    for t in tables:
        assert f"{t.lower()}: 2 rows" in out
        assert f"{t.lower()}: src=2 dst=2 MISMATCH" in out
    assert sorted(reads) == sorted(t.lower() for t in tables)


def test_cli_migrates_hostile_column_names(spark, derby_url, tmp_path, capsys):
    """Source column names holding a dot, a backtick and a quote pass
    every phase of a CLI `migrate` into a COPY dump: the encoder, the
    NUL predicate and strip, the read-back and the compareDb hash all
    quote them as identifiers (`F.col("a.b")` reads a struct field, and
    a bare backtick is a syntax error)."""
    import yaml
    from pyspark.sql import types as T

    from gomysql2pg_spark.cli import main
    from gomysql2pg_spark.sinks.jdbc import encode_copy_text

    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("a.b", T.StringType()),
        T.StructField("we`ird", T.StringType()),
        T.StructField("it's", T.IntegerType()),
    ])
    rows = [(1, "tab\there", "back\\slash", 7), (2, None, "\\N", None)]
    spark.createDataFrame(rows, schema).write.format("jdbc").option(
        "url", derby_url
    ).option("dbtable", "HOSTILE_NAMES").option("driver", DRIVER).mode(
        "overwrite"
    ).save()
    dump = tmp_path / "dump"
    cfg = tmp_path / "cfg.yml"
    cfg.write_text(yaml.safe_dump({
        "src": {"host": derby_url},
        "dest": {"dbType": "copydump", "database": str(dump)},
        "tables": {"hostile_names": []},
        "errorsDir": str(tmp_path / "errors"),
    }))
    assert main(["-c", str(cfg), "migrate",
                 "--out", str(tmp_path / "ddl.sql")]) == 0
    assert "hostile_names: src=2 dst=2 ok" in capsys.readouterr().out
    wire = []
    for part in (dump / "hostile_names").iterdir():
        if part.name.startswith("part-"):
            wire += part.read_text(encoding="utf-8").splitlines(True)
    assert sorted(wire) == sorted(encode_copy_text(rows).splitlines(True))

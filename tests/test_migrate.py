"""Orchestration tests (reference A17-A22): the parquet→parquet pipeline
runs the same Migrator code path a JDBC migration would."""

import os

import pytest
from pyspark.sql import functions as F

from gomysql2pg_spark.catalog import load_table
from gomysql2pg_spark.functions.transforms import lowercase_columns
from gomysql2pg_spark.migrate import MigrationConfig, Migrator


@pytest.fixture
def out_dir(tmp_path):
    return str(tmp_path / "out")


def _mk_migrator(spark, sf_dir, out_dir, config=None, fail_on=None):
    def source_fn(table):
        if fail_on and table == fail_on:
            raise RuntimeError(f"boom reading {table}")
        return load_table(spark, sf_dir, table)

    def sink_fn(df, table):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, table))

    return Migrator(
        spark,
        config or MigrationConfig(max_parallel=4),
        source_fn,
        sink_fn,
        transform_fn=lowercase_columns,
    )


def test_migrate_tables_end_to_end(spark, sf_dir, out_dir):
    m = _mk_migrator(spark, sf_dir, out_dir)
    report = m.run(["region", "nation", "supplier"])
    s = report.summary()
    assert s["tables_failed"] == 0
    assert s["tables_total"] == 3
    # data actually landed and round-trips
    back = spark.read.parquet(os.path.join(out_dir, "nation"))
    assert back.count() == load_table(spark, sf_dir, "nation").count()


def test_exclusion_applied(spark, sf_dir, out_dir):
    cfg = MigrationConfig(max_parallel=2, exclude=["nat*"])
    m = _mk_migrator(spark, sf_dir, out_dir, cfg)
    report = m.run(["region", "nation"])
    assert [r.table for r in report.results] == ["region"]


def test_failure_accounting(spark, sf_dir, out_dir):
    m = _mk_migrator(spark, sf_dir, out_dir, fail_on="nation")
    report = m.run(["region", "nation"])
    assert report.failed == ["nation"]
    s = report.summary()
    assert s["tables_failed"] == 1
    assert "boom reading nation" in s["per_table"]["nation"]["error"]
    # the failure is isolated: region still migrated (root.go page txn)
    assert s["per_table"]["region"]["ok"]


def test_validate_phase(spark, sf_dir, out_dir):
    m = _mk_migrator(spark, sf_dir, out_dir)
    m.run(["region", "nation"])

    def dst_fn(table, src_df):
        return spark.read.parquet(os.path.join(out_dir, table))

    results = m.validate(["region", "nation"], dst_fn)
    assert all(r.content_ok for r in results)


def test_validate_reports_unreadable_target(spark, sf_dir, out_dir):
    """One unreadable target is a failed row with the source count and
    the reason; the other tables still compare, in `tables` order."""
    m = _mk_migrator(spark, sf_dir, out_dir)

    def dst_fn(table, src_df):
        if table == "region":
            raise FileNotFoundError("no dump for region")
        return src_df

    region, nation = m.validate(["region", "nation"], dst_fn)
    assert (region.table, nation.table) == ("region", "nation")
    assert nation.content_ok
    n = load_table(spark, sf_dir, "region").count()
    assert (region.src_rows, region.dst_rows) == (n, -1)
    assert not region.content_ok
    assert region.error == "target unreadable: no dump for region"


EXAMPLE_SHAPED_YML = """\
src:
  host: mysql.internal.example
  port: 3306
  database: srcdb
  username: appuser
  password: s3cret
dest:
  host: pg.internal.example
  port: 5432
  database: dstdb
  username: pguser
  password: s3cret2
  dbType: Gauss
pageSize: 50000
maxParallel: 8
charInLength: true
useNvarchar2: false
Distributed: true
tables:
  t1:
    - select * from t1 where id > 0
  t2:
    - select * from t2
exclude:
  - 'log1'
  - '*_tmp'
"""


def test_config_from_yaml(tmp_path):
    """example.yml:1-26 surface through viper-equivalent keys
    (cmd/app.go:21-34, cmd/root.go:526-560)."""
    p = tmp_path / "cfg.yml"
    p.write_text(EXAMPLE_SHAPED_YML)
    cfg = MigrationConfig.from_yaml(str(p))
    assert cfg.page_size == 50_000
    assert cfg.max_parallel == 8
    assert cfg.char_in_length and not cfg.use_nvarchar2
    assert cfg.distributed
    assert cfg.tables == {
        "t1": "select * from t1 where id > 0",
        "t2": "select * from t2",
    }
    assert cfg.exclude == ["log1", "*_tmp"]
    assert cfg.src.host == "mysql.internal.example"
    assert cfg.src.port == 3306
    assert cfg.dest.database == "dstdb"
    assert cfg.dest.dbtype == "gauss"  # normalized lowercase


def test_config_from_yaml_drives_migration(spark, sf_dir, out_dir, tmp_path):
    """A parsed config drives the same Migrator path (exclude +
    parallelism applied)."""
    p = tmp_path / "cfg.yml"
    p.write_text("maxParallel: 2\nexclude:\n  - 'nat*'\n")
    cfg = MigrationConfig.from_yaml(str(p))
    m = _mk_migrator(spark, sf_dir, out_dir, cfg)
    report = m.run(["region", "nation"])
    assert [r.table for r in report.results] == ["region"]


def test_error_row_side_channel(spark, sf_dir, out_dir, tmp_path):
    """invalidTableData side-output (cmd/root.go:450-470,
    cmd/app.go:83-103): plant a NUL-byte row, assert it lands in the
    errors dir while the sanitized main write proceeds."""
    from gomysql2pg_spark.functions.transforms import (
        apply_cell_transforms,
        nul_predicate,
    )

    errors_dir = str(tmp_path / "errlog")
    types = {"r_name": "varchar"}

    def source_fn(table):
        df = load_table(spark, sf_dir, table)
        # plant one offending row (NUL in a varchar) like the reference's
        # invalid-Unicode case
        bad = df.limit(1).withColumn(
            "r_name", F.concat(F.col("r_name"), F.lit("\x00tail"))
        )
        return df.union(bad)

    def sink_fn(df, table):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, table))

    cfg = MigrationConfig(max_parallel=2, errors_dir=errors_dir)
    m = Migrator(
        spark,
        cfg,
        source_fn,
        sink_fn,
        transform_fn=lambda df: apply_cell_transforms(df, types),
        error_predicate=lambda df: nul_predicate(df, types),
    )
    report = m.run(["region"])
    res = report.results[0]
    assert res.ok and res.error_rows == 1
    logged = spark.read.json(f"{errors_dir}/invalidTableData/region")
    assert logged.count() == 1
    assert "\x00" in logged.collect()[0]["r_name"]  # pre-sanitize value
    # main write is sanitized
    main = spark.read.parquet(os.path.join(out_dir, "region"))
    assert main.filter(F.col("r_name").contains("\x00")).count() == 0


def _counted_source(spark, rows, schema):
    """-> (source_fn, scans): `scans[table]` is how many times the
    table's rows were read, over every action on its DataFrame."""
    sc = spark.sparkContext
    accs = {t: sc.accumulator(0) for t in rows}

    def source_fn(table):
        acc = accs[table]

        def seen(row):
            acc.add(1)
            return row

        rdd = sc.parallelize(rows[table], 1).map(seen)
        return spark.createDataFrame(rdd, schema)

    def scans():
        return {t: a.value // len(rows[t]) for t, a in accs.items()}

    return source_fn, scans


def test_side_channel_rescans_only_tables_with_nul_rows(
    spark, out_dir, tmp_path
):
    """The pump's own scan counts the offending rows: a clean table is
    read once during the data phase, a table with NUL rows twice (the
    pump, then the filtered side-channel write)."""
    from gomysql2pg_spark.functions.transforms import nul_predicate

    rows = {
        "clean": [(1, "a"), (2, "b"), (3, None)],
        "dirty": [(1, "a\x00"), (2, "b"), (3, None)],
    }
    source_fn, scans = _counted_source(spark, rows, "k bigint, s string")

    def sink_fn(df, table):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, table))

    errors_dir = str(tmp_path / "errlog")
    m = Migrator(
        spark,
        MigrationConfig(max_parallel=2, errors_dir=errors_dir),
        source_fn,
        sink_fn,
        error_predicate=lambda df: nul_predicate(df, {"s": "text"}),
    )
    report = m.run(["clean", "dirty"])
    assert [(r.table, r.ok, r.rows, r.error_rows) for r in report.results] \
        == [("clean", True, 3, 0), ("dirty", True, 3, 1)]
    assert scans() == {"clean": 1, "dirty": 2}
    logged = spark.read.json(f"{errors_dir}/invalidTableData/dirty")
    assert [r["k"] for r in logged.collect()] == [1]


def test_clean_table_replaces_stale_side_channel(
    spark, sf_dir, out_dir, tmp_path
):
    """A table that is clean now gets an empty invalidTableData/<t>,
    replacing the rows an earlier run logged there."""
    from gomysql2pg_spark.functions.transforms import nul_predicate

    errors_dir = tmp_path / "errlog"
    stale = errors_dir / "invalidTableData" / "region"
    spark.createDataFrame([(0, "old\x00")], "r_regionkey int, r_name string") \
        .write.json(str(stale))
    assert spark.read.text(str(stale)).count() == 1

    def sink_fn(df, table):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, table))

    m = Migrator(
        spark,
        MigrationConfig(errors_dir=str(errors_dir)),
        lambda t: load_table(spark, sf_dir, t),
        sink_fn,
        error_predicate=lambda df: nul_predicate(df, {"r_name": "varchar"}),
    )
    res = m.run(["region"]).results[0]
    assert res.ok and res.error_rows == 0
    assert stale.is_dir() and (stale / "_SUCCESS").exists()
    assert spark.read.text(str(stale)).count() == 0
    assert spark.read.json(str(stale)).count() == 0  # no schema given


def test_single_scan_row_count(spark, sf_dir, out_dir):
    """The reported count comes from an Observation on the sink's own
    action — sources are scanned once (reference scans each page once,
    root.go:389-420)."""
    reads = {"n": 0}

    def source_fn(table):
        reads["n"] += 1
        return load_table(spark, sf_dir, table)

    def sink_fn(df, table):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, table))

    m = Migrator(spark, MigrationConfig(max_parallel=1), source_fn, sink_fn)
    report = m.run(["nation"])
    assert report.results[0].rows == 25
    assert reads["n"] == 1  # source_fn called once; one job ran


def test_cancel_mid_run(spark, sf_dir, out_dir):
    """A19: cancel() mid-run aborts cleanly with failure accounting
    (cmd/app.go:186-216). Tables entered after the cancel flag are
    recorded as cancelled, not silently dropped."""
    import threading as th

    started = th.Event()

    def source_fn(table):
        started.set()
        return load_table(spark, sf_dir, table)

    def sink_fn(df, table):
        # slow sink: wait until cancel() has fired before writing
        df.write.mode("overwrite").parquet(os.path.join(out_dir, table))

    cfg = MigrationConfig(max_parallel=1)
    m = Migrator(spark, cfg, source_fn, sink_fn)

    def canceller():
        started.wait(30)
        m.cancel()

    t = th.Thread(target=canceller)
    t.start()
    report = m.run(["region", "nation", "supplier", "customer", "orders"])
    t.join()
    s = report.summary()
    # at least the tail of the queue was cancelled; nothing hangs
    assert any(r.error == "cancelled" for r in report.results)
    assert s["tables_total"] == 5


def _group_jobs(spark):
    return set(
        spark.sparkContext.statusTracker().getJobIdsForGroup(
            Migrator.JOB_GROUP
        )
    )


def test_validate_tags_jobs_and_honours_cancel(spark, sf_dir, out_dir):
    """compareDb runs under the same job group as the data phase, so
    cancel() reaches it; after cancel() no table starts: each comes
    back as a failed row and no job is submitted."""
    m = _mk_migrator(spark, sf_dir, out_dir)

    def dst_fn(table, src_df):
        return src_df

    before = _group_jobs(spark)
    assert all(r.content_ok for r in m.validate(["region"], dst_fn))
    tagged = _group_jobs(spark)
    assert tagged - before, "compare jobs are not in the job group"

    m.cancel()
    results = m.validate(["region", "nation", "supplier"], dst_fn)
    assert [r.table for r in results] == ["region", "nation", "supplier"]
    assert all(r.error == "cancelled" for r in results)
    assert not any(r.count_ok for r in results)
    assert _group_jobs(spark) == tagged


def test_validate_runs_one_single_stage_job_per_table(
    spark, sf_dir, out_dir
):
    """compareDb is one Spark job per table: both sides' counts and
    hashes are observed over one union of the two scans, which plans
    no Exchange (a global aggregate per side made AQE run four jobs)."""
    from gomysql2pg_spark import validate

    tables = ["region", "nation", "supplier"]
    # built up front: a parquet read runs a schema-inference job
    src = {t: load_table(spark, sf_dir, t) for t in tables}
    dst = {t: load_table(spark, sf_dir, t) for t in tables}
    m = Migrator(spark, MigrationConfig(max_parallel=4), src.get, None)

    before = _group_jobs(spark)
    results = m.validate(tables, lambda t, src_df: dst[t])
    assert [r.table for r in results] == tables
    assert all(r.content_ok for r in results)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(_group_jobs(spark) - before) == len(tables)

    both, _, _ = validate._observed_union(src["nation"], dst["nation"], True)
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_validate_sigint_cancels_remaining_tables(spark, sf_dir, out_dir):
    """SIGINT during compareDb cancels like it does during the data
    phase: the table being compared finishes or fails, the tables not
    yet started come back cancelled."""
    import signal
    import threading

    m = _mk_migrator(spark, sf_dir, out_dir, MigrationConfig(max_parallel=1))
    seen = []

    def dst_fn(table, src_df):
        if not seen:
            signal.pthread_kill(threading.main_thread().ident, signal.SIGINT)
            m._cancel.wait(30)
        seen.append(table)
        return src_df

    # a stand-in for the default handler, so that a validate() without
    # its own handler fails this test instead of interrupting the run
    prev = signal.signal(signal.SIGINT, lambda *a: seen.append("unhandled"))
    try:
        results = m.validate(["region", "nation", "supplier"], dst_fn)
    finally:
        signal.signal(signal.SIGINT, prev)
    assert seen == ["region"]
    assert [r.error for r in results[1:]] == ["cancelled", "cancelled"]


def test_dialect_map():
    """dbType → JDBC driver/url (cmd/app.go:59-81)."""
    from gomysql2pg_spark.sinks.jdbc import DIALECTS, sink_config_for

    for dbtype in ("postgres", "gauss", "vastbase", "kingbase"):
        cfg = sink_config_for(dbtype, "h", 5432, "db", "u", "p")
        driver, tpl = DIALECTS[dbtype]
        assert cfg.driver == driver
        assert cfg.url == tpl.format(host="h", port=5432, database="db")
    # reference default branch: anything else → postgres driver
    assert (
        sink_config_for("", "h", 1, "d").driver == "org.postgresql.Driver"
    )
    assert (
        sink_config_for("Gauss", "h", 1, "d").driver == "org.opengauss.Driver"
    )

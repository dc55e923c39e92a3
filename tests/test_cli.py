"""The `python -m gomysql2pg_spark` CLI (gomysql2pg_spark/cli.py):
the reference's cobra subcommands (`/root/reference/cmd/*.go`) driven
end-to-end over a parquet source tree and a COPY dump destination —
migrate, onlyData, compareDb (including a corruption catch the
reference's count-only compare would miss), createTable, and the
metadata-driven seqOnly/idxOnly/viewOnly generators."""

from __future__ import annotations

import os

import pytest
import yaml

from gomysql2pg_spark.cli import main

TPCH_SMALL = ["nation", "region", "supplier"]


@pytest.fixture()
def config(tmp_path, sf_dir):
    """example.yml-shaped config: parquet src tree -> COPY dump dest,
    excluding everything but three small TPC-H tables."""
    dump = tmp_path / "dump"
    cfg = {
        "src": {"database": sf_dir},
        "dest": {"dbType": "copydump", "database": str(dump)},
        "maxParallel": 3,
        "exclude": [
            "customer", "documents", "embeddings", "events",
            "lineitem", "orders", "part",
        ],
        "metadata": {
            "sequences": [
                {"table": "nation", "column": "n_nationkey", "start": 26}
            ],
            "indexes": [
                {
                    "table": "nation",
                    "name": "PRIMARY",
                    "columns": ["n_nationkey"],
                },
                {
                    "table": "supplier",
                    "name": "idx_nat",
                    "columns": ["s_nationkey"],
                    "suffix": "abc123",
                },
            ],
            "views": [
                {
                    "name": "v_nation",
                    "definition": "select `n_name` from nation",
                }
            ],
        },
    }
    path = tmp_path / "config.yml"
    path.write_text(yaml.safe_dump(cfg))
    return str(path), str(dump)


def test_version_needs_no_config(capsys):
    assert main(["version"]) == 0
    assert "gomysql2pg-spark" in capsys.readouterr().out


def test_only_data_stages_dump_trees(spark, config, capsys):
    path, dump = config
    assert main(["-c", path, "onlyData"]) == 0
    out = capsys.readouterr().out
    assert "migrated 3/3 tables" in out
    for t in TPCH_SMALL:
        tree = os.path.join(dump, t)
        assert os.path.isfile(os.path.join(tree, "_SUCCESS"))
        assert any(
            os.path.getsize(os.path.join(tree, f))
            for f in os.listdir(tree)
            if not f.startswith(("_", "."))
        )


def test_compare_db_green_then_catches_corruption(spark, config, capsys):
    path, dump = config
    assert main(["-c", path, "onlyData"]) == 0
    assert main(["-c", path, "compareDb"]) == 0
    assert "compareDb: ok" in capsys.readouterr().out
    # flip one digit in one staged cell: row count unchanged (the
    # reference's verdict would stay green), content hash must not
    tree = os.path.join(dump, "nation")
    victim = next(
        os.path.join(tree, f)
        for f in sorted(os.listdir(tree))
        if not f.startswith(("_", "."))
        and os.path.getsize(os.path.join(tree, f))
    )
    raw = open(victim, "rb").read()
    lines = raw.split(b"\n")
    cells = lines[0].split(b"\t")
    cells[0] = b"98" if cells[0] != b"98" else b"97"
    lines[0] = b"\t".join(cells)
    open(victim, "wb").write(b"\n".join(lines))
    assert main(["-c", path, "compareDb"]) == 1
    out = capsys.readouterr().out
    assert "nation" in out and "MISMATCH" in out


def test_create_table_emits_target_ddl(spark, config, capsys):
    path, _ = config
    assert main(["-c", path, "createTable"]) == 0
    out = capsys.readouterr().out
    assert 'create table "nation"' in out
    assert 'drop table if exists "supplier" cascade' in out
    # parquet int32 -> int, int64 -> bigint, double -> double precision
    assert '"s_suppkey" bigint' in out
    assert '"n_nationkey" int' in out
    assert '"s_acctbal" double precision' in out


def test_create_table_out_file(spark, config, tmp_path):
    path, _ = config
    out_file = str(tmp_path / "ddl.sql")
    assert main(["-c", path, "createTable", "--out", out_file]) == 0
    assert 'create table "region"' in open(out_file).read()


def test_metadata_ddl_commands(config, capsys):
    path, _ = config
    assert main(["-c", path, "seqOnly"]) == 0
    out = capsys.readouterr().out
    assert (
        'create sequence "seq_nation_n_nationkey" increment by 1 start 26'
        in out
    )
    assert main(["-c", path, "idxOnly"]) == 0
    out = capsys.readouterr().out
    assert 'alter table "nation" add primary key ("n_nationkey")' in out
    assert 'create index "idx_nat_abc123" on "supplier" ("s_nationkey")' in out
    assert main(["-c", path, "viewOnly"]) == 0
    out = capsys.readouterr().out
    assert "create or replace view v_nation" in out
    assert "`n_name`" not in out  # backtick rewrite applied


def test_full_migrate_pipeline(spark, config, capsys):
    path, dump = config
    assert main(["-c", path, "migrate"]) == 0
    out = capsys.readouterr().out
    assert 'create table "nation"' in out
    assert "migrated 3/3 tables" in out
    assert "compareDb: ok" in out


def test_nested_types_fail_loudly_in_ddl(spark, tmp_path, sf_dir, capsys):
    """embeddings carries array<float> — no MySQL source form; the
    table must be SKIPPED with a loud note, not emit wrong DDL."""
    cfg = {
        "src": {"database": sf_dir},
        "dest": {"dbType": "copydump", "database": str(tmp_path / "d")},
        "exclude": [
            "customer", "documents", "events", "lineitem", "nation",
            "orders", "part", "region", "supplier",
        ],
    }
    path = tmp_path / "cfg.yml"
    path.write_text(yaml.safe_dump(cfg))
    assert main(["-c", str(path), "createTable"]) == 1
    err = capsys.readouterr().err
    assert "SKIPPED embeddings" in err and "no MySQL source form" in err


def test_partial_create_table_failure_is_nonzero(
    spark, tmp_path, sf_dir, capsys
):
    """A createTable where SOME tables map and one fails must still
    exit nonzero — the reference counts per-table failures into its
    summary verdict (`root.go:166-209`); exit 0 with stderr-only
    SKIPPED notes lets scripted callers miss the partial failure."""
    cfg = {
        "src": {"database": sf_dir},
        "dest": {"dbType": "copydump", "database": str(tmp_path / "d")},
        "exclude": [
            "customer", "documents", "events", "lineitem",
            "orders", "part", "supplier",
        ],  # leaves nation+region (mappable) and embeddings (not)
    }
    path = tmp_path / "cfg.yml"
    path.write_text(yaml.safe_dump(cfg))
    assert main(["-c", str(path), "createTable"]) == 1
    captured = capsys.readouterr()
    assert 'create table "nation"' in captured.out  # good DDL still out
    assert "SKIPPED embeddings" in captured.err


def test_cli_jdbc_dest_roundtrips_through_derby(spark, tmp_path, sf_dir, capsys):
    """The CLI's jdbc: destination branch against a real embedded
    database: onlyData loads nation+region into Derby through the
    batched JDBC sink, compareDb reads them back over JDBC and the
    content hashes match."""
    url = f"jdbc:derby:{tmp_path / 'derbydb'};create=true"
    cfg = {
        "src": {"database": sf_dir},
        "dest": {"host": url},
        "maxParallel": 2,
        "exclude": [
            "customer", "documents", "embeddings", "events",
            "lineitem", "orders", "part", "supplier",
        ],
    }
    path = tmp_path / "cfg.yml"
    path.write_text(yaml.safe_dump(cfg))
    assert main(["-c", str(path), "onlyData"]) == 0
    assert "migrated 2/2 tables" in capsys.readouterr().out
    assert main(["-c", str(path), "compareDb"]) == 0
    assert "compareDb: ok" in capsys.readouterr().out


def test_migrate_emits_post_ddl_phases(spark, config, capsys, tmp_path):
    """The full migrate mirrors the reference's phase order: after the
    data phase, declared indexes/views/sequences (and triggers) are
    emitted too."""
    path, _ = config
    assert main(["-c", path, "migrate"]) == 0
    out = capsys.readouterr().out
    assert 'alter table "nation" add primary key' in out
    assert "create or replace view v_nation" in out
    assert 'create sequence "seq_nation_n_nationkey"' in out


def test_migrate_out_collects_all_ddl_in_one_file(spark, config, tmp_path):
    """With --out, the table DDL AND the post-DDL phases (indexes /
    views / triggers / sequences) land in the SAME file — one DDL
    artifact, not table DDL in the file and the rest on stdout."""
    path, _ = config
    out_file = str(tmp_path / "all_ddl.sql")
    assert main(["-c", path, "migrate", "--out", out_file]) == 0
    text = open(out_file).read()
    assert 'create table "nation"' in text
    assert 'alter table "nation" add primary key' in text
    assert "create or replace view v_nation" in text
    assert 'create sequence "seq_nation_n_nationkey"' in text


def test_trigger_metadata_emits_pg_form(tmp_path, capsys):
    """Declared triggers come out in the vanilla-PG two-statement
    plpgsql form (the one that actually fires, A15/K5)."""
    import yaml as _yaml

    cfg = {
        "src": {"database": "/nonexistent"},
        "dest": {"dbType": "copydump", "database": str(tmp_path / "d")},
        "metadata": {
            "triggers": [
                {
                    "name": "trg_touch",
                    "table": "orders",
                    "timing": "BEFORE",
                    "event": "UPDATE",
                    "body": "set new.o_comment = 'touched'",
                }
            ]
        },
    }
    path = tmp_path / "cfg.yml"
    path.write_text(_yaml.safe_dump(cfg))
    from gomysql2pg_spark.cli import _trigger_stmts

    stmts = _trigger_stmts(str(path))
    joined = ";\n".join(stmts)
    assert "create or replace function" in joined.lower()
    assert "execute function" in joined.lower()
    assert "new.o_comment" in joined.lower()


def test_errors_dir_side_channel(spark, tmp_path, sf_dir, capsys):
    """errorsDir wires the invalidTableData side channel: a planted
    NUL row lands under errorsDir/invalidTableData/<table> while the
    migration itself proceeds."""
    import yaml as _yaml

    from pyspark.sql import functions as F

    # plant a NUL into a private copy of region
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("bad\x00name")).otherwise(
            F.col("r_name")
        ),
    ).coalesce(1).write.parquet(str(src_dir / "region.parquet"))
    errors = tmp_path / "errs"
    cfg = {
        "src": {"database": str(src_dir)},
        "dest": {"dbType": "copydump", "database": str(tmp_path / "dump")},
        "errorsDir": str(errors),
    }
    path = tmp_path / "cfg.yml"
    path.write_text(_yaml.safe_dump(cfg))
    assert main(["-c", str(path), "onlyData"]) == 0
    side = errors / "invalidTableData" / "region"
    assert side.is_dir()
    rows = spark.read.json(str(side)).collect()
    assert len(rows) == 1 and rows[0]["r_regionkey"] == 0


def test_data_phase_strips_nul_like_the_reference(spark, tmp_path, sf_dir):
    """A8 parity: the pump strips U+0000 from text cells before the
    wire (PG text rejects NUL) — the staged dump must carry the
    cleaned value."""
    import yaml as _yaml

    from pyspark.sql import functions as F

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 1, F.lit("A\x00B")).otherwise(
            F.col("r_name")
        ),
    ).coalesce(1).write.parquet(str(src_dir / "region.parquet"))
    dump = tmp_path / "dump"
    cfg = {
        "src": {"database": str(src_dir)},
        "dest": {"dbType": "copydump", "database": str(dump)},
    }
    path = tmp_path / "cfg.yml"
    path.write_text(_yaml.safe_dump(cfg))
    assert main(["-c", str(path), "onlyData"]) == 0
    wire = b""
    for f in os.listdir(dump / "region"):
        if not f.startswith(("_", ".")):
            wire += open(dump / "region" / f, "rb").read()
    assert b"\x00" not in wire
    assert b"AB" in wire  # the stripped value, not a dropped row


def test_verbatim_example_yml_connection_blocks_resolve():
    """A user's unmodified example.yml (host/port/database blocks, no
    jdbc: URLs) must resolve to the same URLs/drivers the reference
    opens (`cmd/app.go:21-81`) — pure config resolution, no server."""
    import yaml as _yaml

    from gomysql2pg_spark.cli import dest_sink_config, src_source_config
    from gomysql2pg_spark.migrate import MigrationConfig

    raw = {
        "src": {
            "host": "10.0.0.5", "port": 3306, "database": "mydb",
            "username": "u", "password": "p",
        },
        "dest": {
            "host": "10.0.0.9", "port": 5432, "database": "pgdb",
            "username": "v", "password": "q", "dbType": "postgres",
        },
        "maxParallel": 7,
    }
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".yml") as f:
        f.write(_yaml.safe_dump(raw))
        f.flush()
        cfg = MigrationConfig.from_yaml(f.name)
    s = src_source_config(cfg)
    assert s.url == "jdbc:mysql://10.0.0.5:3306/mydb"
    assert s.driver == "com.mysql.cj.jdbc.Driver"
    assert s.user == "u" and s.max_parallel == 7
    d = dest_sink_config(cfg)
    assert d.url == "jdbc:postgresql://10.0.0.9:5432/pgdb"
    assert d.driver == "org.postgresql.Driver"
    # the gauss dialect swaps driver and URL scheme, like the reference
    cfg.dest.dbtype = "gauss"
    d = dest_sink_config(cfg)
    assert d.url.startswith("jdbc:opengauss://")
    assert d.driver == "org.opengauss.Driver"


def test_compare_db_readback_plans_no_python(spark, config):
    """compareDb reads a staged dump back on the JVM: neither the
    read-back nor an aggregate over it has a Python node."""
    from gomysql2pg_spark.cli import _build_sink, _build_source
    from gomysql2pg_spark.migrate import MigrationConfig

    path, _ = config
    assert main(["-c", path, "onlyData"]) == 0
    cfg = MigrationConfig.from_yaml(path)
    tables, source = _build_source(spark, cfg)
    _, readback = _build_sink(spark, cfg)
    for t in tables:
        back = readback(t, source(t))
        for df in (back, back.groupBy().count()):
            plan = df._jdf.queryExecution().executedPlan().toString()
            # BatchEvalPython, ArrowEvalPython, a Python data source
            # scan ("BatchScan copytext[...] (Python)"), *InPandas
            assert "Python" not in plan and "Pandas" not in plan, (t, plan)
        assert back.count() == source(t).count()

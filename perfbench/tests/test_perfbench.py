"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_corpus_is_a_function_of_the_seed():
    a, b = inputs._corpus_tables(7), inputs._corpus_tables(7)
    c = inputs._corpus_tables(8)
    for name in a:
        assert a[name].equals(b[name])
    assert not a["documents"].equals(c["documents"])


def test_jdbc_tables_are_a_function_of_the_seed():
    rec = inputs.RECIPES["migrate_jdbc_many"]
    specs = inputs.jdbc_table_specs(7, rec)
    assert specs == inputs.jdbc_table_specs(7, rec)
    assert specs != inputs.jdbc_table_specs(8, rec)
    name = next(iter(specs))
    assert (inputs.jdbc_rows(7, name, specs[name])
            == inputs.jdbc_rows(7, name, specs[name]))


def test_jdbc_tables_carry_every_hostile_class():
    rec = inputs.RECIPES["migrate_jdbc_many"]
    specs = inputs.jdbc_table_specs(3, rec)
    assert sum(1 for s in specs.values() if s[2]) == rec["nul_tables"]
    cells = [v for name, spec in specs.items()
             for col in ("name", "note")
             for v in inputs.jdbc_rows(3, name, spec)[col]]
    text = "".join(v for v in cells if v)
    for needle in ("\t", "\n", "\r", "\\\\\\", "\x00", "中文", "😀"):
        assert needle in text, repr(needle)
    assert None in cells and "" in cells and "\\N" in cells


def test_migrate_warm_up_takes_one_table_of_each_verdict(tmp_path,
                                                        monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT))
    import workloads

    tables = {"big": {"rows": 900, "nul_rows": 0, "expect": "content_ok"},
              "a": {"rows": 50, "nul_rows": 0, "expect": "content_ok"},
              "b": {"rows": 40, "nul_rows": 3, "expect": "count_ok"},
              "c": {"rows": 30, "nul_rows": 0, "expect": "content_ok"},
              "d": {"rows": 80, "nul_rows": 2, "expect": "count_ok"}}
    wl = workloads.Migrate(tmp_path / "in", {"tables": tables, "rows": 1100},
                           tmp_path / "work", 2)
    assert sorted(wl.warm_job.tables) == ["b", "c"]
    assert wl.job.tables == tables


def test_recipe_key_tracks_the_recipe(monkeypatch):
    key = inputs.recipe_key("curate_corpus")
    monkeypatch.setitem(inputs.RECIPES, "curate_corpus",
                        {**inputs.RECIPES["curate_corpus"], "docs": 5})
    assert inputs.recipe_key("curate_corpus") != key


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what the command prints
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == spans.UNITS
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


# ---------------------------------------------------------------------------
# the event-log folder
# ---------------------------------------------------------------------------


def _events(path: Path, events: list[dict]) -> None:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_fold_attributes_a_job_to_its_span(tmp_path):
    t0 = 1_000.0
    sink = spans.Span(2, 1, "sinks.jdbc", "sink", 1, t0 + 1, t0 + 4)
    table = spans.Span(1, None, "migrate.table", "_run_table", 1, t0, t0 + 5)
    other = spans.Span(3, None, "operators.dedup", "dedup_survivors", 1,
                       t0 + 6, t0 + 9)
    log = tmp_path / "events_1_app"

    def task(stage, cpu_ns, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": (t0 + 2) * 1000,
                              "Finish Time": (t0 + 2) * 1000 + run_ms + 10},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                    "JVM GC Time": 5,
                    "Output Metrics": {"Bytes Written": 100},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}

    _events(log, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": (t0 + 2) * 1000,
         "Properties": {spans.PROPERTY: "2"}},
        task(0, 500_000_000, 800),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "RDD Info": [{"Name": "JDBCRDD"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": (t0 + 3) * 1000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Submission Time": (t0 + 7) * 1000,
         "Properties": {spans.PROPERTY: "3"}},
        task(1, 200_000_000, 300),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "RDD Info": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": (t0 + 8) * 1000},
    ])
    out = spans.fold_run([table, sink, other], spans.EventLog([log]))
    assert out["sinks.jdbc.tasks"] == 1
    assert out["sinks.jdbc.exec_cpu_s"] == pytest.approx(0.5)
    assert out["sinks.jdbc.offcpu_s"] == pytest.approx(0.3)
    assert out["sinks.jdbc.output_bytes"] == 100
    assert out["sinks.jdbc.wall_s"] == pytest.approx(3.0)
    assert out["sources.jdbc.partitions"] == 1
    assert out["operators.dedup.jobs"] == 1
    assert out["operators.dedup.exec_cpu_s"] == pytest.approx(0.2)
    assert out["operators.dedup.shuffle_write_bytes"] == 7
    assert out["operators.dedup.driver_s"] == pytest.approx(2.0)
    assert out["operators.ranking.jobs"] == 0
    assert out["spark.jobs"] == 2
    assert out["spark.task_overhead_s"] == pytest.approx(0.02)
    assert set(out) | {"session.get_spark_s", "phase.create_table_s",
                       "phase.only_data_s", "phase.compare_s",
                       "phase.run_s",
                       "host.steal_jiffies", "host.load_1m",
                       "trace.overhead_s"} == set(spans.UNITS)


def test_self_time_excludes_child_spans():
    run_span = spans.Span(1, None, "migrate", "Migrator.run", 1, 0.0, 10.0)
    kids = [spans.Span(2, 1, "migrate.table", "t", 1, 1.0, 6.0),
            spans.Span(3, 1, "migrate.table", "t", 1, 4.0, 9.0)]
    out = spans.fold_run([run_span, *kids], spans.EventLog([]))
    assert out["migrate.self_s"] == pytest.approx(2.0)
    assert out["migrate.queue_wait_s"] == pytest.approx(5.0)
    assert out["migrate.table_s.max"] == pytest.approx(5.0)


# ---------------------------------------------------------------------------
# smoke: each workload end to end on tiny inputs (starts Spark)
# ---------------------------------------------------------------------------

TINY = {
    "migrate_jdbc_many": {"small_tables": 3, "small_rows": [20, 60],
                          "large_tables": {"big_orders": 300},
                          "nul_tables": 1},
    "curate_corpus": {"docs": 120, "clusters": 6, "vectors": 100},
}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke(workload, monkeypatch, capsys):
    monkeypatch.setitem(inputs.RECIPES, workload,
                        {**inputs.RECIPES[workload], **TINY[workload]})
    rc = run.main(["--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out
    assert result["attempted"] > 0
    assert set(result["metrics"]) == set(spans.UNITS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "curate_corpus":
        assert m["operators.similarity.jobs"] > 0 and m["migrate.tables"] == 0
    else:
        assert m["migrate.tables"] == 4 and m["operators.dedup.jobs"] == 0
        assert m["transforms.error_rows"] > 0
        assert m["sources.jdbc.partitions"] > 0


def test_derby_round_trip(tmp_path):
    """The Derby import stores exactly the generated values."""
    import subprocess

    seed = 5
    db = tmp_path / "derby"
    inputs.load_derby(db, seed, inputs.RECIPES["migrate_jdbc_many"],
                      drop_nul=False)
    code = f"""
import datetime as dt, sys
sys.path.insert(0, {str(HERE)!r})
import inputs
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
bad = []
rec = inputs.RECIPES["migrate_jdbc_many"]
for name, spec in inputs.jdbc_table_specs({seed}, rec).items():
    want = sorted(zip(*inputs.jdbc_rows({seed}, name, spec).values()))
    df = (spark.read.format("jdbc").option("url", "jdbc:derby:{db}")
          .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
          .option("dbtable", name).load())
    got = sorted(tuple(bytes(v) if isinstance(v, bytearray) else
                       v.replace(tzinfo=None) if isinstance(v, dt.datetime)
                       else v for v in r) for r in df.collect())
    if got != want:
        bad.append(name)
spark.stop()
print("BAD", bad)
"""
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=600, cwd=tmp_path)
    assert "BAD []" in out.stdout, out.stdout + out.stderr[-2000:]

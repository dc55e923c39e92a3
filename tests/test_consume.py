"""force_count (functions/consume.py): the bench harness's
prune-proof result consumption. Pins (1) row-count equivalence with
count() across output type shapes, and (2) that the forced plan
actually evaluates pruned-away expressions — the r15 finding was that
count() benched 19M cosine folds as a parquet row count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gomysql2pg_spark.functions.consume import force_count


def test_force_count_matches_count_across_type_shapes(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    # map output, per-doc projection, binary/struct metadata, aggregate
    for name in (
        "map_funcs",
        "classifier_score",
        "mm_metadata",
        "token_fertility",
    ):
        df = qs[name](spark, sf_dir)
        assert force_count(df) == df.count(), name


def test_force_count_actually_evaluates_projected_expressions(spark):
    """A projection whose expression FAILS on evaluation is silently
    pruned by count() — the measurement lie — but must blow up under
    force_count, proving the forced plan runs the expression. Exactly
    ONE failing column: with several, parallel tasks race and whichever
    partition fails first decides the reported error, so the match was
    flaky (an ANSI divide-by-zero on id=0 could beat raise_error)."""
    from py4j.protocol import Py4JJavaError

    df = spark.range(10).select(
        (F.col("id") * 2).alias("z"),
        F.expr("raise_error('evaluated')").alias("boom"),
    )
    # count() prunes both columns and succeeds: the lie this helper
    # exists to fix
    assert df.count() == 10
    with pytest.raises((Py4JJavaError, Exception), match="evaluated"):
        force_count(df)


def test_local_frame_keeps_nan(spark):
    """A NaN in a driver-held row stays NaN: the rows reach the JVM as
    a pyarrow table, where a pandas frame would read NaN as a missing
    value and hand Spark a NULL."""
    import math

    from gomysql2pg_spark.functions.consume import local_frame

    rows = local_frame(
        spark, [(1, [1.0, float("nan")], float("nan"))],
        "id long, v array<double>, x double",
    ).collect()
    assert rows[0]["v"][0] == 1.0
    assert math.isnan(rows[0]["v"][1]) and math.isnan(rows[0]["x"])


# registry entries whose build turns non-empty driver rows into a frame
# (`local_frame`) at the test scale; the vanilla-session test below
# also fails if one of them stops doing so, so the list cannot go stale
_LOCAL_FRAME_ENTRIES = (
    "ann_recall_report",
    "ann_retrain_report",
    "bitext_margin_pairs_ivf",
    "bpe_fertility",
    "bpe_fertility_curve",
    "bpe_merges",
    "bpe_merges_k64",
    "bpe_token_counts",
    "catalog_tables",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_impact_report",
    "dedup_survivors",
    "dedup_survivors_lsh",
    "er_clusters",
    "er_resolved_rollup",
    "hard_negative_mining_ivf",
    "retrieval_quality_report",
    "retrieval_rrf",
    "similarity_ivfpq",
    "similarity_ivfpq_refined",
    "similarity_pq",
    "split_by_cluster",
    "typemap_matrix",
)

_VANILLA_DRIVE = r"""
import contextlib, io, json, sys

import gomysql2pg_spark.functions.consume as consume

built = []
real = consume.local_frame


def counting(spark, rows, ddl):
    rows = list(rows)
    built.append(len(rows))
    return real(spark, rows, ddl)


# before the registry imports it, so every operator module binds this
consume.local_frame = counting

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.execution.arrow.pyspark.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as entry

queries = entry.queries()
python_scans, no_rows = [], []
for name in json.loads(sys.argv[2]):
    n0 = len(built)
    df = queries[name](spark, sys.argv[1])
    if not any(built[n0:]):
        no_rows.append(name)
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        df.explain(mode="formatted")
    if "applySchemaToPythonRDD" in plan.getvalue():
        python_scans.append(name)
spark.stop()
print("RESULT " + json.dumps([python_scans, no_rows]))
"""


def test_registry_builds_driver_rows_on_the_jvm_in_a_vanilla_session(
    sf_dir, tmp_path
):
    """`local_frame` must not depend on a session setting: driven from
    a plain `local[2]` session (not `session.get_spark`) with
    `spark.sql.execution.arrow.pyspark.enabled=false`, no registry
    entry that builds a frame from driver rows may plan a Python-RDD
    scan (`applySchemaToPythonRDD`). A separate process, because one
    process holds one SparkContext."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    proc = subprocess.run(
        [
            sys.executable, "-c", _VANILLA_DRIVE,
            os.path.abspath(sf_dir), json.dumps(_LOCAL_FRAME_ENTRIES),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=900,
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    python_scans, no_rows = json.loads(lines[-1][len("RESULT "):])
    assert python_scans == [], python_scans
    assert no_rows == [], f"no longer build driver-row frames: {no_rows}"

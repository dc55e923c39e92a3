"""SparkSession factory tuned for this engine.

The reference (`/root/reference/cmd/app.go:36-81`) manages raw DB
connection pools; our equivalent of "connection management" is a
well-configured SparkSession. Defaults are chosen for local[N] testing
but every knob matters identically on a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion — the 100 TB safety net.
- shuffle.partitions sized to cores locally; on a real cluster this (or
  AQE's coalesce) should target ~128MB per shuffle partition.
- Arrow enabled: every Pandas-UDF path in this repo is Arrow-batched.
- UTC session timezone: MySQL DATETIME is zone-less (SURVEY.md §1.2);
  pinning UTC makes timestamp arithmetic reproducible across engines.
- Codegen cache of 1000 generated classes (Spark's default is 100,
  evicted least-recently-used first), so a repeated plan reuses its
  compiled classes. The curation chain (`dedup_survivors` →
  `bpe_token_counts` → `bm25_topk` → `similarity_ivfpq`) needs about
  190 entries: its warm-up compiles 206-218 classes, and with 100
  entries every pass after it recompiled 116-123 classes, which the JIT
  then profiled again as new bytecode. With 1000, a pass compiles 0-8.
  `similarity_ivfpq` can still compile up to 8 classes on a call: their
  source differs from a cached class only in `codegenStageId`, which
  follows the order in which AQE query stages finish. A full cache is
  cheap: after 76 registry entries on sf0.001 in one session (1,115
  classes compiled), a full GC left 755 MB of used heap against 721 MB
  with 100 entries (+35 MB), and 184 MB of Metaspace against 177 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gomysql2pg-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (a running count).

    The difference across a block is the generated code that block could
    not take from the codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

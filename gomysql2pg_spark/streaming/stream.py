"""Structured Streaming operators (SURVEY.md §2.D C6).

The batch twins in `operators.events` define the semantics (and carry
the SQL oracles); these are the genuinely-streaming formulations:
file-source streams with watermarks, tumbling/sliding windows,
within-watermark dedup, native session windows, and a custom stateful
operator via applyInPandasWithState. Each `q_stream_*` below drains the
stream with Trigger.AvailableNow into a memory sink and returns the
final static result — so the driver's DuckDB oracle gate applies to the
*streaming* execution path, not just the batch twin.

100 TB / production notes baked into the shapes below:
- watermark bounds state; without it every window lives forever,
- windowed aggregation state is keyed (window × event_type) — small;
  sessionization state is keyed by user — bounded by active users,
- `dropDuplicatesWithinWatermark` is the streaming twin of
  dedup-by-key compaction (idempotent ingest of at-least-once sources),
- sinks should be idempotent (exactly-once via checkpoint + dedup-key);
  the memory sink here is the test harness stand-in,
- session-window append mode only emits sessions sealed by the
  watermark — the oracle encodes exactly that horizon, which is the
  honest semantics a production job sees.

Timestamps: the events fixture's on-disk unit has changed between
rounds (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)), so the reader probes
the physical parquet unit with pyarrow and adapts: ns is read as long
(`spark.sql.legacy.parquet.nanosAsLong`) and truncated to micros;
us/ms arrives as TIMESTAMP_NTZ and is cast to TIMESTAMP under the
pinned-UTC session timezone — identical to the batch
`catalog.load_table` and DuckDB.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import index_store


def _events_raw_schema(ts_unit: str, utc_adjusted: bool = False) -> StructType:
    """Raw file-source schema, pinned per on-disk ts unit (streaming
    sources require an explicit schema). ns must be read as long
    (Spark rejects TIMESTAMP(NANOS)); naive us/ms read as
    TIMESTAMP_NTZ, UTC-adjusted (isAdjustedToUTC=true) us/ms as
    TIMESTAMP — pinning NTZ over an adjusted column fails the parquet
    schema conversion."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if ts_unit == "ns":
        ts_type = LongType()
    elif utc_adjusted:
        ts_type = TimestampType()
    else:
        ts_type = TimestampNTZType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )

WINDOW_US = 300 * 1_000_000  # 5-minute tumbling windows
SESSION_GAP_S = 1800  # 30-minute session gap (operators.events twin)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (schema pinned —
    streaming sources require it). `path` may be a directory or a single
    file; the on-disk timestamp unit is probed with pyarrow and the
    value normalized to a microsecond-precision TIMESTAMP."""
    from ..catalog import timestamp_meta

    if os.path.isdir(path) and os.path.exists(
        os.path.join(path, "events.parquet")
    ):
        path = os.path.join(path, "events.parquet")
    if os.path.isfile(path):
        # the file source requires a directory; expose a single file
        # through a symlinked temp dir (stable per source file so
        # repeated calls reuse it)
        link_dir = os.path.join(
            tempfile.gettempdir(),
            "spark_stream_src_"
            + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12],
        )
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, os.path.basename(path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(path), link)
        path = link_dir
    probe = os.path.join(path, "events.parquet") if os.path.isdir(path) else path
    if os.path.isdir(path) and not os.path.isfile(probe):
        parquets = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        probe = os.path.join(path, parquets[0]) if parquets else probe
    ts_unit, ts_tz = timestamp_meta(probe).get("ts", ("us", None))
    if ts_unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(
        _events_raw_schema(ts_unit, utc_adjusted=ts_tz is not None)
    ).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(path)
    if ts_unit == "ns":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts per event_type with a watermark bounding
    state (late data beyond `watermark` is dropped — the streaming
    equivalent of the batch bucket aggregation in operators.events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias(
                "value_cents"
            ),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            F.unix_micros(F.col("win.end")).alias("win_end_us"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows: each event contributes to window/slide panes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            "event_type",
            "n_events",
        )
    )


def deduped_stream(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Within-watermark dedup by event_id — idempotent ingest of an
    at-least-once source; state is bounded by the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_windows(
    events: DataFrame,
    gap_s: int = SESSION_GAP_S,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Native session windows (gap-based), per user — the streaming twin
    of operators.events.q_events_sessionize. Append mode emits a session
    only once the watermark passes its end (= last event + gap): state
    for a user session is retired exactly when no event can reopen it."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("win"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("win.start")).alias("start_us"),
            F.unix_micros(F.col("win.end")).alias("end_us"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_view_purchase_join(
    events: DataFrame, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join: each view joined to the same user's
    purchases within [view_ts, view_ts + horizon] (attribution window).
    Both sides carry watermarks and the join condition bounds event
    time on both ends — that pair of constraints is what lets the
    engine expire join state (otherwise both sides buffer forever)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purch_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            cents("value").alias("purch_cents"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        "view_id",
        "purch_id",
        F.col("v_user").alias("user_id"),
        F.unix_micros("v_ts").alias("view_us"),
        F.unix_micros("p_ts").alias("purch_us"),
        "purch_cents",
    )


# ---------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

ANOMALY_BUCKETS = 64  # stateful-operator state-key cardinality
#   (shared by the totals and anomaly workers). Scale rule: pick
#   buckets ≈ active-user cardinality / O(10³) so per-bucket state
#   stays a few KB and the per-group bridge cost stays amortized;
#   buckets only need to exceed executor-core count for parallelism.

STATEFUL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ]
)
# Same bucketed-state layout as the anomaly operator below (see that
# comment for the why: the Pandas state bridge charges a fixed cost
# per GROUP, so per-user keys drown the actual work): one state row
# per user BUCKET, holding the bucketed users' running (count, cents)
# as sorted parallel arrays.
STATEFUL_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),
        StructField("valids", ArrayType(LongType())),
    ]
)


def make_user_totals_worker():
    """applyInPandasWithState worker over a USER-BUCKET key: running
    (count, exact-cents sum) per user for every user hashing into the
    bucket — one vectorized pandas groupby per Arrow batch, state
    merged via numpy searchsorted. Each batch emits the updated
    running totals for users seen in the batch (same contract as the
    per-user-keyed form). Built by a factory so cloudpickle ships it
    by value."""

    def update(key, pdfs: Iterator, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            s_users, s_ns, s_cents, s_valid = (
                np.asarray(x, dtype=np.int64) for x in state.get
            )
        else:
            s_users = s_ns = s_cents = s_valid = np.empty(
                0, dtype=np.int64
            )
        frames = [p for p in pdfs if len(p)]
        if not frames:
            yield pd.DataFrame(
                {f.name: [] for f in STATEFUL_OUT_SCHEMA.fields}
            )
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
        # NULL discipline (r13 review finding): `cents` arrives as
        # float64 with NaN when any value was non-finite upstream —
        # a blind to_numpy(int64) turns NaN into INT64_MIN garbage.
        # `size` counts ALL rows (the oracle is COUNT(*)), `count`
        # counts the VALID measurements (the oracle's SUM skips NULL),
        # and the sum contributes NaN as 0 while `valids` remembers
        # whether the user has ever had a real measurement — a user
        # with none reports value_cents NULL, like the oracle.
        g = pdf.groupby("user_id")["cents"].agg(["size", "sum", "count"])
        b_users = g.index.to_numpy(np.int64)
        order = np.argsort(b_users)
        b_users = b_users[order]
        b_n = g["size"].to_numpy(np.int64)[order]
        b_c = (
            np.nan_to_num(g["sum"].to_numpy(np.float64), nan=0.0)
            .astype(np.int64)[order]
            if g["sum"].dtype.kind == "f"
            else g["sum"].to_numpy(np.int64)[order]
        )
        b_v = g["count"].to_numpy(np.int64)[order]
        # merge into the running state (state users kept sorted)
        merged = np.union1d(s_users, b_users)
        n_out = np.zeros(len(merged), dtype=np.int64)
        c_out = np.zeros(len(merged), dtype=np.int64)
        v_out = np.zeros(len(merged), dtype=np.int64)
        if len(s_users):
            at = np.searchsorted(merged, s_users)
            n_out[at] += s_ns
            c_out[at] += s_cents
            v_out[at] += s_valid
        bt = np.searchsorted(merged, b_users)
        n_out[bt] += b_n
        c_out[bt] += b_c
        v_out[bt] += b_v
        state.update(
            (
                merged.tolist(),
                n_out.tolist(),
                c_out.tolist(),
                v_out.tolist(),
            )
        )
        out_cents = pd.Series(c_out[bt]).astype("Int64")
        out_cents[v_out[bt] == 0] = None
        yield pd.DataFrame(
            {
                "user_id": b_users,
                "n_events": n_out[bt],
                "value_cents": out_cents,
            }
        )

    return update


def stateful_user_totals(
    events: DataFrame, n_buckets: int = ANOMALY_BUCKETS
) -> DataFrame:
    """Custom stateful streaming aggregation (running per-user totals)
    via applyInPandasWithState over bucketed user keys. Cents are
    computed Spark-side (HALF_UP `round`, bit-identical to the
    batch/oracle arithmetic) so the Python state fold is pure integer
    math. State still scales with #users (two longs each), but state
    ROWS — and the per-group bridge cost — scale with n_buckets; the
    shuffle is on the bucket only."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # user_id is the state identity: a NULL there is invalid
    # telemetry that would corrupt the int64 state arrays (pandas
    # groupby would silently drop it anyway) — filtered, visibly
    prepped = events.filter(F.col("user_id").isNotNull()).select(
        (F.col("user_id") % n_buckets).alias("bucket"),
        "user_id",
        cents("value").alias("cents"),
    )
    return prepped.groupBy("bucket").applyInPandasWithState(
        make_user_totals_worker(),
        outputStructType=STATEFUL_OUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming anomaly detection
# ---------------------------------------------------------------------------

ANOMALY_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("vc", LongType()),
        StructField("prev_cnt", LongType()),
        StructField("prev_sum", LongType()),
        StructField("is_spike", LongType()),
    ]
)
# State is keyed by USER BUCKET, not by user: one state row holds every
# bucketed user's trailing tail as flat parallel arrays (users sorted,
# lens ≤ lookback each, vals = concatenated tails). The Pandas state
# bridge pays a fixed per-GROUP cost (measured ~5.6 ms/group on the
# sf0.1 fixture — ~6× the worker's own vectorized math), so with
# per-user keys the 1,500-user drain spent ~80% of its CPU in protocol
# overhead. Bucketing amortizes that cost across users-per-bucket while
# keeping identical per-user semantics; the fold below is vectorized
# across ALL users in the bucket.
ANOMALY_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("lens", ArrayType(LongType())),
        StructField("vals", ArrayType(LongType())),
    ]
)

def make_anomaly_worker(
    lookback: int = 10, min_prev: int = 5, factor: int = 3
):
    """applyInPandasWithState worker over a USER-BUCKET key: per-user
    bounded trailing-value deques (≤`lookback` exact-cents longs per
    user) for every user hashing into the bucket. Each event gets a
    verdict against its user's history *then* enters it — identical
    semantics to the batch `events.q_events_anomaly` ROWS BETWEEN
    window, but the state survives across micro-batches so late
    batches continue the same history instead of re-scanning.

    The fold is one pass of integer numpy over the bucket's whole
    Arrow batch: rows sort by (user, us, event_id), each user's prior
    tail is spliced in front of its new values in one combined array,
    and a single cumsum yields every event's trailing count/sum (the
    window clamp at the user's start keeps users independent). Pure
    integer math — bit-identical to the batch twin."""

    def update(key, pdfs: Iterator, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            s_users, s_lens, s_vals = (
                np.asarray(x, dtype=np.int64) for x in state.get
            )
        else:
            s_users = s_lens = s_vals = np.empty(0, dtype=np.int64)
        frames = [p for p in pdfs if len(p)]
        if not frames:
            yield pd.DataFrame(
                {f.name: [] for f in ANOMALY_OUT_SCHEMA.fields}
            )
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
        uid = pdf["user_id"].to_numpy(np.int64)
        us = pdf["us"].to_numpy(np.int64)
        eid = pdf["event_id"].to_numpy(np.int64)
        # a NULL vc (non-finite value upstream) arrives as float NaN;
        # a blind int64 cast would smuggle INT64_MIN into the tail
        # (r13 review finding). NULL becomes an explicit sentinel: it
        # OCCUPIES a window slot (the oracle's ROWS frame does too)
        # but contributes to neither COUNT(vc) nor SUM(vc).
        _sent = np.iinfo(np.int64).min
        raw_vc = pdf["vc"].to_numpy()
        if raw_vc.dtype.kind == "f":
            nanmask = np.isnan(raw_vc)
            vc = np.where(nanmask, _sent, np.nan_to_num(raw_vc)).astype(
                np.int64
            )
        else:
            vc = raw_vc.astype(np.int64)
        order = np.lexsort((eid, us, uid))
        uid, us, eid, vc = uid[order], us[order], eid[order], vc[order]
        b_users, b_start, b_counts = np.unique(
            uid, return_index=True, return_counts=True
        )
        # prior tail length/offset per batch user (state users sorted)
        pre_off = np.concatenate([[0], np.cumsum(s_lens)])
        pre_len = np.zeros(len(b_users), dtype=np.int64)
        if len(s_users):
            ix = np.searchsorted(s_users, b_users)
            found = (ix < len(s_users)) & (
                s_users[np.minimum(ix, len(s_users) - 1)] == b_users
            )
            pre_len[found] = s_lens[ix[found]]
        else:
            ix = np.zeros(len(b_users), dtype=np.int64)
            found = np.zeros(len(b_users), dtype=bool)
        # combined per-user streams: [prior tail..., new values...]
        comb_count = pre_len + b_counts
        comb_start = np.concatenate([[0], np.cumsum(comb_count)])
        comb = np.empty(comb_start[-1], dtype=np.int64)
        for j in np.flatnonzero(found):  # ragged copy, ≤lookback each
            sj = ix[j]
            comb[comb_start[j] : comb_start[j] + s_lens[sj]] = s_vals[
                pre_off[sj] : pre_off[sj] + s_lens[sj]
            ]
        row_user = np.repeat(np.arange(len(b_users)), b_counts)
        within = np.arange(len(uid)) - np.repeat(b_start, b_counts)
        pos = comb_start[row_user] + pre_len[row_user] + within
        comb[pos] = vc
        valid = comb != _sent
        cs = np.concatenate(
            [[0], np.cumsum(np.where(valid, comb, 0))]
        )
        ccnt = np.concatenate(
            [[0], np.cumsum(valid.astype(np.int64))]
        )
        lo = np.maximum(pos - lookback, comb_start[row_user])
        cnt = ccnt[pos] - ccnt[lo]  # COUNT(vc): valid slots only
        s = cs[pos] - cs[lo]  # SUM(vc) with the oracle's COALESCE(,0)
        vc_ok = vc != _sent
        spike = (
            (cnt >= min_prev)
            & vc_ok
            & (np.where(vc_ok, vc, 0) * cnt > factor * s)
        ).astype(np.int64)
        # new state: batch users' fresh tails + untouched state users,
        # merged back into sorted-user order
        keep = np.ones(len(s_users), dtype=bool)
        keep[ix[found]] = False
        n_users = []
        n_lens = []
        n_vals = []
        for j in range(len(b_users)):
            end = comb_start[j] + comb_count[j]
            tail = comb[max(end - lookback, comb_start[j]) : end]
            n_users.append(int(b_users[j]))
            n_lens.append(len(tail))
            n_vals.append(tail)
        for sj in np.flatnonzero(keep):
            n_users.append(int(s_users[sj]))
            n_lens.append(int(s_lens[sj]))
            n_vals.append(s_vals[pre_off[sj] : pre_off[sj] + s_lens[sj]])
        ord2 = np.argsort(np.asarray(n_users, dtype=np.int64))
        state.update(
            (
                [n_users[k] for k in ord2],
                [int(n_lens[k]) for k in ord2],
                np.concatenate([n_vals[k] for k in ord2]).tolist()
                if n_vals
                else [],
            )
        )
        out_vc = pd.Series(vc).astype("Int64")
        out_vc[~vc_ok] = None
        yield pd.DataFrame(
            {
                "event_id": eid,
                "user_id": uid,
                "vc": out_vc,
                "prev_cnt": cnt,
                "prev_sum": s,
                "is_spike": spike,
            }
        )

    return update


def stateful_anomaly(
    events: DataFrame, n_buckets: int = ANOMALY_BUCKETS
) -> DataFrame:
    """Streaming spike detection — the truly-incremental twin of the
    batch rolling-window operator. State per user is ≤10 longs (hard
    bound, no watermark needed for correctness of the verdict); the
    only shuffle is the groupBy(bucket) state partitioning. Users are
    bucketed `user_id % n_buckets` to amortize the Pandas state
    bridge's fixed per-group cost across many users while the fold
    stays per-user exact (see `make_anomaly_worker`)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # identity/ordering keys must be non-null (a NaN cast to int64 is
    # INT64_MIN garbage in the sort and bucket id) — filtered, visibly;
    # a NULL VALUE is handled exactly (sentinel + validity, see the
    # worker), because missing measurements are real data
    prepped = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        (F.col("user_id") % n_buckets).alias("bucket"),
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        cents("value").alias("vc"),
    )
    return prepped.groupBy("bucket").applyInPandasWithState(
        make_anomaly_worker(),
        outputStructType=ANOMALY_OUT_SCHEMA,
        stateStructType=ANOMALY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# harness: drain a stream, return the final static result
# ---------------------------------------------------------------------------


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    state_partitions: int | None = None,
) -> str:
    """Drain the stream with Trigger.AvailableNow into an in-memory
    table and return its name (test harness; a production job swaps the
    sink for kafka/delta/parquet + checkpointLocation).

    ``state_partitions`` sizes the streaming STATE layout, captured
    from ``spark.sql.shuffle.partitions`` at query start and baked into
    the checkpoint: each state partition is its own state store, and
    every micro-batch pays per-store open/commit/delta-file overhead
    regardless of how little state it holds. For dimension-bounded
    state (complete-mode dashboards: windows × types, domains, heavy
    hitters) fewer stores is strictly better — measured 30-40% off the
    whole drain at sf0.1 going 32→8. Since the r10 user-bucketing of
    the anomaly state, every stateful entry here is dimension-bounded
    (state cardinality ≤ ANOMALY_BUCKETS), so all of them size down;
    keep core-count partitions only for a worker whose per-key CPU is
    large enough to need every core. The session conf is restored
    after the drain; results are partitioning-independent either
    way."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(state_partitions)
            )
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


# ---------------------------------------------------------------------------
# oracle-gated streaming queries (driver contract entries)
# ---------------------------------------------------------------------------


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows executed BY the streaming engine (complete mode:
    every window is in the final state, so the result equals the batch
    bucket aggregation — the oracle)."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(
        windowed_counts(ev), output_mode="complete", state_partitions=8
    )
    return spark.table(name)


ORACLE_STREAM_WINDOWED = f"""
SELECT CAST(FLOOR(epoch_us(ts) / {WINDOW_US}.0) AS BIGINT) * {WINDOW_US}
         AS win_start_us,
       CAST(FLOOR(epoch_us(ts) / {WINDOW_US}.0) AS BIGINT) * {WINDOW_US}
         + {WINDOW_US} AS win_end_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2, 3
"""


def q_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-min window, 5-min slide) executed by the
    streaming engine in complete mode; every event lands in exactly 2
    panes — the oracle generates both pane starts per event and
    aggregates."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(
        sliding_window_counts(ev), output_mode="complete", state_partitions=8
    )
    return spark.table(name)


SLIDE_US = 300 * 1_000_000

ORACLE_STREAM_SLIDING = f"""
WITH panes AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / {SLIDE_US}.0) AS BIGINT) * {SLIDE_US}
           - s.off AS win_start_us
  FROM events
  CROSS JOIN (SELECT * FROM (VALUES (0), ({SLIDE_US})) AS t(off)) s
)
SELECT win_start_us, event_type, COUNT(*) AS n_events
FROM panes
GROUP BY 1, 2
"""


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows in append mode: only sessions sealed by
    the final watermark (= max event time) are emitted. The oracle
    reproduces that horizon: batch sessionization filtered to sessions
    whose (last event + gap) <= max(ts) — watermark semantics stated in
    SQL."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(session_windows(ev), output_mode="append")
    return spark.table(name)


ORACLE_STREAM_SESSIONS = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         > {SESSION_GAP_S * 1_000_000} THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, us,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
agg AS (
  SELECT user_id, session_seq,
         MIN(us) AS start_us,
         MAX(us) + {SESSION_GAP_S * 1_000_000} AS end_us,
         COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, session_seq
)
SELECT start_us, end_us, user_id, n_events
FROM agg
WHERE end_us <= (SELECT MAX(epoch_us(ts)) FROM events)
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase attribution as a genuine stream-stream join
    (append mode; inner joins emit every match once both sides have
    arrived). Oracle: the identical interval join in batch SQL."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(
        stream_stream_view_purchase_join(ev), output_mode="append"
    )
    return spark.table(name)


ORACLE_STREAM_STREAM_JOIN = """
WITH ev AS (
  SELECT event_id, user_id, ts, event_type,
         TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT v.event_id AS view_id, p.event_id AS purch_id,
       v.user_id AS user_id,
       epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purch_us,
       p.cents AS purch_cents
FROM ev v
JOIN ev p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def q_stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark ≥3.4):
    within-watermark dedup feeding a tumbling-window aggregation, append
    mode. The dedup stage passes first-seen events through; the window
    stage emits a window once the watermark seals it. Oracle: distinct
    events bucketed, restricted to windows with end <= final watermark
    (= max event time − delay)."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = (
        deduped.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            "event_type",
            "n_events",
        )
    )
    name = run_to_memory(agg, output_mode="append")
    return spark.table(name)


ORACLE_STREAM_DEDUP_WINDOW = f"""
WITH distinct_ev AS (
  SELECT DISTINCT ON (event_id) event_id, ts, event_type FROM events
),
wm AS (
  SELECT MAX(epoch_us(ts)) - {10 * 60 * 1_000_000} AS w FROM events
),
agg AS (
  SELECT CAST(FLOOR(epoch_us(ts) / {WINDOW_US}.0) AS BIGINT) * {WINDOW_US}
           AS win_start_us,
         event_type,
         COUNT(*) AS n_events
  FROM distinct_ev
  GROUP BY 1, 2
)
SELECT a.win_start_us, a.event_type, a.n_events
FROM agg a CROSS JOIN wm
WHERE a.win_start_us + {WINDOW_US} <= wm.w
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark ingest, aggregated to per-type
    counts of distinct events — deterministic regardless of arrival
    order because event identity is the dedup key."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(deduped_stream(ev), output_mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n_distinct_events"))
    )


ORACLE_STREAM_DEDUP = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_distinct_events
FROM events
GROUP BY event_type
"""


def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) running totals;
    the final update per user equals the batch per-user aggregate. A
    user may be emitted once per micro-batch — keep the last (max
    running count) emission, which AvailableNow on a single file makes
    the only one."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(
        stateful_user_totals(ev), output_mode="update", state_partitions=8
    )
    out = spark.table(name)
    # the LAST emission per user = the one with the highest running
    # event count; its value_cents rides ALONG via max_by — two
    # independent max()es would decouple the pair whenever a negative
    # event value (refund) makes the running cents total decrease
    # between micro-batches (r13 review finding)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("value_cents", "n_events").alias("value_cents"),
    )


ORACLE_STREAM_STATEFUL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY user_id
"""


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling-spike detection via the custom stateful
    operator. Each event is emitted exactly once (update mode; the
    verdict for an event never changes once issued), so the drained
    result equals the batch window exactly — the oracle is the SAME
    SQL as the batch twin `events_anomaly`. State cardinality is the
    ANOMALY_BUCKETS=64 user buckets (no longer per-user), so the
    dimension-bounded store sizing applies: 8 stores measured best
    (1.17 s min vs 1.7 s at 32 on the sf0.1 fixture)."""
    ev = read_events_stream(spark, sf_dir)
    name = run_to_memory(
        stateful_anomaly(ev), output_mode="update", state_partitions=8
    )
    return spark.table(name)


# the streaming path must reproduce the batch window bit-for-bit
from ..operators.events import ORACLE_EVENTS_ANOMALY as _ORACLE_ANOMALY


# ---------------------------------------------------------------------------
# documents file-stream: streaming corpus ingest
# ---------------------------------------------------------------------------

_DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the documents parquet — the ingest side
    of a continuously-arriving corpus (crawl drops landing as files).
    Same path resolution as `read_events_stream`: `path` may be the
    sf_dir, a documents.parquet file, or a split part-file directory.
    No timestamp column, so no unit probing is needed."""
    if os.path.isdir(path) and os.path.exists(
        os.path.join(path, "documents.parquet")
    ):
        path = os.path.join(path, "documents.parquet")
    if os.path.isfile(path):
        link_dir = os.path.join(
            tempfile.gettempdir(),
            "spark_stream_src_"
            + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12],
        )
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, os.path.basename(path))
        if not os.path.exists(link):
            os.symlink(os.path.abspath(path), link)
        path = link_dir
    reader = spark.readStream.schema(_DOCUMENTS_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def q_stream_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-domain ingest monitoring: running doc counts and
    character volumes per `source`, maintained BY the streaming engine
    (complete mode — the drained state equals the batch aggregate, the
    oracle). On a cluster this is the live dashboard behind a crawl
    ingest: bounded state (one row per domain), map-side partials
    before the state shuffle."""
    docs = read_documents_stream(spark, sf_dir)
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_len"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_english"),
    )
    name = run_to_memory(agg, output_mode="complete", state_partitions=8)
    return spark.table(name)


ORACLE_STREAM_SOURCE_STATS = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len,
       COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_english
FROM documents
GROUP BY source
"""


def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming admission filter: pass-through ETL that
    admits only documents inside a length band with a computed
    admission tag — append mode, zero state, exactly the rows the
    batch predicate admits (the oracle). The canonical first stage of
    a streaming curation pipeline: runs at wire speed, no shuffle, no
    watermark, and every admitted row is emitted exactly once."""
    docs = read_documents_stream(spark, sf_dir)
    admitted = docs.filter(
        (F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000)
    ).select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.when(F.col("n_chars") >= 1000, F.lit("long"))
        .otherwise(F.lit("standard"))
        .alias("band"),
    )
    name = run_to_memory(admitted, output_mode="append")
    return spark.table(name)


ORACLE_STREAM_QUALITY_GATE = """
SELECT doc_id, source, lang, n_chars,
       CASE WHEN n_chars >= 1000 THEN 'long' ELSE 'standard' END AS band
FROM documents
WHERE n_chars >= 100 AND n_chars <= 2000
"""


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitter monitor: running counts per
    (event_type, props) composite key maintained by the engine
    (complete mode, state bounded by the key domain with map-side
    partials), thresholded against an offline-calibrated absolute
    support level — the standard deployment shape where the threshold
    is computed from historical volume (here: the static fixture,
    HH_SUPPORT of it) and applied to the live stream as a stateless
    post-aggregation filter. Drained state equals the batch
    heavy-hitter set, which is the oracle."""
    from ..catalog import load_table
    from ..operators.frequency import HH_SUPPORT

    n_total = load_table(spark, sf_dir, "events").count()
    threshold = int(n_total * HH_SUPPORT)
    ev = read_events_stream(spark, sf_dir)
    hh = (
        ev.groupBy("event_type", "props")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > F.lit(threshold))
    )
    name = run_to_memory(hh, output_mode="complete", state_partitions=8)
    return spark.table(name)


from ..operators.frequency import HH_SUPPORT as _HH_SUPPORT  # noqa: E402
from ..functions.numeric import cents, sql_cents

ORACLE_STREAM_HEAVY_HITTERS = f"""
WITH tot AS (SELECT COUNT(*) AS n_total FROM events)
SELECT event_type, props, COUNT(*) AS cnt
FROM events, tot
GROUP BY event_type, props, n_total
HAVING COUNT(*) > CAST(FLOOR(n_total * {_HH_SUPPORT}) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# streaming near-dup admission gate (r17 — the online half of C2)
# ---------------------------------------------------------------------------


def _stream_band_keys(docs: DataFrame):
    """Per-document MinHash band keys as PURE column expressions —
    the stateless (no explode, no aggregation) twin of the batch
    `_md5_minhash_bands`: per-row shingle array → 16 array_min
    permutation minima → 4 md5 band keys, named bkey0..bkey3. Same
    oracle-replayable md5 hash family and the production banding
    geometry (N_HASHES=16, BAND_SIZE=4), so identical normalized text
    yields identical keys on both the installed index and the stream.
    A doc with NO shingles (<3 tokens) gets NULL keys — the batch
    pipeline drops such docs before banding, and a NULL key never
    equi-joins, so both sides agree it can never be a candidate."""
    from ..functions.tokens import tokenize
    from ..operators.dedup import BAND_SIZE, N_HASHES, shingles_from_tokens

    out = docs.select(
        "*", tokenize(F.col("text")).alias("__toks")
    ).select("*", shingles_from_tokens(F.col("__toks")).alias("__sh"))

    def _perm(i: int):
        # closure factory, NOT `lambda s, i=i`: a two-argument lambda
        # makes F.transform pass the ARRAY INDEX as the second
        # positional arg, silently shadowing the permutation salt
        return lambda s: F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(i)), s)), 1, 15
            ),
            16,
            10,
        ).cast("long")

    mins = [
        F.array_min(F.transform(F.col("__sh"), _perm(i)))
        for i in range(N_HASHES)
    ]
    keys = [
        F.when(
            F.size("__sh") > 0,
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        mins[b * BAND_SIZE + r].cast("string")
                        for r in range(BAND_SIZE)
                    ],
                )
            ),
        ).alias(f"bkey{b}")
        for b in range(N_HASHES // BAND_SIZE)
    ]
    return out.select("doc_id", *keys)


# --- installed LSH band-index lifecycle -------------------------------
# The admission gate's candidate index as a PERSISTENT on-disk artifact
# (the dedup twin of the IVFADC index lifecycle): build once offline,
# append new corpus batches under the FROZEN band family, read
# base+deltas merged behind a model-consistency gate, report staleness.
# The trees live in `index_store`, like the IVFADC index's.

LSH_INDEX_TAG = "lsh-bands-v1"


def _lsh_model_key() -> str:
    """Digest of the band family + geometry — the consistency gate:
    band keys computed under a different N_HASHES/BAND_SIZE (or a new
    hash family tag) can never be merged into this index."""
    from ..operators.dedup import BAND_SIZE, N_HASHES

    return hashlib.md5(
        repr((LSH_INDEX_TAG, N_HASHES, BAND_SIZE)).encode()
    ).hexdigest()[:12]


def _lsh_index_name(sf_dir: str) -> str:
    """Canonical installed-tree basename, keyed by the documents
    fixture identity (the `_index_name` recipe of the ANN index)."""
    from ..catalog import fixture_stat

    stat = fixture_stat(sf_dir, "documents")
    if stat is None:
        raise ValueError("unkeyable fixture: no installable index")
    key = hashlib.md5(repr((stat, LSH_INDEX_TAG)).encode()).hexdigest()[:12]
    return f"spark_graft_lshidx_{key}"


def _open_lsh(sf_dir, index_root, filesystem, spark_root):
    return index_store.open_tree(
        _lsh_index_name(sf_dir), index_root, filesystem, spark_root
    )


def _open_built_lsh(sf_dir, index_root, filesystem, spark_root):
    """The installed index, refusing a missing base or one banded
    under another family."""
    tree = _open_lsh(sf_dir, index_root, filesystem, spark_root)
    if not tree.built:
        raise ValueError("no base admission index — build first")
    if tree.model is None or tree.model.get("model_key") != _lsh_model_key():
        raise ValueError(
            "band-family mismatch: the installed index was built under "
            "a different banding — rebuild it"
        )
    return tree


def _lsh_bucket_minima(docs: DataFrame) -> DataFrame:
    """(band, bkey, m) — the admission index rows for a corpus slice:
    banded MinHash keys pre-aggregated to the per-bucket min doc_id.
    A mega-bucket collapses to ONE row here by construction."""
    from ..operators.dedup import _md5_minhash_bands

    return (
        _md5_minhash_bands(docs)
        .groupBy("band", "bkey")
        .agg(F.min("doc_id").alias("m"))
    )


def lsh_index_build(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> dict:
    """Build and atomically install the admission index for `docs`:
    a band-partitioned (band, bkey, m) parquet tree + a `_MODEL.json`
    sidecar carrying the band-family key and the indexed doc count
    (the staleness denominator). Index size is BUCKET-scale (≤ 4
    rows per doc, collapsing under duplication), never pair-scale.
    A rebuild over an installed index replaces it, live deltas
    included, through `VersionedTree.swap` — the crash-safe path the
    IVF index's compaction and retrain use; a plain install would
    lose the move to the complete old base and keep serving it."""
    tree = _open_lsh(sf_dir, index_root, filesystem, spark_root)
    n_docs = docs.count()
    frame = _lsh_bucket_minima(docs)
    model = {"model_key": _lsh_model_key(), "n_docs": n_docs}
    if tree.built:
        tree.swap(frame, model, "band")
        ok = True
    else:
        ok = tree.install_base(frame, model, "band")
    return {"installed": ok, "name": tree.name, "n_docs": n_docs}


def lsh_index_append(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    batch_id: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> dict:
    """Append a new corpus batch under the FROZEN band family as a
    sibling delta tree (`<name>.delta.<batch_id>`) — only the new
    docs' band keys are computed, the base is never rewritten.
    Idempotent per batch_id (a re-run of an installed batch is a
    no-op); an empty batch, a band-family mismatch and a batch id the
    store would never serve are refused LOUDLY before any tree
    installs."""
    tree = _open_built_lsh(sf_dir, index_root, filesystem, spark_root)
    dname = tree.new_delta(batch_id)
    if dname is None:
        return {"appended": False, "n_docs": 0}
    n_new = new_docs.count()
    if n_new == 0:
        raise ValueError("empty append batch — nothing to index")
    tree.install_delta(
        dname,
        _lsh_bucket_minima(new_docs),
        {"model_key": _lsh_model_key(), "n_docs": n_new},
        "band",
    )
    return {"appended": True, "n_docs": n_new}


def lsh_index_staleness(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> int:
    """Appended fraction of the admission index in milli (docs in
    delta trees / total indexed docs, both from the sidecars' `n_docs`)
    — the rebuild trigger a nightly maintenance job reads, mirroring
    `ivf_index_staleness`."""
    tree = _open_lsh(sf_dir, index_root, filesystem, spark_root)
    if tree.model is None:
        raise ValueError("no base admission index")

    def n_docs(t: str) -> int:
        blob = tree.store.read_model(t)
        return int(blob["n_docs"]) if blob else 0

    return tree.staleness(n_docs)[2]


def read_lsh_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """The servable admission index: base + every installed delta,
    merged to per-bucket minima, behind the same LOUD model-
    consistency gate the ANN read path uses (a delta banded under a
    different family raises instead of corrupting verdicts)."""
    tree = _open_built_lsh(sf_dir, index_root, filesystem, spark_root)
    merged = tree.read(spark, "band-family mismatch", ("band", "bkey", "m"))
    return merged.groupBy("band", "bkey").agg(F.min("m").alias("m"))


def q_stream_dedup_admit(
    spark: SparkSession,
    sf_dir: str,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """Streaming near-dup ADMISSION gate — the online half of the
    batch LSH dedup story (r16 VERDICT item 2): each arriving document
    is checked against the installed candidate index (the band keys of
    the already-ingested corpus) and emitted with an admit /
    duplicate-of verdict at ingest time, BEFORE it enters the corpus.
    Fixture split: even doc_ids are the installed corpus, odd doc_ids
    arrive on the stream.

    Plan — stateless end to end (append mode, zero streaming state,
    wire speed): the index is built ONCE as a static frame
    pre-aggregated to (band, bkey) → min installed doc_id (a
    mega-bucket template collapses to ONE index row here, so the
    degenerate-bucket hazard of the batch pair generator cannot exist
    on the admission path); the stream computes its 4 band keys as
    per-row column expressions (`_stream_band_keys` — no explode, no
    aggregation) and probes the index with 4 chained stream-static
    LEFT equi-joins, one per band; the verdict is
    least(per-band minima) — NULL ⇒ admitted. At fixture scale the
    index side is broadcast; at 100 TB the same query runs with the
    index bucketed BY (band, bkey) so each micro-batch's probe is a
    co-partitioned hash join (or an external KV lookup in foreachBatch)
    — the stream side stays stateless either way.

    Semantics gate (tests/test_round17_ops.py): a streamed doc is
    flagged duplicate-of m exactly when the BATCH banded pipeline
    (`_md5_minhash_bands` on the combined corpus) produces a candidate
    pair between them — the reconciliation the r16 verdict asked for;
    the SQL oracle replays index build + probe end to end.

    With `index_root`/`filesystem` the gate probes the INSTALLED
    on-disk admission index (base + deltas via `read_lsh_index`)
    instead of deriving the index inline — verdict-identical when the
    installed tree covers the same corpus (pinned in pytest); the
    inline default keeps the registry entry self-contained and its
    oracle unchanged."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")

    if index_root is not None or filesystem is not None:
        idx = read_lsh_index(
            spark,
            sf_dir,
            index_root=index_root,
            filesystem=filesystem,
            spark_root=spark_root,
        )
    else:
        installed = docs.filter(F.col("doc_id") % 2 == 0)
        idx = _lsh_bucket_minima(installed)
    idx = idx.persist()
    idx.count()  # materialize once; 4 join branches read the cache
    try:
        stream = read_documents_stream(spark, sf_dir).filter(
            F.col("doc_id") % 2 == 1
        )
        probed = _stream_band_keys(stream)
        for b in range(4):
            side = idx.filter(F.col("band") == b).select(
                F.col("bkey").alias(f"bkey{b}"),
                F.col("m").alias(f"m{b}"),
            )
            probed = probed.join(F.broadcast(side), f"bkey{b}", "left")
        verdicts = probed.select(
            "doc_id",
            F.least(*[F.col(f"m{b}") for b in range(4)]).alias("dup_of"),
        ).select(
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), F.lit("duplicate"))
            .otherwise(F.lit("admit"))
            .alias("verdict"),
            "dup_of",
        )
        name = run_to_memory(verdicts, output_mode="append")
        # the drain is complete — copy the (stream-sized) result out of
        # the memory sink eagerly enough that releasing the index cache
        # cannot invalidate it (the sink table is already materialized;
        # unpersist below only affects re-executions)
        return spark.table(name)
    finally:
        idx.unpersist()


def _oracle_stream_dedup_admit() -> str:
    """Replays index build (even docs → banded minima → per-bucket min
    doc_id) and the stream probe (odd docs → band keys → left join →
    min match) in one chain; odd docs without shingles re-enter via
    the final LEFT JOIN as admitted."""
    from ..operators.dedup import BAND_SIZE, N_HASHES

    perm = ", ".join(
        "MIN(CAST(('0x' || substring(md5('{i}:' || s), 1, 15)) AS "
        "BIGINT)) AS m{i}".format(i=i)
        for i in range(N_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM mh".format(
            b=b,
            key=" || '|' || ".join(
                f"CAST(m{b * BAND_SIZE + r} AS VARCHAR)"
                for r in range(BAND_SIZE)
            ),
        )
        for b in range(N_HASHES // BAND_SIZE)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(l)-2, 0) + 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
  FROM toks
),
mh AS (SELECT doc_id, {perm} FROM sh GROUP BY doc_id),
bands AS ({band_rows}),
idx AS (
  SELECT band, bkey, MIN(doc_id) AS m FROM bands
  WHERE doc_id % 2 = 0 GROUP BY band, bkey
),
probe AS (
  SELECT b.doc_id, MIN(i.m) AS dup_of
  FROM bands b JOIN idx i USING (band, bkey)
  WHERE b.doc_id % 2 = 1
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CASE WHEN p.dup_of IS NOT NULL THEN 'duplicate'
            ELSE 'admit' END AS verdict,
       p.dup_of
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN probe p USING (doc_id)
"""


QUERIES = {
    "stream_anomaly": q_stream_anomaly,
    "stream_dedup_admit": q_stream_dedup_admit,
    "stream_heavy_hitters": q_stream_heavy_hitters,
    "stream_windowed_counts": q_stream_windowed_counts,
    "stream_sliding_windows": q_stream_sliding_windows,
    "stream_session_windows": q_stream_session_windows,
    "stream_stream_join": q_stream_stream_join,
    "stream_dedup_then_window": q_stream_dedup_then_window,
    "stream_dedup": q_stream_dedup,
    "stream_stateful_totals": q_stream_stateful_totals,
    "stream_source_stats": q_stream_source_stats,
    "stream_quality_gate": q_stream_quality_gate,
}

ORACLES = {
    "stream_anomaly": _ORACLE_ANOMALY,
    "stream_dedup_admit": _oracle_stream_dedup_admit(),
    "stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
    "stream_dedup_then_window": ORACLE_STREAM_DEDUP_WINDOW,
    "stream_windowed_counts": ORACLE_STREAM_WINDOWED,
    "stream_sliding_windows": ORACLE_STREAM_SLIDING,
    "stream_session_windows": ORACLE_STREAM_SESSIONS,
    "stream_dedup": ORACLE_STREAM_DEDUP,
    "stream_stateful_totals": ORACLE_STREAM_STATEFUL,
    "stream_source_stats": ORACLE_STREAM_SOURCE_STATS,
    "stream_quality_gate": ORACLE_STREAM_QUALITY_GATE,
    "stream_heavy_hitters": ORACLE_STREAM_HEAVY_HITTERS,
}

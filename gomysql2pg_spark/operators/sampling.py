"""Corpus-curation sampling operators (SURVEY.md §2.G, round 6).

The reference's migration pump moves every row (`cmd/root.go:389-516`);
a 100 TB training-data pipeline instead *selects* rows under explicit,
reproducible policies. These operators add the standard selection
toolkit on the `documents` / `events` tables:

- per-domain quota capping (domain balancing a la CommonCrawl curation),
- deterministic content-hash sampling (reproducible holdouts without
  RNG state — the md5-bucket trick every dataset card documents),
- cohort retention (the canonical events-table product analytic),
- hapax/Zipf vocabulary statistics (corpus health metrics),
- n-gram novelty vs a benchmark corpus (overlap decontamination
  upgraded from substring containment to set-overlap scoring).

All plans are single-scan, shuffle-minimal, and UDF-free (whole-stage
codegen end to end):
- domain capping shuffles once on `source` (window); a skewed
  mega-domain is the documented caveat — at 100 TB pre-aggregate counts
  per domain and broadcast the per-domain keep-threshold instead,
- hash sampling is a stateless map (zero shuffle, full pushdown),
- cohort retention shuffles on user then on (cohort, offset) — both
  map-side combinable,
- hapax stats explode tokens but aggregate immediately (partial aggs);
  the (lang, term) key space is vocabulary-sized, not corpus-sized,
- n-gram novelty broadcast-joins the benchmark side (benchmarks are
  tiny vs the corpus) — the corpus side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import cents, sql_cents
from ..functions.tokens import norm_text

#: hex-digit → value via position lookup — portable to any SQL engine
#: (`strpos`/`instr` both exist; avoids hex-cast builtins DuckDB lacks).
_HEX = "0123456789abcdef"

#: docs kept per source in the quota sample
DOMAIN_CAP = 50

#: md5 buckets (two trailing hex digits → 0..255) kept by the sample
HASH_BUCKETS_KEPT = 32  # 32/256 = 12.5 %


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: keep at most DOMAIN_CAP docs per
    `source`, preferring longer documents (ties broken by doc_id so the
    sample is deterministic). One shuffle on `source`; the per-domain
    top-k never materializes the full sorted domain (window + filter
    prunes rank > cap at the exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy(
            F.col("n_chars").desc_nulls_last(), F.col("doc_id").asc()
        )
    )
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= DOMAIN_CAP)
        .select("doc_id", "source", "n_chars", "rank_in_source")
    )


ORACLE_DOMAIN_CAP_SAMPLE = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC NULLS LAST, doc_id ASC)
           AS rank_in_source
  FROM documents
)
SELECT doc_id, source, n_chars, rank_in_source
FROM ranked WHERE rank_in_source <= {DOMAIN_CAP}
"""


def q_domain_cap_sample_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe per-domain quota sampling — same rows as
    `q_domain_cap_sample` (which therefore shares its oracle), without
    the corpus-wide window that strands a mega-domain (the realistic
    CommonCrawl case: one domain with 10^9 docs = one straggler
    partition) on a single reducer:

    1. histogram: ``groupBy(source, n_chars).count()`` — map-side
       combinable; the mega-domain collapses to its distinct lengths.
    2. threshold: running count over the *histogram* (window partitions
       bounded by lengths-per-domain, never docs-per-domain) picks the
       smallest length still inside the top-DOMAIN_CAP.
    3. broadcast the one-row-per-domain thresholds back; `n_chars >=
       threshold` is a stateless scan predicate — at most
       DOMAIN_CAP + (ties at the boundary length) docs per domain
       survive.
    4. exact rank + tie-break runs on that capped candidate set — the
       rank window's partitions are ≤ cap+ties rows by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    # NULL semantics must match the unscaled window the shared oracle
    # ranks with (r13 review finding): a NULL n_chars doc sorts DESC
    # NULLS LAST (internally a -2^62 sentinel, below any real length)
    # and a NULL source is its own domain (groupBy keeps it; the
    # threshold join is null-safe so it isn't silently dropped).
    nc = F.coalesce(F.col("n_chars"), F.lit(-(2 ** 62)))
    tagged = docs.withColumn("__nc", nc)
    hist = tagged.groupBy("source", "__nc").agg(F.count("*").alias("cnt"))
    w_hist = (
        Window.partitionBy("source")
        .orderBy(F.col("__nc").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thresholds = (
        hist.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(w_hist), F.lit(0))
        )
        .filter(F.col("cum_before") < DOMAIN_CAP)
        .groupBy("source")
        .agg(F.min("__nc").alias("len_threshold"))
        .withColumnRenamed("source", "__src")
    )
    candidates = tagged.join(
        F.broadcast(thresholds),
        tagged["source"].eqNullSafe(thresholds["__src"]),
    ).filter(F.col("__nc") >= F.col("len_threshold"))
    w_rank = (
        Window.partitionBy("source")
        .orderBy(F.col("__nc").desc(), F.col("doc_id").asc())
    )
    return (
        candidates.withColumn("rank_in_source", F.row_number().over(w_rank))
        .filter(F.col("rank_in_source") <= DOMAIN_CAP)
        .select("doc_id", "source", "n_chars", "rank_in_source")
    )


def q_hash_mod_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket sampling: bucket = value of the two
    trailing hex digits of md5(text) (0..255); keep bucket <
    HASH_BUCKETS_KEPT. Stateless row-local predicate — zero shuffle,
    survives any scale, and the same document always lands in the same
    bucket on every engine (the property RNG sampling lacks)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        f"CAST((instr('{_HEX}', substring(md5(text), 31, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring(md5(text), 32, 1)) - 1) AS INT)"
    )
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < HASH_BUCKETS_KEPT)
        .select("doc_id", "lang", "bucket")
    )


ORACLE_HASH_MOD_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         CAST((strpos('{_HEX}', substr(md5(text), 31, 1)) - 1) * 16
              + (strpos('{_HEX}', substr(md5(text), 32, 1)) - 1)
              AS INTEGER) AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket FROM b WHERE bucket < {HASH_BUCKETS_KEPT}
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention on `events`: cohort = Monday of the
    user's first event week; one row per (cohort_week, week_offset)
    counting distinct active users. Two map-side-combinable shuffles
    (per-user min, then per-cell distinct count) — the classic shape
    every product-analytics warehouse runs nightly."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    acts = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        acts.join(firsts, "user_id")
        .select(
            F.to_date("cohort_week").alias("cohort_week"),
            (
                F.datediff(F.to_date("act_week"), F.to_date("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ORACLE_COHORT_RETENTION = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
acts AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
  FROM events
)
SELECT f.cohort_week,
       CAST((a.act_week - f.cohort_week) / 7 AS INTEGER) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM acts a JOIN firsts f USING (user_id)
GROUP BY f.cohort_week, week_offset
"""


#: tokens for vocabulary statistics: lowercase alphabetic runs
_WORD_RE = "[a-z]+"


def q_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary health: vocabulary size, hapax-legomena
    count (terms occurring exactly once), total token count, and the
    frequency of the single most common term. Tokens explode once but
    collapse immediately into (lang, term) partial aggregates — the
    shuffled key space is vocabulary-sized. The hapax share is the
    standard Zipf-tail indicator used to spot boilerplate-heavy or
    OCR-damaged corpora."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")
    term_freq = (
        docs.select(F.explode(toks).alias("term"), "lang")
        .groupBy("lang", "term")
        .agg(F.count("*").alias("freq"))
    )
    return term_freq.groupBy("lang").agg(
        F.count("*").alias("vocab_size"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.sum("freq").alias("total_tokens"),
        F.max("freq").alias("top_term_freq"),
    )


ORACLE_HAPAX_STATS = """
WITH term_freq AS (
  SELECT lang, t.term, COUNT(*) AS freq
  FROM documents,
       UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS t(term)
  GROUP BY lang, t.term
)
SELECT lang,
       COUNT(*) AS vocab_size,
       CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(freq) AS BIGINT) AS total_tokens,
       MAX(freq) AS top_term_freq
FROM term_freq GROUP BY lang
"""

#: n-gram order for novelty scoring; benchmark corpus = academic docs
NOVELTY_N = 5
BENCHMARK_SOURCE = "academic"


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (the set-overlap upgrade of
    `decontamination_check`'s substring containment): for every
    non-benchmark document, count its distinct word 5-grams and how
    many also occur in the benchmark corpus (`source = 'academic'`).
    A high matched share flags likely benchmark leakage.

    Scale shape: the benchmark n-gram set is distinct-reduced then
    broadcast (benchmarks are MBs; the corpus is TBs). Per-document
    gram dedup happens row-locally via `array_distinct` BEFORE the
    explode — doc_id is unique, so (doc_id, gram) is globally distinct
    without any shuffle; the corpus side is scan → explode →
    local hash-probe → per-doc aggregate, and only per-doc count rows
    ever move. (A naive `.distinct()` after explode would shuffle
    every corpus n-gram — the dominant cost at 100 TB.)

    The tokenizer is materialized through its own projection BEFORE
    the window transform: Catalyst inlines column expressions into
    every lambda call site, so an inline `regexp_extract_all` would
    re-tokenize the document once per window slice — measured 5×
    end-to-end (2.9s → 0.6s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        "doc_id",
        "source",
        F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)").alias(
            "toks"
        ),
    )
    toks = F.col("toks")
    grams = F.array_distinct(
        F.when(
            F.size(toks) >= NOVELTY_N,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(NOVELTY_N - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, NOVELTY_N)),
            ),
        ).otherwise(F.array())
    )
    with_grams = pre.select(
        "doc_id", "source", F.explode(grams).alias("gram")
    )
    bench = (
        with_grams.filter(F.col("source") == BENCHMARK_SOURCE)
        .select("gram")
        .distinct()
    )
    corpus = with_grams.filter(F.col("source") != BENCHMARK_SOURCE)
    matched = corpus.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left"
    )
    return matched.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_matched"),
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i:i+{NOVELTY_N - 1}], ' ') AS gram
  FROM (
    SELECT doc_id, source,
           regexp_extract_all(lower(text), '{_WORD_RE}') AS toks
    FROM documents
  ),
  UNNEST(generate_series(1, len(toks) - {NOVELTY_N - 1})) AS s(i)
  WHERE len(toks) >= {NOVELTY_N}
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE source = '{BENCHMARK_SOURCE}'
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched
FROM grams g LEFT JOIN bench b USING (gram)
WHERE g.source <> '{BENCHMARK_SOURCE}'
GROUP BY g.doc_id
"""


def _rfm_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared RFM per-user aggregate: one map-side-combinable shuffle
    on user_id, corpus-max timestamp broadcast back as a scalar."""
    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts").alias("corpus_max"))
    return (
        events.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            F.sum(cents("value")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(max_ts))
        .select(
            "user_id",
            F.datediff(F.to_date("corpus_max"), F.to_date("last_ts")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation on `events`: per-user Recency (days since
    last event vs corpus max), Frequency (event count), Monetary
    (exact value cents), each bucketed into quartiles with NTILE over a
    fully deterministic order (metric, then user_id — no tie ambiguity
    across engines). Output: one row per (r,f,m) segment with user
    count and summed monetary cents.

    Scale: the per-user aggregate is one map-side-combinable shuffle on
    user_id; the NTILE windows are unpartitioned ORDER BYs, which
    single-thread at 100 TB — `q_rfm_segments_scaled` is the parallel
    path (broadcast percentile cutpoints, stateless CASE bucketing);
    this exact-NTILE formulation stays as the small-scale reference."""
    from pyspark.sql.window import Window

    per_user = _rfm_per_user(spark, sf_dir)
    # NULL order pinned on both engines (Spark asc = NULLS FIRST,
    # DuckDB default nulls_last): a user with all-NULL ts (recency
    # NULL) or all-poisoned values (monetary NULL) must land in the
    # same quartile everywhere
    r_w = Window.orderBy(
        F.col("recency_days").asc_nulls_last(), F.col("user_id").asc()
    )
    f_w = Window.orderBy(
        F.col("frequency").desc_nulls_last(), F.col("user_id").asc()
    )
    m_w = Window.orderBy(
        F.col("monetary_cents").desc_nulls_last(), F.col("user_id").asc()
    )
    scored = per_user.select(
        "user_id",
        "monetary_cents",
        F.ntile(4).over(r_w).alias("r_quartile"),
        F.ntile(4).over(f_w).alias("f_quartile"),
        F.ntile(4).over(m_w).alias("m_quartile"),
    )
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count("*").alias("n_users"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


ORACLE_RFM_SEGMENTS = """
WITH per_user AS (
  SELECT user_id,
         CAST(date_trunc('day', (SELECT MAX(ts) FROM events)) AS DATE)
           - CAST(date_trunc('day', MAX(ts)) AS DATE) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY user_id
),
scored AS (
  SELECT user_id, monetary_cents,
         NTILE(4) OVER (ORDER BY recency_days ASC NULLS LAST, user_id ASC)
           AS r_quartile,
         NTILE(4) OVER (ORDER BY frequency DESC NULLS LAST, user_id ASC)
           AS f_quartile,
         NTILE(4) OVER (ORDER BY monetary_cents DESC NULLS LAST, user_id ASC)
           AS m_quartile
  FROM per_user
)
SELECT r_quartile, f_quartile, m_quartile,
       COUNT(*) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY r_quartile, f_quartile, m_quartile
"""


def q_rfm_segments_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe RFM segmentation: the three unpartitioned NTILE
    windows of `q_rfm_segments` (a global single-reducer sort per
    metric — a non-starter at 10^9 users) are replaced by

    1. one aggregate computing the 3×3 exact `percentile_disc`
       cutpoints over the per-user table (partial-applied; state is
       counts per distinct metric value, bounded by value cardinality,
       not user count — swap in approx_percentile if even that grows),
    2. a broadcast of that single cutpoint row,
    3. a stateless CASE bucketing — no sort, no window, fully parallel.

    Quartile rule (value-based, both engines agree exactly on
    integers): ascending metric (recency) buckets by `x <= p{25,50,75}`;
    descending metrics (frequency, monetary) by `x > p{75,50,25}`.
    Ties at a cutpoint land in one bucket (value-determined) rather
    than being split by user_id as NTILE does, so this is a sibling
    policy with its own oracle, not a hash-twin of the NTILE entry."""
    per_user = _rfm_per_user(spark, sf_dir)
    per_user.createOrReplaceTempView("_rfm_pu")
    return spark.sql(
        """
        WITH cuts AS (
          SELECT
            percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_days) AS r25,
            percentile_disc(0.50) WITHIN GROUP (ORDER BY recency_days) AS r50,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_days) AS r75,
            percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency) AS f25,
            percentile_disc(0.50) WITHIN GROUP (ORDER BY frequency) AS f50,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency) AS f75,
            percentile_disc(0.25) WITHIN GROUP (ORDER BY monetary_cents) AS m25,
            percentile_disc(0.50) WITHIN GROUP (ORDER BY monetary_cents) AS m50,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY monetary_cents) AS m75
          FROM _rfm_pu
        )
        SELECT
          CASE WHEN recency_days <= r25 THEN 1
               WHEN recency_days <= r50 THEN 2
               WHEN recency_days <= r75 THEN 3 ELSE 4 END AS r_quartile,
          CASE WHEN frequency > f75 THEN 1
               WHEN frequency > f50 THEN 2
               WHEN frequency > f25 THEN 3 ELSE 4 END AS f_quartile,
          CASE WHEN monetary_cents > m75 THEN 1
               WHEN monetary_cents > m50 THEN 2
               WHEN monetary_cents > m25 THEN 3 ELSE 4 END AS m_quartile,
          COUNT(*) AS n_users,
          CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
        FROM _rfm_pu CROSS JOIN cuts
        GROUP BY 1, 2, 3
        """
    )


ORACLE_RFM_SEGMENTS_SCALED = """
WITH per_user AS (
  SELECT user_id,
         CAST(date_trunc('day', (SELECT MAX(ts) FROM events)) AS DATE)
           - CAST(date_trunc('day', MAX(ts)) AS DATE) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY user_id
),
cuts AS (
  SELECT
    percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_days) AS r25,
    percentile_disc(0.50) WITHIN GROUP (ORDER BY recency_days) AS r50,
    percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_days) AS r75,
    percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency) AS f25,
    percentile_disc(0.50) WITHIN GROUP (ORDER BY frequency) AS f50,
    percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency) AS f75,
    percentile_disc(0.25) WITHIN GROUP (ORDER BY monetary_cents) AS m25,
    percentile_disc(0.50) WITHIN GROUP (ORDER BY monetary_cents) AS m50,
    percentile_disc(0.75) WITHIN GROUP (ORDER BY monetary_cents) AS m75
  FROM per_user
)
SELECT
  CASE WHEN recency_days <= r25 THEN 1
       WHEN recency_days <= r50 THEN 2
       WHEN recency_days <= r75 THEN 3 ELSE 4 END AS r_quartile,
  CASE WHEN frequency > f75 THEN 1
       WHEN frequency > f50 THEN 2
       WHEN frequency > f25 THEN 3 ELSE 4 END AS f_quartile,
  CASE WHEN monetary_cents > m75 THEN 1
       WHEN monetary_cents > m50 THEN 2
       WHEN monetary_cents > m25 THEN 3 ELSE 4 END AS m_quartile,
  COUNT(*) AS n_users,
  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM per_user CROSS JOIN cuts
GROUP BY 1, 2, 3
"""


def q_engagement_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly engagement on `events`: per calendar day, distinct
    active users (DAU) and the distinct actives of the containing
    Monday-start week (WAU) — the DAU/WAU pair whose ratio is the
    product-stickiness metric (kept as two exact integers; the division
    is presentation-layer). Two distinct-aggregates, each one shuffle;
    the day→week join broadcasts the tiny per-week table."""
    events = load_table(spark, sf_dir, "events")
    dau = (
        events.select(
            F.to_date("ts").alias("day"),
            F.date_trunc("week", F.col("ts")).alias("wk"),
            "user_id",
        )
        .groupBy("day", "wk")
        .agg(F.countDistinct("user_id").alias("dau"))
    )
    wau = (
        events.select(
            F.date_trunc("week", F.col("ts")).alias("wk"), "user_id"
        )
        .groupBy("wk")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(F.broadcast(wau), "wk")
        .select("day", "dau", "wau")
    )


ORACLE_ENGAGEMENT_DAU = """
WITH dau AS (
  SELECT CAST(ts AS DATE) AS day, date_trunc('week', ts) AS wk,
         COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
),
wau AS (
  SELECT date_trunc('week', ts) AS wk, COUNT(DISTINCT user_id) AS wau
  FROM events GROUP BY 1
)
SELECT d.day, d.dau, w.wau
FROM dau d JOIN wau w USING (wk)
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles of event value (in cents) per
    event_type — the distribution profile a capacity plan reads before
    sizing shuffle partitions. percentile_disc returns actual data
    values (no interpolation), so results are exact integers identical
    on every engine. At 100 TB swap in approx_percentile (t-digest,
    map-side combinable) — this exact formulation is its oracle."""
    events = load_table(spark, sf_dir, "events")
    cents_df = events.select(
        "event_type",
        cents("value").alias("cents"),
    )
    cents_df.createOrReplaceTempView("_vq_cents")
    return spark.sql(
        """
        SELECT event_type,
               MIN(cents) AS p0,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p25,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p50,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p75,
               CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS p95,
               MAX(cents) AS p100
        FROM _vq_cents GROUP BY event_type
        """
    )


ORACLE_VALUE_QUANTILES = """
WITH cents AS (
  SELECT event_type, TRY_CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       MIN(cents) AS p0,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS p25,
       CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS p50,
       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS p75,
       CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS p95,
       MAX(cents) AS p100
FROM cents GROUP BY event_type
"""


def q_key_skew_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: per-custkey order counts collapsed into
    log2 buckets (bucket = length(bin(count)) = floor(log2)+1). This
    is the pre-flight check that decides broadcast vs shuffle vs
    salted join at 100 TB — a heavy tail in high buckets means the
    plain shuffle join will straggle. Two map-side-combinable
    aggregations; the histogram itself is at most 64 rows."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return (
        per_key.withColumn(
            "log2_bucket", F.length(F.expr("bin(cnt)")).cast("int")
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_per_key"),
        )
    )


ORACLE_KEY_SKEW_HISTOGRAM = """
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
)
SELECT CAST(length(bin(cnt)) AS INTEGER) AS log2_bucket,
       COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       MAX(cnt) AS max_per_key
FROM per_key GROUP BY 1
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition proof: per-domain quota cap
    (top-{cap} per source by length) → deterministic md5-bucket
    half-sample → normalized exact dedup (keep min doc_id) →
    per-source corpus stats. Stage semantics match the standalone
    operators (q_domain_cap_sample, q_hash_mod_sample,
    dedup.q_dedup_exact_norm) — this entry proves the round-6 family
    COMPOSES, the way q_corpus_pipeline proves it for the round-1 ops.
    Every stage is deterministic and exact-integer, so the full chain
    carries a hard oracle."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    )
    capped = (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DOMAIN_CAP)
        .drop("rk")
    )
    bucket = F.expr(
        f"CAST((instr('{_HEX}', substring(md5(text), 31, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring(md5(text), 32, 1)) - 1) AS INT)"
    )
    sampled = capped.filter(bucket < 128)  # deterministic half-sample
    norm = norm_text(F.col("text"))
    deduped = (
        sampled.select(
            "doc_id", "source", "n_chars", F.md5(norm).alias("h")
        )
        .groupBy("h")
        .agg(
            F.min_by(F.struct("doc_id", "source", "n_chars"), "doc_id")
            .alias("r")
        )
        .select("r.doc_id", "r.source", "r.n_chars")
    )
    return deduped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


ORACLE_CURATION_PIPELINE = f"""
WITH capped AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT doc_id, source, n_chars, text,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS rk
    FROM documents
  ) WHERE rk <= {DOMAIN_CAP}
),
sampled AS (
  SELECT * FROM capped
  WHERE (strpos('{_HEX}', substr(md5(text), 31, 1)) - 1) * 16
        + (strpos('{_HEX}', substr(md5(text), 32, 1)) - 1) < 128
),
deduped AS (
  SELECT MIN(doc_id) AS doc_id,
         arg_min(source, doc_id) AS source,
         arg_min(n_chars, doc_id) AS n_chars
  FROM (
    SELECT doc_id, source, n_chars,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
    FROM sampled
  ) GROUP BY h
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM deduped GROUP BY source
"""


# --------------------------------------- per-group deterministic reservoir
#
# Round-7 addition: "k uniform docs per group" without RNG. A true
# reservoir sample is stream-order-dependent (irreproducible across
# partitionings); ranking by md5(text) is the deterministic
# equivalent — the hash is uniform, so the k smallest hashes per
# group are a uniform k-subset, identical on every engine, every
# partitioning, every run. Spark executes the rank via
# WindowGroupLimit (partial top-k per map task BEFORE the shuffle),
# so the exchange carries ≤ k rows per task per group.

RESERVOIR_K = 10


def q_group_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-(source) uniform sample: the RESERVOIR_K docs
    with the smallest md5(text) per source, with their rank. doc_id
    tiebreak makes the edge case of duplicate texts deterministic."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # asc_nulls_last on BOTH engines: Spark asc() is NULLS FIRST but
    # DuckDB defaults nulls_last, so a NULL-text doc would rank 1 in
    # Spark and last in the oracle (r13 review finding)
    w = Window.partitionBy("source").orderBy(
        F.md5("text").asc_nulls_last(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("doc_id", "source", "lang", "rk")
    )


ORACLE_GROUP_RESERVOIR = f"""
SELECT doc_id, source, lang, rk FROM (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(text) NULLS LAST, doc_id) AS rk
  FROM documents
) WHERE rk <= {RESERVOIR_K}
"""


# ------------------------------------- weighted systematic sampling
#
# Round-7 addition: deterministic weight-proportional selection.
# A-Res/priority sampling needs pow(u, 1/w) — cross-engine float
# poison. Systematic sampling over the cumulative weight axis is the
# integer-exact equivalent: lay docs on [0, W) by cumulative n_chars
# in doc_id order, drop a tick every STEP = W // N_PICKS, and keep
# every doc whose weight mass contains a tick. Inclusion probability
# ∝ weight, zero RNG, and the cumulative sum runs as the same
# two-level distributed prefix sum as q_token_budget_select
# (pipeline.py:385) — coarse bands + per-band offsets broadcast back,
# never a single global sort window.

N_SYSTEMATIC_PICKS = 40


MAX_PREFIX_BANDS = 4096  # band-offset table stays driver-window tiny


def q_weighted_systematic_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weight-proportional systematic sample of documents (weight =
    n_chars): keep doc iff a tick multiple of STEP lands in its
    cumulative-weight slot (cum_before, cum]. Two-level prefix sum
    with an ADAPTIVE band width: band = doc_id DIV ceil((max_id+1) /
    MAX_PREFIX_BANDS), so the band-offset table is ≤ 4096 rows at ANY
    corpus size (a fixed width would grow it linearly) while band
    order stays ≡ doc order. The offsets window runs on that bounded
    table; the per-band running sum parallelizes across bands. The
    selected set is width-invariant — banding only re-associates the
    same integer additions."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    base_d = docs.select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    bw = base_d.agg(
        F.greatest(
            F.lit(1),
            F.ceil((F.max("doc_id") + 1) / F.lit(MAX_PREFIX_BANDS)),
        )
        .cast("long")
        .alias("band_w")
    )
    d = base_d.crossJoin(F.broadcast(bw)).withColumn(
        "band", F.floor(F.col("doc_id") / F.col("band_w")).cast("long")
    )
    band_tot = d.groupBy("band").agg(F.sum("w").alias("band_w"))
    wb = Window.orderBy("band")  # tiny: <= MAX_PREFIX_BANDS rows
    base = band_tot.withColumn(
        "offset", F.sum("band_w").over(wb) - F.col("band_w")
    )
    step = d.agg(
        (F.floor(F.sum("w") / F.lit(N_SYSTEMATIC_PICKS)))
        .cast("long")
        .alias("step")
    )
    wd = Window.partitionBy("band").orderBy("doc_id")
    return (
        d.join(F.broadcast(base.select("band", "offset")), "band")
        .withColumn("cum", F.col("offset") + F.sum("w").over(wd))
        .crossJoin(F.broadcast(step))
        .filter(
            F.floor(F.col("cum") / F.col("step"))
            > F.floor((F.col("cum") - F.col("w")) / F.col("step"))
        )
        .select("doc_id", "w", F.col("cum").cast("long").alias("cum"))
    )


ORACLE_WEIGHTED_SYSTEMATIC = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         SUM(CAST(n_chars AS BIGINT))
           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
),
s AS (
  SELECT CAST(FLOOR(SUM(CAST(n_chars AS BIGINT))
              / {N_SYSTEMATIC_PICKS}) AS BIGINT) AS step
  FROM documents
)
SELECT doc_id, w, CAST(cum AS BIGINT) AS cum
FROM d, s
WHERE FLOOR(cum / step) > FLOOR((cum - w) / step)
"""


EPOCHS = 2  # epochs materialized by the shuffle plan
SHUFFLE_SHARDS = 64  # shard files per epoch


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle — the step that
    turns a curated corpus into training shards: every document gets,
    PER EPOCH, a pseudo-random shard and an in-shard position, both
    pure functions of (epoch, doc_id) through md5, so the same corpus
    shuffles identically on every engine/run and any shard can be
    regenerated independently (the property checkpoint-resume needs).
    Global training order for epoch e = read shards 0..N in order,
    each shard already sorted by position.

    Plan at 100 TB: NO global sort (the classic non-scalable shuffle
    mistake — a single-partition ROW_NUMBER over the corpus): the
    epoch fan-out is a stateless 2× generator, shard assignment is a
    stateless md5 map, and the only shuffle is ONE window partitioned
    by (epoch, shard) — exactly the `repartition(epoch, shard) +
    sortWithinPartitions(sort_key)` a shard writer executes. Returns
    (doc_id, epoch, shard, pos)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(EPOCHS)])
        ).alias("epoch"),
    )
    # concat_ws, not concat: both engines SKIP NULL arguments under
    # concat_ws, whereas Spark's concat returns NULL for a NULL
    # doc_id and DuckDB's concat treats it as '' — the one idiom
    # the two engines compute identically on hostile keys (the
    # r14-ADVICE divergence; validation.py uses the same idiom).
    # A NULL doc_id therefore keys as 'ep<e>:' and gets a REAL
    # (shard, pos) on both engines.
    h = (
        "md5(concat_ws('', 'ep', CAST(epoch AS STRING), ':', "
        "CAST(doc_id AS STRING)))"
    )
    shard = F.expr(
        f"CAST(((instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({h}, 2, 1)) - 1))"
        f" % {SHUFFLE_SHARDS} AS INT)"
    )
    keyed = e.select(
        "doc_id",
        "epoch",
        shard.alias("shard"),
        F.expr(h).alias("skey"),
    )
    from pyspark.sql import Window

    # null order pinned on both engines (the r13 audit discipline):
    # skey is never NULL under concat_ws, but a NULL doc_id still
    # needs its ORDER position pinned (Spark defaults NULLS FIRST,
    # DuckDB NULLS LAST) for the pos tie-break
    w = Window.partitionBy("epoch", "shard").orderBy(
        F.col("skey").asc_nulls_first(),
        F.col("doc_id").asc_nulls_first(),
    )
    return keyed.select(
        "doc_id",
        "epoch",
        "shard",
        F.row_number().over(w).alias("pos"),
    )


ORACLE_EPOCH_SHUFFLE = f"""
WITH e AS (
  SELECT doc_id, unnest(range(0, {EPOCHS})) AS epoch FROM documents
),
keyed AS (
  SELECT doc_id, epoch,
         CAST(((strpos('{_HEX}', substr(md5(concat_ws('', 'ep',
                 CAST(epoch AS VARCHAR), ':',
                 CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 16
               + (strpos('{_HEX}', substr(md5(concat_ws('', 'ep',
                 CAST(epoch AS VARCHAR), ':',
                 CAST(doc_id AS VARCHAR))), 2, 1)) - 1))
              % {SHUFFLE_SHARDS} AS INTEGER) AS shard,
         md5(concat_ws('', 'ep', CAST(epoch AS VARCHAR), ':',
                    CAST(doc_id AS VARCHAR))) AS skey
  FROM e
)
SELECT doc_id, CAST(epoch AS INT) AS epoch, shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY epoch, shard
         ORDER BY skey NULLS FIRST, doc_id NULLS FIRST) AS INT) AS pos
FROM keyed
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, shard) manifest for the training-shard writer —
    the artifact checkpoint-resume reads to verify a shard before
    trusting it: document count, max in-shard position (== n_docs
    when positions are dense 1..n, the writer invariant), and an
    order-insensitive XOR content digest over (doc_id, pos) — the
    `validate_bucket_checksum` idiom, so two independently produced
    copies of a shard compare by 24 bytes instead of a row diff.

    Plan: `q_epoch_shuffle`'s (epoch, shard)-partitioned window feeds
    ONE map-side-combinable aggregate on the same keys. Statically
    the aggregate rides the window's hash partitioning (no second
    exchange in the initial plan); at runtime AQE's coalesced
    shuffle read can downgrade the reported partitioning and re-add
    an exchange — but by then the PARTIAL aggregate has already
    collapsed each partition to ≤ EPOCHS × SHUFFLE_SHARDS rows, so
    that exchange moves manifest-sized rows, never corpus rows (the
    property the plan gate pins). Output is EPOCHS × SHUFFLE_SHARDS
    rows at any corpus size. concat_ws skips a NULL doc_id
    identically on both engines (the epoch_shuffle key
    discipline)."""
    sh = q_epoch_shuffle(spark, sf_dir)
    digest = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        sh.select("epoch", "shard", "pos", digest.alias("d"))
        .groupBy("epoch", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("pos").alias("max_pos"),
            F.expr("bit_xor(d)").alias("checksum"),
        )
    )


ORACLE_SHARD_MANIFEST = f"""
WITH es AS ({ORACLE_EPOCH_SHUFFLE})
SELECT epoch, shard,
       COUNT(*) AS n_docs,
       MAX(pos) AS max_pos,
       bit_xor(CAST(('0x' || substring(md5(concat_ws('|',
         CAST(doc_id AS VARCHAR), CAST(pos AS VARCHAR)
       )), 1, 15)) AS BIGINT)) AS checksum
FROM es GROUP BY 1, 2
"""


#: curriculum tercile cutpoints (exact percentile_disc, per language)
CURRICULUM_LO = 0.33
CURRICULUM_HI = 0.66


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training schedule (Bengio et al., ICML 2009 —
    easy-first ordering): per language, documents are assigned to
    three phases by length terciles (short ≈ easy first), and the
    schedule reports what each phase feeds the trainer — (phase, lang,
    n_docs, n_tokens, min_chars, max_chars, cum_tokens), cum_tokens
    being the running token budget through the end of the phase (the
    number a training run checkpoints against).

    NOT a corpus-wide sort: phase assignment is the repo's
    broadcast-cutpoint pattern (grouped exact `percentile_disc` → tiny
    per-lang cut table → broadcast join → stateless CASE), so the
    corpus is touched by one scan + one hash aggregate; the cumulative
    window runs over the 3·|langs|-row schedule frame only. Ties at a
    cutpoint share a phase (deterministic in both engines — no
    row_number/ntile whose tie order could drift).

    Integer-exact: lengths and token counts are bigints; no ratios
    published."""
    docs = load_table(spark, sf_dir, "documents")
    cuts = docs.groupBy("lang").agg(
        F.expr(
            f"CAST(percentile_disc({CURRICULUM_LO}) WITHIN GROUP"
            " (ORDER BY n_chars) AS BIGINT)"
        ).alias("c1"),
        F.expr(
            f"CAST(percentile_disc({CURRICULUM_HI}) WITHIN GROUP"
            " (ORDER BY n_chars) AS BIGINT)"
        ).alias("c2"),
    )
    n_tokens = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0, 0
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    phased = docs.join(F.broadcast(cuts), "lang").select(
        "lang",
        F.expr(
            "CASE WHEN n_chars <= c1 THEN 1"
            " WHEN n_chars <= c2 THEN 2 ELSE 3 END"
        ).alias("phase"),
        F.col("n_chars").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tok"),
    )
    sched = phased.groupBy("phase", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("phase")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sched.select(
        "phase",
        "lang",
        "n_docs",
        "n_tokens",
        "min_chars",
        "max_chars",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )


ORACLE_CURRICULUM_ORDER = rf"""
WITH cuts AS (
  SELECT lang,
         CAST(percentile_disc({CURRICULUM_LO}) WITHIN GROUP
              (ORDER BY n_chars) AS BIGINT) AS c1,
         CAST(percentile_disc({CURRICULUM_HI}) WITHIN GROUP
              (ORDER BY n_chars) AS BIGINT) AS c2
  FROM documents GROUP BY lang
),
phased AS (
  SELECT d.lang,
         CASE WHEN d.n_chars <= c.c1 THEN 1
              WHEN d.n_chars <= c.c2 THEN 2 ELSE 3 END AS phase,
         CAST(d.n_chars AS BIGINT) AS n_chars,
         CAST(CASE WHEN length(trim(COALESCE(d.text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(d.text), '\s+')) END
              AS BIGINT) AS n_tok
  FROM documents d JOIN cuts c ON d.lang = c.lang
),
sched AS (
  SELECT phase, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         MIN(n_chars) AS min_chars,
         MAX(n_chars) AS max_chars
  FROM phased GROUP BY phase, lang
)
SELECT phase, lang, n_docs, n_tokens, min_chars, max_chars,
       CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY phase
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
FROM sched
"""


QUERIES = {
    "curriculum_order": q_curriculum_order,
    "curation_pipeline": q_curation_pipeline,
    "epoch_shuffle": q_epoch_shuffle,
    "shard_manifest": q_shard_manifest,
    "value_quantiles": q_value_quantiles,
    "key_skew_histogram": q_key_skew_histogram,
    "domain_cap_sample": q_domain_cap_sample,
    "domain_cap_sample_scaled": q_domain_cap_sample_scaled,
    "hash_mod_sample": q_hash_mod_sample,
    "cohort_retention": q_cohort_retention,
    "hapax_stats": q_hapax_stats,
    "ngram_novelty": q_ngram_novelty,
    "rfm_segments": q_rfm_segments,
    "rfm_segments_scaled": q_rfm_segments_scaled,
    "engagement_dau": q_engagement_dau,
    "weighted_systematic_sample": q_weighted_systematic_sample,
    "group_reservoir_sample": q_group_reservoir_sample,
}

ORACLES = {
    "curriculum_order": ORACLE_CURRICULUM_ORDER,
    "curation_pipeline": ORACLE_CURATION_PIPELINE,
    "epoch_shuffle": ORACLE_EPOCH_SHUFFLE,
    "shard_manifest": ORACLE_SHARD_MANIFEST,
    "value_quantiles": ORACLE_VALUE_QUANTILES,
    "key_skew_histogram": ORACLE_KEY_SKEW_HISTOGRAM,
    "domain_cap_sample": ORACLE_DOMAIN_CAP_SAMPLE,
    # scaled twin produces identical rows — same oracle by construction
    "domain_cap_sample_scaled": ORACLE_DOMAIN_CAP_SAMPLE,
    "hash_mod_sample": ORACLE_HASH_MOD_SAMPLE,
    "cohort_retention": ORACLE_COHORT_RETENTION,
    "hapax_stats": ORACLE_HAPAX_STATS,
    "ngram_novelty": ORACLE_NGRAM_NOVELTY,
    "rfm_segments": ORACLE_RFM_SEGMENTS,
    "rfm_segments_scaled": ORACLE_RFM_SEGMENTS_SCALED,
    "engagement_dau": ORACLE_ENGAGEMENT_DAU,
    "weighted_systematic_sample": ORACLE_WEIGHTED_SYSTEMATIC,
    "group_reservoir_sample": ORACLE_GROUP_RESERVOIR,
}

"""Corpus-shaping and robust-statistics operators (SURVEY.md §2.H, round 7).

The reference pumps every row unconditionally (`cmd/root.go:389-516`);
a training-data pipeline at 100 TB instead *shapes* the corpus under
explicit statistical policies. This module adds the shaping toolkit the
sampling family (round 6) did not cover:

- fixed-size overlapping document chunking (context-window prep),
- character-entropy quality signal (gibberish / low-entropy detection),
- winsorized per-domain statistics (robust means under heavy tails),
- median/MAD outlier detection (robust z-scores, integer-exact),
- temperature-scaled domain reweighting (DoReMi-style mixture prep),
- keep-rate threshold calibration (pick the score cutoff that hits a
  target acceptance rate, then report the realized per-domain rates),
- PageRank over the bipartite user/event-type graph (the iterative-
  algorithm showcase beyond connected components: fixed unrolled
  iterations, joins keyed on node id, no driver-side graph).

Scale notes (100 TB):
- chunking is a pure stateless map (sequence+explode+substring, zero
  shuffle, whole-stage codegen; fan-out is len/stride per doc),
- entropy aggregates (doc,char)→count then doc→entropy — both hash
  aggs with map-side partials; state is alphabet-sized per doc,
- winsorize/MAD/calibration all follow the broadcast-cutpoint pattern
  (`percentile_disc` on the grouped aggregate → broadcast tiny cut
  table → stateless clamp/filter), never a corpus-wide sort window,
- reweighting reduces the corpus to one row per domain before any
  math; the only join is a broadcast of a one-row scalar aggregate,
- PageRank shuffles on node id per iteration (the unavoidable PR
  shuffle); edges+degrees are persisted once and reused, iteration
  count is fixed (no convergence-driven driver loop), and ranks stay
  in DataFrames end to end.

Floats follow the repo convention (see `ranking.py:7`): any value
whose last ulp could differ across engines or summation orders is
published as ``CAST(ROUND(x * 1e6) AS BIGINT)`` (1e9 for PageRank,
whose mass is ~1/N); integer-derived means are exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.consume import local_frame
from ..functions.tokens import tokenize
from ..plans.iterative import iterate_fixed_point

#: chunking geometry: 200-char windows every 150 chars (50-char overlap)
CHUNK_SIZE = 200
CHUNK_STRIDE = 150

#: winsorization clamps at the per-source [p05, p95] band
WINSOR_LO = 0.05
WINSOR_HI = 0.95

#: robust outlier rule: |x - median| > MAD_K * MAD
MAD_K = 3

#: temperature for domain reweighting: weight ∝ share^0.5 (sqrt keeps
#: the math IEEE-identical across engines; 0.5 is the T=2 mixture)
REWEIGHT_ALPHA = 0.5

#: calibration target: keep the top 30 % of docs by score
CALIBRATION_KEEP_RATE = 0.30

#: PageRank damping and fixed iteration count
PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 2


# ---------------------------------------------------------------- chunking


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into CHUNK_SIZE-char windows advancing by
    CHUNK_STRIDE (overlap = SIZE - STRIDE), the standard prep step for
    fixed-context training. Pure narrow map: ``sequence`` builds the
    chunk indexes, ``explode`` fans out, ``substring`` slices — zero
    shuffle, full codegen, and the scan only reads (doc_id, text)."""
    docs = load_table(spark, sf_dir, "documents")
    n_starts = F.floor((F.length("text") - F.lit(1)) / F.lit(CHUNK_STRIDE))
    return (
        docs.filter(F.length("text") > 0)
        .withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_starts)))
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * CHUNK_STRIDE + 1).alias("chunk_start"),
            F.expr(
                f"substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT),"
                f" {CHUNK_SIZE})"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


ORACLE_DOC_CHUNKING = f"""
SELECT d.doc_id,
       t.i AS chunk_idx,
       t.i * {CHUNK_STRIDE} + 1 AS chunk_start,
       substring(d.text, CAST(t.i * {CHUNK_STRIDE} + 1 AS INT),
                 {CHUNK_SIZE}) AS chunk_text,
       length(substring(d.text, CAST(t.i * {CHUNK_STRIDE} + 1 AS INT),
                        {CHUNK_SIZE})) AS chunk_len
FROM documents d
CROSS JOIN LATERAL (
  SELECT unnest(range(0,
    CAST(floor((length(d.text) - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1)) AS i
) t
WHERE length(d.text) > 0
"""


# ------------------------------------------------------------ char entropy


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish / boilerplate / base64-blob signal. Two chained hash
    aggregations, both map-side combinable: (doc, char) → count, then
    doc → entropy via H = log2(n) − Σ c·log2(c) / n (the single-pass
    form that never materializes probabilities)."""
    docs = load_table(spark, sf_dir, "documents")
    per_char = (
        docs.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt")
    return per_char.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_counted"),
        F.count("*").alias("distinct_chars"),
        F.round(
            (F.log2(n) - F.sum(F.col("cnt") * F.log2("cnt")) / n)
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("entropy_micro"),
    )


ORACLE_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0
), per_char AS (
  SELECT doc_id, ch, COUNT(*) AS cnt
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_counted,
       COUNT(*) AS distinct_chars,
       CAST(ROUND((log2(SUM(cnt)) - SUM(cnt * log2(cnt)) / SUM(cnt))
                  * 1e6) AS BIGINT) AS entropy_micro
FROM per_char GROUP BY doc_id
"""


# ------------------------------------------------------- winsorized stats


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized length statistics: clamp `n_chars` into
    the per-source exact [p05, p95] band, then aggregate. The scale
    pattern is broadcast-cutpoints (cf. `sampling.py` rfm_segments_
    scaled): grouped `percentile_disc` → tiny per-source cut table →
    broadcast join → stateless clamp → hash agg. No window, no sort.
    All outputs are integer-exact (means published as micro-units of
    an exact integer ratio, identical in both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    cuts = docs.groupBy("source").agg(
        F.expr(
            f"CAST(percentile_disc({WINSOR_LO}) WITHIN GROUP"
            " (ORDER BY n_chars) AS BIGINT)"
        ).alias("p_lo"),
        F.expr(
            f"CAST(percentile_disc({WINSOR_HI}) WITHIN GROUP"
            " (ORDER BY n_chars) AS BIGINT)"
        ).alias("p_hi"),
    )
    clamped = docs.join(F.broadcast(cuts), "source").withColumn(
        "n_wins", F.greatest(F.least("n_chars", "p_hi"), "p_lo")
    )
    return clamped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("p_lo").alias("p_lo"),
        F.min("p_hi").alias("p_hi"),
        F.sum("n_chars").cast("bigint").alias("sum_raw"),
        F.sum("n_wins").cast("bigint").alias("sum_winsorized"),
        F.round(F.sum("n_wins") * F.lit(1_000_000.0) / F.count("*"))
        .cast("bigint")
        .alias("mean_winsorized_micro"),
    )


ORACLE_WINSORIZED_STATS = f"""
WITH cuts AS (
  SELECT source,
         CAST(percentile_disc({WINSOR_LO}) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS p_lo,
         CAST(percentile_disc({WINSOR_HI}) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS p_hi
  FROM documents GROUP BY source
), clamped AS (
  SELECT d.source, d.n_chars, c.p_lo, c.p_hi,
         GREATEST(LEAST(d.n_chars, c.p_hi), c.p_lo) AS n_wins
  FROM documents d JOIN cuts c ON d.source = c.source
)
SELECT source,
       COUNT(*) AS n_docs,
       MIN(p_lo) AS p_lo,
       MIN(p_hi) AS p_hi,
       CAST(SUM(n_chars) AS BIGINT) AS sum_raw,
       CAST(SUM(n_wins) AS BIGINT) AS sum_winsorized,
       CAST(ROUND(SUM(n_wins) * 1e6 / COUNT(*)) AS BIGINT)
         AS mean_winsorized_micro
FROM clamped GROUP BY source
"""


# ---------------------------------------------------------- MAD outliers


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source outlier detection: flag docs whose length
    deviates from the source median by more than MAD_K × MAD (median
    absolute deviation). Integer-exact end to end — `percentile_disc`
    on BIGINT returns a witness value, so both engines agree without
    rounding. Two broadcast-cutpoint passes (median, then MAD), each a
    grouped exact percentile + broadcast join — the robust-z pattern
    that replaces mean/stddev when one mega-doc would dominate."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: the per-source median table is consumed by both the
    # MAD aggregation and the final filter — without the cache the
    # median agg (and its exchange) executes once per consumer
    med = docs.groupBy("source").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)"
            " AS BIGINT)"
        ).alias("med")
    ).persist()
    with_dev = docs.join(F.broadcast(med), "source").withColumn(
        "abs_dev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = with_dev.groupBy("source").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_dev)"
            " AS BIGINT)"
        ).alias("mad")
    )
    return (
        with_dev.join(F.broadcast(mad), "source")
        .filter(F.col("abs_dev") > F.lit(MAD_K) * F.col("mad"))
        .select("doc_id", "source", "n_chars", "med", "mad", "abs_dev")
    )


ORACLE_MAD_OUTLIERS = f"""
WITH med AS (
  SELECT source,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
              AS BIGINT) AS med
  FROM documents GROUP BY source
), dev AS (
  SELECT d.doc_id, d.source, d.n_chars, m.med,
         ABS(d.n_chars - m.med) AS abs_dev
  FROM documents d JOIN med m ON d.source = m.source
), mad AS (
  SELECT source,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_dev)
              AS BIGINT) AS mad
  FROM dev GROUP BY source
)
SELECT dev.doc_id, dev.source, dev.n_chars, dev.med, mad.mad, dev.abs_dev
FROM dev JOIN mad ON dev.source = mad.source
WHERE dev.abs_dev > {MAD_K} * mad.mad
"""


# ------------------------------------------------------- domain reweight


def q_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture weights (the DoReMi-lite /
    multinomial-temperature prep): weight_s ∝ share_s^α with α = 0.5
    (√ keeps the op IEEE-identical across engines), normalized to sum
    to 1. The corpus collapses to one row per domain before any float
    math; the normalizer is a one-row aggregate broadcast back via
    cross join. `boost_micro` > 1e6 means the domain is up-sampled."""
    docs = load_table(spark, sf_dir, "documents")
    # persisted: consumed by both the normalizer aggregate and the
    # final projection — one row per domain, trivially cacheable
    per_source = (
        docs.groupBy("source").agg(F.count("*").alias("n_docs")).persist()
    )
    totals = per_source.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum(
            F.sqrt(F.col("n_docs").cast("double"))
        ).alias("sum_sqrt_docs"),
    )
    # share^0.5 / Σ share^0.5 == sqrt(n) / Σ sqrt(n) — the total_docs
    # factor cancels, so only one cross-engine float sum remains.
    joined = per_source.crossJoin(F.broadcast(totals))
    share = F.col("n_docs") / F.col("total_docs")
    weight = F.sqrt(F.col("n_docs").cast("double")) / F.col("sum_sqrt_docs")
    return joined.select(
        "source",
        "n_docs",
        F.round(share * 1e6).cast("bigint").alias("share_micro"),
        F.round(weight * 1e6).cast("bigint").alias("weight_micro"),
        F.round(weight / share * 1e6).cast("bigint").alias("boost_micro"),
    )


ORACLE_DOMAIN_REWEIGHT = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), totals AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         SUM(sqrt(CAST(n_docs AS DOUBLE))) AS sum_sqrt_docs
  FROM per_source
)
SELECT source,
       n_docs,
       CAST(ROUND(n_docs / CAST(total_docs AS DOUBLE) * 1e6) AS BIGINT)
         AS share_micro,
       CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) / sum_sqrt_docs * 1e6)
            AS BIGINT) AS weight_micro,
       CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) / sum_sqrt_docs
                  / (n_docs / CAST(total_docs AS DOUBLE)) * 1e6)
            AS BIGINT) AS boost_micro
FROM per_source CROSS JOIN totals
"""


# ------------------------------------------------- threshold calibration


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-rate threshold calibration: find the exact global score
    cutoff whose acceptance rate is closest-from-above to
    CALIBRATION_KEEP_RATE, then report the realized per-source keep
    rates. The score here is `n_chars` (stand-in for any upstream
    quality model output). One global `percentile_disc` (a single-row
    aggregate, broadcast via cross join), then a stateless filter —
    the corpus is never sorted. Ties at the threshold are kept
    (value-determined, both engines agree exactly on integers)."""
    docs = load_table(spark, sf_dir, "documents")
    q = 1.0 - CALIBRATION_KEEP_RATE
    thr = docs.agg(
        F.expr(
            f"CAST(percentile_disc({q}) WITHIN GROUP (ORDER BY n_chars)"
            " AS BIGINT)"
        ).alias("threshold")
    )
    flagged = docs.crossJoin(F.broadcast(thr)).withColumn(
        "kept", (F.col("n_chars") >= F.col("threshold")).cast("int")
    )
    return flagged.groupBy("source").agg(
        F.min("threshold").alias("threshold"),
        F.count("*").alias("n_total"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.sum(F.col("kept") * F.col("n_chars"))
        .cast("bigint")
        .alias("kept_chars"),
        F.round(F.sum("kept") * F.lit(1_000_000.0) / F.count("*"))
        .cast("bigint")
        .alias("keep_rate_micro"),
    )


ORACLE_QUALITY_CALIBRATION = f"""
WITH thr AS (
  SELECT CAST(percentile_disc({1.0 - CALIBRATION_KEEP_RATE}) WITHIN GROUP
              (ORDER BY n_chars) AS BIGINT) AS threshold
  FROM documents
), flagged AS (
  SELECT d.source, d.n_chars, t.threshold,
         CASE WHEN d.n_chars >= t.threshold THEN 1 ELSE 0 END AS kept
  FROM documents d CROSS JOIN thr t
)
SELECT source,
       MIN(threshold) AS threshold,
       COUNT(*) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept * n_chars) AS BIGINT) AS kept_chars,
       CAST(ROUND(SUM(kept) * 1e6 / COUNT(*)) AS BIGINT) AS keep_rate_micro
FROM flagged GROUP BY source
"""


# ------------------------------------------------------------- PageRank


def q_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite user ↔ event-type interaction graph
    (damping 0.85, PAGERANK_ITERS fixed iterations from a uniform
    start) — the iterative-algorithm showcase beyond connected
    components (`dedup.py`): importance propagation, authority
    scoring, spam-domain detection all reduce to this kernel.

    Scale shape: distinct edges are materialized once with their
    source out-degree attached and persisted; each iteration is one
    shuffle join (ranks ⋈ edges on src) + one hash agg (contributions
    by dst) + one left join back onto the node set — the canonical
    distributed PR step with no driver-side graph and no convergence
    loop (fixed iterations keep the plan statically analyzable and the
    oracle unrollable). Every node in the bipartite edge set has
    out-degree ≥ 1, so there is no dangling-mass correction term."""
    events = load_table(spark, sf_dir, "events")
    ue = (
        events.select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
        )
        .distinct()
        # persisted: degrees, joined edges, and the node set all derive
        # from this distinct edge list — uncached, the events scan +
        # distinct shuffle would re-execute once per consumer
        .persist()
    )
    edges = ue.union(
        ue.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = edges.join(deg, "src").persist()
    # both endpoints appear as src in the bidirectional list, so the
    # node set is the distinct src of the (cached) joined relation
    nodes = edges_deg.select(F.col("src").alias("node")).distinct().persist()
    n = nodes.count()
    if n == 0:
        return local_frame(spark, [], "node string, pr_nano bigint")
    d = PAGERANK_DAMPING

    def pr_round(ranks):
        contribs = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("c"))
        )
        return nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (
                F.lit((1.0 - d) / n) + F.lit(d) * F.coalesce("c", F.lit(0.0))
            ).alias("pr"),
        )

    # fixed-iteration mode of the shared kernel: localCheckpoint per
    # round keeps plan depth O(1) in PAGERANK_ITERS (previously the
    # ranks lineage re-derived through every prior iteration — fine at
    # 2 rounds, exponential pain at 20)
    ranks = iterate_fixed_point(
        nodes.withColumn("pr", F.lit(1.0 / n)), pr_round, PAGERANK_ITERS
    )
    # NOTE: ue/edges_deg/nodes stay persisted — the kernel's lazy
    # checkpoints materialize on the CONSUMER's first action, which
    # still reads them; unpersisting here would force a full recompute
    # of the edge pipeline per iteration (measured 1.4s → 1.9s)
    return ranks.select(
        "node", F.round(F.col("pr") * 1e9).cast("bigint").alias("pr_nano")
    )


ORACLE_PAGERANK_BIPARTITE = f"""
WITH ue AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                  't:' || event_type AS dst
  FROM events
), edges AS (
  SELECT src, dst FROM ue UNION ALL SELECT dst, src FROM ue
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), pr0 AS (
  SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn
), c1 AS (
  SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS c
  FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), pr1 AS (
  SELECT nodes.node,
         (1.0 - {PAGERANK_DAMPING}) / nn.n
           + {PAGERANK_DAMPING} * COALESCE(c1.c, 0) AS pr
  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node
), c2 AS (
  SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS c
  FROM edges e JOIN pr1 p ON e.src = p.node JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), pr2 AS (
  SELECT nodes.node,
         (1.0 - {PAGERANK_DAMPING}) / nn.n
           + {PAGERANK_DAMPING} * COALESCE(c2.c, 0) AS pr
  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node
)
SELECT node, CAST(ROUND(pr * 1e9) AS BIGINT) AS pr_nano FROM pr2
"""


# ------------------------------------------- linear classifier scoring
#
# Round-7 batch 3: classifier-based quality filtering (the
# fastText-style keep/drop model of CCNet/RefinedWeb pipelines),
# expressed entirely JVM-side. The "model" is a fixed logistic
# regression over three cheap text features; the point is the
# execution shape: feature extraction + W·x + sigmoid run inside
# whole-stage codegen as one stateless map over the scan — no UDF, no
# shuffle, no model server. Swapping in real trained weights changes
# the literals, not the plan. Floats follow the repo convention: the
# logit is a fixed-order 3-term sum of ln/IEEE ops (identical
# expression both engines), published micro-rounded; the keep
# decision tests logit ≥ 0 (equivalent to prob ≥ ½) so no exp sits
# on the decision boundary.

#: logistic weights: bias, ln(1+chars), ln(1+tokens), punct share
CLS_W0 = -8.0
CLS_W_CHARS = 0.9
CLS_W_TOKENS = 0.6
CLS_W_PUNCT = -2.5


def _classifier_frame(
    docs: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, lang[, carry…], n_chars_t, n_tokens, n_punct, logit)
    — the single-scan feature+logit projection shared by the
    classifier score, its calibration bins, and the signal-agreement
    correlation (stateless; lang rides along for downstream labels,
    `carry` for extra source columns a consumer derives from)."""
    from .text import TOKEN_PATTERN

    d = docs.select(
        "doc_id",
        "lang",
        *carry,
        F.length("text").cast("long").alias("n_chars_t"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0)
        )
        .cast("long")
        .alias("n_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0
            )
        )
        .cast("long")
        .alias("n_punct"),
    )
    logit = (
        F.lit(CLS_W0)
        + F.lit(CLS_W_CHARS) * F.log(F.lit(1.0) + F.col("n_chars_t"))
        + F.lit(CLS_W_TOKENS) * F.log(F.lit(1.0) + F.col("n_tokens"))
        + F.lit(CLS_W_PUNCT)
        * (
            F.col("n_punct").cast("double")
            / (F.lit(1.0) + F.col("n_tokens"))
        )
    )
    return d.withColumn("logit", logit)


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality score per document over (log-length,
    log-token-count, punctuation share) with fixed weights; returns
    the integer features, micro-rounded logit/probability, and the
    boundary-safe keep flag."""
    docs = load_table(spark, sf_dir, "documents")
    return _classifier_frame(docs).select(
        "doc_id",
        "n_tokens",
        "n_punct",
        F.round(F.col("logit") * 1e6).cast("bigint").alias("logit_micro"),
        F.round(
            F.lit(1e6) / (F.lit(1.0) + F.exp(-F.col("logit")))
        )
        .cast("bigint")
        .alias("prob_micro"),
        (F.col("logit") >= 0).alias("kept"),
    )


ORACLE_CLASSIFIER_SCORE = rf"""
WITH d AS (
  SELECT doc_id,
    CAST(LENGTH(text) AS BIGINT) AS n_chars_t,
    CAST(len(regexp_extract_all(text,
         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)
      AS n_punct
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens, n_punct,
    {CLS_W0} + {CLS_W_CHARS} * ln(1.0 + n_chars_t)
             + {CLS_W_TOKENS} * ln(1.0 + n_tokens)
             + {CLS_W_PUNCT} * (CAST(n_punct AS DOUBLE)
                                / (1.0 + n_tokens)) AS logit
  FROM d
)
SELECT doc_id, n_tokens, n_punct,
       CAST(ROUND(logit * 1e6) AS BIGINT) AS logit_micro,
       CAST(ROUND(1e6 / (1.0 + exp(-logit))) AS BIGINT) AS prob_micro,
       logit >= 0 AS kept
FROM s
"""


# ------------------------------------------ classifier calibration bins

CAL_BINS = 10  # reliability-diagram bins over [0, 1e6] micro-probs
_CAL_WIDTH = 1_000_000 // CAL_BINS  # equal-width bin size in micro-probs


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the quality classifier — the
    diagnostic a curation run reads before trusting a score threshold
    (Guo et al., ICML 2017 calibration methodology): documents bucket
    into CAL_BINS equal-width probability bins; per bin the predicted
    confidence (mean prob) is set against the observed positive rate
    for the deterministic proxy label `lang = 'en'` (NULL lang = not
    in-domain on both engines). |gap| per bin is the calibration
    error ECE weights by n/N downstream.

    Exactness discipline: everything after the logit is INTEGER —
    micro-prob sums, truncating integer division for both means
    (values non-negative, so Spark's `div` and DuckDB's `//` agree) —
    so the bins hash-match at any parallelism. Plan: the shared
    single-scan classifier frame feeding ONE map-side-combinable
    aggregate on a 10-value key; nothing else. Scale: the aggregate
    state is CAL_BINS rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    f = _classifier_frame(docs)
    prob = F.round(
        F.lit(1e6) / (F.lit(1.0) + F.exp(-F.col("logit")))
    ).cast("bigint")
    b = f.select(
        prob.alias("p"),
        F.coalesce(
            (F.col("lang") == "en").cast("int"), F.lit(0)
        ).alias("y"),
    ).select(
        F.least(
            F.lit(CAL_BINS - 1).cast("long"),
            F.expr(f"p div {_CAL_WIDTH}"),
        ).alias("bin"),
        "p",
        "y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("sum(p) div count(*)").alias("mean_prob_micro"),
            F.expr("(sum(y) * 1000000) div count(*)").alias(
                "pos_rate_micro"
            ),
        )
        .withColumn(
            "gap_micro",
            F.abs(F.col("mean_prob_micro") - F.col("pos_rate_micro")),
        )
    )


ORACLE_CLASSIFIER_CALIBRATION = rf"""
WITH d AS (
  SELECT lang,
    CAST(LENGTH(text) AS BIGINT) AS n_chars_t,
    CAST(len(regexp_extract_all(text,
         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)
      AS n_punct
  FROM documents
),
p AS (
  SELECT CAST(ROUND(1e6 / (1.0 + exp(-(
           {CLS_W0} + {CLS_W_CHARS} * ln(1.0 + n_chars_t)
                    + {CLS_W_TOKENS} * ln(1.0 + n_tokens)
                    + {CLS_W_PUNCT} * (CAST(n_punct AS DOUBLE)
                                       / (1.0 + n_tokens)))))) AS BIGINT)
           AS p,
         CAST(COALESCE(lang = 'en', FALSE) AS INT) AS y
  FROM d
)
SELECT LEAST({CAL_BINS - 1}, p // {_CAL_WIDTH}) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(p) AS BIGINT) // COUNT(*) AS mean_prob_micro,
       (CAST(SUM(y) AS BIGINT) * 1000000) // COUNT(*) AS pos_rate_micro,
       ABS(CAST(SUM(p) AS BIGINT) // COUNT(*)
           - (CAST(SUM(y) AS BIGINT) * 1000000) // COUNT(*)) AS gap_micro
FROM p GROUP BY 1
"""


# --------------------------------------- quality-signal agreement (r)

def _heuristic_rule_score():
    """The 3-gate heuristic rule score (0-3: length band, punct
    ratio, stopword presence — `quality_score`'s gates) over a
    `_classifier_frame(carry=("text",))` row. ONE definition: the
    Pearson-agreement and Cohen's-kappa diagnostics each carried a
    verbatim copy (plus two SQL copies, shared below as
    `_RULE_SCORE_SQL`) — the drift class this module already warns
    about for `_SQL_STOP` (r15 review finding)."""
    from .text import STOPWORDS

    toks = tokenize(F.col("text"))
    n_stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    return (
        ((F.col("n_chars_t") >= 20) & (F.col("n_chars_t") <= 10000))
        .cast("int")
        + (F.col("n_punct") * 100 < F.col("n_chars_t") * 20).cast("int")
        + (n_stop > 0).cast("int")
    )


def q_quality_signal_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language Pearson r between the two quality signals the
    pipeline computes independently — the logistic classifier logit
    and the heuristic rule score (`quality_score`'s 0-3) — the
    agreement check a curation run reads before stacking filters
    (high agreement ⇒ the second filter is redundant; low ⇒ they
    prune different documents).

    Pearson, NOT Spearman, by design: r is computable from six
    integer sufficient statistics in ONE map-side-combinable
    aggregate — no corpus-wide rank window (a global ROW_NUMBER is
    the classic non-scalable shape Spearman would need). Exactness:
    x = the logit in MILLI units via FLOOR(micro / 1000.0) — floor of
    an identical double division on both engines (Spark's `div`
    truncates toward zero, DuckDB's `//` floors, so they disagree on
    negative logits; FLOOR(double) is the one idiom that matches) —
    y = the 0-3 rule score; the six SUMS are bigints (|x| ≲ 2·10⁴ ⇒
    Σx² overflows only past ~10¹⁰ docs per language) while the
    cross-products (n·Σx² − (Σx)² and friends — an extra factor of n
    that would overflow BIGINT around 10⁵-10⁶ docs per language) are
    computed in DOUBLE on both engines; double products of exact
    integer-valued operands are correctly rounded, so r stays
    bit-identical across engines. Groups with zero variance in either
    signal are excluded by an integer predicate (r undefined)."""
    docs = load_table(spark, sf_dir, "documents")
    f = _classifier_frame(docs, carry=("text",))
    y = _heuristic_rule_score().cast("bigint")
    logit_micro = F.round(F.col("logit") * 1e6).cast("bigint")
    x = F.floor(logit_micro.cast("double") / F.lit(1000.0)).cast(
        "bigint"
    )
    g = f.select("lang", x.alias("x"), y.alias("y"))
    a = g.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # cross-products in DOUBLE from the first multiply: n*sxx squares
    # the group size against the sufficient statistic and overflows
    # BIGINT around 10^5-10^6 docs per language (Spark would silently
    # wrap, DuckDB would raise — r15 review finding); double products
    # of exact integer-valued operands are correctly rounded, so the
    # identical expression stays bit-identical across engines
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    num = nd * F.col("sxy").cast("double") - sxd * syd
    r_micro = F.round(
        F.lit(1e6) * num / F.sqrt(denx * deny)
    ).cast("bigint")
    return (
        a.filter((denx > 0) & (deny > 0))
        .select("lang", F.col("n").alias("n_docs"), r_micro.alias("r_micro"))
    )


from .text import _SQL_STOP as _STOP_SQL  # noqa: E402  (shared
# stopword SQL — a third hand-inlined copy would drift exactly like
# the six money-cast copies did before r13)

# shared oracle fragments (r15 review: the correlation and kappa
# oracles each hand-inlined the same per-doc frame, rule score, and
# micro-logit — the SQL twins of `_classifier_frame`,
# `_heuristic_rule_score`, and the logit quantization)
_RULE_FRAME_SQL = rf"""d AS (
  SELECT lang,
    CAST(LENGTH(text) AS BIGINT) AS n_chars_t,
    CAST(len(regexp_extract_all(text,
         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)
      AS n_punct,
    {_STOP_SQL} AS n_stop
  FROM documents
)"""

_RULE_SCORE_SQL = """CAST(n_chars_t BETWEEN 20 AND 10000 AS INT)
         + CAST(n_punct * 100 < n_chars_t * 20 AS INT)
         + CAST(n_stop > 0 AS INT)"""

_LOGIT_MICRO_SQL = rf"""CAST(ROUND((
      {CLS_W0} + {CLS_W_CHARS} * ln(1.0 + n_chars_t)
               + {CLS_W_TOKENS} * ln(1.0 + n_tokens)
               + {CLS_W_PUNCT} * (CAST(n_punct AS DOUBLE)
                                  / (1.0 + n_tokens))) * 1e6) AS BIGINT)"""

ORACLE_QUALITY_SIGNAL_CORRELATION = rf"""
WITH {_RULE_FRAME_SQL},
s AS (
  SELECT lang,
    CAST(FLOOR(CAST({_LOGIT_MICRO_SQL}
      AS DOUBLE) / 1000.0) AS BIGINT) AS x,
    CAST({_RULE_SCORE_SQL} AS BIGINT) AS y
  FROM d
),
a AS (
  SELECT lang, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM s GROUP BY lang
)
SELECT lang, n AS n_docs,
       CAST(ROUND(1e6 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
         AS BIGINT) AS r_micro
FROM a
WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
  AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
"""


def q_label_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language Cohen's kappa (Cohen 1960 — the chance-corrected
    agreement statistic; Guo et al.'s calibration bins say whether the
    classifier's CONFIDENCE is honest, kappa says whether its
    DECISIONS agree with the independent rule gate beyond chance) —
    between the two binary keep-labels the pipeline derives
    independently: classifier keep = logit > 0 (micro-rounded, the
    `classifier_score` boundary) and rule keep = heuristic score ≥ 2
    (the `quality_signal_correlation` 0-3 score). High kappa ⇒ the
    second filter is redundant; ~0 ⇒ they prune independently (stack
    them); negative ⇒ they disagree systematically (investigate
    before either ships).

    Everything is four integer sufficient statistics (n, Σa, Σb, Σab)
    in ONE map-side-combinable lang-keyed aggregate — one scan, no
    window. kappa = (n·(n₁₁+n₀₀) − (Σa·Σb + (n−Σa)(n−Σb))) /
    (n² − (Σa·Σb + (n−Σa)(n−Σb))); the cross-products carry an extra
    factor of n, so they are computed in DOUBLE on both engines (the
    `quality_signal_correlation` overflow discipline — exact-integer
    operands keep double products correctly rounded and bit-identical
    across engines). Degenerate groups (either label constant ⇒
    chance agreement = 1, kappa undefined) are excluded by a
    double-predicate on the shared denominator. The full 2×2 table
    rides along as integer telemetry."""
    docs = load_table(spark, sf_dir, "documents")
    f = _classifier_frame(docs, carry=("text",))
    rule = _heuristic_rule_score()
    a_lbl = (
        F.round(F.col("logit") * 1e6).cast("bigint") > 0
    ).cast("bigint")
    b_lbl = (rule >= 2).cast("bigint")
    agg = (
        f.select("lang", a_lbl.alias("a"), b_lbl.alias("b"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("a").alias("sa"),
            F.sum("b").alias("sb"),
            F.sum(F.col("a") * F.col("b")).alias("sab"),
        )
    )
    nd = F.col("n").cast("double")
    sad = F.col("sa").cast("double")
    sbd = F.col("sb").cast("double")
    sabd = F.col("sab").cast("double")
    pe_num = sad * sbd + (nd - sad) * (nd - sbd)
    num = nd * (nd - sad - sbd + 2 * sabd) - pe_num
    den = nd * nd - pe_num
    kappa_micro = F.round(F.lit(1e6) * num / den).cast("bigint")
    return agg.filter(den > 0).select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("sab").alias("n11"),
        (F.col("sa") - F.col("sab")).alias("n10"),
        (F.col("sb") - F.col("sab")).alias("n01"),
        (F.col("n") - F.col("sa") - F.col("sb") + F.col("sab")).alias(
            "n00"
        ),
        kappa_micro.alias("kappa_micro"),
    )


ORACLE_LABEL_AGREEMENT_KAPPA = rf"""
WITH {_RULE_FRAME_SQL},
s AS (
  SELECT lang,
    CAST({_LOGIT_MICRO_SQL}
         > 0 AS BIGINT) AS a,
    CAST(({_RULE_SCORE_SQL}) >= 2 AS BIGINT) AS b
  FROM d
),
g AS (
  SELECT lang, COUNT(*) AS n,
         CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
         CAST(SUM(a * b) AS BIGINT) AS sab
  FROM s GROUP BY lang
)
SELECT lang, n AS n_docs,
       sab AS n11, sa - sab AS n10, sb - sab AS n01,
       n - sa - sb + sab AS n00,
       CAST(ROUND(1e6 *
         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(sa AS DOUBLE)
            - CAST(sb AS DOUBLE) + 2 * CAST(sab AS DOUBLE))
          - (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
             + (CAST(n AS DOUBLE) - CAST(sa AS DOUBLE))
               * (CAST(n AS DOUBLE) - CAST(sb AS DOUBLE))))
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            - (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
               + (CAST(n AS DOUBLE) - CAST(sa AS DOUBLE))
                 * (CAST(n AS DOUBLE) - CAST(sb AS DOUBLE)))))
         AS BIGINT) AS kappa_micro
FROM g
WHERE (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       - (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
          + (CAST(n AS DOUBLE) - CAST(sa AS DOUBLE))
            * (CAST(n AS DOUBLE) - CAST(sb AS DOUBLE)))) > 0
"""


# --------------------------------------------- mixture token allocation
#
# Round-7 batch 3: the composition of reweighting and budgeting — turn
# the √-temperature mixture weights into concrete PER-DOMAIN character
# budgets and greedily fill each under its own budget. This is the
# step that actually materializes a target mixture ("give code 2×
# its natural share") as a document list. The per-domain running sum
# is a window PARTITIONED BY source — parallel across domains, never
# a global sort — and the budget table is domain-sized and broadcast.

#: fraction of the corpus (in chars) the mixture is allowed to keep
MIXTURE_BUDGET_FRAC = 0.5


def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain summary of greedy selection under √-temperature
    char budgets: budget_s = floor(weight_s · total_chars · FRAC),
    docs taken longest-first (doc_id tiebreak) while the running
    per-domain char sum stays within budget. Output: source, its
    budget, docs taken, chars taken, realized fill rate (micro).

    The fill uses the H1 broadcast-threshold pattern, NOT a window
    over the raw domain (a mega-domain would strand one reducer):
    (1) char-weighted length histogram per domain (the mega-domain
    collapses to its distinct lengths); (2) running chars-above over
    the HISTOGRAM picks the smallest length whose longer prefix is
    still inside budget; (3) thresholds broadcast back as a stateless
    scan predicate, so only ~budget/len candidates (plus boundary
    ties) per domain reach (4), the exact per-domain running-sum
    window — whose partitions are budget-bounded by construction."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs")
    )
    totals = docs.agg(
        F.sum("n_chars").cast("bigint").alias("total_chars")
    )
    norm = per_source.agg(
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias(
            "sum_sqrt_docs"
        )
    )
    budgets = (
        per_source.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.floor(
                F.sqrt(F.col("n_docs").cast("double"))
                / F.col("sum_sqrt_docs")
                * F.col("total_chars")
                * F.lit(MIXTURE_BUDGET_FRAC)
            )
            .cast("bigint")
            .alias("budget_chars"),
        )
    )
    # (1)+(2): histogram-level threshold — a doc at length L can only
    # be selected if the chars strictly longer than L (which all
    # precede it in fill order) leave budget headroom
    # NULL n_chars rides a -2^62 sentinel for ORDERING/thresholding so
    # it sorts with the oracle's DESC nulls_last and isn't silently
    # dropped by the `>= len_threshold` predicate (r13 review
    # finding); cum_chars still sums the REAL column (SUM skips NULL —
    # a zero-length contribution, exactly like the oracle's window).
    _null_len = -(2 ** 62)
    tagged = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.col("n_chars"), F.lit(_null_len)).alias("__nc"),
    )
    hist = tagged.groupBy("source", "__nc").agg(
        F.coalesce(F.sum("n_chars"), F.lit(0))
        .cast("bigint")
        .alias("chars_at_len")
    )
    w_hist = (
        Window.partitionBy("source")
        .orderBy(F.col("__nc").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thresholds = (
        hist.withColumn(
            "chars_before",
            F.coalesce(F.sum("chars_at_len").over(w_hist), F.lit(0)),
        )
        .join(F.broadcast(budgets), "source")
        # a NULL-length doc adds 0 chars, so it fits whenever the
        # preceding mass EQUALS the budget too (<= vs the strict <
        # every positive-length group needs)
        .filter(
            (F.col("chars_before") < F.col("budget_chars"))
            | (
                (F.col("__nc") == F.lit(_null_len))
                & (F.col("chars_before") <= F.col("budget_chars"))
            )
        )
        .groupBy("source")
        .agg(F.min("__nc").alias("len_threshold"))
    )
    # (3): stateless candidate predicate; (4): exact fill on the
    # budget-bounded candidate set
    candidates = tagged.join(
        F.broadcast(thresholds), "source"
    ).filter(F.col("__nc") >= F.col("len_threshold"))
    w = Window.partitionBy("source").orderBy(
        F.col("__nc").desc(), F.col("doc_id").asc()
    )
    filled = (
        candidates.withColumn(
            "cum_chars", F.sum("n_chars").over(w).cast("bigint")
        )
        .join(F.broadcast(budgets), "source")
        .filter(F.col("cum_chars") <= F.col("budget_chars"))
    )
    return filled.groupBy("source").agg(
        F.min("budget_chars").alias("budget_chars"),
        F.count("*").alias("n_taken"),
        F.max("cum_chars").alias("chars_taken"),
        F.round(
            F.max("cum_chars") * F.lit(1e6) / F.min("budget_chars")
        )
        .cast("bigint")
        .alias("fill_micro"),
    )


ORACLE_MIXTURE_ALLOCATION = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
totals AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
),
norm AS (
  SELECT SUM(sqrt(CAST(n_docs AS DOUBLE))) AS sum_sqrt_docs
  FROM per_source
),
budgets AS (
  SELECT source,
         CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) / sum_sqrt_docs
                    * total_chars * {MIXTURE_BUDGET_FRAC}) AS BIGINT)
           AS budget_chars
  FROM per_source CROSS JOIN totals CROSS JOIN norm
),
filled AS (
  SELECT d.doc_id, d.source, d.n_chars, b.budget_chars,
         CAST(SUM(d.n_chars) OVER (
           PARTITION BY d.source
           ORDER BY d.n_chars DESC, d.doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
  FROM documents d JOIN budgets b USING (source)
)
SELECT source,
       MIN(budget_chars) AS budget_chars,
       COUNT(*) AS n_taken,
       MAX(cum_chars) AS chars_taken,
       CAST(ROUND(MAX(cum_chars) * 1e6 / MIN(budget_chars)) AS BIGINT)
         AS fill_micro
FROM filled
WHERE cum_chars <= budget_chars
GROUP BY source
"""


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card — the one-page corpus summary a dataset
    release ships (datasheets-for-datasets shape): document count,
    language count, total characters, median document length, and the
    empty-document count, one row per source.

    Determinism: the median is the value at the EXPLICIT integer rank
    ⌈n/2⌉ of the per-source length ordering (value at a sorted
    position is well-defined under tie permutation; `percentile_disc`
    is avoided for the same k/n boundary disagreement the CCNet
    buckets measured). All other columns are exact integer
    aggregates.

    Plan at 100 TB: one window partitioned by source (the median) +
    one partial-applied hash aggregate; |sources|-row output. At
    extreme per-source cardinality swap the ranked median for
    approx_percentile and keep the integer columns exact."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "lang",
        F.coalesce(F.length("text"), F.lit(0)).cast("long").alias(
            "n_chars"
        ),
        F.expr(
            "CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 "
            "END"
        ).alias("is_empty"),
    )
    scored.createOrReplaceTempView("_datacard_scored")
    return spark.sql(_DATACARD_SQL.format(scored="_datacard_scored"))


# shared verbatim by engine and oracle (same policy as the CCNet
# bucket algebra): the rollup cannot drift between them
_DATACARD_SQL = """
WITH ranked AS (
  SELECT source, lang, n_chars, is_empty,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM {scored}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
                     THEN n_chars END) AS BIGINT) AS p50_chars,
       CAST(SUM(is_empty) AS BIGINT) AS n_empty
FROM ranked
GROUP BY source
"""


ORACLE_CORPUS_DATACARD = f"""
WITH scored AS (
  SELECT source, lang,
         CAST(COALESCE(length(text), 0) AS BIGINT) AS n_chars,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END
           AS is_empty
  FROM documents
)
{_DATACARD_SQL.format(scored="scored").replace("WITH ranked", ", ranked", 1)}
"""


#: weak-supervision labeling functions (Ratner et al., VLDB 2018 —
#: Snorkel): each votes keep(+1) / drop(−1) / abstain(0) on a doc.
#: Thresholds sit inside the fixture's distributions so every
#: diagnostic column is non-degenerate (pinned in tests).
_LF_NAMES = ("lf_length", "lf_stopword", "lf_digit", "lf_repetition")


def q_weak_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision diagnostics table (Snorkel's label-model
    pre-flight): four deterministic labeling functions vote
    keep/drop/abstain per document; the report gives, per LF, the
    polarity counts plus the three numbers a label-model practitioner
    reads before training — coverage (non-abstain share), overlap
    (non-abstain docs where ≥1 OTHER LF also votes), and conflict
    (non-abstain docs where ≥1 other LF votes the OPPOSITE polarity)
    — and agreement with the majority-vote consensus (sign of the
    vote sum; a tie is consensus-abstain and counts as disagreement,
    the conservative read).

    LFs (integer-exact, text-derived):
    - lf_length: +1 in the 20..10000-char band, −1 under 5 chars;
    - lf_stopword: +1 if any stopword ('the a and of to'), abstains
      otherwise (a one-sided LF — its n_neg is honestly 0);
    - lf_digit: −1 if digits exceed 30% of chars, +1 if digit-free;
    - lf_repetition: −1 if distinct tokens < 50% of tokens.

    Scale shape (100 TB): every vote and every cross-LF overlap/
    conflict flag is a WITHIN-ROW expression computed in one corpus
    scan; a 4-struct generator fans the row into (rule, vote, flags)
    and ONE combinable aggregate reduces to 4 rows. The total-docs
    denominator is a 4-row window, never a corpus broadcast."""
    from .text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.coalesce(F.length("text"), F.lit(0))
    n_digits = n_chars - F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"[0-9]", "")
    )
    toks = F.filter(
        tokenize(F.coalesce(F.col("text"), F.lit(""))),
        lambda t: F.length(t) > 0,
    )
    n_stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    n_tok = F.size(toks)
    n_dtok = F.size(F.array_distinct(toks))
    lf_length = (
        F.when((n_chars >= 20) & (n_chars <= 10000), 1)
        .when(n_chars < 5, -1)
        .otherwise(0)
    )
    lf_stopword = F.when(n_stop > 0, 1).otherwise(0)
    lf_digit = (
        F.when(n_digits * 100 > n_chars * 30, -1)
        .when(n_digits == 0, 1)
        .otherwise(0)
    )
    lf_repetition = F.when(
        (n_tok > 0) & (n_dtok * 100 < n_tok * 50), -1
    ).otherwise(0)
    voted = docs.select(
        lf_length.alias("v1"),
        lf_stopword.alias("v2"),
        lf_digit.alias("v3"),
        lf_repetition.alias("v4"),
    ).select(
        "v1",
        "v2",
        "v3",
        "v4",
        F.expr("sign(v1 + v2 + v3 + v4)").cast("int").alias("consensus"),
    )
    structs = []
    for i, name in enumerate(_LF_NAMES, start=1):
        others = [f"v{j}" for j in range(1, 5) if j != i]
        any_other = " OR ".join(f"{o} != 0" for o in others)
        any_conflict = " OR ".join(
            f"({o} != 0 AND {o} != v{i})" for o in others
        )
        structs.append(
            f"struct('{name}' AS rule, v{i} AS v,"
            f" CAST(v{i} != 0 AND ({any_other}) AS INT) AS ov,"
            f" CAST(v{i} != 0 AND ({any_conflict}) AS INT) AS cf,"
            f" CAST(v{i} != 0 AND v{i} = consensus AS INT) AS ag)"
        )
    fanned = voted.select(
        F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("s")
    ).select("s.rule", "s.v", "s.ov", "s.cf", "s.ag")
    per_rule = fanned.groupBy("rule").agg(
        F.sum(F.expr("CAST(v = 1 AS LONG)")).alias("n_pos"),
        F.sum(F.expr("CAST(v = -1 AS LONG)")).alias("n_neg"),
        F.sum(F.expr("CAST(v = 0 AS LONG)")).alias("n_abstain"),
        F.sum(F.col("ov").cast("long")).alias("n_overlap"),
        F.sum(F.col("cf").cast("long")).alias("n_conflict"),
        F.sum(F.col("ag").cast("long")).alias("n_agree"),
    )
    w = Window.partitionBy()  # 4 rows
    return per_rule.select(
        "rule",
        "n_pos",
        "n_neg",
        "n_abstain",
        F.expr(
            "(n_pos + n_neg) * 1000"
        ).alias("_cov"),
        F.sum(F.expr("n_pos + n_neg + n_abstain") / 4).over(w)
        .cast("long")
        .alias("_n"),
        "n_overlap",
        "n_conflict",
        "n_agree",
    ).select(
        "rule",
        "n_pos",
        "n_neg",
        "n_abstain",
        F.expr("_cov div _n").alias("coverage_milli"),
        F.expr("(n_overlap * 1000) div _n").alias("overlap_milli"),
        F.expr("(n_conflict * 1000) div _n").alias("conflict_milli"),
        F.expr(
            "CASE WHEN n_pos + n_neg > 0"
            " THEN (n_agree * 1000) div (n_pos + n_neg) END"
        ).alias("consensus_agree_milli"),
    )


def _oracle_weak_label_vote() -> str:
    from .text import _SQL_STOP

    rule_rows = []
    for i, name in enumerate(_LF_NAMES, start=1):
        others = [f"v{j}" for j in range(1, 5) if j != i]
        any_other = " OR ".join(f"{o} != 0" for o in others)
        any_conflict = " OR ".join(
            f"({o} != 0 AND {o} != v{i})" for o in others
        )
        rule_rows.append(
            f"SELECT '{name}' AS rule, v{i} AS v,"
            f" CAST(v{i} != 0 AND ({any_other}) AS INT) AS ov,"
            f" CAST(v{i} != 0 AND ({any_conflict}) AS INT) AS cf,"
            f" CAST(v{i} != 0 AND v{i} = consensus AS INT) AS ag"
            " FROM voted"
        )
    fanned = " UNION ALL ".join(rule_rows)
    return rf"""
WITH t AS (
  SELECT COALESCE(length(text), 0) AS n_chars,
         COALESCE(length(text), 0)
           - length(regexp_replace(COALESCE(text, ''), '[0-9]', '', 'g'))
           AS n_digits,
         {_SQL_STOP} AS n_stop,
         len(list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
             '\s+'), w -> length(w) > 0)) AS n_tok,
         len(list_distinct(list_filter(string_split_regex(
             lower(trim(COALESCE(text, ''))), '\s+'),
             w -> length(w) > 0))) AS n_dtok
  FROM documents
),
voted AS (
  SELECT CASE WHEN n_chars >= 20 AND n_chars <= 10000 THEN 1
              WHEN n_chars < 5 THEN -1 ELSE 0 END AS v1,
         CASE WHEN n_stop > 0 THEN 1 ELSE 0 END AS v2,
         CASE WHEN n_digits * 100 > n_chars * 30 THEN -1
              WHEN n_digits = 0 THEN 1 ELSE 0 END AS v3,
         CASE WHEN n_tok > 0 AND n_dtok * 100 < n_tok * 50 THEN -1
              ELSE 0 END AS v4,
         CAST(sign(v1 + v2 + v3 + v4) AS INT) AS consensus
  FROM t
),
fanned AS ({fanned}),
per_rule AS (
  SELECT rule,
         CAST(SUM(CAST(v = 1 AS INT)) AS BIGINT) AS n_pos,
         CAST(SUM(CAST(v = -1 AS INT)) AS BIGINT) AS n_neg,
         CAST(SUM(CAST(v = 0 AS INT)) AS BIGINT) AS n_abstain,
         CAST(SUM(ov) AS BIGINT) AS n_overlap,
         CAST(SUM(cf) AS BIGINT) AS n_conflict,
         CAST(SUM(ag) AS BIGINT) AS n_agree
  FROM fanned GROUP BY rule
)
SELECT rule, n_pos, n_neg, n_abstain,
       CAST(((n_pos + n_neg) * 1000)
         // CAST(SUM(n_pos + n_neg + n_abstain) OVER () / 4 AS BIGINT)
         AS BIGINT) AS coverage_milli,
       CAST((n_overlap * 1000)
         // CAST(SUM(n_pos + n_neg + n_abstain) OVER () / 4 AS BIGINT)
         AS BIGINT) AS overlap_milli,
       CAST((n_conflict * 1000)
         // CAST(SUM(n_pos + n_neg + n_abstain) OVER () / 4 AS BIGINT)
         AS BIGINT) AS conflict_milli,
       CAST(CASE WHEN n_pos + n_neg > 0
            THEN (n_agree * 1000) // (n_pos + n_neg) END AS BIGINT)
         AS consensus_agree_milli
FROM per_rule
"""


def q_length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift report between two
    corpus snapshots (cohort A = even doc_id, cohort B = odd — the
    deterministic stand-in for old-shard vs new-shard), per language:
    D = max over x of |ECDF_A(x) − ECDF_B(x)| on the document-length
    distribution. This is the distribution-shift monitor a corpus
    refresh runs before retraining — a mean/quantile diff misses shape
    changes KS catches (bimodality, truncation, a new scraper's length
    cap).

    Integer-exact: D's sup is computed as max |cumA·nB − cumB·nA| over
    the merged value grid (cross-multiplied ECDFs never divide), then
    published once as ks_micro = 1e6·max_diff div (nA·nB). ECDFs of
    BOTH cohorts are evaluated on the UNION of observed lengths (one
    conditional-sum groupBy gives both counts per grid point, absent
    sides contribute 0 — evaluating each ECDF only at its own sample
    understates D).

    Scale shape (100 TB): groupBy (lang, n_chars) collapses the corpus
    to grid-sized rows FIRST (map-side partials); the cumulative window
    and the final per-lang max run over that grid frame — #langs
    partitions, each |distinct lengths| rows, never corpus-scale window
    state. Two exchanges total ((lang, n_chars) hash agg → lang
    window+agg)."""
    docs = load_table(spark, sf_dir, "documents")
    grid = (
        docs.select(
            "lang",
            F.coalesce(F.length("text"), F.lit(0))
            .cast("long")
            .alias("v"),
            (F.col("doc_id") % 2 == 0).alias("is_a"),
        )
        .groupBy("lang", "v")
        .agg(
            F.sum(F.expr("CAST(is_a AS LONG)")).alias("ca"),
            F.sum(F.expr("CAST(NOT is_a AS LONG)")).alias("cb"),
        )
    )
    w = Window.partitionBy("lang").orderBy("v")
    wall = Window.partitionBy("lang")
    cum = grid.select(
        "lang",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    return (
        cum.groupBy("lang", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("n_b")
                    - F.col("cum_b") * F.col("n_a")
                )
            ).alias("max_diff")
        )
        .select(
            "lang",
            "n_a",
            "n_b",
            F.expr(
                "CASE WHEN n_a > 0 AND n_b > 0"
                " THEN (max_diff * 1000000) div (n_a * n_b)"
                " ELSE NULL END"
            ).alias("ks_micro"),
        )
    )


ORACLE_LENGTH_DRIFT_KS = """
WITH grid AS (
  SELECT lang,
         CAST(COALESCE(length(text), 0) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
              AS BIGINT) AS cb
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT lang,
         SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cum_a,
         SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS cum_b,
         SUM(ca) OVER (PARTITION BY lang) AS n_a,
         SUM(cb) OVER (PARTITION BY lang) AS n_b
  FROM grid
)
SELECT lang,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(CASE WHEN n_a > 0 AND n_b > 0
            THEN (MAX(ABS(cum_a * n_b - cum_b * n_a)) * 1000000)
                 // (n_a * n_b)
            ELSE NULL END AS BIGINT) AS ks_micro
FROM cum GROUP BY lang, n_a, n_b
"""


QUERIES = {
    "weak_label_vote": q_weak_label_vote,
    "length_drift_ks": q_length_drift_ks,
    "doc_chunking": q_doc_chunking,
    "corpus_datacard": q_corpus_datacard,
    "char_entropy": q_char_entropy,
    "winsorized_stats": q_winsorized_stats,
    "mad_outliers": q_mad_outliers,
    "domain_reweight": q_domain_reweight,
    "quality_calibration": q_quality_calibration,
    "pagerank_bipartite": q_pagerank_bipartite,
    "classifier_score": q_classifier_score,
    "classifier_calibration": q_classifier_calibration,
    "quality_signal_correlation": q_quality_signal_correlation,
    "label_agreement_kappa": q_label_agreement_kappa,
    "mixture_allocation": q_mixture_allocation,
}

ORACLES = {
    "weak_label_vote": _oracle_weak_label_vote(),
    "length_drift_ks": ORACLE_LENGTH_DRIFT_KS,
    "doc_chunking": ORACLE_DOC_CHUNKING,
    "corpus_datacard": ORACLE_CORPUS_DATACARD,
    "char_entropy": ORACLE_CHAR_ENTROPY,
    "winsorized_stats": ORACLE_WINSORIZED_STATS,
    "mad_outliers": ORACLE_MAD_OUTLIERS,
    "domain_reweight": ORACLE_DOMAIN_REWEIGHT,
    "quality_calibration": ORACLE_QUALITY_CALIBRATION,
    "pagerank_bipartite": ORACLE_PAGERANK_BIPARTITE,
    "classifier_score": ORACLE_CLASSIFIER_SCORE,
    "classifier_calibration": ORACLE_CLASSIFIER_CALIBRATION,
    "quality_signal_correlation": ORACLE_QUALITY_SIGNAL_CORRELATION,
    "label_agreement_kappa": ORACLE_LABEL_AGREEMENT_KAPPA,
    "mixture_allocation": ORACLE_MIXTURE_ALLOCATION,
}

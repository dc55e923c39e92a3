"""Composite pipeline operators: multi-stage chains that compose the
engine's pieces the way a production training-data pipeline does
(BASELINE.json north-star), end-to-end under the value-hash oracle.

- corpus curation: quality gate → normalized exact-dedup → per-language
  corpus statistics — the canonical pretraining-data funnel, one
  declarative plan (Catalyst fuses the stages; two shuffles total:
  dedup hash, final group),
- salted skew join: the 100 TB pattern for joining a skew-keyed fact
  (lineitem has 3 return-flag values — a vanilla join funnels 1/3 of
  the table through one reducer) against a dimension: replicate the
  dim SALT_BUCKETS× and split the fact hash-uniformly; result is
  EXACTLY the unsalted join (the oracle proves it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import cents, sql_cents
from ..functions.tokens import norm_text, tokenize

# ---------------------------------------------------------------------------
# corpus curation funnel
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to"]


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality gate → normalized exact-dedup (keep min doc_id) →
    per-(lang, source) corpus stats. Stage semantics match the
    standalone operators (text.q_quality_score, dedup.q_dedup_exact_norm)
    — this entry proves they COMPOSE."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n_chars = F.length("text")
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[^A-Za-z0-9\s]", "")
    )
    n_stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    kept = docs.select(
        "doc_id", "lang", "source", "text", F.size(toks).alias("n_tokens")
    ).filter(
        (n_chars >= 20)
        & (n_chars <= 10000)
        & (n_punct * 100 < n_chars * 20)
        & (n_stop > 0)
    )
    norm = norm_text(F.col("text"))
    deduped = (
        kept.select("doc_id", "lang", "source", "n_tokens", F.md5(norm).alias("h"))
        .groupBy("h")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "source", "n_tokens"), "doc_id"
            ).alias("r"),
            F.count("*").alias("n_dups"),
        )
        .select("r.doc_id", "r.lang", "r.source", "r.n_tokens", "n_dups")
    )
    return deduped.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_dups").alias("n_originals_incl_dups"),
    )


ORACLE_CORPUS_PIPELINE = r"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
    LENGTH(text) AS n_chars,
    LENGTH(text) - LENGTH(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
      AS n_punct,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        w -> w IN ('the','a','and','of','to'))) AS n_stop
  FROM documents
),
kept AS (
  SELECT * FROM scored
  WHERE n_chars BETWEEN 20 AND 10000
    AND n_punct * 100 < n_chars * 20
    AND n_stop > 0
),
hashed AS (
  SELECT *, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM kept
),
dedup AS (
  SELECT h, MIN(doc_id) AS doc_id,
         arg_min(lang, doc_id) AS lang,
         arg_min(source, doc_id) AS source,
         arg_min(n_tokens, doc_id) AS n_tokens,
         COUNT(*) AS n_dups
  FROM hashed GROUP BY h
)
SELECT lang, source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_dups) AS BIGINT) AS n_originals_incl_dups
FROM dedup GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# salted skew join
# ---------------------------------------------------------------------------

SALT_BUCKETS = 16


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact⋈dim join: lineitem (3 return-flag values ⇒
    extreme key skew) joined to a per-flag dimension. The dim side is
    replicated SALT_BUCKETS×, the fact side salted by row hash — every
    reducer gets 1/SALT_BUCKETS of the hot key. The post-join aggregate
    equals the unsalted join exactly (integer sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("flag_rows"))
        .select(
            F.col("l_returnflag").alias("d_flag"),
            "flag_rows",
            F.explode(
                F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))
            ).alias("d_salt"),
        )
    )
    fact = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("pc"),
        F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS)
        ).alias("salt"),
    )
    joined = fact.join(
        F.broadcast(dim),
        (fact.l_returnflag == dim.d_flag) & (fact.salt == dim.d_salt),
    )
    return joined.groupBy("l_returnflag", "flag_rows").agg(
        F.count("*").alias("n_rows"),
        F.sum("pc").alias("price_cents"),
    )


ORACLE_SKEW_SALTED_JOIN = f"""
WITH dim AS (
  SELECT l_returnflag AS d_flag, COUNT(*) AS flag_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, flag_rows,
  COUNT(*) AS n_rows,
  CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) AS price_cents
FROM lineitem JOIN dim ON l_returnflag = d_flag
GROUP BY l_returnflag, flag_rows
"""


# ---------------------------------------------------------------------------
# training-sequence packing
# ---------------------------------------------------------------------------

PACK_TOKENS = 512


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-sequence packing: assign documents to
    fixed-budget token packs by running token count. Packing is done
    PER SOURCE SHARD (window partitioned by `source`, ordered by
    doc_id) — the scalable formulation: no global order, shards pack
    independently, exactly how a distributed tokenizer job shards.
    A doc whose token span crosses a pack boundary is flagged
    (`straddles` — the split/pad decision is the consumer's)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokenize(F.col("text")))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    toks = docs.select(
        "doc_id", "source", n_tokens.alias("n_tokens")
    ).withColumn("cum_end", F.sum("n_tokens").over(w))
    start = F.col("cum_end") - F.col("n_tokens")
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start / PACK_TOKENS).cast("long").alias("pack_id"),
        (start % PACK_TOKENS).cast("long").alias("offset_in_pack"),
        (
            F.floor(start / PACK_TOKENS)
            != F.floor((F.col("cum_end") - 1) / PACK_TOKENS)
        ).alias("straddles"),
    )


ORACLE_SEQ_PACKING = rf"""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         SUM(len(string_split_regex(lower(trim(text)), '\s+'))) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM documents
)
SELECT doc_id, source, n_tokens,
  CAST(FLOOR((cum_end - n_tokens) / {PACK_TOKENS}.0) AS BIGINT) AS pack_id,
  CAST((cum_end - n_tokens) % {PACK_TOKENS} AS BIGINT) AS offset_in_pack,
  FLOOR((cum_end - n_tokens) / {PACK_TOKENS}.0)
    != FLOOR((cum_end - 1) / {PACK_TOKENS}.0) AS straddles
FROM toks
"""


# ---------------------------------------------------------------------------
# deterministic dataset splitting
# ---------------------------------------------------------------------------

TRAIN_PCT, VAL_PCT = 80, 10  # remainder = test


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    key hash: bucket = first byte of md5(doc_id) → stable across runs,
    engines, and partitionings (the property row-number or rand() splits
    lack: adding documents never reshuffles existing assignments).
    Output: per-split doc counts + token totals."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("long") % 100
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    n_tokens = F.size(tokenize(F.col("text")))
    return (
        docs.select(split.alias("split"), n_tokens.alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


ORACLE_DATASET_SPLIT = rf"""
WITH assigned AS (
  SELECT
    CASE
      WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                AS BIGINT) % 100 < {TRAIN_PCT} THEN 'train'
      WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                AS BIGINT) % 100 < {TRAIN_PCT + VAL_PCT} THEN 'val'
      ELSE 'test'
    END AS split,
    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM assigned GROUP BY split
"""


# ---------------------------------------------------------------------------
# embedding int8 quantization (vector-store prep)
# ---------------------------------------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings: per-vector scale =
    max|x|, q_i = round(x_i * 127 / scale) — 4× smaller vectors for the
    ANN index, exact integer output (the round boundary sits on
    irrational scale ratios, engine-stable in practice and verified by
    the oracle). Emits the quantized array + scale + reconstruction
    error bound."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    # scale and q each materialize through their own projection: lambda
    # bodies re-evaluate referenced outer expressions per element, so
    # inlining `max_abs` into the quantize lambda would recompute the
    # array_max for every component (O(d²) per vector); `scale` is
    # carried as an output column alongside its use in the lambda so
    # CollapseProject cannot substitute it back in (multi-reference).
    scaled = emb.select("vec_id", "embedding", max_abs.alias("scale"))
    # try_divide + try_cast: an all-zero vector has scale 0 (0/0 =
    # NaN) and a poisoned component makes scale NaN/Inf — both must
    # quantize to NULL components, not raise ANSI CAST_INVALID_INPUT
    # (r13 review finding)
    q = F.transform(
        e,
        lambda x: F.round(
            F.try_divide(x.cast("double") * F.lit(127.0), F.col("scale"))
        ).try_cast("int"),
    )
    quantized = scaled.select("vec_id", "scale", q.alias("q"))
    # q8 is serialized to a comma-joined string: array-typed cells crash
    # the driver's canonicalizer (VERDICT r01), and int→string formatting
    # is engine-identical (unlike floats).
    qc = F.col("q")
    return quantized.select(
        "vec_id",
        F.array_join(
            F.transform(qc, lambda v: v.cast("string")), ","
        ).alias("q8"),
        "scale",
        F.array_max(F.transform(qc, lambda v: F.abs(v))).alias("q_max"),
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
           AS scale
  FROM embeddings
)
SELECT vec_id,
  array_to_string(list_transform(embedding::DOUBLE[],
                 x -> TRY_CAST(round(x * 127.0 / NULLIF(scale, 0)) AS INT)), ',') AS q8,
  scale,
  list_max(list_transform(
    list_transform(embedding::DOUBLE[],
                   x -> TRY_CAST(round(x * 127.0 / NULLIF(scale, 0)) AS INT)),
    v -> abs(v))) AS q_max
FROM s
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: admit a new batch against an
    existing corpus — drop docs whose normalized content hash already
    exists in the corpus (anti-join) OR appeared earlier within the
    batch (min-doc_id-wins groupBy). The fixture splits documents by
    doc_id parity into corpus (even) and batch (odd).

    This is the nightly-crawl admission pattern: the anti-join probes
    the corpus hash index (at 100 TB a bucketed/bloom-backed table, so
    the probe is a hash lookup, not a corpus scan), and the in-batch
    dedup shuffles only the NEW batch. Output: admitted docs with their
    in-batch duplicate counts."""
    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    hashed = docs.select("doc_id", F.md5(norm).alias("h"))
    corpus = hashed.filter(F.col("doc_id") % 2 == 0)
    batch = hashed.filter(F.col("doc_id") % 2 == 1)
    fresh = batch.join(
        corpus.select("h").distinct(), "h", "left_anti"
    )
    return (
        fresh.groupBy("h")
        .agg(
            F.min("doc_id").alias("admit_id"),
            F.count("*").alias("n_in_batch"),
        )
        .select("admit_id", "h", "n_in_batch")
    )


ORACLE_INCREMENTAL_DEDUP = r"""
WITH hashed AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM documents
),
corpus AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 2 = 0),
batch AS (SELECT * FROM hashed WHERE doc_id % 2 = 1)
SELECT MIN(doc_id) AS admit_id, h, COUNT(*) AS n_in_batch
FROM batch
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = batch.h)
GROUP BY h
"""


# ---------------------------------------------------------------------------
# token-budget selection (distributed prefix sum)
# ---------------------------------------------------------------------------

BAND_WIDTH = 256  # score band width for the two-level cumulative sum


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy document selection under a global token budget: rank by
    score (here: length, standing in for a quality score), keep the
    prefix whose cumulative token count fits budget = Σtokens/2. The
    data-mixing step of a pretraining pipeline ("take the best N
    tokens of this source").

    A naive SUM() OVER (ORDER BY …) is a single-partition sort at
    scale. This is the classic two-level distributed prefix sum
    instead: (1) bucket docs into coarse score bands (band order =
    score order, since band = floor(score/width)); (2) aggregate
    per-band token totals — a tiny frame — and window THAT for each
    band's base offset; (3) broadcast the offsets back and compute the
    within-band running sum with a window PARTITIONED BY band, which
    parallelizes across bands. base + within ≡ the global cumulative
    sum (integer addition is associative), which the oracle's global
    window proves."""
    docs = load_table(spark, sf_dir, "documents")
    from .text import TOKEN_PATTERN

    d = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0))
        .cast("long")
        .alias("n_tokens"),
        F.length("text").cast("long").alias("score"),
    ).withColumn("band", F.floor(F.col("score") / BAND_WIDTH))
    band_tot = d.groupBy("band").agg(F.sum("n_tokens").alias("band_tokens"))
    wb = Window.orderBy(F.col("band").desc())  # tiny: ≤ max_score/width rows
    base = band_tot.withColumn(
        "offset", F.sum("band_tokens").over(wb) - F.col("band_tokens")
    )
    budget = d.agg(
        F.floor(F.sum("n_tokens") / 2).cast("long").alias("budget")
    )
    wd = Window.partitionBy("band").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        d.join(F.broadcast(base.select("band", "offset")), "band")
        .withColumn(
            "cum_tokens",
            (F.col("offset") + F.sum("n_tokens").over(wd)).cast("long"),
        )
        .crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "n_tokens", "score", "cum_tokens")
    )


ORACLE_TOKEN_BUDGET = r"""
WITH d AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
    CAST(LENGTH(text) AS BIGINT) AS score
  FROM documents
),
b AS (SELECT CAST(FLOOR(SUM(n_tokens) / 2) AS BIGINT) AS budget FROM d),
c AS (
  SELECT doc_id, n_tokens, score,
    CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_tokens
  FROM d
)
SELECT doc_id, n_tokens, score, cum_tokens
FROM c, b WHERE cum_tokens <= budget
"""


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency telemetry over `q_seq_packing`'s assignment
    — the shard-health row a training job reads before launch: per
    source shard, how many fixed-budget packs the documents fill, the
    fill rate (trailing pack is partial), and how many documents
    straddle a pack boundary (each straddler is a split-or-pad
    decision, i.e. either a truncation loss or padding waste).
    Composition-priced: re-runs the packing it audits (auditing a
    cached assignment would fake the audit — `q_ann_recall_report`'s
    policy). Plan: the packing window's per-source partitions collapse
    into a source-keyed partial aggregate — the post-window exchange
    carries |sources| rows. Zero-token sources are excluded by an
    integer predicate (fill undefined); n_packs = ceil(total/budget)
    is exact integer arithmetic ((t + B - 1) div B, non-negative) on
    both engines."""
    s = q_seq_packing(spark, sf_dir)
    agg = s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("straddles").cast("long")).alias("n_straddlers"),
    )
    n_packs = F.expr(
        f"(total_tokens + {PACK_TOKENS} - 1) div {PACK_TOKENS}"
    )
    return (
        agg.filter(F.col("total_tokens") > 0)
        .withColumn("n_packs", n_packs)
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_straddlers",
            "n_packs",
            F.expr(
                f"(total_tokens * 1000) div (n_packs * {PACK_TOKENS})"
            ).alias("fill_milli"),
        )
    )


ORACLE_PACKING_EFFICIENCY = f"""
WITH packed AS ({ORACLE_SEQ_PACKING}),
a AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT)
           AS n_straddlers
  FROM packed GROUP BY source
)
SELECT source, n_docs, total_tokens, n_straddlers,
       (total_tokens + {PACK_TOKENS} - 1) // {PACK_TOKENS} AS n_packs,
       (total_tokens * 1000)
         // (((total_tokens + {PACK_TOKENS} - 1) // {PACK_TOKENS})
             * {PACK_TOKENS}) AS fill_milli
FROM a WHERE total_tokens > 0
"""


QUERIES = {
    "corpus_pipeline": q_corpus_pipeline,
    "packing_efficiency": q_packing_efficiency,
    "token_budget_select": q_token_budget_select,
    "incremental_dedup": q_incremental_dedup,
    "skew_salted_join": q_skew_salted_join,
    "seq_packing": q_seq_packing,
    "dataset_split": q_dataset_split,
    "embedding_quantize": q_embedding_quantize,
}

ORACLES = {
    "corpus_pipeline": ORACLE_CORPUS_PIPELINE,
    "packing_efficiency": ORACLE_PACKING_EFFICIENCY,
    "token_budget_select": ORACLE_TOKEN_BUDGET,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "skew_salted_join": ORACLE_SKEW_SALTED_JOIN,
    "seq_packing": ORACLE_SEQ_PACKING,
    "dataset_split": ORACLE_DATASET_SPLIT,
    "embedding_quantize": ORACLE_EMBEDDING_QUANTIZE,
}

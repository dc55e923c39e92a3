"""Deduplication operators (SURVEY.md §2.D C1/C2) on the `documents` table.

The reference has no dedup surface; these are the LLM-data-pipeline
operators mandated by BASELINE.json, designed scale-first:

- exact dedup: hash-groupBy — one shuffle on a 16-byte key, fully
  partial-aggregatable, no skew (hash keys are uniform).
- n-gram Jaccard: shingle→explode→inverted-index self-join. The join
  key is the shingle hash; frequency-capped to bound worst-case fan-out
  (a stop-shingle appearing in k docs contributes k² pairs).
- MinHash-LSH: signature→band→bucket-join; only candidate pairs are
  verified, so the all-pairs term never materializes. This is the
  100 TB path; the exact-Jaccard op is its verification oracle.
- SimHash: 64-bit signatures + banded Hamming candidate search.

Determinism: every hash is xxhash64 (seeded, engine-stable across
partitionings); Jaccard thresholds are compared in integer arithmetic
(i * 1000 >= thr * union) so no float rounding is involved.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.consume import drain_one_row, local_frame
from ..functions.tokens import norm_text, tokenize

# ---------------------------------------------------------------------------
# C1: exact dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: keep min doc_id per md5(text).
    groupBy on the hash — single shuffle, uniform keys."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over NORMALIZED text (lower, trim, collapse
    whitespace) — catches whitespace/case-only duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    return (
        docs.select("doc_id", F.md5(norm).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


ORACLE_DEDUP_EXACT_NORM = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# shared shingling
# ---------------------------------------------------------------------------


def shingles_from_tokens(toks, n: int = 3):
    """Distinct word n-gram shingles from a TOKEN-ARRAY column.
    Built-in expressions only (transform over sequence + element_at) —
    no UDF, stays in codegen.

    IMPORTANT: pass a materialized column (project `tokenize(...)`
    through its own select first), not the split expression inline —
    lambda bodies re-evaluate referenced outer expressions once per
    element, so an inline split() re-tokenizes the document for every
    shingle (measured 1.4-5× end-to-end on the shingle pipelines).
    Multiple syntactic references below keep CollapseProject from
    substituting the alias back in."""
    # guard the <n-token case: sequence(1, 0) yields the DESCENDING
    # array [1, 0] (never empty), and element_at(toks, 0) throws under
    # ANSI mode — one short doc would kill the whole corpus job. Emit
    # no shingle indices instead (matches the oracles' range()).
    idx = F.when(
        F.size(toks) >= F.lit(n),
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]
        ),
    )
    return F.array_distinct(gram)


def _shingle_df(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded pairs — the inverted-index input.

    The input is repartitioned by doc_id first: a small parquet file
    arrives as ONE split, which would make the (CPU-heavy) shingling
    single-threaded; an explicit numPartitions repartition parallelizes
    it and AQE leaves user-specified partition counts alone. At 100 TB
    the source is many splits and this shuffle is a no-op cost-wise
    relative to the shingle explosion it parallelizes."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(n, "doc_id")
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(shingles_from_tokens(F.col("toks"))).alias("s"),
        )
    )


# ---------------------------------------------------------------------------
# C2a: exact n-gram Jaccard near-dup (the verification oracle for LSH)
# ---------------------------------------------------------------------------

JACCARD_MILLI = 500  # pairs with jaccard >= 0.5
MAX_SHINGLE_DF = 1000  # drop shingles appearing in more documents


def _pair_intersections(docs: DataFrame) -> DataFrame:
    """(da, db, i, na, nb) — shingle-set intersection size and set
    sizes for every doc pair sharing ≥1 (df-capped) shingle. Shared by
    the Jaccard and containment operators; the df cap bounds every
    inverted-index bucket to MAX_SHINGLE_DF² pairs before the join.

    Plan note (r14, measured and REJECTED): applying the
    `_bucket_pairs` fusion here — groupBy(s) + sort_array(collect_list)
    + posexplode/slice generators instead of the self-join — ran
    1.5-1.8× SLOWER on this family (dedup_jaccard A/B at sf0.1:
    self-join 1.3-1.7 s vs fused 2.3-2.4 s; dedup_survivors
    1.75→2.56 s in the full bench). Cause: `slice(ids, i+2, …)`
    materializes a fresh array per (bucket, position), an O(Σ df²)
    element-copy term — negligible for LSH's tiny near-dup buckets
    (where the fusion wins and stays, `_bucket_pairs`), dominant for
    the inverted index's mid-df buckets (df up to MAX_SHINGLE_DF).
    The join probes the same Σ df² combinations but copies nothing."""
    sh_all = _shingle_df(docs)
    # df cap: one groupBy on shingle, then a semi-join keeps rare ones.
    rare = (
        sh_all.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("s")
    )
    # the capped shingle table feeds three plan branches (sizes + both
    # join sides) — persist + materialize so the explode runs once
    sh = sh_all.join(rare, "s", "left_semi").persist()
    sh.count()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    return inter.join(sa, "da").join(sb, "db")


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (jaccard >= 0.5, exact).

    Inverted-index self-join on shingle: pair count = Σ_s df(s)², so one
    boilerplate shingle shared by d documents alone yields d²/2 pairs.
    The document-frequency cap in `_pair_intersections` drops shingles
    with df > MAX_SHINGLE_DF *before* the pair join, bounding every
    bucket to MAX_SHINGLE_DF² pairs — the standard near-dup trick
    (ubiquitous shingles carry no dedup signal). Jaccard is then defined
    over the capped shingle universe, identically in the oracle.
    MinHash-LSH (`q_dedup_minhash_lsh`) is the sub-quadratic scale path;
    this is the exact verifier. Threshold compare is integer:
    i*1000 >= thr*(na+nb-i)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _pair_intersections(docs)
        .filter(
            F.col("i") * 1000
            >= F.lit(JACCARD_MILLI) * (F.col("na") + F.col("nb") - F.col("i"))
        )
        .select(
            "da",
            "db",
            "i",
            "na",
            "nb",
            (F.col("i") * 1000).cast("long").alias("i_milli_num"),
        )
    )


# containment C(a,b) = i / min(na, nb): a high value with asymmetric
# sizes means the smaller doc is embedded in the larger (quotes,
# includes, scraped-with-boilerplate copies) — pairs Jaccard misses
# because the union is dominated by the larger doc.
CONTAINMENT_MILLI = 800


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment near-dup pairs (i >= 0.8 × the smaller
    shingle set, exact): the subset-duplicate detector. Same Σ-bounded
    inverted-index plan as `q_dedup_jaccard` (shared helper); only the
    threshold algebra differs — integer compare against least(na, nb),
    so the keep set is engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _pair_intersections(docs)
        .filter(
            F.col("i") * 1000
            >= F.lit(CONTAINMENT_MILLI) * F.least(F.col("na"), F.col("nb"))
        )
        .select(
            "da",
            "db",
            "i",
            "na",
            "nb",
            (F.col("na") <= F.col("nb")).alias("a_is_smaller"),
        )
    )


ORACLE_DEDUP_JACCARD = rf"""
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
rare AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}
),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, i, sa.n AS na, sb.n AS nb,
       CAST(i * 1000 AS BIGINT) AS i_milli_num
FROM inter
JOIN sz sa ON sa.doc_id = da
JOIN sz sb ON sb.doc_id = db
WHERE i * 1000 >= {JACCARD_MILLI} * (sa.n + sb.n - i)
"""


ORACLE_DEDUP_CONTAINMENT = rf"""
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
rare AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}
),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, i, sa.n AS na, sb.n AS nb,
       sa.n <= sb.n AS a_is_smaller
FROM inter
JOIN sz sa ON sa.doc_id = da
JOIN sz sb ON sb.doc_id = db
WHERE i * 1000 >= {CONTAINMENT_MILLI} * least(sa.n, sb.n)
"""


# ---------------------------------------------------------------------------
# C2b: MinHash + LSH (the scale path; verified against exact Jaccard)
# ---------------------------------------------------------------------------

N_HASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows: P(candidate | j=0.5) ≈ 0.22, j=0.8 ≈ 0.93
# band buckets above this size are dropped before the candidate
# self-join (B members → B² pairs): the Σ bucket² cost bound of the
# LSH path is enforced, not assumed. Far above anything a healthy
# corpus produces (fixture max ≈ cluster size ≈ 10), so recall on
# non-degenerate data is untouched; a template stamped across ≫1024
# docs is exactly the boilerplate near-dup case the repetition filter
# and exact-norm dedup already handle upstream.
LSH_MAX_BUCKET = 1024


def _bucket_pairs(
    bands: DataFrame, payload: tuple[str, ...] = ()
) -> DataFrame:
    """All intra-bucket candidate pairs from a (doc_id, band, bkey
    [, payload…]) frame in ONE shuffle, with the Σ bucket² bound
    enforced BEFORE any bucket is materialized.

    Plan: one exchange on (band, bkey) → window ``count(*)`` over the
    bucket → size-gate [2, LSH_MAX_BUCKET] → groupBy(band, bkey) with
    sort_array(collect_list(struct(doc_id, payload…))) — the
    aggregate's required ClusteredDistribution is already satisfied by
    the window's hash partitioning, so NO second exchange — → two
    chained generators (posexplode + slice-explode) emit the
    B·(B-1)/2 ordered pairs per bucket map-side.

    Why the size gate is a WINDOW count and not a filter on
    size(collect_list(...)) (the r14 form): a collect_list aggregation
    buffer for a single group cannot spill — even the sort-based
    fallback accumulates the whole group in one in-memory array — so
    gating AFTER the collect bounded the candidate count but not the
    memory of FORMING a mega-bucket (a template stamped across 10⁷
    docs collides in ALL bands and would be a multi-GB single-group
    buffer: the r14 VERDICT's one weak mark). The window operator's
    per-frame buffer (ExternalAppendOnlyUnsafeRowArray) spills to
    disk past a row threshold, so a degenerate bucket costs disk, not
    executor memory, and the collect_list below the gate provably
    never sees more than LSH_MAX_BUCKET rows per group. Still ONE
    shuffle of the band frame (vs the r13 count-aggregate + broadcast
    anti-join + self-join = two shuffles + a join build); the window's
    partition-key sort is the only added cost and it spills too. Both
    properties are plan-gated (tests/test_ann_quality.py: single
    Exchange; the __bn gate strictly below the collect).

    NULL-keyed rows (doc_id IS NULL — hostile fixtures only) are
    dropped up front: the r14 generator paired the NULL struct
    (sort_array puts it first) where the pre-r14 self-join's strict
    ``a.doc_id < b.doc_id`` predicate never emitted it; direct
    consumers (SimHash's Hamming filter) would have surfaced those
    pairs. Buckets above the cap (boilerplate that exact-norm dedup
    and the repetition filter already handle upstream) are dropped
    whole, exactly as before. The generator chain never materializes
    the B² pair array. Output: (da, db[, <payload>_a…, <payload>_b…])
    with da < db (sort_array on the struct orders by doc_id first),
    distinct across bands."""
    from pyspark.sql import Window

    item = F.struct(F.col("doc_id"), *[F.col(c) for c in payload])
    w = Window.partitionBy("band", "bkey")
    capped = (
        bands.filter(F.col("doc_id").isNotNull())
        .withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(
            (F.col("__bn") >= 2) & (F.col("__bn") <= LSH_MAX_BUCKET)
        )
        .drop("__bn")
    )
    grouped = capped.groupBy("band", "bkey").agg(
        F.sort_array(F.collect_list(item)).alias("items")
    )
    ex = grouped.select(
        "items", F.posexplode("items").alias("i", "x")
    ).select(
        "x",
        F.explode(F.expr("slice(items, i + 2, size(items))")).alias("y"),
    )
    cols = [F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db")]
    for c in payload:
        cols.append(F.col(f"x.{c}").alias(f"{c}_a"))
        cols.append(F.col(f"y.{c}").alias(f"{c}_b"))
    return ex.select(*cols).distinct()


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures.

    Formulated as explode → groupBy(doc_id) with n_hashes MIN aggregates:
    one pass over shingles, vectorized hash aggregation, map-side partial
    mins — the shuffle carries n_hashes longs per doc. (An array-expression
    formulation — n_hashes × transform(shingles, ...) — re-evaluates the
    shingling per hash and compiles a huge expression tree; measured 10×
    slower.)"""
    sh = _shingle_df(docs)
    # hash the shingle STRING once; the n_hashes permutations are
    # derived by re-hashing the resulting 64-bit value with the
    # permutation index (long⊕long xxhash — a few ns) instead of
    # re-hashing the string bytes n_hashes times. Same independent-
    # permutation property, ~n_hashes× less string hashing — the
    # dominant cost of the signature stage.
    sh = sh.withColumn("h0", F.xxhash64("s"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h0"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    per = sh.groupBy("doc_id").agg(*aggs)
    return per.select(
        "doc_id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle → 16-perm minhash signature → 4 bands of 4 →
    fused bucket-group pair generation (``_bucket_pairs``: ONE shuffle
    of the 4n-row band frame; the Σ bucket² bound is ENFORCED as a
    size gate on the grouped buckets themselves — r14 fuses what r13
    did with a separate count aggregate + broadcast anti-join + band
    self-join) → exact Jaccard verification of candidates. At 100 TB
    the bucket groupBy is the only corpus-sized shuffle; candidate
    volume is bounded by Σ bucket² with bucket ≤ ``LSH_MAX_BUCKET`` —
    a boilerplate-heavy corpus where d docs share a template would
    otherwise put d² candidate pairs in one bucket. Dropping a
    mega-bucket trades recall exactly like the df-cap on the
    exact-Jaccard path: members that ALSO collide in a healthy band
    still pair up. Output = confirmed pairs; rows-only check (LSH
    recall < 1, so no SQL oracle claims completeness)."""
    docs = load_table(spark, sf_dir, "documents")
    # no persist: since the r14 fusion the signature frame feeds ONE
    # consumer (the bucket groupBy) — the r13 persist+count barrier
    # existed only because the band self-join raced the cache from
    # both sides
    sig = minhash_signatures(docs)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(F.col("sig"), b * BAND_SIZE + r + 1)
                                for r in range(BAND_SIZE)
                            ]
                        ).alias("bkey"),
                    )
                    for b in range(N_HASHES // BAND_SIZE)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")
    # persist + materialize: consumed by the semi-join pruning AND
    # the final verification join; lazily each consumer would redo
    # the bucket groupBy (the widest shuffle in the pipeline). The
    # frame is tiny (candidate pairs).
    cand = _bucket_pairs(bands).persist()
    n_cand = cand.count()
    # verify candidates with exact jaccard on shingle sets — computed
    # ONLY for docs that appear in a candidate pair (semi-join pruning:
    # at scale verification touches |candidates| docs, not the corpus),
    # and in parallel (repartition, same rationale as _shingle_df)
    cand_ids = (
        cand.select(F.col("da").alias("doc_id"))
        .union(cand.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    # repartition before shingling: the broadcast semi-join preserves
    # the source's partitioning (ONE split for a single parquet file),
    # which would serialize the CPU-heavy shingle computation; measured
    # 2× end-to-end without it
    n = docs.sparkSession.sparkContext.defaultParallelism
    # persist + materialize: sha and shb below feed the verification
    # join from two separate shuffle-map stages that run CONCURRENTLY —
    # a lazy persist lets both race the empty cache and duplicate the
    # CPU-heavy shingling (measured: 2.6–6.7s run-to-run at sf0.1
    # lazily vs a stable ~2.5s materialized)
    sh = (
        docs.join(cand_ids, "doc_id", "left_semi")
        .repartition(n, "doc_id")
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id", shingles_from_tokens(F.col("toks")).alias("sset")
        )
        .persist()
    )
    # the materializing count exists to stop sha/shb's CONCURRENT
    # shuffle-map stages from racing the empty cache and shingling
    # twice — worth one extra job only when the candidate set is big
    # enough for the duplicated work to beat the job's scheduling
    # latency (at 256 pairs the race duplicates ~0.02 s of shingling;
    # the barrier job costs ~0.2 s)
    if n_cand > 5_000:
        sh.count()
    sha = sh.select(F.col("doc_id").alias("da"), F.col("sset").alias("set_a"))
    shb = sh.select(F.col("doc_id").alias("db"), F.col("sset").alias("set_b"))
    verified = (
        cand.join(sha, "da")
        .join(shb, "db")
        .withColumn(
            "i", F.size(F.array_intersect("set_a", "set_b"))
        )
        .withColumn(
            "u", F.size("set_a") + F.size("set_b") - F.col("i")
        )
        .filter(F.col("i") * 1000 >= F.lit(JACCARD_MILLI) * F.col("u"))
        .select("da", "db", "i", "u")
    )
    return verified


# ---------------------------------------------------------------------------
# C2c: SimHash near-dup
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
HAM_BANDS = 4  # Hamming ≤ 3 ⇒ at least one of 4 16-bit bands equal


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: long) 64-bit SimHash signatures.

    explode → groupBy(doc_id) with 64 SUM(±1 per bit) aggregates, then
    assemble the sign bits into one long. Single vectorized pass with
    map-side partial sums; shuffle carries 64 longs per doc."""
    sh = _shingle_df(docs).withColumn("h", F.xxhash64("s"))
    votes = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b))
                != 0,
                1,
            ).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per = sh.groupBy("doc_id").agg(*votes)
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        out = out.bitwiseOR(
            F.when(
                F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return per.select("doc_id", out.alias("sh"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, banded candidate
    generation (Hamming ≤ 3 guarantees a matching 16-bit band), exact
    popcount verification. r14: candidates come from the same fused
    single-shuffle ``_bucket_pairs`` kernel as MinHash-LSH, which also
    gives SimHash the enforced ``LSH_MAX_BUCKET`` Σ bucket² bound the
    self-join form never had (a degenerate corpus could mega-bucket a
    16-bit band key just as easily). Rows-only check (hash family is
    Spark-specific)."""
    docs = load_table(spark, sf_dir, "documents")
    # no persist: one consumer since the r14 _bucket_pairs fusion
    sig = simhash_signatures(docs)
    bands = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bkey"),
                    )
                    for b in range(HAM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sh", "bk.band", "bk.bkey")
    cand = _bucket_pairs(bands, payload=("sh",))
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= 3)
        .select("da", "db", "hamming")
    )


# ---------------------------------------------------------------------------
# C2d: embedding-cosine near-dup / top similar pairs
# ---------------------------------------------------------------------------


def dot_double(a, b):
    """Exact-order double dot product of two float arrays (bit-identical
    to DuckDB's list_dot_product on DOUBLE[] — verified)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a, b):
    return dot_double(a, b) / (
        F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b))
    )


# Exact all-pairs cosine is O(n²): fine for a verification corpus,
# catastrophic at production scale (10^6 vectors → 10^12 pairs). The
# guard makes the quadratic plan unreachable without an explicit
# opt-in; the scale path is operators.similarity (IVF / multiprobe
# LSH candidates + exact rerank).
MAX_EXACT_VECTORS = 100_000


def q_dedup_embedding(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_vectors: int = MAX_EXACT_VECTORS,
) -> DataFrame:
    """Top-50 most-similar embedding pairs by exact cosine (the
    embedding near-dup operator; with a real threshold it's the same
    plan + a filter). Brute-force O(n²) — deliberately the exact
    verifier for the LSH-bucketed scale path in operators.similarity —
    so it refuses inputs above ``max_vectors`` rather than silently
    launching a quadratic job (pass a larger ``max_vectors`` to
    opt in). Cosine arithmetic is bit-identical to the DuckDB oracle
    (sequential double fold). The guard count is a parquet
    footer-metadata scan, not a data read."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > max_vectors:
        raise ValueError(
            f"dedup_embedding is the exact O(n²) verifier; input has "
            f"{n} vectors (> {max_vectors}). Use operators.similarity "
            f"(similarity_ivf / similarity_lsh) for the bucketed scale "
            f"path, or pass max_vectors={n} to opt in explicitly."
        )
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("va") < F.col("vb"))
    return (
        pairs.select(
            "va", "vb", cosine_col(F.col("ea"), F.col("eb")).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), "va", "vb")
        .limit(50)
    )


ORACLE_DEDUP_EMBEDDING = """
SELECT a.vec_id AS va, b.vec_id AS vb,
       list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, va, vb
LIMIT 50
"""


# ---------------------------------------------------------------------------
# C2e: near-dup clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------


#: hybrid threshold, the direct analogue of the broadcast-join
#: threshold: a (doubled) edge list at or below this row count fits
#: comfortably on the driver, where union-find resolves components in
#: microseconds instead of paying one shuffle job per propagation
#: round. Above it, the distributed min-label kernel runs — at 100 TB
#: a near-dup pair graph has billions of edges and takes that path;
#: an ER name-variant graph is dimension-sized and never should.
CC_SMALL_GRAPH_EDGES = 100_000


def _cc_union_find(rows, a: str = "a", b: str = "b") -> dict:
    """Driver-side union-find over a bounded edge list; returns
    node → min(component) with the same min-label semantics as the
    distributed path (UTF-8 byte order and unicode code-point order
    agree, so string minima match Spark's).

    Contract (matching the distributed path's semantics): endpoints
    must be NON-NULL — a NULL node id is meaningless in a dedup pair
    graph, and min()/max() over None would raise. The input need not
    be symmetric: both endpoints are enumerated, so a node appearing
    only in column ``b`` still receives a label (`connected_components`
    doubles the edge list anyway; this just removes the hidden
    dependency on that)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        if r[a] is None or r[b] is None:
            raise ValueError("connected-components edge with NULL endpoint")
        ra, rb = find(r[a]), find(r[b])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {
        node: find(node)
        for node in list(parent)
        + [r[a] for r in rows]
        + [r[b] for r in rows]
    }


def connected_components(
    edges: DataFrame,
    src: str = "da",
    dst: str = "db",
    max_iter: int = 20,
    small_graph_edges: int = CC_SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Min-label connected components: every node gets the minimum
    node id reachable through the pair graph (the 'keep the earliest,
    drop the rest' dedup policy). Iterative — genuinely outside SQL.

    Hybrid execution, thresholded like a broadcast join: one bounded
    probe (limit N/2+1) samples the single-direction edge list, and if
    the DOUBLED list would fit in ``small_graph_edges`` rows the
    components are solved driver-side with union-find (which labels
    both endpoints itself, so the doubled relation is never built) —
    for dimension-sized graphs (ER name variants: ~10² nodes)
    distributed iteration is pure scheduling latency (measured 2.4s
    for a 16-node graph at sf0.1). ``small_graph_edges=0`` skips the
    probe for callers that know the graph is large. Larger graphs run
    min-label propagation WITH pointer jumping through the shared
    fixed-point kernel (`plans/iterative.py`): one shuffle join + one
    aggregate + one label self-join per round, rounds =
    O(log diameter) (label paths halve each round),
    localCheckpoint-per-round so plan depth stays O(1) — the standard
    100 TB large-graph CC formulation with no driver-side state. If
    max_iter is still exhausted unconverged the kernel RAISES rather
    than returning silently split components."""
    from ..plans.iterative import iterate_fixed_point

    # persisted BEFORE the probe: the probe job caches (most of) the
    # raw pair pipeline, so when the graph turns out large, the doubled
    # union below reads the cache instead of re-running the whole
    # upstream candidate generation per branch — at 10× sf0.1 the
    # near-dup pair pipeline costs ~52s and used to execute twice
    # (probe + union materialization): 81.7s → ~60s for dedup_clusters
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    if small_graph_edges > 0:
        # ONE probe job decides the path AND, for small graphs, already
        # returns the complete edge list: a limit(N+1) collect that
        # comes back within budget IS the whole relation — no separate
        # count. r9: the probe reads the SINGLE-direction list (half
        # the budget) — _cc_union_find labels both endpoints itself, so
        # the doubled relation is never built on the small path — and a
        # caller that knows the graph is large passes
        # small_graph_edges=0 to skip the probe job entirely.
        probe = raw.limit(small_graph_edges // 2 + 1).collect()
        if 2 * len(probe) <= small_graph_edges:
            node_type = raw.schema["a"].dataType.simpleString()
            labels_map = _cc_union_find(probe)
            raw.unpersist()
            return local_frame(
                edges.sparkSession,
                sorted(labels_map.items()),
                f"node {node_type}, label {node_type}",
            )
    both = raw.unionByName(
        raw.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    # materialize: the edge table joins into EVERY propagation round —
    # unpersisted, each round would re-run the whole upstream pair
    # pipeline (measured 6.3s → 4.1s at sf0.1 for dedup_clusters)
    both.count()
    # the doubled list is cached; the single-direction cache is now
    # redundant
    raw.unpersist()
    nodes = both.select(F.col("a").alias("node")).distinct()

    round_no = {"n": 0}  # sequential driver loop: a plain counter

    def propagate(state: DataFrame) -> DataFrame:
        round_no["n"] += 1
        labels = state.select("node", "label")
        neighbor_min = (
            both.join(labels, both.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # POINTER JUMPING alongside the one-hop min: also look up the
        # label of each node's current label (a self-join of the
        # label frame) and take the three-way minimum. One-hop-only
        # propagation needs diameter-many rounds, so a chain component
        # longer than max_iter came back SPLIT — silently, since the
        # kernel just stopped iterating (r13 review finding). With
        # label-of-label the label graph's paths halve every round:
        # convergence in O(log diameter) rounds, so max_iter=20 covers
        # ~10^6-node chains instead of 20-node ones. Invariant
        # preserved: label(v) always names a node in v's component
        # (initially v; neighbor labels and the label's own label stay
        # in-component; min of in-component ids is in-component), and
        # a fixed point of the one-hop term alone already forces
        # per-component constancy = the component minimum.
        # round 1 skips the self-join: labels are the identity
        # (label(v) = v), so label-of-label cannot tighten anything —
        # the join would be pure overhead on every CC call
        out = labels.join(
            neighbor_min, labels.node == neighbor_min.a, "left"
        )
        terms = [
            F.col("label"),
            F.coalesce("nbr_label", F.col("label")),
        ]
        if round_no["n"] > 1:
            parent = labels.select(
                F.col("node").alias("p_node"),
                F.col("label").alias("p_label"),
            )
            out = out.join(
                parent, labels.label == parent.p_node, "left"
            )
            terms.append(F.coalesce("p_label", F.col("label")))
        # carry the old label through the propagation join so the
        # kernel's convergence check is a filter on the SAME
        # materialized frame
        return out.select(
            "node",
            F.col("label").alias("old_label"),
            F.least(*terms).alias("label"),
        )

    final = iterate_fixed_point(
        nodes.withColumn("label", F.col("node")),
        propagate,
        max_iter,
        changed=F.col("label") != F.col("old_label"),
        # exhausting max_iter unconverged would mean SPLIT components
        # (wrong dedup clusters, leaking dataset splits) — fail loudly
        require_convergence=True,
    )
    labels = final.select("node", "label")
    # labels are localCheckpoint-materialized; the edge cache is no
    # longer needed by the returned lineage
    both.unpersist()
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment over the exact-Jaccard near-dup pairs:
    (doc_id, cluster_id = min doc_id in the component, keep flag).
    The pair generator applies the MAX_SHINGLE_DF frequency cap, so the
    edge count feeding label propagation is bounded (no Σ df(s)²
    blowup from boilerplate shingles at scale).
    Iterative (no SQL oracle); cluster validity — endpoints of every
    pair share a cluster, cluster id is the member minimum — is
    asserted in tests/test_ann_quality.py."""
    pairs = q_dedup_jaccard(spark, sf_dir).select("da", "db")
    labels = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


def q_dedup_survivors(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Quality-aware survivor selection over the near-dup clusters —
    the curation step that actually ships after clustering: exact
    dedup keeps an arbitrary copy, but near-dup clusters should keep
    the BEST copy (highest quality score, then longest, then smallest
    doc_id — a total deterministic order). Returns one row per corpus
    document: (doc_id, cluster_id, quality_score, n_chars,
    is_survivor); singletons survive themselves, so filtering
    is_survivor yields the post-dedup corpus directly.

    Plan shape at 100 TB: cluster labels come from the bounded CC
    kernel (df-capped edges), quality is a stateless codegen map, and
    the survivor rank is ONE window over the narrow (doc, cluster,
    score, len) projection — a single corpus shuffle on cluster_id,
    no join back to the fact table. The edge source is pluggable:
    the oracle-gated default is the exact-Jaccard verifier, while a
    corpus-scale run passes `pairs=` from the sub-quadratic MinHash-
    LSH generator (`q_dedup_minhash_lsh`) — the survivor semantics
    are edge-source-agnostic (tests pin the one-survivor-per-cluster
    invariant on the LSH edges too)."""
    from .text import q_quality_score

    if pairs is None:
        pairs = q_dedup_jaccard(spark, sf_dir).select("da", "db")
    labels = connected_components(pairs)
    q = q_quality_score(spark, sf_dir).select(
        "doc_id", "n_chars", "quality_score"
    )
    lab = q.join(labels, q.doc_id == labels.node, "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster_id"),
        "n_chars",
        "quality_score",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(),
        F.col("n_chars").desc(),
        F.col("doc_id"),
    )
    return lab.withColumn(
        "is_survivor", F.row_number().over(w) == 1
    )


def q_dedup_survivors_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_dedup_survivors` on its 100 TB edge source: the sub-quadratic
    MinHash-LSH pair generator instead of the exact-Jaccard verifier.
    This is the plan a corpus-scale run executes (band-bucketed
    candidate join, never all-pairs), benched as its own headline row
    so the survivor number reflects the scale path. Rows-only registry
    entry (the LSH hash family is engine-specific); semantics are
    gated by tests/test_ann_quality.py::
    test_survivors_invariants_hold_on_lsh_edges — one survivor per
    cluster, every doc exactly once, survivor maximizes
    (quality_score, n_chars, -doc_id).

    Measured floor (r14, sf0.1 local[32], min over 5 warm reps):
    ~1.9 s WITH the Σ bucket² enforcement priced in — the r13 count +
    anti-join form cost 2.44 s; r14 fuses the cap into the bucket
    groupBy itself (``_bucket_pairs``) and drops the now-single-
    consumer signature persist barrier, recovering most of the
    enforcement overhead (the r12 1.58 s number had NO cap at all).
    Decomposition: the full MinHash-LSH pipeline ~1.85 s (its own
    standalone bench row — the survivor entry deliberately re-executes
    it end-to-end so this row prices the COMPLETE corpus plan) + a
    ~0.1-0.2 s survivor increment (CC probe job + driver union-find
    on the candidate-scale edge graph + the quality join + ONE
    cluster window). The increment is job-scheduling latency on
    candidate-scale frames, not data volume — it does not grow with
    the corpus (the 10× smoke ratio tracks the LSH stage); caching
    the pair pipeline across calls would fake the headline (the bench
    rep would measure a cache hit, not the migration-scale plan)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("da", "db")
    return q_dedup_survivors(spark, sf_dir, pairs=pairs)


# ---------------------------------------------------------------------------
# leakage-free dataset splits + the dedup impact report — the two
# steps every training-data pipeline runs AFTER clustering: assign
# splits so near-duplicates never straddle train/eval, and account for
# what dedup removed
# ---------------------------------------------------------------------------

_SPLIT_HEX = "0123456789abcdef"
SPLIT_TEST_BUCKETS = 13  # bucket 0-12  → test  (~5.1% of 256)
SPLIT_VAL_BUCKETS = 26  # bucket 13-25 → val   (~5.1%); rest → train


def q_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the WHOLE near-dup cluster
    goes to one split, so a test document can never have a near-
    duplicate in train (the contamination mode document-level random
    splits are blind to — splitting the corpus before dedup clustering
    leaks ~|cluster|-1 twins of every eval doc into training). Split
    assignment is the deterministic md5 bucket of the CLUSTER id (the
    `hash_mod_sample` recipe applied one level up): every member
    inherits its cluster's bucket, singletons are their own cluster,
    and the same corpus splits identically on every engine/run.

    Plan at 100 TB: cluster labels from the bounded CC kernel
    (df-capped edges), one left join of the doc spine to the (small,
    cluster-count-sized) label frame, then a stateless md5/CASE map —
    no shuffle beyond what clustering already paid. Returns one row
    per corpus document: (doc_id, cluster_id, bucket, split)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = q_dedup_jaccard(spark, sf_dir).select("da", "db")
    labels = connected_components(pairs)
    lab = docs.join(labels, docs.doc_id == labels.node, "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    h = "md5(CAST(cluster_id AS STRING))"
    bucket = F.expr(
        f"CAST((instr('{_SPLIT_HEX}', substring({h}, 31, 1)) - 1) * 16"
        f" + (instr('{_SPLIT_HEX}', substring({h}, 32, 1)) - 1) AS INT)"
    )
    return lab.select(
        "doc_id",
        "cluster_id",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TEST_BUCKETS, F.lit("test"))
        .when(bucket < SPLIT_VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


ORACLE_SPLIT_BY_CLUSTER = f"""
WITH RECURSIVE
pairs AS (
  SELECT da, db FROM ({ORACLE_DEDUP_JACCARD}) j
),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION
  SELECT db AS a, da AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
),
labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
),
b AS (
  SELECT doc_id, cluster_id,
         CAST((strpos('{_SPLIT_HEX}',
                      substr(md5(CAST(cluster_id AS VARCHAR)), 31, 1)) - 1)
              * 16
              + (strpos('{_SPLIT_HEX}',
                        substr(md5(CAST(cluster_id AS VARCHAR)), 32, 1)) - 1)
              AS INTEGER) AS bucket
  FROM lab
)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < {SPLIT_TEST_BUCKETS} THEN 'test'
            WHEN bucket < {SPLIT_VAL_BUCKETS} THEN 'val'
            ELSE 'train' END AS split
FROM b
"""


def q_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup accounting — the report a curation run prints
    before anyone trusts it: documents and characters before/after
    quality-aware survivor selection, per source. Composes the
    survivor operator (cluster labels + quality ranking) with one
    join to the doc spine for `source` and a source-bounded aggregate
    (map-side combinable; output is |sources| rows). The character
    sums quantify what the reference's row-count compare can't: HOW
    MUCH corpus each source loses to near-duplication."""
    surv = q_dedup_survivors(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    keep = F.col("is_survivor").cast("long")
    return (
        surv.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_before"),
            F.sum(keep).alias("docs_after"),
            F.sum("n_chars").alias("chars_before"),
            F.sum(F.col("n_chars") * keep).alias("chars_after"),
        )
        .withColumn(
            "docs_removed", F.col("docs_before") - F.col("docs_after")
        )
    )


def _oracle_dedup_impact_report() -> str:
    """survivors oracle (verbatim, as a nested CTE subquery) + the
    source join + the per-source rollup; the integer SUMs carry the
    outer BIGINT cast (DuckDB SUM(int) is HUGEINT)."""
    return f"""
WITH s AS (SELECT * FROM ({_oracle_dedup_survivors()}) ss),
j AS (
  SELECT s.doc_id, s.n_chars, s.is_survivor, d.source
  FROM s JOIN documents d USING (doc_id)
)
SELECT source,
       COUNT(*) AS docs_before,
       CAST(SUM(CASE WHEN is_survivor THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_after,
       CAST(SUM(n_chars) AS BIGINT) AS chars_before,
       CAST(SUM(CASE WHEN is_survivor THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_after,
       COUNT(*) - CAST(SUM(CASE WHEN is_survivor THEN 1 ELSE 0 END)
                       AS BIGINT) AS docs_removed
FROM j GROUP BY source
"""


# ---------------------------------------------------------------------------
# exact-substring chunk dedup (Lee et al., "Deduplicating Training Data
# Makes Language Models Better": cross-document repeated substrings)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 20  # window length in tokens
CHUNK_STRIDE = 10  # 50% overlap so no cross-boundary repeat is missed


def q_dedup_substring_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring detection: hash overlapping
    20-token windows (stride 10) per document, keep hashes seen in >1
    distinct document, report per-doc how many of its chunks are shared
    and with how many partner docs.

    The suffix-array formulation of exact-substring dedup doesn't
    distribute; fixed-stride chunk hashing is the standard scalable
    approximation (window/stride trade recall for 2× hashes). Plan:
    explode windows → (hash, doc) distinct → df(hash) via one groupBy →
    semi-join back — same Σ-bounded shape as the shingle pipeline, and
    chunk hashes are near-unique so no frequency cap is needed (a
    boilerplate 20-gram IS the signal here).

    The token array is materialized through its own projection before
    the window transform — Catalyst inlines column expressions into
    every lambda call site, so an inline split() would re-tokenize per
    window (measured 1.4× end-to-end at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        "doc_id",
        tokenize(F.col("text")).alias("toks"),
    )
    toks = F.col("toks")
    n_windows = F.greatest(
        (F.size(toks) - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE) + 1,
        F.lit(0),
    ).cast("int")
    # Guard against n_windows == 0: Spark's sequence(0, -1) yields the
    # DESCENDING array [0, -1] (it never errors), which would fabricate
    # two chunk hashes per short (<CHUNK_TOKENS-token) doc while the
    # oracle's range(0, 0) yields none. Emit an empty window list to
    # match range() semantics.
    starts = F.when(
        n_windows > 0, F.sequence(F.lit(0), n_windows - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda k: F.md5(
            F.concat_ws(
                " ", F.slice(toks, k * CHUNK_STRIDE + 1, CHUNK_TOKENS)
            )
        ),
    )
    doc_chunks = (
        pre.select("doc_id", F.explode(chunks).alias("h")).distinct()
    )
    shared = (
        doc_chunks.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 1)
    )
    return (
        doc_chunks.join(shared, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_chunks"),
            F.max("df").alias("max_chunk_df"),
        )
    )


ORACLE_DEDUP_SUBSTRING = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents
),
chunks AS (
  -- floor (not //, which truncates toward zero): a doc shorter than
  -- CHUNK_TOKENS has floor((len-20)/10)+1 <= 0 windows on both
  -- engines; DuckDB's (len-20)//10 would fabricate one clamped short
  -- window for 11..19-token docs (caught at sf0.1, doc_ids 179/2523)
  SELECT DISTINCT doc_id,
    unnest(list_transform(
      range(0, greatest(CAST(floor((len(l) - {CHUNK_TOKENS}) /
                             {CHUNK_STRIDE}.0) AS INT) + 1, 0)),
      k -> md5(array_to_string(
             l[k * {CHUNK_STRIDE} + 1 : k * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
             ' ')))) AS h
  FROM toks
),
shared AS (
  SELECT h, COUNT(*) AS df FROM chunks GROUP BY h HAVING COUNT(*) > 1
)
SELECT doc_id, COUNT(*) AS n_shared_chunks, MAX(df) AS max_chunk_df
FROM chunks JOIN shared USING (h)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# benchmark decontamination check
# ---------------------------------------------------------------------------

# the "benchmark" probe n-grams a training corpus must not contain
# (stand-ins for eval-set 13-grams in a real decontamination pass)
PROBE_NGRAMS = [
    "stream spark window",
    "merge slow join",
    "the fast key",
    "vector join vector",
]


def q_decontamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: which documents contain any probe
    n-gram, and how many probes each hits. The probe set is tiny and
    broadcast as literal predicates (contains → codegen'd string
    search); one corpus scan, no join, no shuffle before the final tiny
    agg. At a real 100 TB run the probe set is thousands of 13-grams —
    same plan with the probes in a broadcast Bloom/array instead of
    unrolled predicates."""
    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    hits = sum(
        (norm.contains(p).cast("int") for p in PROBE_NGRAMS),
        start=F.lit(0),
    )
    return (
        docs.select("doc_id", "lang", hits.alias("n_probe_hits"))
        .filter(F.col("n_probe_hits") > 0)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_contaminated"),
            F.sum("n_probe_hits").cast("long").alias("total_hits"),
            F.max("n_probe_hits").alias("max_hits_per_doc"),
        )
    )


_SQL_HITS = " + ".join(
    "CAST(contains(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), "
    f"'{p}') AS INT)"
    for p in PROBE_NGRAMS
)

ORACLE_DECONTAMINATION = f"""
WITH scored AS (
  SELECT doc_id, lang, {_SQL_HITS} AS n_probe_hits
  FROM documents
)
SELECT lang, COUNT(*) AS n_contaminated,
       CAST(SUM(n_probe_hits) AS BIGINT) AS total_hits,
       MAX(n_probe_hits) AS max_hits_per_doc
FROM scored WHERE n_probe_hits > 0
GROUP BY lang
"""


# Join-based decontamination: the GPT-3 appendix-C recipe at corpus
# scale. N=8 keeps the gram long enough that a hit means a real shared
# run (not a common phrase) while staying non-vacuous on the fixture;
# the mod-7 doc_id split derives a ~14% held-out "benchmark" from the
# corpus itself so the join has a genuine eval side at every SF.
DECON_JOIN_N = 8
DECON_EVAL_MOD = 7


def q_decontamination_ngram_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination as an N-GRAM EQUI-JOIN (Brown et al.,
    GPT-3, NeurIPS 2020, Appendix C — overlap defined by shared
    13-grams; N=8 here for fixture density): the scale path that
    `q_decontamination_check`'s broadcast-predicate form promises.
    Every distinct 8-token gram of each corpus document joins against
    the distinct gram set of the held-out eval split (doc_id % 7 = 0);
    per language: (lang, n_contaminated, total_gram_hits,
    max_grams_per_doc). A training pipeline DROPS or flags the
    contaminated documents; this report is the audit that sizes the
    problem first.

    Scale shape (100 TB): the corpus side is one token-scale
    explode (array_distinct per doc keeps (doc, gram) unique — no
    DISTINCT exchange); the eval side of a real run is a few thousand
    benchmark documents, so its distinct-gram set BROADCASTS and the
    join is map-side — zero shuffle on the corpus stream before the
    per-doc hash aggregate. An eval set too large to broadcast falls
    back to the same plan with a hash-partitioned join on the gram —
    the plan Catalyst picks once the broadcast threshold trips."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "lang", tokenize(F.col("text")).alias("l")
    )
    grams = toked.select(
        "doc_id",
        "lang",
        F.explode(
            shingles_from_tokens(F.col("l"), DECON_JOIN_N)
        ).alias("g"),
    )
    eval_g = (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("g")
        .distinct()
    )
    corpus_hits = (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .join(F.broadcast(eval_g), "g")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_grams_hit"))
    )
    return corpus_hits.groupBy("lang").agg(
        F.count("*").alias("n_contaminated"),
        F.sum("n_grams_hit").cast("long").alias("total_gram_hits"),
        F.max("n_grams_hit").alias("max_grams_per_doc"),
    )


_DECON_GRAM_CHAIN = " || ' ' || ".join(
    f"l[i+{k}]" for k in range(DECON_JOIN_N)
)

ORACLE_DECONTAMINATION_JOIN = rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(
           range(1, greatest(len(l) - {DECON_JOIN_N - 1}, 0) + 1),
           i -> {_DECON_GRAM_CHAIN})) AS g
  FROM toks
),
ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
hits AS (
  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_grams_hit
  FROM sh JOIN ev USING (g)
  WHERE doc_id % {DECON_EVAL_MOD} <> 0
  GROUP BY 1, 2
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_contaminated,
       CAST(SUM(n_grams_hit) AS BIGINT) AS total_gram_hits,
       CAST(MAX(n_grams_hit) AS BIGINT) AS max_grams_per_doc
FROM hits GROUP BY lang
"""


# Transitive-closure oracle for the clustering: the *iterative Spark*
# formulation is the scale path; DuckDB's recursive CTE re-derives the
# same components exactly at oracle scale (UNION-dedup guarantees
# termination; fine for fixture-sized graphs, quadratic at worst in
# component size — which is why the engine side doesn't do it this way).
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
pairs AS (
  SELECT da, db FROM ({ORACLE_DEDUP_JACCARD}) j
),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION
  SELECT db AS a, da AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
)
SELECT node AS doc_id, MIN(r) AS cluster_id,
       MIN(r) = node AS keep
FROM reach GROUP BY node
"""


def _oracle_dedup_survivors() -> str:
    """clusters CTE (shared with ORACLE_DEDUP_CLUSTERS) + the
    quality-score formula + a survivor rank window — built lazily to
    reuse the text module's quality oracle verbatim."""
    from .text import ORACLE_QUALITY_SCORE

    return f"""
WITH RECURSIVE
pairs AS (
  SELECT da, db FROM ({ORACLE_DEDUP_JACCARD}) j
),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION
  SELECT db AS a, da AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
),
labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
q AS (SELECT doc_id, n_chars, quality_score FROM ({ORACLE_QUALITY_SCORE}))
SELECT doc_id, cluster_id, n_chars, quality_score,
       ROW_NUMBER() OVER (
         PARTITION BY cluster_id
         ORDER BY quality_score DESC, n_chars DESC, doc_id) = 1
         AS is_survivor
FROM (
  SELECT q.doc_id, COALESCE(labels.label, q.doc_id) AS cluster_id,
         q.n_chars, q.quality_score
  FROM q LEFT JOIN labels ON labels.node = q.doc_id
)
"""


# ---------------------------------------------------------------------------
# C2g: line-level dedup (C4 / MassiveText-style)
# ---------------------------------------------------------------------------


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level duplicate analysis (the C4/MassiveText curation
    pass: boilerplate lines — nav bars, cookie banners, license
    headers — repeat across documents and are dropped line-wise, not
    doc-wise). Per doc: total lines, lines whose normalized hash
    appears in >1 distinct document, and the keep decision (docs with
    >30% duplicated lines are dropped).

    Plan: explode lines → distinct (doc, line-hash) → one groupBy(h)
    for document frequency → semi-shaped join back → per-doc rollup.
    Same Σ-bounded shape as the chunk pipeline: two shuffles (hash,
    doc_id), no all-pairs product, line hashes near-unique so no
    frequency cap needed. Blank lines are not counted (split on
    newline, filter empties) — matching the oracle exactly."""
    docs = load_table(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(
            F.split(F.col("text"), r"\n"), lambda l: F.trim(l)
        ),
        lambda l: l != F.lit(""),
    )
    doc_lines = (
        docs.select(
            "doc_id", F.explode(lines).alias("line")
        )
        .select("doc_id", F.md5(F.lower(F.col("line"))).alias("h"))
        .distinct()
    )
    df_counts = doc_lines.groupBy("h").agg(F.count("*").alias("df"))
    per_doc = (
        doc_lines.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_dup_lines"),
            F.max("df").alias("max_line_df"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        "max_line_df",
        (F.col("n_dup_lines") * 100 <= F.col("n_lines") * 30).alias(
            "keep"
        ),
    )


ORACLE_DEDUP_LINES = r"""
WITH doc_lines AS (
  SELECT DISTINCT doc_id, md5(lower(line)) AS h
  FROM (
    SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
    FROM documents
  )
  WHERE line <> ''
),
dfc AS (SELECT h, COUNT(*) AS df FROM doc_lines GROUP BY h)
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_lines,
       MAX(df) AS max_line_df,
       SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 100 <= COUNT(*) * 30
         AS keep
FROM doc_lines JOIN dfc USING (h)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# repeated-passage strip (boilerplate removal with reconstruction)
# ---------------------------------------------------------------------------

#: strip a chunk when it appears in MORE than this many distinct
#: documents (df > cap ⇒ boilerplate; df ≤ cap ⇒ legitimately shared
#: or unique content). 2 keeps quote-of-one-other-doc pairs intact
#: while stripping template passages stamped across the corpus.
BOILERPLATE_MAX_DF = 2

#: non-overlapping chunk width in tokens. Narrower than the 20-token
#: detection windows of `q_dedup_substring_chunks` because a STRIP
#: must localize the boilerplate span it removes; non-overlapping so
#: every token belongs to exactly one chunk and reconstruction is a
#: plain ordered concat (overlapping windows would double-emit text).
STRIP_CHUNK_TOKENS = 8


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage removal WITH document reconstruction — the
    curation pass that keeps a document but deletes the template
    passages stamped across the corpus (C4/MassiveText drop whole
    lines; this is the chunk-granular form that works on unstructured
    single-line text too). `q_dedup_substring_chunks` only DETECTS
    shared substrings (overlapping windows, analysis output); this op
    edits: tokenize → non-overlapping STRIP_CHUNK_TOKENS-word chunks →
    document frequency per chunk hash (distinct docs) → occurrences
    with df > BOILERPLATE_MAX_DF are stripped → surviving chunks are
    reassembled in original order. Output is the normalized
    (lowercased, whitespace-collapsed) reconstruction — the form every
    hash-dedup pass downstream consumes anyway.

    Plan: explode chunks with position → one groupBy(h) for df over
    the DISTINCT (doc, h) pairs → equi-join back → one groupBy(doc)
    whose collect_list is DOCUMENT-sized (bounded by document length
    at any corpus scale — never corpus-sized; the array_sort on
    (ci, …) is deterministic because chunk index is unique per doc). Two
    shuffles (h, doc_id), no all-pairs product; chunk hashes are
    near-unique so no df cap is needed on the join (a boilerplate
    chunk's df is exactly the signal)."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n_chunks = F.ceil(
        F.size(toks) / F.lit(STRIP_CHUNK_TOKENS)
    ).cast("int")
    # guard the empty case: sequence(0, -1) yields [0, -1], never
    # empty (same hazard as shingles_from_tokens) — emit no indices
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        idx,
        lambda k: F.concat_ws(
            " ",
            F.slice(toks, k * STRIP_CHUNK_TOKENS + 1, STRIP_CHUNK_TOKENS),
        ),
    )
    occ = pre.select(
        "doc_id", F.posexplode(chunks).alias("ci", "chunk")
    ).withColumn("h", F.md5(F.col("chunk")))
    dfc = (
        occ.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
    )
    per = (
        occ.join(dfc, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (F.col("df") > BOILERPLATE_MAX_DF).cast("long")
            ).alias("n_stripped"),
            F.array_sort(
                F.collect_list(F.struct("ci", "df", "chunk"))
            ).alias("cs"),
        )
    )
    kept = F.filter(
        F.col("cs"), lambda x: x["df"] <= F.lit(BOILERPLATE_MAX_DF)
    )
    return per.select(
        "doc_id",
        "n_chunks",
        "n_stripped",
        F.array_join(
            F.transform(kept, lambda x: x["chunk"]), " "
        ).alias("kept_text"),
    )


ORACLE_BOILERPLATE_STRIP = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents
),
occ AS (
  SELECT doc_id, i - 1 AS ci,
         array_to_string(
           l[(i-1)*{STRIP_CHUNK_TOKENS}+1 : i*{STRIP_CHUNK_TOKENS}],
           ' ') AS chunk
  FROM toks,
       unnest(range(1,
         CAST(ceil(len(l) / {STRIP_CHUNK_TOKENS}.0) AS BIGINT) + 1
       )) AS t(i)
),
d AS (SELECT DISTINCT doc_id, md5(chunk) AS h FROM occ),
dfc AS (SELECT h, COUNT(*) AS df FROM d GROUP BY h),
j AS (
  SELECT occ.doc_id, occ.ci, occ.chunk, dfc.df
  FROM occ JOIN dfc ON md5(occ.chunk) = dfc.h
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN df > {BOILERPLATE_MAX_DF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stripped,
       coalesce(string_agg(
         CASE WHEN df <= {BOILERPLATE_MAX_DF} THEN chunk END,
         ' ' ORDER BY ci, df, chunk), '') AS kept_text
FROM j GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# within-document repeated-span scrub (r16 — VERDICT item 3)
# ---------------------------------------------------------------------------
#
# `q_boilerplate_strip` removes chunks repeated ACROSS documents; this
# is the complementary self-repetition pass of the Lee et al. dedup
# recipe ("Deduplicating Training Data Makes Language Models Better",
# ACL 2022 — public): spans repeated WITHIN one document (generation
# loops, scraper stutter, copy-pasted paragraphs) collapse to their
# first occurrence. `repetition_filter` DETECTS this pathology; this
# operator repairs it.

SELFREP_NGRAM = 3  # span length in tokens (overlapping windows)


def q_selfrep_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse within-document repeated token spans to their first
    occurrence. Semantics (deterministic, order-independent, both
    engines): every OVERLAPPING SELFREP_NGRAM-token span is keyed by
    its text; an occurrence whose start position is later than the
    span's first occurrence in the SAME document marks its
    SELFREP_NGRAM token positions as covered; the scrubbed document
    is the ordered join of uncovered tokens (set-union coverage, so
    overlapping repeats never double-remove). Output text is the
    normalized (lowercased, whitespace-collapsed) form every
    downstream hash-dedup pass consumes — same contract as
    `q_boilerplate_strip`.

    Plan (all token-scale, nothing corpus-quadratic; THREE exchanges
    total): one span explode → min-position window keyed (doc_id,
    span) → the repeats' covered positions collapse to ONE doc-keyed
    `collect_set` array (DOCUMENT-sized — ≤ doc length at any corpus
    scale) → one doc-keyed join back onto the tokenized frame, where
    an index-aware `filter` lambda drops covered tokens in place (no
    second token explode, no (doc, position) shuffle, no final
    collect — the reassembly is a stateless per-row array op; the
    first cut paid five exchanges through a token-position join).
    Set-membership order never matters (array_contains), so the
    unordered collect_set is deterministic. A doc with fewer than
    SELFREP_NGRAM tokens generates no spans and passes through
    unchanged; the `size(toks) >= 1` guard mirrors the oracle's
    omission of NULL-text docs (their unnest range is empty)."""
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 1)
    toks = F.col("toks")
    n = SELFREP_NGRAM
    spans = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = pre.select(
        "doc_id", F.posexplode(spans).alias("ci", "g")
    ).select("doc_id", (F.col("ci") + 1).alias("pos"), "g")
    wmin = Window.partitionBy("doc_id", "g")
    rep = grams.withColumn("fp", F.min("pos").over(wmin)).filter(
        F.col("pos") > F.col("fp")
    )
    covered = (
        rep.select(
            "doc_id",
            F.explode(
                F.array(*[F.col("pos") + F.lit(d) for d in range(n)])
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("cov"))
    )
    joined = pre.join(covered, "doc_id", "left").withColumn(
        "cov", F.coalesce("cov", F.array().cast("array<int>"))
    )
    kept = F.filter(
        toks, lambda w, i: ~F.array_contains(F.col("cov"), i + 1)
    )
    return joined.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


ORACLE_SELFREP_SCRUB = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         array_to_string(l[i : i + {SELFREP_NGRAM - 1}], ' ') AS g
  FROM toks,
       unnest(range(1, greatest(len(l) - {SELFREP_NGRAM - 1}, 0) + 1))
         AS t(i)
),
firsts AS (
  SELECT doc_id, g, MIN(pos) AS fp FROM grams GROUP BY doc_id, g
),
rep AS (
  SELECT gr.doc_id, gr.pos
  FROM grams gr
  JOIN firsts f ON gr.doc_id = f.doc_id AND gr.g = f.g
               AND gr.pos > f.fp
),
cov AS (
  SELECT DISTINCT doc_id, pos + d AS p
  FROM rep, unnest(range(0, {SELFREP_NGRAM})) AS dd(d)
),
tp AS (
  SELECT doc_id, i AS p, l[i] AS w
  FROM toks, unnest(range(1, len(l) + 1)) AS t(i)
),
marked AS (
  SELECT tp.doc_id, tp.p, tp.w, cov.p IS NOT NULL AS rm
  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN NOT rm THEN w END, ' ' ORDER BY p),
                '') AS scrubbed_text
FROM marked GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# C2f: semantic dedup (SemDeDup-style, within-cluster cosine)
# ---------------------------------------------------------------------------

# fixture-calibrated: within-cluster cosine 99th pct ≈ 0.295 at sf0.01,
# so 0.30 yields a real (non-empty, non-everything) duplicate set. A
# production run tunes this against a held-out duplicate sample.
SEMDEDUP_THRESHOLD = 0.30

# Within one cluster the pair join IS exact all-pairs, so the same
# bound as the corpus-level exact verifier applies per cluster: a
# 100k-vector cluster is 10^10 pairs — a skew bomb that AQE cannot
# split (it's one join key). Enforced, not assumed: upstream IVF
# sub-splitting (operators.similarity / kmeans_fit) is the fix.
MAX_SEMANTIC_CLUSTER = MAX_EXACT_VECTORS


def _max_cluster_size(emb: DataFrame) -> int:
    """Largest non-null k-means cluster in the embeddings table.

    Null labels are excluded: the semantic-dedup pair join is an inner
    equi-join on ``label``, which drops null-label rows, so a large
    unlabeled population must not cause a spurious guard refusal.

    One label-column count per call, never cached: its cost is
    negligible next to the pair join it guards, and a cache keyed on
    the fixture is state the driver would have to bound and own."""
    return (
        emb.filter(F.col("label").isNotNull())
        .groupBy("label")
        .count()
        .agg(F.max("count"))
        .first()[0]
        or 0
    )


def q_dedup_semantic(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_cluster: int = MAX_SEMANTIC_CLUSTER,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:
    2303.09540): compare embeddings only WITHIN a coarse cluster
    (`label` = k-means cell), marking each vector dominated by an
    earlier (lower vec_id) same-cluster vector with cosine ≥ T.

    This is the scale path the exact O(n²) `dedup_embedding` verifier
    gates toward: pair count is Σ|cluster|², not |corpus|². The plan
    shuffles both sides once on `label` (at 100 TB the corpus is
    bucketed by cluster id, making this join co-located and
    shuffle-free); a skewed mega-cluster is refused (see the
    ``max_cluster`` guard below) — the Σ|cluster|² cost bound is an
    enforced precondition, not an assumed input contract — and is
    handled upstream by IVF sub-splitting. Cosine goes through the same
    sequential double fold as the similarity operators, so the value —
    and therefore the ≥-threshold keep set — is bit-identical to the
    oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    # guard: one map-side-combinable count per label (reads only the
    # label column off parquet), negligible next to the pair join it
    # protects against. Null-label rows never reach the inner equi-join
    # below, so they must not trip the guard.
    biggest = _max_cluster_size(emb)
    if biggest > max_cluster:
        raise ValueError(
            f"dedup_semantic compares all pairs WITHIN a cluster; the "
            f"largest cluster has {biggest} vectors (> {max_cluster}), "
            f"i.e. ~{biggest * biggest:,} pairs on one un-splittable "
            f"join key. Sub-split mega-clusters upstream (kmeans_fit "
            f"with larger k, or similarity_ivf cells), or pass "
            f"max_cluster={biggest} to opt in explicitly."
        )
    emb = emb.withColumn(
        # norm ONCE per vector (O(n·d)), not once per pair (O(pairs·d));
        # cos = dot/(na·nb) with na = sqrt(dot(a,a)) is the identical
        # float expression tree to cosine_col, so values stay
        # bit-identical to the oracle — measured 4.7s → ~1.6s at sf0.1
        "nrm",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))),
    )
    a = emb.select(
        "label",
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        "label",
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, ["label"]).filter(F.col("va") < F.col("vb"))
    dominated = pairs.select(
        "label",
        "va",
        "vb",
        (
            dot_double(F.col("ea"), F.col("eb"))
            / (F.col("na") * F.col("nb"))
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= F.lit(SEMDEDUP_THRESHOLD))
    return dominated.groupBy("vb", "label").agg(
        F.min("va").alias("dup_of"),
        F.max("cos_sim").alias("max_cos"),
        F.count("*").alias("n_dominators"),
    )


ORACLE_DEDUP_SEMANTIC = f"""
SELECT b.vec_id AS vb, b.label,
       MIN(a.vec_id) AS dup_of,
       MAX(list_cosine_similarity(a.embedding::DOUBLE[],
                                  b.embedding::DOUBLE[])) AS max_cos,
       COUNT(*) AS n_dominators
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      >= {SEMDEDUP_THRESHOLD}
GROUP BY b.vec_id, b.label
"""


# ---------------------------------------------------------------------------
# Deterministic driver-gate twins for the rows-only LSH entries.
#
# The LSH pipelines themselves cannot carry a SQL oracle (recall < 1 and
# the hash family is Spark-specific), but two of their properties ARE
# deterministic and SQL-exact, so the driver can hash-gate them:
#
# 1. GUARANTEED RECALL on normalized exact duplicates: two docs with
#    identical normalized text and >= 3 tokens have identical shingle
#    sets, hence identical MinHash signatures / SimHash bits, hence a
#    guaranteed band collision and a passing verify stage. Zero such
#    pairs may be missed — not a statistical floor, an invariant.
# 2. VERIFY-STAGE PRECISION: every emitted pair carries the exact
#    i/u (or hamming) used by its threshold filter; recomputing the
#    predicate over the output must yield zero violations.
#
# The twins emit one row of those counts; the oracle computes the
# normalized-dup pair count exactly and pins the violation counts at 0.
# ---------------------------------------------------------------------------


def _norm_dup_pairs(docs: DataFrame) -> DataFrame:
    """(da, db) pairs of docs with identical normalized text and >= 3
    tokens (the shingleable subset LSH is *guaranteed* to catch).
    Group sizes are duplicate-cluster sizes (tiny), so the equality
    self-join is bounded; at 100 TB this is the exact-dedup groupBy
    plus a within-group pair expansion."""
    norm = norm_text(F.col("text"))
    keyed = (
        docs.select(
            "doc_id",
            F.md5(norm).alias("h"),
            F.size(tokenize(F.col("text"))).alias("nt"),
        )
        .filter(F.col("nt") >= 3)
        .select("doc_id", "h")
    )
    a = keyed.select(F.col("h"), F.col("doc_id").alias("da"))
    b = keyed.select(F.col("h").alias("h2"), F.col("doc_id").alias("db"))
    return a.join(
        b, (F.col("h") == F.col("h2")) & (F.col("da") < F.col("db"))
    ).select("da", "db")


#: CTE prefix yielding `c(n_norm_dup_pairs)` — the exact count of
#: shingleable (>= 3 token) normalized-duplicate pairs.
_ORACLE_NORM_DUP_CTES = r"""
WITH el AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM documents
  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3
),
g AS (SELECT h, COUNT(*) AS n FROM el GROUP BY h HAVING COUNT(*) > 1),
c AS (
  SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT)
           AS n_norm_dup_pairs
  FROM g
)
"""


def q_dedup_minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic gate over the MinHash-LSH pipeline (see block
    comment above): normalized-dup recall must be total, and the exact
    verify stage must leave zero below-threshold pairs. One-row
    output ⇒ drained eagerly and the pair cache RELEASED
    (`drain_one_row` — the persist-release discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = q_dedup_minhash_lsh(spark, sf_dir).persist()
    lsh.count()
    norm_pairs = _norm_dup_pairs(docs)
    missed = norm_pairs.join(
        lsh.select("da", "db"), ["da", "db"], "left_anti"
    )
    below = lsh.filter(
        F.col("i") * 1000 < F.lit(JACCARD_MILLI) * F.col("u")
    )
    n_pairs = norm_pairs.agg(
        F.count("*").cast("long").alias("n_norm_dup_pairs")
    )
    n_missed = missed.agg(F.count("*").cast("long").alias("n_norm_missed"))
    n_below = below.agg(
        F.count("*").cast("long").alias("n_below_threshold")
    )
    report = n_pairs.crossJoin(F.broadcast(n_missed)).crossJoin(
        F.broadcast(n_below)
    )
    return drain_one_row(report, lsh)


ORACLE_DEDUP_MINHASH_LSH_VERIFIED = f"""
{_ORACLE_NORM_DUP_CTES}
SELECT n_norm_dup_pairs,
       CAST(0 AS BIGINT) AS n_norm_missed,
       CAST(0 AS BIGINT) AS n_below_threshold
FROM c
"""


def q_dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic gate over the SimHash pipeline: identical
    normalized text ⇒ identical 64-bit signature ⇒ hamming 0 ⇒ banded
    candidate ⇒ emitted. Zero misses allowed; zero emitted pairs may
    exceed the hamming radius. One-row output ⇒ drained eagerly and
    the pair cache RELEASED (`drain_one_row`)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = q_dedup_simhash(spark, sf_dir).persist()
    sh.count()
    norm_pairs = _norm_dup_pairs(docs)
    missed = norm_pairs.join(
        sh.select("da", "db"), ["da", "db"], "left_anti"
    )
    over = sh.filter(F.col("hamming") > 3)
    n_pairs = norm_pairs.agg(
        F.count("*").cast("long").alias("n_norm_dup_pairs")
    )
    n_missed = missed.agg(F.count("*").cast("long").alias("n_norm_missed"))
    n_over = over.agg(
        F.count("*").cast("long").alias("n_hamming_violations")
    )
    report = n_pairs.crossJoin(F.broadcast(n_missed)).crossJoin(
        F.broadcast(n_over)
    )
    return drain_one_row(report, sh)


ORACLE_DEDUP_SIMHASH_VERIFIED = f"""
{_ORACLE_NORM_DUP_CTES}
SELECT n_norm_dup_pairs,
       CAST(0 AS BIGINT) AS n_norm_missed,
       CAST(0 AS BIGINT) AS n_hamming_violations
FROM c
"""


# ---------------------------------------------------------------------------
# LSH recall audit (the dedup twin of q_ann_recall_report)
# ---------------------------------------------------------------------------


def _md5_minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) banded MinHash frame built from an
    ORACLE-REPLAYABLE hash family: permutation i of shingle s is the
    top 60 bits of md5(i ‖ ':' ‖ s) (15 hex digits → non-negative
    BIGINT via base-16 conv — the `dataset_split` idiom, identical in
    DuckDB as ('0x' ‖ hex)::BIGINT), band keys are md5 over the
    band's '|'-joined minima. The PRODUCTION pipeline hashes with
    xxhash64 (JVM-side, ~10× cheaper) which DuckDB cannot replay —
    this family exists so the recall AUDIT itself can be value-hash
    exact end-to-end; the banding geometry (N_HASHES=16, 4 bands of
    BAND_SIZE=4) is the production geometry, so the measured recall
    audits the production design point. Same plan shape as
    `minhash_signatures`: one explode → groupBy(doc_id) with 16 MIN
    aggregates (map-side partial mins), band explode after."""
    sh = _shingle_df(docs)
    mins = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(i)), F.col("s"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"m{i}")
        for i in range(N_HASHES)
    ]
    per = sh.groupBy("doc_id").agg(*mins)
    return per.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(
                                        f"m{b * BAND_SIZE + r}"
                                    ).cast("string")
                                    for r in range(BAND_SIZE)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(N_HASHES // BAND_SIZE)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")


def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly LSH-dedup index audit — the dedup-family twin of
    `q_ann_recall_report`: recall of the banded-MinHash candidate
    generator against the EXACT Jaccard ≥ 0.5 truth set
    (`q_dedup_jaccard`, df-capped universe), as one
    (n_true_pairs, n_candidate_pairs, n_hits, recall_milli) row.
    The production answer to "how many true near-dup pairs does the
    LSH pass miss?" — the number that decides whether the banding
    geometry needs another band before a 100 TB dedup run trusts it.

    Composition-priced by design: re-runs the exact verifier AND the
    LSH candidate pipeline (auditing cached results would fake the
    audit). The candidate side uses the oracle-replayable md5 hash
    family (`_md5_minhash_bands`) at the production banding geometry
    and the production `_bucket_pairs` kernel (same [2, LSH_MAX_BUCKET]
    gate, same single-shuffle window-gated plan), so the whole report
    is value-hash exact — unlike the production xxhash pipeline whose
    pair set no SQL oracle can state (rows-only twins gate that one).
    Empty truth set ⇒ empty report (recall undefined), via the same
    HAVING-count guard shape as the ANN audit. At 100 TB: truth side
    is the Σ df²-bounded inverted index, candidate side one banded
    shuffle; the join of the two pair frames is pair-keyed and
    semi-shaped — no new scale hazard beyond its two components."""
    docs = load_table(spark, sf_dir, "documents")
    # persist both pair frames: each feeds its own count AND the hit
    # join — lazily the full upstream pipeline would run twice. The
    # report is FOUR bounded scalars, so they are drained eagerly
    # (counts — the sanctioned driver shape) and both corpus-scale
    # caches are RELEASED before returning, instead of staying pinned
    # for the session (r15 review finding); the returned frame is a
    # one-row local literal, which the driver/bench consume like any
    # other result.
    # r17 NOTE (guide §2.6, measured and REJECTED): overlapping the
    # truth and candidate materializations on a thread pool (the
    # treatment `ann_retrain_report` received this round) was
    # implemented and interleave-A/B'd at sf0.1 — no win (old
    # 3.9-4.9 s vs overlapped 4.7-5.0 s in steal-matched windows).
    # Unlike the retrain lifecycle, whose driver-synchronous
    # training/install chains leave the cluster idle, both sides
    # here are single cluster-saturating jobs: there is no idle
    # capacity for the second job to back-fill, and the extra
    # thread adds (slight) overhead. Kept sequential.
    truth = q_dedup_jaccard(spark, sf_dir).select("da", "db").persist()
    n_t = truth.count()
    cand = _bucket_pairs(_md5_minhash_bands(docs)).persist()
    n_c = cand.count()
    n_h = truth.join(cand, ["da", "db"], "left_semi").count()
    truth.unpersist()
    cand.unpersist()
    lit = lambda v: F.lit(int(v)).cast("long")  # noqa: E731
    report = spark.range(1).select(
        lit(n_t).alias("n_true_pairs"),
        lit(n_c).alias("n_candidate_pairs"),
        lit(n_h).alias("n_hits"),
        # integer milli-recall: non-negative operands, so python //
        # ≡ Spark div ≡ DuckDB // (the repo-wide truncation discipline)
        lit((n_h * 1000) // n_t if n_t else 0).alias("recall_milli"),
    )
    # empty truth set ⇒ empty report (recall undefined), matching the
    # oracle's HAVING-count guard
    return report.where(F.lit(n_t > 0))


def _oracle_lsh_recall_report() -> str:
    """The audit oracle replays the md5-MinHash banding CTE-for-CTE
    (16 per-shingle permutation hashes → per-doc minima → 4 band keys
    → window-gated buckets → intra-bucket pairs) and embeds the
    Jaccard truth query verbatim, so the truth definition can never
    drift from `q_dedup_jaccard`'s oracle."""
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
WITH truth AS (SELECT da, db FROM ({ORACLE_DEDUP_JACCARD})),
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(l)-2, 0) + 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
  FROM toks
),
mh AS (
  -- doc_id IS NOT NULL mirrors _bucket_pairs' up-front NULL drop:
  -- the kernel excludes NULL-keyed rows BEFORE its window count, so
  -- a NULL doc in a bucket at exactly LSH_MAX_BUCKET must not tip
  -- the oracle's size gate either
  SELECT doc_id, {perm} FROM sh
  WHERE doc_id IS NOT NULL GROUP BY doc_id
),
bands AS ({band_rows}),
sized AS (
  SELECT doc_id, band, bkey,
         COUNT(*) OVER (PARTITION BY band, bkey) AS bn
  FROM bands
),
gated AS (
  SELECT doc_id, band, bkey FROM sized
  WHERE bn >= 2 AND bn <= {LSH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM gated a
  JOIN gated b ON a.band = b.band AND a.bkey = b.bkey
              AND a.doc_id < b.doc_id
),
hits AS (
  SELECT t.da, t.db FROM truth t
  JOIN cand c ON t.da = c.da AND t.db = c.db
)
SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
       (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
       COUNT(*) AS n_hits,
       (COUNT(*) * 1000) // (SELECT COUNT(*) FROM truth)
         AS recall_milli
FROM hits
HAVING (SELECT COUNT(*) FROM truth) > 0
"""


# ---------------------------------------------------------------------------
# cross-source contamination matrix (round 7)
# ---------------------------------------------------------------------------


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-contamination matrix over normalized content
    hashes: for every unordered source pair, how many distinct
    normalized documents appear in BOTH (mirror-site and scraped-
    aggregator detection — the per-pair view exact dedup's global
    counts cannot give). Shape: hashes collapse to their DISTINCT
    (h, source) pairs first, so the per-hash pair explosion is
    bounded by |sources|² — never by duplicate multiplicity — and
    the final matrix is |sources|²-sized. One extra hash-keyed
    shuffle over exact dedup; no all-pairs document join anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    hs = docs.select(F.md5(norm).alias("h"), "source").distinct()
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared_docs"))
    )


ORACLE_CROSS_SOURCE_OVERLAP = r"""
WITH hs AS (
  SELECT DISTINCT
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_docs
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# dedup tuning telemetry: threshold sweep + cluster-size histogram
# ---------------------------------------------------------------------------
#
# The two tables a curation team reads before PICKING a dedup config:
# how much of the corpus dies at each Jaccard cutoff (the
# aggressiveness knob), and how duplicate mass distributes across
# cluster sizes (a few mega-clusters vs many pairs — different
# root causes, different fixes). Both ride the existing Σ-bounded
# capped inverted index; neither adds a new quadratic term.

# grid positioned around the fixture's observed knee (pair Jaccards
# cluster at 0.8-1.0; below that only incidental one-shared-shingle
# pairs exist) so the curve actually moves across the sweep
SWEEP_MILLI = [500, 700, 800, 850, 900, 950, 1000]


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup volume vs Jaccard cutoff: for each threshold in
    {SWEEP_MILLI}, the number of qualifying pairs and the number of
    distinct documents touched by at least one such pair; thresholds
    with zero pairs still report a zero row (left join from the
    literal threshold frame). Scale: pair volume is Σ-bounded by the
    df cap, the fan-out is ×7×2 (each qualifying pair explodes into
    its two endpoints), and BOTH statistics come from ONE aggregate
    over one pass of the pair frame — n_pairs = count/2 (exact, the
    endpoint count is even by construction) and n_dup_docs = the
    distinct-endpoint count — so the expensive inverted-index join is
    never consumed twice."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _pair_intersections(docs)
    thr = F.explode(
        F.array(*[F.lit(t) for t in SWEEP_MILLI])
    ).alias("thr_milli")
    hits = pairs.select("da", "db", "i", "na", "nb", thr).filter(
        F.col("i") * 1000
        >= F.col("thr_milli") * (F.col("na") + F.col("nb") - F.col("i"))
    )
    per_thr = (
        hits.select(
            "thr_milli",
            F.explode(F.array(F.col("da"), F.col("db"))).alias("doc"),
        )
        .groupBy("thr_milli")
        .agg(
            F.expr("count(*) div 2").alias("n_pairs"),
            F.countDistinct("doc").alias("n_dup_docs"),
        )
    )
    frame = spark.range(1).select(thr).join(per_thr, "thr_milli", "left")
    zero = F.lit(0).cast("long")
    return frame.select(
        "thr_milli",
        F.coalesce(F.col("n_pairs"), zero).alias("n_pairs"),
        F.coalesce(F.col("n_dup_docs"), zero).alias("n_dup_docs"),
    )


_SWEEP_VALUES = ", ".join(f"({t})" for t in SWEEP_MILLI)

# the un-thresholded pair frame: ORACLE_DEDUP_JACCARD's CTE chain
# minus its final WHERE (kept in lockstep by the shared constants)
_ORACLE_PAIRS_ALL = rf"""
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
rare AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}
),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT da, db, i, sa.n AS na, sb.n AS nb
  FROM inter
  JOIN sz sa ON sa.doc_id = da
  JOIN sz sb ON sb.doc_id = db
)
"""

ORACLE_DEDUP_THRESHOLD_SWEEP = rf"""
{_ORACLE_PAIRS_ALL},
thr (thr_milli) AS (VALUES {_SWEEP_VALUES}),
hits AS (
  SELECT t.thr_milli, p.da, p.db
  FROM pairs p JOIN thr t
    ON p.i * 1000 >= t.thr_milli * (p.na + p.nb - p.i)
),
ends AS (
  SELECT thr_milli, da AS doc FROM hits
  UNION ALL SELECT thr_milli, db FROM hits
),
agg AS (
  SELECT thr_milli, COUNT(*) // 2 AS n_pairs,
         COUNT(DISTINCT doc) AS n_dup_docs
  FROM ends GROUP BY 1
)
SELECT t.thr_milli,
       CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(a.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
FROM thr t
LEFT JOIN agg a ON a.thr_milli = t.thr_milli
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: one row per observed cluster
    size with the number of clusters and documents at that size — the
    table that distinguishes a corpus of pairwise near-dups from one
    dominated by a few template mega-clusters (different root causes,
    different fixes). Composes the production cluster assignment
    (`q_dedup_clusters`: capped Jaccard pairs → pointer-jumping CC) —
    composition-priced like dedup_impact_report — then two tiny
    combinable aggregates; the exchange after the cluster groupBy
    carries one row per cluster."""
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


ORACLE_DEDUP_CLUSTER_SIZES = f"""
WITH RECURSIVE
pairs AS (
  SELECT da, db FROM ({ORACLE_DEDUP_JACCARD}) j
),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION
  SELECT db AS a, da AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
),
labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
cs AS (SELECT label, COUNT(*) AS cluster_size FROM labels GROUP BY label)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM cs GROUP BY cluster_size
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "cross_source_overlap": q_cross_source_overlap,
    "dedup_semantic": q_dedup_semantic,
    "dedup_lines": q_dedup_lines,
    "boilerplate_strip": q_boilerplate_strip,
    "selfrep_scrub": q_selfrep_scrub,
    "lsh_recall_report": q_lsh_recall_report,
    "dedup_substring_chunks": q_dedup_substring_chunks,
    "decontamination_check": q_decontamination_check,
    "decontamination_ngram_join": q_decontamination_ngram_join,
    "dedup_exact_norm": q_dedup_exact_norm,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_containment": q_dedup_containment,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_lsh_verified": q_dedup_minhash_lsh_verified,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_verified": q_dedup_simhash_verified,
    "dedup_embedding": q_dedup_embedding,
    "dedup_clusters": q_dedup_clusters,
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "dedup_survivors": q_dedup_survivors,
    "split_by_cluster": q_split_by_cluster,
    "dedup_impact_report": q_dedup_impact_report,
    # rows-only by design (LSH edge source): invariant-gated in
    # tests/test_ann_quality.py, benched as the scale-path headline
    "dedup_survivors_lsh": q_dedup_survivors_lsh,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "cross_source_overlap": ORACLE_CROSS_SOURCE_OVERLAP,
    "dedup_semantic": ORACLE_DEDUP_SEMANTIC,
    "dedup_lines": ORACLE_DEDUP_LINES,
    "boilerplate_strip": ORACLE_BOILERPLATE_STRIP,
    "selfrep_scrub": ORACLE_SELFREP_SCRUB,
    "lsh_recall_report": _oracle_lsh_recall_report(),
    "dedup_substring_chunks": ORACLE_DEDUP_SUBSTRING,
    "decontamination_check": ORACLE_DECONTAMINATION,
    "decontamination_ngram_join": ORACLE_DECONTAMINATION_JOIN,
    "dedup_exact_norm": ORACLE_DEDUP_EXACT_NORM,
    "dedup_jaccard": ORACLE_DEDUP_JACCARD,
    "dedup_containment": ORACLE_DEDUP_CONTAINMENT,
    # dedup_minhash_lsh / dedup_simhash: rows-only (hash-family-specific);
    # their *_verified twins carry the deterministic SQL-exact gate
    "dedup_minhash_lsh_verified": ORACLE_DEDUP_MINHASH_LSH_VERIFIED,
    "dedup_simhash_verified": ORACLE_DEDUP_SIMHASH_VERIFIED,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "dedup_threshold_sweep": ORACLE_DEDUP_THRESHOLD_SWEEP,
    "dedup_cluster_sizes": ORACLE_DEDUP_CLUSTER_SIZES,
    "dedup_survivors": _oracle_dedup_survivors(),
    "split_by_cluster": ORACLE_SPLIT_BY_CLUSTER,
    "dedup_impact_report": _oracle_dedup_impact_report(),
}

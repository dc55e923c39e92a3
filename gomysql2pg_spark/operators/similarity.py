"""Similarity-search operators (SURVEY.md §2.D C3) on `embeddings`.

- Brute-force exact top-k: broadcast the (small) query set against the
  full corpus — one scan, no shuffle of the big side, partitioned-window
  rank. The cosine is an exact sequential double fold, bit-identical to
  the DuckDB oracle (verified).
- IVF-style partitioned search: restrict candidate generation to the
  query's coarse cell (here the `label` column stands in for a k-means
  cell id) — the classic recall/cost trade; still SQL-expressible, so
  it keeps a full oracle.
- Multi-table random-hyperplane LSH: a seeded Gaussian plane matrix
  (one Arrow-batched matmul per batch) yields L bucket keys per vector;
  bucket-join candidates, exact rerank. The 100 TB path (no all-pairs
  term); rows-only check (hash-family-specific) with recall/cost gates
  in tests/test_ann_quality.py.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import index_store
from ..catalog import load_table
from ..functions.consume import drain_one_row, local_frame
from .dedup import dot_double

TOP_K = 10
QUERY_MOD = 100  # query set = vec_id % 100 == 0


def _l2(col):
    """sqrt(<v,v>) — precomputed ONCE per row before any pair join, so
    the corpus-side norm is O(n), not O(n × queries). The expression is
    the same sqrt(dot(v,v)) the naive per-pair form evaluates, so the
    cosine value is bit-identical."""
    return F.sqrt(dot_double(col, col))


def _queries_df(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for the query subset.
    Queries are broadcast; corpus is scanned once; rank via window
    partitioned by query (scales with #queries × corpus, the exact
    baseline every ANN variant is measured against)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    q = _queries_df(emb).withColumn("qnrm", _l2(F.col("qe")))
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


ORACLE_SIMILARITY_TOPK = f"""
SELECT * FROM (
  SELECT q.vec_id AS qid, e.vec_id AS nid,
         list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]) DESC,
                    e.vec_id) AS rank
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
) WHERE rank <= {TOP_K}
"""


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: candidates restricted to the query's
    coarse cell (`label` = inverted-list id). At 100 TB the corpus is
    partitioned/bucketed BY cell, so a query touches 1/nlist of the
    data — this plan expresses exactly that pruning. Exact rerank inside
    the cell."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
        F.col("nrm").alias("qnrm"),
    )
    cand = emb.join(
        F.broadcast(q),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
    )
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )


ORACLE_SIMILARITY_IVF = f"""
SELECT * FROM (
  SELECT q.vec_id AS qid, e.vec_id AS nid,
         list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]) DESC,
                    e.vec_id) AS rank
  FROM embeddings q
  JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# random-hyperplane LSH (scale path): multi-table
# ---------------------------------------------------------------------------

K_BITS = 12  # bits (hyperplanes) per table
N_TABLES = 32  # independent tables; recall ≈ 1-(1-p^k)^L (with probe-1:
#               p^k + k·p^(k-1)(1-p) per table). k=12/L=32 balances
#               ~10% candidate cost against ~0.6 recall on the
#               weak-signal fixture (true-neighbor cos ≈ 0.3-0.4)
DIM = 64
LSH_SEED = 0x5EED


def lsh_bucket_keys_udf():
    """Arrow-batched bucket computation: one (batch × DIM) @ (DIM × L·k)
    matmul per Arrow batch, sign bits packed into one long per table
    (key = table·2^k + bits). Planes are a seeded Gaussian matrix —
    deterministic across sessions/executors without shipping state; a
    single sign-flip of 128 expression-tree projections would compile to
    an enormous codegen unit, so this is the honest Pandas-UDF case.
    Re-measured r18 (the r14 rejection was on a noisy box): a JVM
    stack-of-dot-products variant (384-row plane model table,
    broadcast crossJoin, zip_with+aggregate fold, one bit-pack
    aggregate) produced identical rows and ran ~3× SLOWER in a
    steal-matched interleaved A/B at sf0.1 (pandas 2.45-3.5 s vs JVM
    7.5-11.6 s per rep) — the per-row fold over 64 floats × 384 planes
    costs far more in codegen'd row-at-a-time arithmetic than one
    BLAS matmul per Arrow batch plus the boundary crossing (guide
    §4.2: hand whole batches to vectorized native code). KEPT.
    Multi-table is what makes hyperplane LSH usable on weak-signal data:
    one k-bit table has recall p^k; L tables lift it to 1-(1-p^k)^L
    while candidate cost stays Σ bucket² per table."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bucket_keys(emb: pd.Series) -> pd.Series:
        rng = np.random.default_rng(LSH_SEED)
        planes = rng.standard_normal((DIM, N_TABLES * K_BITS))
        vals = emb.to_numpy()
        # NULL-safe: one NULL embedding in a 100 TB corpus must not
        # kill the job (np.vstack over a mixed batch raises). A NULL
        # vector gets NULL keys — explode() then emits no bucket rows,
        # so it simply can't be a candidate, matching how dot_double
        # degrades every other similarity operator to NULL.
        mask = np.fromiter(
            (v is not None for v in vals), dtype=bool, count=len(vals)
        )
        out = np.empty(len(vals), dtype=object)
        if mask.any():
            mat = np.vstack(vals[mask])  # (n_valid, DIM)
            bits = (mat @ planes) > 0  # (n_valid, L*k)
            weights = (1 << np.arange(K_BITS)).astype(np.int64)
            keys = np.empty((mat.shape[0], N_TABLES), dtype=np.int64)
            for t in range(N_TABLES):
                chunk = bits[:, t * K_BITS : (t + 1) * K_BITS]
                keys[:, t] = (chunk @ weights) + (t << K_BITS)
            for j, i in enumerate(np.flatnonzero(mask)):
                out[i] = keys[j]
        return pd.Series(list(out))

    return bucket_keys


def multiprobe_keys(bkeys_col):
    """Query-side multi-probe expansion: for each table key, also probe
    the K_BITS single-bit-flip neighbors (asymmetric — the corpus keeps
    exact keys, only queries fan out). Lifts per-table hit probability
    from p^k to p^k + k·p^(k-1)(1-p) at (k+1)× probe cost on the tiny
    query side only."""
    return F.flatten(
        F.transform(
            bkeys_col,
            lambda key: F.array(
                key,
                *[
                    # flip bit b of the low k bits, keep the table tag
                    key.bitwiseXOR(F.lit(1 << b))
                    for b in range(K_BITS)
                ],
            ),
        )
    )


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN with query-side multi-probe:
    candidates = corpus vectors sharing ANY of the N_TABLES=32 K_BITS=12-bit bucket
    keys (or a 1-bit-flip neighbor) with the query, exact cosine
    rerank, top-5. At 100 TB the corpus is written bucketed by key so a
    query touches L·(k+1) buckets (≈ L·(k+1)·n/2^k rows), never the
    full scan. Rows-only check (plane family is engine-specific);
    recall vs the exact top-k and candidate cost are asserted in
    tests/test_ann_quality.py."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    keyed = emb.withColumn(
        "bkey", F.explode(lsh_bucket_keys_udf()(F.col("embedding")))
    )
    q = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
            F.explode(
                multiprobe_keys(lsh_bucket_keys_udf()(F.col("embedding")))
            ).alias("qbkey"),
        )
    )
    cand = (
        keyed.join(
            F.broadcast(q),
            (F.col("bkey") == F.col("qbkey"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "qe", "qnrm", "vec_id", "embedding", "nrm")
        .dropDuplicates(["qid", "vec_id"])
    )
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )


def q_similarity_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norm / arithmetic primitives (zip_with + aggregate):
    L2 norm, L1 norm, dot with self — the building blocks the ANN ops
    compose; exact-fold parity with the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        dot_double(e, e).alias("dot_self"),
        F.sqrt(dot_double(e, e)).alias("l2_norm"),
        F.aggregate(
            e, F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))
        ).alias("l1_norm"),
    )


ORACLE_SIMILARITY_NORMS = """
SELECT vec_id,
  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS dot_self,
  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding::DOUBLE[], x -> abs(x))),
              (acc, x) -> acc + x) AS l1_norm
FROM embeddings
"""


def q_similarity_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic driver gate over the hyperplane-LSH ANN pipeline.
    The neighbor SET is plane-family-specific (rows-only on the base
    entry), but three contracts are checkable with a SQL-exact oracle:

    - n_queries: the query-subset cardinality, cross-engine exact;
    - n_rank_overflow: no query may return more than 5 neighbors or a
      non-contiguous rank sequence (recomputed from the output) — 0;
    - recall_ok: recall@5 vs the exact brute-force top-5 stays above
      the 0.3 floor `tests/test_ann_quality.py` pins (measured
      0.48-0.54 on the fixture family) — the driver-side red flag if
      bucket quality ever collapses.

    One-row output ⇒ drained eagerly and the neighbor cache RELEASED
    (`drain_one_row` — the persist-release discipline).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    lsh = q_similarity_lsh(spark, sf_dir).persist()
    lsh.count()
    n_queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).agg(
        F.count("*").cast("long").alias("n_queries")
    )
    per_q = lsh.groupBy("qid").agg(
        F.count("*").alias("n"),
        F.max("rank").alias("max_rank"),
        F.min("rank").alias("min_rank"),
    )
    overflow = per_q.filter(
        (F.col("n") > 5)
        | (F.col("max_rank") != F.col("n"))
        | (F.col("min_rank") != 1)
    ).agg(F.count("*").cast("long").alias("n_rank_overflow"))
    exact5 = q_similarity_topk(spark, sf_dir).filter(F.col("rank") <= 5)
    hits = exact5.join(
        lsh.select("qid", "nid"), ["qid", "nid"], "left_semi"
    )
    recall = (
        exact5.agg(F.count("*").alias("n_exact"))
        .crossJoin(
            F.broadcast(hits.agg(F.count("*").alias("n_hit")))
        )
        .select(
            (F.col("n_hit") * 10 >= F.col("n_exact") * 3).alias(
                "recall_ok"
            )
        )
    )
    report = n_queries.crossJoin(F.broadcast(overflow)).crossJoin(
        F.broadcast(recall)
    )
    return drain_one_row(report, lsh)


ORACLE_SIMILARITY_LSH_VERIFIED = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(0 AS BIGINT) AS n_rank_overflow,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
"""


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN (round 7): the compression scale path
# ---------------------------------------------------------------------------
#
# IVF prunes WHICH vectors a query touches; PQ shrinks WHAT is stored
# and scanned: each 64-dim vector compresses to PQ_M small codes
# (nearest sub-centroid per 16-dim subspace), and query scoring reads
# only the codes plus a per-query distance table of PQ_M × |labels|
# entries (asymmetric distance computation, Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011). At 100 TB
# the corpus-side state is |corpus| × PQ_M bytes instead of
# |corpus| × dim floats (16× here), encoding is one broadcast join +
# argmin, and scoring is PQ_M broadcast lookups + a FIXED-ORDER 4-term
# float sum — deterministic across engines because every sub-distance
# is the exact sequential fold and the sum is a left-associated
# expression, never a groupBy SUM whose order floats.

PQ_M = 4  # subspaces
PQ_SUBDIM = 16  # dims per subspace (PQ_M × PQ_SUBDIM = 64)
PQ_K = 8  # sub-centroids per subspace (seed: vec_id < PQ_K)
PQ_TOP_K = 5
# FIXED Lloyd iterations per sub-codebook (determinism by count, like
# IVF_TRAIN_ITERS). 1, not more: the r14 smoke-scale probe
# (scripts/pq_training_probe.py) measured recall@5 0.511 → 0.764 at
# one iteration and ~0.69 at 2-5 (see _train_pq_model)
PQ_TRAIN_ITERS = 1

# Quantizer training runs on a deterministic md5 HASH-SAMPLE of the
# corpus, not the full corpus (r14 VERDICT item: at 100 TB a Lloyd
# pass per iteration over all vectors is a full-corpus scan ×iters;
# standard practice trains k-means quantizers on a fixed sample).
# The sample is part of the MODEL SPEC — the same predicate appears
# verbatim in the oracle's training CTEs, so hash-exact replay
# survives: keep vectors whose 31st md5 hex digit of CAST(vec_id AS
# STRING) is even (the hash_mod_sample idiom; md5-of-string is
# byte-identical across Spark and DuckDB, and a NULL vec_id hashes
# to NULL → excluded by BOTH engines). Recall measurement at the 10×
# smoke corpus (scripts/pq_training_probe.py --sampled): full-train
# recall@5 0.764 sits INSIDE the 0.69-0.84 spread of six equally-
# valid half/quarter-samples, i.e. the half-sample model is
# statistically indistinguishable from the full-train model while
# the training scans halve. TRAIN_SAMPLE_MOD = 1 disables sampling
# (behavioral tests that need every synthetic vector in the training
# set monkeypatch this).
TRAIN_SAMPLE_MOD = 2
_TS_HEX = "0123456789abcdef"


def _train_sample_pred() -> str:
    """The training-sample predicate, shared engine/oracle (instr and
    strpos are the respective 1-based position builtins; the string
    form below parses in BOTH engines via instr on Spark — the oracle
    builders substitute strpos)."""
    return (
        f"(instr('{_TS_HEX}', substring(md5(CAST(vec_id AS STRING)),"
        f" 31, 1)) - 1) % {TRAIN_SAMPLE_MOD} = 0"
    )


def _train_sample_pred_sql() -> str:
    return (
        f"(strpos('{_TS_HEX}', substr(md5(CAST(vec_id AS VARCHAR)),"
        f" 31, 1)) - 1) % {TRAIN_SAMPLE_MOD} = 0"
    )


def _train_sample(emb: DataFrame) -> DataFrame:
    """The (sampled) training corpus: a stateless zero-shuffle filter,
    so every Lloyd pass scans 1/TRAIN_SAMPLE_MOD of the vectors.
    NULL vec_ids are excluded UNCONDITIONALLY (not just as a side
    effect of the md5 predicate at MOD>1): the oracle training CTEs
    key assignments by vec_id, and a training-set member without a
    key is engine-divergent by construction. This also makes the
    trained model independent of whether the caller pre-filters NULL
    ids itself (r15 review finding: at MOD=1 a NULL-filtering caller
    trained a different model than an unfiltered one)."""
    emb = emb.filter(F.col("vec_id").isNotNull())
    if TRAIN_SAMPLE_MOD <= 1:
        return emb
    return emb.filter(F.expr(_train_sample_pred()))


def _sub_sq_dist(a, b):
    """Exact-order squared L2 on (already-sliced) sub-vectors — the
    strict left fold shared with the clustering operators."""
    from .clustering import _sq_dist

    return _sq_dist(a, b)


def _codebook_frame(spark: SparkSession, rows: list) -> DataFrame:
    """The (m, cid, ce) broadcastable PQ codebook table of `rows`."""
    return local_frame(spark, rows, "m int, cid int, ce array<double>")


def _train_pq_model(emb: DataFrame, seed_by_hash: bool = False) -> list:
    """[(m, cid, [subdim doubles])]: PQ_M × PQ_K sub-centroid slices,
    trained with PQ_TRAIN_ITERS deterministic Lloyd iterations per
    subspace from the vec_id < PQ_K seeds (iters=0 ⇒ the r12 seed
    form) or, with `seed_by_hash`, the PQ_K smallest-md5(vec_id) rows
    — the retrain path's distribution-covering seeding: low-id seeds
    are frozen in the ORIGINAL corpus region, so a model retrained
    over drifted data could never allocate resolution to the new
    region; hash order is deterministic and oracle-replayable.

    Measurement history (scripts/pq_training_probe.py): r12 measured
    training at fixture scale (sf0.01, 500 vectors) and rejected it —
    recall@5 0.12 → 0.16 → 0.08 over 1-3 iterations, noise. The r13
    brief asked for a re-measurement at smoke scale, and the verdict
    REVERSES there: on the 10× replicated corpus (~20k vectors)
    recall@5 vs exact cosine moves 0.511 (seeds) → 0.764 (ONE Lloyd
    iteration), then declines to ~0.69 at 2-5 iterations (over-
    fragmented cells re-introduce code-distance ties that break
    against the id tie-order). So: PQ_TRAIN_ITERS = 1.

    Training is the clustering.py E/M discipline run per subspace,
    held on the driver like `_train_coarse` (per iteration: ONE
    broadcast-join argmin pass + ONE (PQ_M × PQ_K)-row sufficient-
    statistics collect — the collect moves model-sized rows, never
    data rows), replayed by the oracle (`_pq_train_sql`): bigint
    MICRO-unit sums (order-independent), one (s / 1e6) / c division
    chain, (d, cid) assignment tie-break, empty cells keep their
    previous sub-centroid. At 100 TB the cost is PQ_M broadcast-join
    argmin passes per iteration over the (sampled) training corpus —
    the same plan shape as encoding itself."""
    if seed_by_hash:
        seeds = (
            emb.filter(F.col("vec_id").isNotNull())
            .select(
                F.col("vec_id").cast("int").alias("cid"),
                F.col("embedding").cast("array<double>").alias("e"),
                F.md5(F.col("vec_id").cast("string")).alias("hk"),
            )
            .orderBy(F.col("hk"), F.col("cid"))
            .limit(PQ_K)
            .collect()
        )
    else:
        seeds = (
            emb.filter(F.col("vec_id") < PQ_K)
            .select(
                F.col("vec_id").cast("int").alias("cid"),
                F.col("embedding").cast("array<double>").alias("e"),
            )
            .limit(PQ_K)
            .collect()
        )
    model: dict = {}
    for r in seeds:
        e = [float(x) for x in r["e"]]
        for m in range(PQ_M):
            model[(m, r["cid"])] = e[
                m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM
            ]
    if not model:  # empty corpus: no seeds, no model
        return []
    spark = emb.sparkSession
    aggs = [F.count("*").alias("c")] + [
        F.sum(
            F.round(
                F.element_at("se", p + 1).cast("double") * 1e6
            ).try_cast("bigint")
        ).alias(f"s{p}")
        for p in range(PQ_SUBDIM)
    ]
    train = _train_sample(emb)
    for _ in range(PQ_TRAIN_ITERS):
        cb = _codebook_frame(
            spark, [(m, cid, ce) for (m, cid), ce in sorted(model.items())]
        )
        sub = train.select(
            "vec_id",
            F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias(
                "m"
            ),
            F.col("embedding").alias("e"),
        ).withColumn(
            "se", F.expr(f"slice(e, 1 + {PQ_SUBDIM} * m, {PQ_SUBDIM})")
        )
        scored = sub.join(F.broadcast(cb), "m").select(
            "vec_id",
            "m",
            "cid",
            "se",
            _sub_sq_dist(F.col("se"), F.col("ce")).alias("d"),
        )
        # (d, cid) argmin per (vector, subspace); cid is unique per
        # candidate so the carried se never breaks a tie
        best = (
            scored.groupBy("vec_id", "m")
            .agg(F.min(F.struct("d", "cid", "se")).alias("b"))
            .select(
                "m",
                F.col("b.cid").alias("cid"),
                F.col("b.se").alias("se"),
            )
        )
        stats = (
            best.groupBy("m", "cid")
            .agg(*aggs)
            .limit(PQ_M * PQ_K)
            .collect()
        )
        for r in stats:
            model[(int(r["m"]), int(r["cid"]))] = [
                ((r[f"s{p}"] or 0) / 1e6) / r["c"]
                for p in range(PQ_SUBDIM)
            ]
    return [(m, cid, ce) for (m, cid), ce in sorted(model.items())]


def _pq_codes(
    emb: DataFrame, cb: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, [carry...,] c0..c3): each vector's nearest sub-centroid
    per subspace — encode via broadcast codebook join + min-by-struct
    argmin, then pivot the PQ_M codes wide (fixed tiny m domain).
    `carry` threads extra per-vector columns (e.g. the IVF coarse-cell
    id) through the encode so the caller needs no second join against
    the corpus; they are functionally dependent on vec_id, so adding
    them to the grouping keys changes no group."""
    sub = emb.select(
        "vec_id",
        *carry,
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        F.col("embedding").alias("e"),
    ).withColumn(
        "se", F.expr(f"slice(e, 1 + {PQ_SUBDIM} * m, {PQ_SUBDIM})")
    )
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        *carry,
        "m",
        "cid",
        _sub_sq_dist(F.col("se"), F.col("ce")).alias("d"),
    )
    best = (
        scored.groupBy("vec_id", *carry, "m")
        .agg(F.min(F.struct("d", "cid")).alias("b"))
        .select("vec_id", *carry, "m", F.col("b.cid").alias("code"))
    )
    return best.groupBy("vec_id", *carry).agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("code"))).alias(f"c{m}")
            for m in range(PQ_M)
        ]
    )


def _probe_cells(q: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Multi-probe coarse ranking shared by the whole IVF family
    (q_similarity_ivfpq, q_hard_negative_mining_ivf,
    q_bitext_margin_pairs_ivf): every query scores every trained
    centroid — tiny × tiny, and the all-pairs meet is keyed on a
    column-derived constant (x % 1, always 0 but not foldable) so it
    compiles to a BroadcastHashJoin of the nlist-row model table,
    never a nested loop — in deterministic (cd, cell) order, keeping
    the top `nprobe` as (qid, qcell). `q` needs (qid, qe) columns;
    extras pass through untouched. ONE definition: before r15 three
    operators carried byte-identical copies of this block, the drift
    class the module warns about for the money casts (review
    finding)."""
    qc = (
        q.withColumn("_x", F.col("qid") % F.lit(1))
        .join(
            F.broadcast(
                cent.withColumn(
                    "_x", F.col("cell").cast("bigint") % F.lit(1)
                )
            ),
            "_x",
        )
        .select(
            "qid",
            "cell",
            _sub_sq_dist(F.col("qe"), F.col("ce")).alias("cd"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("cd").asc(), F.col("cell").asc()
    )
    return (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("qid", F.col("cell").alias("qcell"))
    )


def _adc_distance_table(q: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query PQ distance table (qid, m, cid, d): slice each query
    into its PQ_M sub-vectors and meet the broadcast codebook — the
    (PQ_M × PQ_K)-row model table every ADC consumer looks up."""
    qsub = q.select(
        "qid",
        F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m"),
        F.col("qe").alias("e"),
    ).withColumn(
        "qs", F.expr(f"slice(e, 1 + {PQ_SUBDIM} * m, {PQ_SUBDIM})")
    )
    return qsub.join(F.broadcast(cb), "m").select(
        "qid",
        "m",
        "cid",
        _sub_sq_dist(F.col("qs"), F.col("ce")).alias("d"),
    )


def _score_with_adc(
    cands: DataFrame, dt: DataFrame, topk: int = PQ_TOP_K
) -> DataFrame:
    """(qid, nid, adc_micro, rank) from a candidate frame carrying
    (qid, vec_id, c0..c{PQ_M-1}): PQ_M broadcast distance-table
    lookups, the FIXED left-associated ADC sum, the (adc, nid)
    tie-break, top `topk` per query (default PQ_TOP_K; the refine
    stage asks for the deeper PQ_REFINE_R pool). ONE definition
    shared by the exhaustive (`q_similarity_pq`) and IVF-probed
    (`q_similarity_ivfpq`) paths, so a tie-break or quantization fix
    lands in both (r13 review deduplication)."""
    scored = cands
    for m in range(PQ_M):
        dm = dt.filter(F.col("m") == m).select(
            F.col("qid").alias(f"q{m}"),
            F.col("cid").alias(f"k{m}"),
            F.col("d").alias(f"d{m}"),
        )
        scored = scored.join(
            F.broadcast(dm),
            (F.col("qid") == F.col(f"q{m}"))
            & (F.col(f"c{m}") == F.col(f"k{m}")),
        )
    adc = F.col("d0")
    for m in range(1, PQ_M):
        adc = adc + F.col(f"d{m}")
    w = Window.partitionBy("qid").orderBy(adc.asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(adc * 1e6).try_cast("bigint").alias("adc_micro"),
            "rank",
        )
    )


def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k: encode the corpus to PQ codes, build
    each query's (m, cid) distance table (PQ_M × |labels| rows, broadcast),
    score every vector as the left-associated sum of its PQ_M table
    lookups, and rank per query. Returns (qid, nid, adc_micro, rank)
    — micro-rounded ADC keeps the published value integer-exact. The
    codebook is the one the fixture's IVF index tree serves
    (`_served_model`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    served = _served_model(spark, sf_dir, emb)
    if served is None:  # empty corpus: no codebook, zero neighbors
        return local_frame(
            spark, [], "qid bigint, nid bigint, adc_micro bigint, rank int"
        )
    cb = served[1]
    codes = _pq_codes(emb, cb)
    q = _queries_df(emb)
    dt = _adc_distance_table(q, cb)
    cands = codes.crossJoin(F.broadcast(q.select("qid"))).filter(
        F.col("vec_id") != F.col("qid")
    )
    return _score_with_adc(cands, dt)


_PQ_FOLD = """list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),
                       s -> (s[1] - s[2]) * (s[1] - s[2]))),
      (acc, x) -> acc + x)"""

def _pq_train_sql(
    iters: int = None,
    src: str = "embeddings",
    enc_src: str | None = None,
    sfx: str = "",
    seed_by_hash: bool = False,
) -> str:
    """CTE chain replaying `_train_pq_model` exactly — the subspace
    twin of `_coarse_train_sql`: pcb0 = seed sub-slices; per iteration
    t, pa{t} = (d, cid)-argmin assignment per (vector, subspace) under
    pcb{t-1}, ps{t} = bigint-micro sufficient statistics, pcb{t} =
    means with empty cells keeping their previous sub-centroid.
    Requires the `ms` CTE; emits `psub` and ends with
    `cb AS (SELECT … FROM pcb{iters})` so consumers keep their shape.
    `src` is the TRAINING corpus, `enc_src` (default src) the corpus
    `psub` slices for ENCODING — the retrain report trains the frozen
    model on the base corpus but encodes base+delta; `sfx`/
    `seed_by_hash` as in `_coarse_train_sql`."""
    if iters is None:
        iters = PQ_TRAIN_ITERS
    if enc_src is None:
        enc_src = src
    # ptr = the sub-slices of the (sampled) training corpus — the
    # subspace twin of _coarse_train_sql's `tr` (identity sans
    # predicate when sampling is disabled); psub covers the ENCODE
    # corpus because consumers encode every vector with the codebook
    ptr_where = " WHERE vec_id IS NOT NULL" + (
        f" AND {_train_sample_pred_sql()}"
        if TRAIN_SAMPLE_MOD > 1
        else ""
    )
    if seed_by_hash:
        seed_sql = f"""pcb0{sfx} AS (
  SELECT m, CAST(vec_id AS INT) AS cid,
         embedding[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)] AS ce
  FROM (SELECT vec_id, embedding FROM {src} WHERE vec_id IS NOT NULL
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}), ms
)"""
    else:
        seed_sql = f"""pcb0{sfx} AS (
  SELECT m, CAST(vec_id AS INT) AS cid,
         embedding[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)] AS ce
  FROM {src}, ms WHERE vec_id < {PQ_K}
)"""
    ctes = [
        f"""psub{sfx} AS (
  SELECT vec_id, m,
         embedding[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)] AS se
  FROM {enc_src}, ms
)""",
        f"""ptr{sfx} AS (
  SELECT vec_id, m,
         embedding[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)] AS se
  FROM (SELECT vec_id, embedding FROM {src}{ptr_where}), ms
)""",
        seed_sql,
    ]
    for t in range(1, iters + 1):
        prev = f"pcb{t - 1}{sfx}"
        ctes.append(
            f"""pa{t}{sfx} AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_PQ_FOLD.format(a='s.se', b='c.ce')}, c.cid) AS rn
    FROM ptr{sfx} s JOIN {prev} c USING (m))
  WHERE rn = 1
)"""
        )
        ctes.append(
            f"""ps{t}{sfx} AS (
  SELECT m, cid, i AS pos,
         SUM(TRY_CAST(ROUND(s.se[i] * 1e6) AS BIGINT)) AS sm,
         COUNT(*) AS c
  FROM pa{t}{sfx} JOIN ptr{sfx} s USING (vec_id, m)
  CROSS JOIN range(1, {PQ_SUBDIM + 1}) t(i)
  GROUP BY m, cid, i
)"""
        )
        ctes.append(
            f"""pcb{t}{sfx} AS (
  SELECT p.m, p.cid, COALESCE(x.ce, p.ce) AS ce
  FROM {prev} p LEFT JOIN (
    SELECT m, cid, LIST(CAST(COALESCE(sm, 0) AS DOUBLE) / 1e6 / c
                        ORDER BY pos) AS ce
    FROM ps{t}{sfx} GROUP BY m, cid
  ) x USING (m, cid)
)"""
        )
    ctes.append(f"cb{sfx} AS (SELECT m, cid, ce FROM pcb{iters}{sfx})")
    return ",\n".join(ctes)


ORACLE_SIMILARITY_PQ = f"""
WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
{_pq_train_sql()},
sub AS (
  SELECT vec_id, m, se FROM psub
),
enc AS (
  SELECT vec_id, m, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id, m
           ORDER BY {_PQ_FOLD.format(a='se', b='ce')}, cid) AS rn
  FROM sub JOIN cb USING (m)
),
codes AS (
  SELECT vec_id,
         MAX(CASE WHEN m = 0 THEN cid END) AS c0,
         MAX(CASE WHEN m = 1 THEN cid END) AS c1,
         MAX(CASE WHEN m = 2 THEN cid END) AS c2,
         MAX(CASE WHEN m = 3 THEN cid END) AS c3
  FROM enc WHERE rn = 1 GROUP BY vec_id
),
q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
dt AS (
  SELECT qid, m, cid,
         {_PQ_FOLD.format(
             a=f'qe[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)]',
             b='ce')} AS d
  FROM q, cb
),
scored AS (
  SELECT q.qid, c.vec_id AS nid,
         (((t0.d + t1.d) + t2.d) + t3.d) AS adc
  FROM codes c CROSS JOIN q
  JOIN dt t0 ON t0.qid = q.qid AND t0.m = 0 AND t0.cid = c.c0
  JOIN dt t1 ON t1.qid = q.qid AND t1.m = 1 AND t1.cid = c.c1
  JOIN dt t2 ON t2.qid = q.qid AND t2.m = 2 AND t2.cid = c.c2
  JOIN dt t3 ON t3.qid = q.qid AND t3.m = 3 AND t3.cid = c.c3
  WHERE c.vec_id <> q.qid
)
SELECT qid, nid, TRY_CAST(ROUND(adc * 1e6) AS BIGINT) AS adc_micro, rank
FROM (
  SELECT qid, nid, adc,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
  FROM scored
) WHERE rank <= {PQ_TOP_K}
"""


# ---------------------------------------------------------------------------
# IVFADC (round 10; multi-probe round 11; TRAINED coarse quantizer
# round 12): the composed corpus-scale PQ search
# ---------------------------------------------------------------------------

IVF_NPROBE = 2  # coarse cells probed per query (deterministic ranking)
IVF_NLIST = 8  # trained coarse cells (seeds: vec_id < IVF_NLIST)
IVF_TRAIN_ITERS = 2  # FIXED Lloyd iterations — determinism by count,
#                      not convergence, so the SQL oracle stays exact


def _train_coarse(emb: DataFrame, seed_by_hash: bool = False) -> list:
    """Train the IVF coarse quantizer: IVF_TRAIN_ITERS Lloyd
    iterations composed from the clustering.py E/M halves (Jégou et
    al., TPAMI 2011 §V — IVFADC assumes a TRAINED coarse quantizer;
    the r11 stand-in `label` cell left recall@5 at chance level).
    Returns [(cell, [centroid doubles])] — a k × dim model held on the
    DRIVER between iterations (the MLlib k-means shape: per iteration
    ONE map over the `_train_sample` hash-sample of the corpus —
    `_assign_cells`, a projection against the broadcast model row —
    + ONE narrow (nlist × dim)-row shuffle of sufficient statistics;
    the collect moves nlist × dim numbers, never data rows). Seeds
    come from the FULL corpus (vec_id < nlist — deterministic with or
    without sampling); only the per-iteration Lloyd scans are
    sampled, so training cost is corpus/TRAIN_SAMPLE_MOD per
    iteration.

    Every step is engine-deterministic, so the DuckDB oracle replays
    training exactly: Σx accumulates bigint MICRO-units
    (order-independent under any partitioning/AQE re-plan), the mean
    divides once as (CAST(s AS DOUBLE) / 1e6) / c (Python's s/1e6/c
    performs the identical nearest-double conversion + left-assoc
    IEEE divisions), assignment ties break (dist2, cell), and a cell
    that loses all members keeps its previous centroid. Training is
    the index build's offline step: `_ivf_index` runs it once per
    tree, and every later caller reads the model from the tree."""
    dim = PQ_M * PQ_SUBDIM
    # both collects are MODEL-sized, never data-sized: seeds are the
    # filter vec_id < IVF_NLIST (≤ nlist rows; hash-seeding is a
    # TakeOrdered of the same bound), statistics are one row per cell
    # (≤ nlist rows) — the explicit limit documents the bound and
    # keeps the driver-collection lint honest
    if seed_by_hash:
        seed_rows = (
            emb.filter(F.col("vec_id").isNotNull())
            .select(
                F.col("vec_id").cast("int").alias("cell"),
                F.col("embedding").cast("array<double>").alias("ce"),
                F.md5(F.col("vec_id").cast("string")).alias("hk"),
            )
            .orderBy(F.col("hk"), F.col("cell"))
            .limit(IVF_NLIST)
            .collect()
        )
    else:
        seed_rows = (
            emb.filter(F.col("vec_id") < IVF_NLIST)
            .select(
                F.col("vec_id").cast("int").alias("cell"),
                F.col("embedding").cast("array<double>").alias("ce"),
            )
            .limit(IVF_NLIST)
            .collect()
        )
    cent = {
        int(r["cell"]): [float(x) for x in r["ce"]] for r in seed_rows
    }
    if not cent:  # empty corpus: no seeds, no model
        return []
    # sufficient statistics as ONE groupBy(cell) with dim per-
    # component sum columns — no posexplode: a generator row-multiplies
    # the corpus dim× and Catalyst re-evaluates the (nlist × dim-FLOP)
    # assignment expression per GENERATED row (measured 7.8 s vs 0.3 s
    # for this form at sf0.1); here the expression runs once per input
    # row as the grouping key
    aggs = [F.count("*").alias("c")] + [
        F.sum(
            F.round(
                F.element_at("embedding", p + 1).cast("double") * 1e6
            ).try_cast("bigint")
        ).alias(f"s{p}")
        for p in range(dim)
    ]
    train = _train_sample(emb)
    for _ in range(IVF_TRAIN_ITERS):
        assigned = _assign_cells(train, sorted(cent.items()))
        stats = (
            assigned.groupBy("cell").agg(*aggs).limit(IVF_NLIST).collect()
        )
        for r in stats:
            # a component sum can be NULL if every member's value was
            # non-finite (poisoned vectors) — contribute 0, not a crash
            cent[int(r["cell"])] = [
                ((r[f"s{p}"] or 0) / 1e6) / r["c"] for p in range(dim)
            ]
    return sorted(cent.items())


def _fixture_key(sf_dir: str):
    """Identity of the embeddings fixture + the training hyperparams:
    `catalog.fixture_stat`'s (path, shallow (name, size, mtime_ns)
    listing) — the staleness-proof, URI-capable fixture key — extended
    with the coarse AND sub-codebook hyperparams so retuning either
    quantizer re-keys the index tree."""
    from ..catalog import fixture_stat

    stat = fixture_stat(sf_dir, "embeddings")
    if stat is None:
        return None
    return (
        *stat,
        IVF_NLIST,
        IVF_TRAIN_ITERS,
        PQ_K,
        PQ_TRAIN_ITERS,
        TRAIN_SAMPLE_MOD,
    )


def _index_name(sf_dir: str) -> str:
    """Canonical installed-tree basename for the fixture's IVFADC code
    table — the ONE place the (fixture key, recipe tag) → name recipe
    lives. Four call sites previously inlined the md5 verbatim (r16
    review): bumping the recipe tag in only some copies would silently
    split the index namespace — appends/compactions targeting a
    different tree than the one queries serve. Raises on an unkeyable
    fixture (no stable identity → nothing can be installed)."""
    fk = _fixture_key(sf_dir)
    if fk is None:
        raise ValueError("unkeyable fixture: no installable index")
    key = hashlib.md5(repr((fk, "ivf-codes-v2")).encode()).hexdigest()[:12]
    return f"spark_graft_ivf_{key}"


def _open_index(sf_dir, index_root, filesystem, spark_root):
    return index_store.open_tree(
        _index_name(sf_dir), index_root, filesystem, spark_root
    )


def _ivf_index(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
):
    """(model, codes): the fixture's trained IVF-PQ model and its
    per-cell PQ code table, MATERIALIZED TO DISK partitioned by cell —
    this is the real IVFADC architecture, not just a cache: building
    the index (coarse + PQ training, corpus encode) is the offline
    step, the index LIVES as a cell-partitioned table, and queries read
    it back so the probe equi-join prunes to nprobe directories
    (partition-pruning plan gate in tests/test_ann_quality.py). Keyed
    by fixture identity (path + mtime + hyperparams + recipe tag) and
    installed through `index_store` (the _SUCCESS gate, the atomic
    tmp→final install and race handling, all on `pyarrow.fs`), so
    racing processes can't interleave a read with a half-written tree
    and an unchanged corpus never re-encodes.

    The model has ONE home, the tree's `_MODEL.json` sidecar: the
    coarse and the PQ training each run once, and only while the tree
    is not built; `model` is always the sidecar the served codes were
    encoded under (after a retrain swap, the retrained model). Only an
    unkeyable fixture or a failed install keeps the freshly trained
    model and codes in memory, for this call alone. `model` is None
    for an empty corpus (no seeds, no model, no tree)."""
    tree = None
    if _fixture_key(sf_dir) is not None:
        # opening the tree finishes/rolls back any interrupted
        # compaction swap BEFORE the built check: rebuilding over a
        # recoverable base would produce a fresh sidecar without
        # `compacted_through` and double-serve the surviving absorbed
        # deltas (r16 review)
        tree = _open_index(sf_dir, index_root, filesystem, spark_root)
        if tree.built:
            return tree.require_model("nothing to serve"), tree.read(
                spark, "IVF index"
            )
    cent_rows = _train_coarse(emb)
    if not cent_rows:
        return None, None
    # the sidecar freezes what ENCODED the tree (coarse centroids + PQ
    # codebook + key): `ivf_index_append` encodes new batches under it
    # and every query probes with it (r16 — VERDICT item 4)
    model = _model_dict(
        tree.name.rpartition("_")[2] if tree else None,  # 12-hex key
        cent_rows,
        _train_pq_model(emb),
    )
    codes = _pq_codes(
        _assign_cells(emb, cent_rows),
        _sidecar_model(spark, model)[1],
        carry=("cell",),
    )
    if tree is None or not tree.install_base(codes, model, "cell"):
        # unkeyable fixture, or both install attempts failed (transient
        # fs error, no winner tree either): serve what was just built
        # instead of crashing on the missing final path — the next
        # call trains and installs again
        return model, codes
    # a lost install race serves the winner's tree, so its sidecar
    return tree.model, tree.read(spark, "IVF index")


def _model_dict(key: str, cent_rows: list, cb_rows: list) -> dict:
    return {
        "model_key": key,
        "cent": [
            [int(c), [float(x) for x in ce]] for c, ce in cent_rows
        ],
        "codebook": [
            [int(m), int(cid), [float(x) for x in ce]]
            for m, cid, ce in cb_rows
        ],
    }


def _sidecar_model(spark: SparkSession, model: dict):
    """(cent_rows, codebook frame) of a sidecar model — what encoded
    the tree."""
    cent_rows = [(c, ce) for c, ce in model["cent"]]
    return cent_rows, _codebook_frame(
        spark, [(m, cid, ce) for m, cid, ce in model["codebook"]]
    )


def _served_model(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """(cent_rows, codebook frame) the fixture's index tree serves,
    building the tree first when it is missing; None for an empty
    corpus. `emb` must be the unfiltered fixture table: it is what the
    tree encodes, so a caller's own filter never shapes served codes."""
    model, _ = _ivf_index(spark, sf_dir, emb)
    return None if model is None else _sidecar_model(spark, model)


def ivf_index_append(
    spark: SparkSession,
    sf_dir: str,
    new_emb: DataFrame,
    batch_id: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> int:
    """Incremental index add (r16 — VERDICT item 4): encode ONLY the
    new vectors with the FROZEN model stored in the installed base
    tree (its `_MODEL.json` sidecar — no retraining, no corpus
    re-encode) and install them as a sibling delta tree
    `<name>.delta.<batch_id>` with the same _SUCCESS + atomic-move
    discipline as the base. Idempotent per batch_id: re-appending an
    installed or compacted batch is a no-op (returns 0), so a
    checkpoint-resumed ingest never double-writes. Append ≡ rebuild
    under the frozen model is pinned by tests/test_round16_ops.py.
    Returns the number of code rows appended."""
    tree = _open_index(sf_dir, index_root, filesystem, spark_root)
    model = tree.require_model("build it first")
    dname = tree.new_delta(batch_id)
    if dname is None:
        return 0
    cent_rows, cb = _sidecar_model(spark, model)
    codes = _pq_codes(
        _assign_cells(new_emb, cent_rows), cb, carry=("cell",)
    ).persist()
    try:
        n = codes.count()
        if n == 0:
            # an empty batch must NOT install: a delta tree with
            # _SUCCESS but zero part files fails schema inference on
            # every later read and poisons the whole index (r16
            # review). Returning 0 keeps the resume contract — a
            # retried empty batch is still a no-op.
            return 0
        tree.install_delta(
            dname,
            codes,
            _model_dict(model["model_key"], cent_rows, model["codebook"]),
            "cell",
        )
        return n
    finally:
        codes.unpersist()


def ivf_index_compact(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> int:
    """Fold the installed delta trees back into ONE cell-partitioned
    base tree — the maintenance pass `ivf_index_staleness` triggers
    (r16: append → staleness → COMPACT closes the index lifecycle).
    The model is NOT retrained: compaction rewrites codes produced
    under the frozen quantizer, so it is cheap (code-table-sized, no
    corpus re-encode) and changes nothing a query reads — pinned by
    compact ≡ base+deltas row-for-row in tests/test_round16b_ops.py.
    The model-consistency gate runs before any write (the served read
    refuses mixed quantizers), and the crash-safe swap is
    `index_store.VersionedTree.swap`. Returns the number of delta
    trees absorbed (0 = nothing to do)."""
    tree = _open_index(sf_dir, index_root, filesystem, spark_root)
    model = tree.require_model("nothing to compact")
    if not tree.deltas:
        return 0
    return tree.swap(tree.read(spark, "IVF index"), model, "cell")


def ivf_index_staleness(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """One-row index-freshness report: how much of the served code
    table was APPENDED after the model was trained (the quantizer saw
    none of it) — the number that decides when to retrain + rebuild.
    (n_trees, n_codes, n_appended, staleness_milli, model_consistent);
    integer milli via truncating division of non-negative counts. A
    local literal frame (tree counts are a bounded driver loop over
    the installed trees, one footer-metadata read each
    (`TreeStore.row_count`, r17: no Spark job per tree) — never a
    corpus collect)."""
    tree = _open_index(sf_dir, index_root, filesystem, spark_root)
    if not tree.built:
        raise ValueError("base index tree not built")
    n_base, n_appended, milli = tree.staleness(tree.store.row_count)
    consistent = not tree.foreign_deltas(
        tree.model["model_key"] if tree.model else None
    )
    lit = lambda v, t: F.lit(v).cast(t)  # noqa: E731
    return spark.range(1).select(
        lit(1 + len(tree.deltas), "int").alias("n_trees"),
        lit(n_base + n_appended, "long").alias("n_codes"),
        lit(n_appended, "long").alias("n_appended"),
        lit(milli, "long").alias("staleness_milli"),
        lit(consistent, "boolean").alias("model_consistent"),
    )


def ivf_index_retrain(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    *,
    staleness_threshold_milli: int = 100,
    force: bool = False,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
    pre_swap=None,
) -> dict:
    """Retrain-and-reindex — the arc that closes the index lifecycle
    (r16 VERDICT item 1): when enough of the served code table was
    appended AFTER the model was trained (`ivf_index_staleness`), train
    a NEW coarse+PQ model over the CURRENT corpus `emb` (the caller
    supplies base+delta raw vectors — codes are lossy, so retraining
    from the index alone is impossible by construction), re-encode the
    corpus under it, and swap the new tree in ONLINE: the old index
    serves until one atomic rename flips the pointer. This is the
    reference's rebuild-from-scratch `IdxCreate`
    (/root/reference/cmd/tablemeta.go:200-255) done without downtime.

    Discipline (all shared with compaction — ONE swap path,
    `index_store.VersionedTree.swap`):
    - the new tree is FULLY installed under a `.compact-` staging name
      while the live base serves; opening the tree repairs a crash in
      the two-rename window exactly as for compaction (a COMPLETE
      staging tree is the newer state);
    - the new sidecar carries the NEW model (self-describing serving —
      every probe reads the model from the sidecar) and names
      every pre-retrain delta in `compacted_through`: their vectors
      were re-encoded from `emb`, so a crash that leaves the old delta
      trees on disk cannot double-serve them;
    - the new model_key is a deterministic digest of (old key,
      absorbed deltas), so mixing old deltas into the new tree is
      refused by the same model-consistency gate appends use;
    - `pre_swap` is the swap's epoch barrier (r17 — guide §2.6).

    Below the staleness threshold (and not `force`) this is a no-op
    returning the measured staleness — the control-plane call a
    nightly maintenance job makes unconditionally. Returns
    {retrained, staleness_milli, n_deltas_absorbed, old_model_key,
    new_model_key, n_codes}."""
    tree = _open_index(sf_dir, index_root, filesystem, spark_root)
    model = tree.require_model("nothing to retrain")
    # footer-metadata counts through the control plane (r17): the
    # staleness decision needs tree row counts, not a Spark job per
    # tree — same numbers `spark.read.parquet(...).count()` returns
    n_base, n_appended, staleness = tree.staleness(tree.store.row_count)
    out = {
        "retrained": False,
        "staleness_milli": staleness,
        "n_deltas_absorbed": 0,
        "old_model_key": model["model_key"],
        "new_model_key": model["model_key"],
        "n_codes": n_base + n_appended,
    }
    if not force and staleness < staleness_threshold_milli:
        return out
    # hash-sampled seeds over the CURRENT corpus (never vec_id < K):
    # low-id seeds live in the original data region by construction,
    # so a drift-triggered retrain could never allocate cells or
    # sub-centroids to the very region whose arrival triggered it.
    # The coarse and PQ trainings are INDEPENDENT (each reads only
    # `emb`; neither consumes the other's model), but each is a chain
    # of driver-synchronous Lloyd rounds whose stage tails idle the
    # cluster — run them concurrently on a two-worker pool (guide
    # §2.6; `inheritable_thread_target` per the PySpark threading
    # contract) so one training's jobs back-fill the other's tail.
    # Neither touches shared mutable state: models and seeds are
    # driver-held per call.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as tp:
        cent_fut = tp.submit(
            inheritable_thread_target(
                lambda: _train_coarse(emb, seed_by_hash=True)
            )
        )
        cb_fut = tp.submit(
            inheritable_thread_target(
                lambda: _train_pq_model(emb, seed_by_hash=True)
            )
        )
        new_cent = cent_fut.result()
        new_cb_rows = cb_fut.result()
    if not new_cent:
        return out  # empty corpus: nothing to train, keep serving
    codes = _pq_codes(
        _assign_cells(emb, new_cent),
        _codebook_frame(spark, new_cb_rows),
        carry=("cell",),
    )
    through = tuple(sorted(tree.absorbed | set(tree.deltas)))
    new_key = hashlib.md5(
        repr((model["model_key"], "retrain", through)).encode()
    ).hexdigest()[:12]
    n_absorbed = tree.swap(
        codes,
        _model_dict(new_key, new_cent, new_cb_rows),
        "cell",
        pre_swap=pre_swap,
    )
    out.update(
        retrained=True,
        n_deltas_absorbed=n_absorbed,
        new_model_key=new_key,
        # the installed tree's footer count (control-plane read, no
        # Spark job) — the re-encoded corpus, so it equals the old
        # total on a clean swap; reading the tree keeps the number a
        # statement about what is actually SERVED, not what we meant
        # to install
        n_codes=tree.store.row_count(tree.name),
    )
    return out


def query_index_tree(
    spark: SparkSession,
    q: DataFrame,
    *,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    topk: int = PQ_TOP_K,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """Serve IVFADC top-k from an INSTALLED index tree using ONLY its
    `_MODEL.json` sidecar — the self-describing serving path: after a
    retrain swap the tree's model is the retrained one, so serving
    reads the model the codes were actually encoded under. `q` carries
    (qid, qe); the plan is `_probe_and_score`, the one the
    `similarity_ivfpq` entry serves through."""
    tree = _open_index(sf_dir, index_root, filesystem, spark_root)
    model = tree.require_model("build it first")
    return _probe_and_score(
        spark, q, model, tree.read(spark, "IVF index"), nprobe, topk
    )


def _probe_and_score(
    spark: SparkSession,
    q: DataFrame,
    model: dict,
    codes: DataFrame,
    nprobe: int,
    topk: int,
) -> DataFrame:
    """The one IVFADC probe: broadcast model tables, the cell
    equi-join against the (partition-pruned) code table, the shared
    ADC scorer. `model` is the sidecar the codes were encoded under."""
    cent_rows, cb = _sidecar_model(spark, model)
    cent = local_frame(spark, cent_rows, "cell int, ce array<double>")
    dt = _adc_distance_table(q, cb)
    probes = _probe_cells(q, cent, nprobe)
    # each query meets only its probed cells' codes (a vector lives in
    # exactly one cell, so no (qid, vec) duplicates)
    probed = codes.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell"))
        & (F.col("vec_id") != F.col("qid")),
    )
    return _score_with_adc(probed, dt, topk=topk)


def _assign_cells(df: DataFrame, cent_rows: list) -> DataFrame:
    """`df` + a `cell` column = id of the nearest trained centroid, one
    projection at any scale: `df` meets ONE broadcast model row
    (`array<struct<cell, ce>>`, a `local_frame`, O(nlist × dim) bytes
    however large the model) and the cell is

        array_min(transform(model, c -> named_struct('d', <fold>,
                                                     'cell', c.cell))).cell

    — the (d², cell) tie-break of the oracle's ROW_NUMBER, with NaN
    distances sorting above every finite one and NULL distances (NULL
    or short embeddings) below, identically in every caller. No
    shuffle, no cache, no synthetic id: a one-row model side with no
    join key keeps every `df` row exactly once, NULL or duplicate
    natural keys included (plan gate and hostile-row tests in
    tests/test_ann_quality.py). The model rides the broadcast, not the
    plan: inlined as literals it would put nlist × dim doubles into
    every plan that assigns cells."""
    if not cent_rows:
        # an empty model assigns no cell: a NULL column, no model join
        return df.withColumn("cell", F.lit(None).cast("int"))
    model = local_frame(
        df.sparkSession,
        [
            (
                [
                    {"cell": int(c), "ce": [float(x) for x in ce]}
                    for c, ce in cent_rows
                ],
            )
        ],
        "__model array<struct<cell:int, ce:array<double>>>",
    )
    # the exact-order squared distance to model row `c`: the tree of
    # `_sq_dist` (cast to double, subtract, square, strict left fold)
    fold = (
        "aggregate(zip_with(embedding, c.ce, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cell = F.expr(
        f"array_min(transform(__model, c -> named_struct('d', {fold}, "
        "'cell', c.cell))).cell"
    )
    return (
        df.crossJoin(F.broadcast(model))
        .withColumn("cell", cell)
        .drop("__model")
    )


def q_similarity_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    *,
    topk: int = PQ_TOP_K,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """IVF-then-ADC — the composition that makes PQ viable at corpus
    scale (Jégou et al., TPAMI 2011, the IVFADC system): the coarse
    quantizer (the `label` cell id, as in `q_similarity_ivf`) prunes
    WHICH codes a query scores, and ADC (as in `q_similarity_pq`)
    scores only those via PQ_M broadcast distance-table lookups.
    Unlike `q_similarity_pq`'s documented exhaustive crossJoin, the
    probe here is an equi-join on the cell id: per query the engine
    touches nprobe × |cell| ≈ nprobe × n/nlist code rows, never the
    corpus. MULTI-PROBE (r11): each query ranks ALL nlist cells by
    exact distance to the cell centroid and probes the nearest
    `nprobe` — the standard recall lever, and because the ranking is
    deterministic the SQL oracle stays exact at any nprobe. TRAINED
    COARSE QUANTIZER (r12): the cells are no longer the fixture
    `label` (uncorrelated with embedding space — recall@5 sat at
    chance, nprobe/nlist) but IVF_TRAIN_ITERS deterministic Lloyd
    iterations over the corpus (`_train_coarse`; Jégou et al. §V),
    which the oracle replays CTE-for-CTE. The query×codebook scoring
    is a constant-key BroadcastHashJoin (the declarative 'broadcast
    the nlist-row model table' — never a nested-loop). At 100 TB the
    code table is written partitioned BY cell, so the probe is a
    partition-pruned scan of |queries| × nprobe cells, and the scanned
    state is nprobe × n/nlist × PQ_M bytes per query instead of
    n × dim floats — and that is the EXECUTED plan, not an aspiration:
    the code table lives on disk partitioned by cell (`_ivf_index`),
    and the probe join compiles to dynamic partition pruning
    (SubqueryAdaptiveBroadcast → dynamicpruning partition filter on
    the cell directories; plan-gated in tests/test_ann_quality.py).
    Same fixed-order left-associated ADC sum and
    (adc, nid) tie-break as the exhaustive form, so results are
    engine-exact. Measured recall@5 vs exhaustive ADC on the sf0.01
    fixture: 0.48 (nprobe=1) → 0.60 (nprobe=2) → 0.76 (nprobe=3)
    with the r14 TRAINED sub-codebooks — up from 0.36/0.56/0.72 with
    seed sub-codebooks (r12-13) and 0.16/0.24/0.36 with the untrained
    coarse stand-in (r11); strict monotone gate in
    tests/test_ann_quality.py.

    The entry is "ensure the index tree is built, then probe it":
    `_ivf_index` trains and installs only when the tree is missing,
    and the probe scores the tree's codes with the tree's own sidecar
    model (`_probe_and_score`, shared with `query_index_tree`), so a
    retrained tree is served with its retrained model."""
    emb = load_table(spark, sf_dir, "embeddings")
    model, codes = _ivf_index(
        spark,
        sf_dir,
        emb,
        index_root=index_root,
        filesystem=filesystem,
        spark_root=spark_root,
    )
    if model is None:
        # empty corpus (empty filter result / pruned-away partition):
        # degrade to zero neighbors with the normal output schema, the
        # same contract as every other operator on empty input
        return local_frame(
            spark, [], "qid bigint, nid bigint, adc_micro bigint, rank int"
        )
    return _probe_and_score(
        spark, _queries_df(emb), model, codes, nprobe, topk
    )


def _coarse_train_sql(
    iters: int = IVF_TRAIN_ITERS,
    src: str = "embeddings",
    sfx: str = "",
    seed_by_hash: bool = False,
) -> str:
    """CTE chain replaying `_train_coarse` exactly: cent0 = seeds;
    per iteration t, a{t} = (dist2, cell)-argmin assignment under
    cent{t-1}, s{t} = bigint-micro sufficient statistics, cent{t} =
    means with empty cells keeping their previous centroid.
    `src`/`sfx` let one oracle hold TWO trainings (the retrain report:
    old model over the base corpus, new model over base+delta, CTE
    names suffixed apart); `seed_by_hash` replays the retrain path's
    smallest-md5(vec_id) seeding instead of vec_id < nlist."""
    dim = PQ_M * PQ_SUBDIM
    # tr = the (sampled) training corpus, the same md5 hash-sample
    # predicate the engine's _train_sample applies. NULL vec_ids are
    # excluded UNCONDITIONALLY (the IS NOT NULL below is emitted even
    # when sampling is disabled), mirroring _train_sample's documented
    # invariant — a NULL id hashes out of training on BOTH engines.
    tr_where = "\n  WHERE vec_id IS NOT NULL" + (
        f" AND {_train_sample_pred_sql()}"
        if TRAIN_SAMPLE_MOD > 1
        else ""
    )
    if seed_by_hash:
        seed_sql = f"""cent0{sfx} AS (
  SELECT CAST(vec_id AS INT) AS cell, embedding::DOUBLE[] AS ce
  FROM {src} WHERE vec_id IS NOT NULL
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {IVF_NLIST}
)"""
    else:
        seed_sql = f"""cent0{sfx} AS (
  SELECT CAST(vec_id AS INT) AS cell, embedding::DOUBLE[] AS ce
  FROM {src} WHERE vec_id < {IVF_NLIST}
)"""
    ctes = [
        seed_sql,
        f"""tr{sfx} AS (
  SELECT vec_id, embedding FROM {src}{tr_where}
)""",
    ]
    for t in range(1, iters + 1):
        prev = f"cent{t - 1}{sfx}"
        ctes.append(
            f"""a{t}{sfx} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_PQ_FOLD.format(a='e.embedding', b='c.ce')},
                      c.cell) AS rn
    FROM tr{sfx} e, {prev} c)
  WHERE rn = 1
)"""
        )
        ctes.append(
            f"""s{t}{sfx} AS (
  SELECT cell, i AS pos,
         SUM(TRY_CAST(ROUND(e.embedding[i] * 1e6) AS BIGINT)) AS s,
         COUNT(*) AS c
  FROM a{t}{sfx} JOIN tr{sfx} e USING (vec_id)
  CROSS JOIN range(1, {dim + 1}) t(i)
  GROUP BY cell, i
)"""
        )
        ctes.append(
            f"""cent{t}{sfx} AS (
  SELECT p.cell, COALESCE(m.ce, p.ce) AS ce
  FROM {prev} p LEFT JOIN (
    -- COALESCE mirrors the engine's `(s or 0)`: a component whose
    -- every member was non-finite (poisoned vectors) contributes 0,
    -- not NULL — without it the engines diverge on exactly the input
    -- class the engine side already handles (r13 review finding)
    SELECT cell, LIST(CAST(COALESCE(s, 0) AS DOUBLE) / 1e6 / c
                      ORDER BY pos) AS ce
    FROM s{t}{sfx} GROUP BY cell
  ) m USING (cell)
)"""
        )
    return ",\n".join(ctes)


def _oracle_ivfpq_sql(topk: int) -> str:
    """The full IVFADC oracle chain with a parameterized final cap:
    `ORACLE_SIMILARITY_IVFPQ` is this at PQ_TOP_K; the refine stage
    replays it verbatim at the deeper PQ_REFINE_R pool (ONE
    definition — a train/encode/probe fix lands in both)."""
    return f"""
WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
{_coarse_train_sql()},
{_pq_train_sql()},
cells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_PQ_FOLD.format(a='e.embedding', b='c.ce')},
                      c.cell) AS rn
    FROM embeddings e, cent{IVF_TRAIN_ITERS} c)
  WHERE rn = 1
),
sub AS (
  SELECT s.vec_id, cl.cell, s.m, s.se
  FROM psub s JOIN cells cl ON cl.vec_id = s.vec_id
),
enc AS (
  SELECT vec_id, cell, m, cid,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id, m
           ORDER BY {_PQ_FOLD.format(a='se', b='ce')}, cid) AS rn
  FROM sub JOIN cb USING (m)
),
codes AS (
  SELECT vec_id, cell,
         MAX(CASE WHEN m = 0 THEN cid END) AS c0,
         MAX(CASE WHEN m = 1 THEN cid END) AS c1,
         MAX(CASE WHEN m = 2 THEN cid END) AS c2,
         MAX(CASE WHEN m = 3 THEN cid END) AS c3
  FROM enc WHERE rn = 1 GROUP BY vec_id, cell
),
q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
dt AS (
  SELECT qid, m, cid,
         {_PQ_FOLD.format(
             a=f'qe[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)]',
             b='ce')} AS d
  FROM q, cb
),
qcell AS (
  SELECT q.qid, cen.cell,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY {_PQ_FOLD.format(a='qe', b='cen.ce')}, cen.cell
         ) AS crank
  FROM q, cent{IVF_TRAIN_ITERS} cen
),
probes AS (SELECT qid, cell FROM qcell WHERE crank <= {IVF_NPROBE}),
scored AS (
  SELECT q.qid, c.vec_id AS nid,
         (((t0.d + t1.d) + t2.d) + t3.d) AS adc
  FROM codes c
  JOIN probes p ON c.cell = p.cell
  JOIN q ON q.qid = p.qid AND c.vec_id <> q.qid
  JOIN dt t0 ON t0.qid = q.qid AND t0.m = 0 AND t0.cid = c.c0
  JOIN dt t1 ON t1.qid = q.qid AND t1.m = 1 AND t1.cid = c.c1
  JOIN dt t2 ON t2.qid = q.qid AND t2.m = 2 AND t2.cid = c.c2
  JOIN dt t3 ON t3.qid = q.qid AND t3.m = 3 AND t3.cid = c.c3
)
SELECT qid, nid, TRY_CAST(ROUND(adc * 1e6) AS BIGINT) AS adc_micro, rank
FROM (
  SELECT qid, nid, adc,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
  FROM scored
) WHERE rank <= {topk}
"""


ORACLE_SIMILARITY_IVFPQ = _oracle_ivfpq_sql(PQ_TOP_K)

#: exact-rerank pool depth for IVFADC+R (Jégou et al. §V: re-rank the
#: R ADC candidates with full vectors; 3× the published K)
PQ_REFINE_R = 15


def q_similarity_ivfpq_refined(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """IVFADC+R — the exact-re-ranking stage that completes the Jégou
    et al. (TPAMI 2011, §V) retrieval pipeline: take the ADC ranking's
    top PQ_REFINE_R candidate pool per query (3× the published K) and
    re-rank it by EXACT cosine on the full vectors, publishing the
    top PQ_TOP_K. Re-ranking is provably recall-monotone: a true
    neighbor in the pool can only be displaced from the refined top-K
    by items that beat it in the exact order — which are then true
    top-K items themselves — so refined hits = pool ∩ truth ⊇ ADC
    hits (the pytest pins both the set identity and per-query
    monotonicity plus a strict aggregate lift). Measured against
    EXACT-cosine truth at the shipped default nprobe=IVF_NPROBE=2 on
    the sf0.01 fixture: recall@5 0.12 (plain ADC, `ann_recall_report`
    reads the same 120 milli) → 0.20 refined — the deeper-pool rerank
    recovers true neighbors the quantized order misranked. (The
    ivfpq docstring's 0.48/0.60/0.76 series is a DIFFERENT metric:
    the IVF probe's recall vs the EXHAUSTIVE-ADC ranking.) `nprobe`
    passes through to the ADC stage like the index plumbing kwargs.

    Scale shape: the ADC stage is the partition-pruned IVFADC plan
    (composition-priced, end-to-end); the refine touches only the
    |Q|·R-row pool — the pool broadcasts into ONE equi-join against
    the corpus for the full neighbor vectors (id-pruned scan) plus
    the |Q|-row broadcast query frame. At 100 TB the refine cost is
    |Q|·R exact distances, independent of corpus size — exactly why
    IVFADC+R is the production shape."""
    cand = q_similarity_ivfpq(
        spark,
        sf_dir,
        nprobe,
        topk=PQ_REFINE_R,
        index_root=index_root,
        filesystem=filesystem,
        spark_root=spark_root,
    ).select("qid", "nid")
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    qv = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    joined = (
        emb.select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("ne"),
            F.col("nrm").alias("nnrm"),
        )
        .join(F.broadcast(cand), "nid")
        .join(F.broadcast(qv), "qid")
    )
    scored = joined.select(
        "qid",
        "nid",
        (
            dot_double(F.col("qe"), F.col("ne"))
            / (F.col("qnrm") * F.col("nnrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= PQ_TOP_K
    )


ORACLE_SIMILARITY_IVFPQ_REFINED = f"""
WITH cand AS ({_oracle_ivfpq_sql(PQ_REFINE_R)})
SELECT qid, nid, cos_sim, rank FROM (
  SELECT c.qid, c.nid,
         list_cosine_similarity(q.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY c.qid
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]) DESC,
                    c.nid) AS rank
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.qid
  JOIN embeddings e ON e.vec_id = c.nid
) WHERE rank <= {PQ_TOP_K}
"""


# ---------------------------------------------------------------------------
# r15: contrastive-training data mining over the embedding table
# ---------------------------------------------------------------------------

HN_K = 5  # hard negatives mined per query
BITEXT_QUERY_MOD = 50  # side-A query set = vec_id % 50 == 0
MARGIN_K = 4  # neighborhood size of the margin normalizer
BITEXT_TOP = 3  # mined pairs kept per query


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for every query vector, the
    HN_K nearest corpus vectors by cosine whose `label` DIFFERS from
    the query's — the near-miss pairs a contrastive/embedding trainer
    wants as negatives (closest wrong-class examples carry the
    gradient signal; same-class neighbors are excluded because they
    are potential positives).

    Plan: queries broadcast; the corpus is scanned ONCE and the label
    inequality (`IS DISTINCT FROM` — a NULL label counts as a
    different class on both engines) is a row-local predicate fused
    into the broadcast join, so candidates never shuffle; per-query
    rank via a window partitioned by qid. Same scale shape as
    `q_similarity_topk` (the exact baseline): at 100 TB the mining
    working set is |Q| × corpus — production replaces the brute-force
    candidate set with the IVF cell probe (the `similarity_ivfpq`
    index) while the mining semantics (label-inequality filter +
    (cos DESC, nid) order) stay exactly these."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = emb.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("qid"))
        & (~F.col("label").eqNullSafe(F.col("qlabel"))),
    )
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= HN_K
    )


ORACLE_HARD_NEGATIVE_MINING = f"""
SELECT * FROM (
  SELECT q.vec_id AS qid, e.vec_id AS nid,
         list_cosine_similarity(q.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]) DESC,
                    e.vec_id) AS rank
  FROM embeddings q JOIN embeddings e
    ON e.vec_id <> q.vec_id AND e.label IS DISTINCT FROM q.label
  WHERE q.vec_id % {QUERY_MOD} = 0
) WHERE rank <= {HN_K}
"""


def q_hard_negative_mining_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """`q_hard_negative_mining`'s documented scale path, executed:
    candidates come from the query's `nprobe` nearest TRAINED coarse
    cells (the `similarity_ivfpq` probe machinery — multi-probe cell
    ranking by exact centroid distance with the (d², cell) tie-break)
    instead of the whole corpus, then the label-inequality filter and
    exact-cosine rerank run unchanged on the pruned candidate set.
    What THIS plan prunes is the RERANK set (|Q| × nprobe × n/nlist
    cosine evaluations instead of |Q| × n): cell assignment here is
    recomputed inline over one corpus scan — the honest fixture form.
    The full scan-pruning story additionally stores the assigned
    corpus cell-partitioned on disk and probes it with dynamic
    partition pruning, which is `_ivf_index`'s plan (proven for
    `q_similarity_ivfpq`); swapping this operator's `assigned` frame
    for that table is a storage decision, not a semantics change. The
    mining semantics (IS DISTINCT FROM labels, (cos DESC, nid) order)
    are byte-for-byte `q_hard_negative_mining`'s, so recall loss is
    exactly the probe's cell-miss rate and nothing else (equivalence
    gate: nprobe = nlist reproduces brute force row-for-row). The
    coarse model is the one the fixture's index tree serves
    (`_served_model`). The oracle replays coarse training, assignment,
    probe ranking, and rerank CTE-for-CTE."""
    raw = load_table(spark, sf_dir, "embeddings")
    served = _served_model(spark, sf_dir, raw)
    if served is None:
        return local_frame(
            spark, [], "qid bigint, nid bigint, cos_sim double, rank int"
        )
    cent_rows = served[0]
    emb = raw.withColumn("nrm", _l2(F.col("embedding")))
    assigned = _assign_cells(emb, cent_rows)
    # the query side needs no cell (the probe ranks centroids), so it
    # reads `emb`: a frame derived from `assigned` would carry the
    # model join into both query-side consumers
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
        F.col("nrm").alias("qnrm"),
    )
    cent = local_frame(spark, cent_rows, "cell int, ce array<double>")
    probes = _probe_cells(q, cent, nprobe)
    pq_ = probes.join(q, "qid")
    cand = assigned.join(
        F.broadcast(pq_),
        (F.col("cell") == F.col("qcell"))
        & (F.col("vec_id") != F.col("qid"))
        & (~F.col("label").eqNullSafe(F.col("qlabel"))),
    )
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= HN_K
    )


ORACLE_HARD_NEGATIVE_MINING_IVF = f"""
WITH {_coarse_train_sql()},
cells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_PQ_FOLD.format(a='e.embedding', b='c.ce')},
                      c.cell) AS rn
    FROM embeddings e, cent{IVF_TRAIN_ITERS} c)
  WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
),
qcell AS (
  SELECT q.qid, cen.cell,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY {_PQ_FOLD.format(a='qe', b='cen.ce')}, cen.cell
         ) AS crank
  FROM q, cent{IVF_TRAIN_ITERS} cen
),
probes AS (SELECT qid, cell FROM qcell WHERE crank <= {IVF_NPROBE}),
cand AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(q.qe::DOUBLE[],
                                e.embedding::DOUBLE[]) AS cos_sim
  FROM cells cl
  JOIN probes p ON cl.cell = p.cell
  JOIN q ON q.qid = p.qid AND cl.vec_id <> q.qid
  JOIN embeddings e
    ON e.vec_id = cl.vec_id AND e.label IS DISTINCT FROM q.qlabel
)
SELECT qid, nid, cos_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT qid, nid, cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
  FROM cand
) WHERE rank <= {HN_K}
"""


def q_bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, ACL 2019
    — the CCMatrix/LASER recipe): score a candidate pair not by raw
    cosine but by the MARGIN — cosine normalized by the average
    similarity of each side's MARGIN_K-nearest neighborhood — so a
    'hubby' vector that is close to everything stops winning every
    match. Sides come from label parity (side A mines against side
    B); the query set is the A-side hash subset.

        margin(a, b) = 2·cos(a,b) / (avgₖ cos(a, ·∈B) + avgₖ cos(·∈A_q, b))

    Determinism discipline: cosines are micro-rounded to BIGINT
    first, neighborhood sums aggregate integers (order-independent
    under any partitioning), and the margin is ONE double division of
    integer-derived values — both engines compute it bit-identically.
    Pairs with a non-positive normalizer (degenerate all-negative
    neighborhoods) are excluded by an integer predicate on both
    engines.

    Plan: A-queries broadcast against one scan of the B side (the
    pair frame never shuffles to form); then exactly two exchanges of
    the |Q|×|B| pair frame — the BACKWARD (nid) window pass first,
    then ONE qid exchange under which the forward rank, the forward
    neighborhood sum, the margin, and the final rank all ride (the
    rank windows re-sort within the same partitioning, they don't
    re-shuffle; plan-gated). The neighborhood sums ride the SAME
    sorted window pass as their rank (no self-joins). NULL-keyed rows
    are dropped up front on both engines — Spark orders NULL ids
    first where DuckDB orders them last, so a NULL inside any
    (cos, id) tie-break would silently diverge the rank chain (the
    `_bucket_pairs` discipline). At 100 TB the |Q|×|B| working set is
    the textbook regime for ANN pre-pruning: swap the brute-force
    pair source for the IVF probe and keep every step downstream."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull())
        .withColumn("nrm", _l2(F.col("embedding")))
    )
    side_a = emb.filter(F.col("label") % 2 == 0)
    side_b = emb.filter(F.col("label") % 2 == 1)
    q = side_a.filter(F.col("vec_id") % BITEXT_QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cos = dot_double(F.col("qe"), F.col("embedding")) / (
        F.col("qnrm") * F.col("nrm")
    )
    scored = side_b.join(F.broadcast(q), F.lit(True)).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(cos * 1e6).try_cast("bigint").alias("cos_micro"),
    )
    return _margin_rank(scored)


def _margin_rank(scored: DataFrame) -> DataFrame:
    """The margin-normalize-and-rank chain shared by the brute-force
    and IVF-probed miners: given (qid, nid, cos_micro) pairs, compute
    per-side MARGIN_K-neighborhood sums (backward/nid pass FIRST,
    then everything qid-keyed under ONE exchange — the fwd-first
    order shuffled the pair frame a third time to come back to qid
    for the final rank), the integer-derived margin, and the
    per-query top-BITEXT_TOP ranking."""
    w_f = Window.partitionBy("qid").orderBy(
        F.col("cos_micro").desc(), F.col("nid")
    )
    w_b = Window.partitionBy("nid").orderBy(
        F.col("cos_micro").desc(), F.col("qid")
    )
    x = (
        scored.withColumn("rn_b", F.row_number().over(w_b))
        .withColumn(
            "bwd_sum",
            F.sum(
                F.when(F.col("rn_b") <= MARGIN_K, F.col("cos_micro"))
            ).over(Window.partitionBy("nid")),
        )
        .withColumn("rn_f", F.row_number().over(w_f))
        .withColumn(
            "fwd_sum",
            F.sum(
                F.when(F.col("rn_f") <= MARGIN_K, F.col("cos_micro"))
            ).over(Window.partitionBy("qid")),
        )
        .withColumn("denom", F.col("fwd_sum") + F.col("bwd_sum"))
        .filter(F.col("denom") > 0)
        .withColumn(
            "margin_micro",
            F.round(
                F.lit(2.0 * MARGIN_K * 1e6)
                * F.col("cos_micro")
                / F.col("denom")
            ).try_cast("bigint"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("margin_micro").desc(), F.col("nid")
    )
    return (
        x.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= BITEXT_TOP)
        .select("qid", "nid", "cos_micro", "margin_micro", "rank")
    )


def q_bitext_margin_pairs_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """`q_bitext_margin_pairs`' documented scale path, executed (the
    CCMatrix production form: margins are computed over ANN k-NN
    lists, not exhaustive pair matrices): side-B candidates come from
    each query's `nprobe` nearest TRAINED coarse cells, then the
    SHARED `_margin_rank` chain runs unchanged on the pruned pair
    frame. The margin semantics change exactly as they do in
    production — each side's MARGIN_K neighborhood is taken over the
    PROBED pairs (a query's neighborhood over its probed candidates;
    a candidate's backward neighborhood over the queries that probed
    into its cell) — so scores are not comparable number-for-number
    with the brute-force miner, but the hub-demotion property and the
    determinism discipline (integer micro-cosines, one double
    division) are identical, and probing ALL cells reproduces the
    brute-force output row-for-row (equivalence gate in tests). The
    coarse model is the one the fixture's index tree serves
    (`_served_model`). The oracle replays coarse training, B-side
    assignment, probe ranking, and the margin chain CTE-for-CTE."""
    raw = load_table(spark, sf_dir, "embeddings")
    served = _served_model(spark, sf_dir, raw)
    if served is None:
        return local_frame(
            spark,
            [],
            "qid bigint, nid bigint, cos_micro bigint,"
            " margin_micro bigint, rank int",
        )
    cent_rows = served[0]
    emb = raw.filter(F.col("vec_id").isNotNull()).withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    side_b = emb.filter(F.col("label") % 2 == 1)
    q = (
        emb.filter(
            (F.col("label") % 2 == 0)
            & (F.col("vec_id") % BITEXT_QUERY_MOD == 0)
        )
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    b_assigned = _assign_cells(side_b, cent_rows)
    cent = local_frame(spark, cent_rows, "cell int, ce array<double>")
    probes = _probe_cells(q, cent, nprobe)
    pq_ = probes.join(q, "qid")
    cos = dot_double(F.col("qe"), F.col("embedding")) / (
        F.col("qnrm") * F.col("nrm")
    )
    scored = b_assigned.join(
        F.broadcast(pq_), F.col("cell") == F.col("qcell")
    ).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(cos * 1e6).try_cast("bigint").alias("cos_micro"),
    )
    return _margin_rank(scored)


def _margin_tail_sql() -> str:
    """The margin-normalize-and-rank CTE chain shared by both bitext
    oracles — expects a `scored (qid, nid, cos_micro)` CTE upstream;
    the SQL twin of `_margin_rank`."""
    return f"""x AS (
  SELECT qid, nid, cos_micro,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_micro DESC, nid) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY nid
                            ORDER BY cos_micro DESC, qid) AS rn_b
  FROM scored
),
y AS (
  SELECT qid, nid, cos_micro,
         SUM(CASE WHEN rn_f <= {MARGIN_K} THEN cos_micro END)
           OVER (PARTITION BY qid)
         + SUM(CASE WHEN rn_b <= {MARGIN_K} THEN cos_micro END)
           OVER (PARTITION BY nid) AS denom
  FROM x
),
z AS (
  SELECT qid, nid, cos_micro,
         TRY_CAST(ROUND(2.0 * {MARGIN_K} * 1e6 * cos_micro / denom)
                  AS BIGINT) AS margin_micro
  FROM y WHERE denom > 0
)
SELECT qid, nid, cos_micro, margin_micro,
       CAST(rank AS INT) AS rank
FROM (
  SELECT z.*, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY margin_micro DESC, nid) AS rank
  FROM z
) WHERE rank <= {BITEXT_TOP}"""


ORACLE_BITEXT_MARGIN_PAIRS = f"""
WITH qset AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE label % 2 = 0 AND vec_id % {BITEXT_QUERY_MOD} = 0
),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         TRY_CAST(ROUND(list_cosine_similarity(
           q.qe::DOUBLE[], e.embedding::DOUBLE[]) * 1e6) AS BIGINT)
           AS cos_micro
  FROM qset q
  JOIN embeddings e ON e.label % 2 = 1 AND e.vec_id IS NOT NULL
),
{_margin_tail_sql()}
"""

ORACLE_BITEXT_MARGIN_PAIRS_IVF = f"""
WITH {_coarse_train_sql()},
qset AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE label % 2 = 0 AND vec_id % {BITEXT_QUERY_MOD} = 0
),
cellsb AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_PQ_FOLD.format(a='e.embedding', b='c.ce')},
                      c.cell) AS rn
    FROM embeddings e, cent{IVF_TRAIN_ITERS} c
    WHERE e.label % 2 = 1 AND e.vec_id IS NOT NULL)
  WHERE rn = 1
),
qcell AS (
  SELECT q.qid, cen.cell,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY {_PQ_FOLD.format(a='qe', b='cen.ce')}, cen.cell
         ) AS crank
  FROM qset q, cent{IVF_TRAIN_ITERS} cen
),
probes AS (SELECT qid, cell FROM qcell WHERE crank <= {IVF_NPROBE}),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         TRY_CAST(ROUND(list_cosine_similarity(
           q.qe::DOUBLE[], e.embedding::DOUBLE[]) * 1e6) AS BIGINT)
           AS cos_micro
  FROM cellsb cl
  JOIN probes p ON cl.cell = p.cell
  JOIN qset q ON q.qid = p.qid
  JOIN embeddings e ON e.vec_id = cl.vec_id
),
{_margin_tail_sql()}
"""


def q_ann_recall_report(
    spark: SparkSession,
    sf_dir: str,
    *,
    index_root: str | None = None,
    filesystem=None,
    spark_root: str | None = None,
) -> DataFrame:
    """Continuous index-quality audit — the nightly job an ANN
    deployment runs before trusting its index: recall@PQ_TOP_K of the
    IVFADC index (`q_similarity_ivfpq`) against the exact brute-force
    ranking (`q_similarity_topk`) on the SAME query set, reported as
    one row (n_queries, total_hits, recall_milli). Composition-priced
    like `dedup_impact_report`: it re-runs both pipelines end-to-end,
    because auditing a cached result would fake the audit. Hit
    counting is an equi-join of the two result sets; queries the
    index misses entirely still count via the left join; the mean is
    a truncating integer division of non-negative sums (Spark `div`
    ≡ DuckDB `//`). An empty query set yields an EMPTY report (the
    divide-by-zero guard is a HAVING-count predicate on both
    engines), not a NULL row."""
    exact = (
        q_similarity_topk(spark, sf_dir)
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("qid", "nid")
    )
    approx = q_similarity_ivfpq(
        spark,
        sf_dir,
        index_root=index_root,
        filesystem=filesystem,
        spark_root=spark_root,
    ).select(F.col("qid").alias("aqid"), F.col("nid").alias("anid"))
    hits = exact.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")),
        "left",
    )
    per_q = hits.groupBy("qid").agg(
        F.count("anid").alias("hits")
    )
    return (
        per_q.agg(
            F.count("*").alias("n_queries"),
            F.sum("hits").alias("total_hits"),
        )
        .filter(F.col("n_queries") > 0)
        .select(
            "n_queries",
            "total_hits",
            F.expr(
                f"(total_hits * 1000) div (n_queries * {PQ_TOP_K})"
            ).alias("recall_milli"),
        )
    )


ORACLE_ANN_RECALL_REPORT = f"""
WITH ex AS ({ORACLE_SIMILARITY_TOPK}),
ap AS ({ORACLE_SIMILARITY_IVFPQ}),
e5 AS (SELECT qid, nid FROM ex WHERE rank <= {PQ_TOP_K}),
h AS (
  SELECT e5.qid, COUNT(ap.nid) AS hits
  FROM e5 LEFT JOIN ap ON ap.qid = e5.qid AND ap.nid = e5.nid
  GROUP BY e5.qid
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       (CAST(SUM(hits) AS BIGINT) * 1000)
         // (COUNT(*) * {PQ_TOP_K}) AS recall_milli
FROM h HAVING COUNT(*) > 0
"""


# --- retrain-report fixture geometry (r17): the synthetic "new data"
# batch is a DISTRIBUTION-SHIFTED copy of every 4th vector (ids offset
# far past the corpus, every component +RETRAIN_SHIFT — a new cluster
# the frozen model never saw), so the staleness crosses the retrain
# threshold AND the retrained model has something real to learn.
RETRAIN_DELTA_MOD = 4
RETRAIN_ID_OFFSET = 10_000_000  # multiple of QUERY_MOD: shifted twins
#                                 of query ids stay in the query set
RETRAIN_SHIFT = 1.0
RETRAIN_STALENESS_MILLI = 100


def _retrain_delta(emb: DataFrame) -> DataFrame:
    """The deterministic shifted batch: float storage on both engines
    (double add, round back to float — IEEE-exact cross-engine)."""
    return emb.filter(
        F.col("vec_id") % RETRAIN_DELTA_MOD == 0
    ).select(
        (F.col("vec_id") + F.lit(RETRAIN_ID_OFFSET)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (
                x.cast("double") + F.lit(float(RETRAIN_SHIFT))
            ).cast("float"),
        ).alias("embedding"),
        "label",
    )


def _exact_topk_l2(corpus: DataFrame, q: DataFrame, topk: int) -> DataFrame:
    """(qid, nid) exact squared-L2 top-k over `corpus` — the ground
    truth both retrain phases are measured against (the deliberate
    |Q|×n quadratic, same contrast class as `q_similarity_topk`).
    (d², nid) tie-break matches every ADC ranker in the module."""
    pairs = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    d2 = _sub_sq_dist(F.col("qe"), F.col("embedding"))
    return (
        pairs.select("qid", F.col("vec_id").alias("nid"), d2.alias("d2"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("d2").asc(), F.col("nid").asc()
                )
            ),
        )
        .filter(F.col("rank") <= topk)
        .select("qid", "nid")
    )


def _coarse_distortion_micro(
    emb: DataFrame, cent_rows: list
) -> tuple[int, int]:
    """(n, Σ micro-rounded min-d²): the k-means objective of `emb`
    under the model — per-vector squared distance to the assigned
    centroid, rounded to micro-units PER VECTOR (order-independent
    bigint sum, the repo's exact-aggregation discipline), never a
    float sum. One corpus scan + one broadcast nlist-row join at any
    scale (the assignment is `_assign_cells`' plan)."""
    spark = emb.sparkSession
    cent = local_frame(spark, cent_rows, "cell int, __ce array<double>")
    assigned = _assign_cells(emb, cent_rows)
    d2 = _sub_sq_dist(F.col("embedding"), F.col("__ce"))
    r = (
        assigned.join(F.broadcast(cent), "cell")
        .select(F.round(d2 * 1e6).try_cast("bigint").alias("dm"))
        .agg(F.count("*").alias("n"), F.sum("dm").alias("s"))
        .first()
    )
    return int(r["n"] or 0), int(r["s"] or 0)


def _recall_counts(
    exact: DataFrame, approx: DataFrame, phase: str
) -> DataFrame:
    """(phase, n_queries, total_hits, recall_milli) — the
    `q_ann_recall_report` aggregation with a phase tag. The phase's
    distortion column is attached AFTER this frame is drained
    (`q_ann_retrain_report`), so the distortion scan can run on a
    side thread while this frame's probe+join jobs drain (guide
    §2.6 overlap) — splitting the columns changes nothing about
    either value."""
    hits = exact.join(
        approx.select(
            F.col("qid").alias("aqid"), F.col("nid").alias("anid")
        ),
        (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")),
        "left",
    )
    per_q = hits.groupBy("qid").agg(F.count("anid").alias("hits"))
    return (
        per_q.agg(
            F.count("*").alias("n_queries"),
            F.sum("hits").alias("total_hits"),
        )
        .filter(F.col("n_queries") > 0)
        .select(
            F.lit(phase).alias("phase"),
            "n_queries",
            "total_hits",
            F.expr(
                f"(total_hits * 1000) div (n_queries * {PQ_TOP_K})"
            ).alias("recall_milli"),
        )
    )


def q_ann_retrain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the retrain lifecycle — the operator a
    nightly maintenance job IS: build the base index on the fixture
    corpus, append the shifted batch under the frozen model
    (`ivf_index_append`), measure recall@{PQ_TOP_K} of the stale index
    against exact L2 truth on the grown corpus, retrain-and-swap
    (`ivf_index_retrain` — the staleness of the 20%-appended corpus is
    200‰, over the {RETRAIN_STALENESS_MILLI}‰ threshold), and measure
    again — two rows (phase ∈ before/after). Both servings go through
    `query_index_tree`, i.e. the model each tree's sidecar actually
    stores — after the swap that is the retrained model.

    Composition-priced BY DESIGN (the `retrieval_quality_report`
    class): every invocation runs the full lifecycle in a fresh
    private index root — two trainings, two corpus encodes, the exact
    quadratic truth, two probes — because auditing a cached index
    would fake the audit. The base training included: no model
    outlives its tree, so the private root trains from scratch. The report frame is drained to a local
    literal before the private tree is deleted.

    The GATED number is `distortion_micro_avg` — the k-means objective
    (mean squared distance to the assigned coarse centroid, exact
    per-vector micro rounding) of the CURRENT corpus under each
    phase's serving model. On drifted data it collapses after retrain
    (the frozen model prices the whole new cluster at the shift
    distance; the retrained, hash-seeded model gives it cells), and
    unlike recall@k at fixture PQ resolution (PQ_M=4 ⇒ a ~0.1 noise
    floor vs exact truth) it is deterministic and large. The recall
    columns stay in the report as the serving-quality context a
    maintenance job logs alongside.

    Scale story: every stage is an already-audited component —
    training is the sampled-Lloyd driver loop (model-sized collects),
    encode/probe the partition-pruned IVFADC plan, the swap two
    renames; the only corpus×queries term is the truth side, which is
    the same deliberate contrast `ann_recall_report` prices.

    r17 optimization (guide §2.6 — overlap independent jobs): the
    lifecycle is a chain of driver-synchronous actions, most of which
    do not depend on each other: the exact-truth quadratic touches no
    index tree, each phase's coarse distortion reads only that
    phase's sidecar MODEL (the append installs a sibling delta and
    never rewrites the base sidecar), and neither is an input of the
    probe drains. A two-worker pool (the `migrate.py` bounded-
    executor precedent; `inheritable_thread_target` per the PySpark
    threading contract) materializes the truth cache while the base
    tree installs + appends, and runs each phase's distortion scan
    while that phase's probe drains — same frames, same values, same
    report, fewer idle driver round-trips. Sequencing pins the
    lifecycle reads: distortion-before is submitted only after the
    base install returns (sidecar exists; append does not touch it)
    and is joined before the swap; distortion-after only after the
    swap. The distortion value is attached to each phase's DRAINED
    one-row literal as a literal column (`_recall_counts` docstring —
    split so the drain need not wait on the scan).

    Second §2.6 pass (this round): the retrain itself — the single
    most expensive lifecycle stage — now overlaps the before-phase
    drain, with only the pointer FLIP sequenced behind it
    (`ivf_index_retrain(pre_swap=...)` — an epoch barrier, see
    `index_store.VersionedTree.swap`), and inside the retrain the
    independent coarse and PQ trainings run concurrently. The probe
    frame is built before the retrain thread starts so the swap repair
    its `index_store.open_tree` runs cannot GC the live staging
    tree."""
    import shutil
    import tempfile
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    schema = (
        "phase string, n_queries bigint, total_hits bigint, "
        "recall_milli bigint, distortion_micro_avg bigint"
    )

    def _attach_distortion(counts: DataFrame, n: int, s: int) -> DataFrame:
        # the drained one-row literal gains the phase's objective as a
        # literal column — same value, position and type the pre-r17
        # single-frame form computed (distortion_micro_avg is the
        # report's LAST column, so withColumn appends in place)
        return counts.withColumn(
            "distortion_micro_avg",
            F.lit(int(s // n if n else 0)).cast("long"),
        )

    root = tempfile.mkdtemp(prefix="spark_graft_retrain_")
    pool = ThreadPoolExecutor(max_workers=2)
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        delta = _retrain_delta(emb)
        combined = emb.unionByName(delta)
        q = _queries_df(combined)
        exact = _exact_topk_l2(combined, q, PQ_TOP_K).persist()
        # truth side on a side thread: its jobs backfill the cluster
        # while the base tree trains/encodes/installs
        exact_f = pool.submit(inheritable_thread_target(exact.count))
        model, _ = _ivf_index(spark, sf_dir, emb, index_root=root)
        if model is None:
            exact_f.result()
            exact.unpersist()
            return local_frame(spark, [], schema)
        store = index_store.open_store(root)
        name = _index_name(sf_dir)

        def _serving_cent():
            # the model the tree ACTUALLY serves (its sidecar) — the
            # self-describing-index principle
            return [(c, ce) for c, ce in store.read_model(name)["cent"]]

        # distortion-before reads the base sidecar just installed;
        # overlap it with the delta append + the before-probe drain
        dist_b_f = pool.submit(
            inheritable_thread_target(
                lambda: _coarse_distortion_micro(combined, _serving_cent())
            )
        )
        ivf_index_append(spark, sf_dir, delta, "b001", index_root=root)
        exact_f.result()  # truth cache ready before the drains read it
        # the before-phase probe frame is built EAGERLY here (every
        # index entry point runs the swap repair + reads the sidecar
        # at CALL time; the returned plan only scans already-resolved
        # parquet paths) — it must exist before the retrain thread
        # does, because a probe-side swap repair running while a
        # COMPLETE staging tree sits next to a live base would GC
        # that staging tree out from under the retrain
        before_probe = _recall_counts(
            exact,
            query_index_tree(spark, q, sf_dir=sf_dir, index_root=root),
            "before",
        )
        # r17 (guide §2.6): the retrain — training, corpus re-encode,
        # staging install — is independent of every before-phase READ
        # (it touches only `combined` and staging names), so it runs
        # on the pool while the before probe drains. Only the pointer
        # FLIP is sequenced: `pre_swap=before_done.wait` parks the
        # swap until the before probe has drained and the before
        # distortion scan (which reads the base sidecar) has joined —
        # same frames, same read points, same values as the
        # sequential form.
        before_done = threading.Event()
        retrain_f = pool.submit(
            inheritable_thread_target(
                lambda: ivf_index_retrain(
                    spark,
                    sf_dir,
                    combined,
                    staleness_threshold_milli=RETRAIN_STALENESS_MILLI,
                    index_root=root,
                    pre_swap=before_done.wait,
                )
            )
        )
        try:
            # drain phase 1 BEFORE the swap (the before-tree stops
            # existing once retrain renames it away)
            before = drain_one_row(before_probe)
            n_b, s_b = dist_b_f.result()  # joined before the swap
        finally:
            # set even on a failed drain: the retrain thread is
            # parked in pre_swap and pool.shutdown(wait=True) in the
            # outer finally would deadlock on it
            before_done.set()
        before = _attach_distortion(before, n_b, s_b)
        info = retrain_f.result()
        assert info["retrained"], info  # 200‰ staleness must trigger
        # distortion-after reads the RETRAINED sidecar (post-swap);
        # overlap it with the after-probe drain
        dist_a_f = pool.submit(
            inheritable_thread_target(
                lambda: _coarse_distortion_micro(combined, _serving_cent())
            )
        )
        after = drain_one_row(
            _recall_counts(
                exact,
                query_index_tree(
                    spark, q, sf_dir=sf_dir, index_root=root
                ),
                "after",
            ),
            exact,
        )
        n_a, s_a = dist_a_f.result()
        after = _attach_distortion(after, n_a, s_a)
        return before.unionByName(after)
    finally:
        pool.shutdown(wait=True)
        shutil.rmtree(root, ignore_errors=True)


def _oracle_ann_retrain() -> str:
    """The full lifecycle replay: base+shifted-delta corpus, OLD model
    (trained on the base corpus — default seeding, as the installed
    sidecar was) encoding the WHOLE corpus (base tree + frozen-model
    delta append ≡ one corpus-wide encode under the old model), NEW
    model (trained on the full corpus with hash seeding, the retrain
    path), both probe/ADC servings, exact-L2 truth, per-phase recall
    and the micro-exact coarse distortion."""
    T = IVF_TRAIN_ITERS
    fold = _PQ_FOLD

    def _phase(sfx: str) -> str:
        """cells/enc/codes/dt/probes/scored/ranked for one model."""
        cent = f"cent{T}{sfx}"
        return f"""
cells{sfx or "_b"} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {fold.format(a='e.embedding', b='c.ce')},
                      c.cell) AS rn
    FROM corpus e, {cent} c)
  WHERE rn = 1
),
enc{sfx or "_b"} AS (
  SELECT s.vec_id, cl.cell, s.m, cid,
         ROW_NUMBER() OVER (
           PARTITION BY s.vec_id, s.m
           ORDER BY {fold.format(a='s.se', b='ce')}, cid) AS rn
  FROM psub{sfx} s
  JOIN cells{sfx or "_b"} cl ON cl.vec_id = s.vec_id
  JOIN cb{sfx} USING (m)
),
codes{sfx or "_b"} AS (
  SELECT vec_id, cell,
         MAX(CASE WHEN m = 0 THEN cid END) AS c0,
         MAX(CASE WHEN m = 1 THEN cid END) AS c1,
         MAX(CASE WHEN m = 2 THEN cid END) AS c2,
         MAX(CASE WHEN m = 3 THEN cid END) AS c3
  FROM enc{sfx or "_b"} WHERE rn = 1 GROUP BY vec_id, cell
),
dt{sfx or "_b"} AS (
  SELECT qid, m, cid,
         {fold.format(
             a=f'qe[1 + {PQ_SUBDIM} * m : {PQ_SUBDIM} * (m + 1)]',
             b='ce')} AS d
  FROM q, cb{sfx}
),
probes{sfx or "_b"} AS (
  SELECT qid, cell FROM (
    SELECT q.qid, cen.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY {fold.format(a='qe', b='cen.ce')}, cen.cell
           ) AS crank
    FROM q, {cent} cen)
  WHERE crank <= {IVF_NPROBE}
),
ranked{sfx or "_b"} AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
    FROM (
      SELECT q.qid, c.vec_id AS nid,
             (((t0.d + t1.d) + t2.d) + t3.d) AS adc
      FROM codes{sfx or "_b"} c
      JOIN probes{sfx or "_b"} p ON c.cell = p.cell
      JOIN q ON q.qid = p.qid AND c.vec_id <> q.qid
      JOIN dt{sfx or "_b"} t0 ON t0.qid = q.qid AND t0.m = 0 AND t0.cid = c.c0
      JOIN dt{sfx or "_b"} t1 ON t1.qid = q.qid AND t1.m = 1 AND t1.cid = c.c1
      JOIN dt{sfx or "_b"} t2 ON t2.qid = q.qid AND t2.m = 2 AND t2.cid = c.c2
      JOIN dt{sfx or "_b"} t3 ON t3.qid = q.qid AND t3.m = 3 AND t3.cid = c.c3
    )) WHERE rank <= {PQ_TOP_K}
),
dist{sfx or "_b"} AS (
  SELECT COUNT(*) AS n,
         SUM(TRY_CAST(ROUND(md * 1e6) AS BIGINT)) AS s
  FROM (
    SELECT MIN({fold.format(a='e.embedding', b='c.ce')}) AS md
    FROM corpus e, {cent} c GROUP BY e.vec_id)
),
rec{sfx or "_b"} AS (
  SELECT COUNT(*) AS n_queries,
         CAST(SUM(hits) AS BIGINT) AS total_hits
  FROM (
    SELECT ex.qid, COUNT(r.nid) AS hits
    FROM ex LEFT JOIN ranked{sfx or "_b"} r
      ON r.qid = ex.qid AND r.nid = ex.nid
    GROUP BY ex.qid)
  HAVING COUNT(*) > 0
)"""

    return f"""
WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {RETRAIN_ID_OFFSET},
         list_transform(embedding,
           x -> CAST(CAST(x AS DOUBLE) + {float(RETRAIN_SHIFT)!r} AS FLOAT))
  FROM embeddings WHERE vec_id % {RETRAIN_DELTA_MOD} = 0
),
{_coarse_train_sql()},
{_pq_train_sql(src="embeddings", enc_src="corpus")},
{_coarse_train_sql(src="corpus", sfx="_n", seed_by_hash=True)},
{_pq_train_sql(src="corpus", sfx="_n", seed_by_hash=True)},
q AS (
  SELECT vec_id AS qid, embedding AS qe FROM corpus
  WHERE vec_id % {QUERY_MOD} = 0
),
ex AS (
  SELECT qid, nid FROM (
    SELECT q.qid, e.vec_id AS nid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY {fold.format(a='q.qe', b='e.embedding')},
                      e.vec_id) AS rank
    FROM q JOIN corpus e ON e.vec_id <> q.qid)
  WHERE rank <= {PQ_TOP_K}
),{_phase("")},{_phase("_n")}
SELECT 'before' AS phase, n_queries, total_hits,
       (total_hits * 1000) // (n_queries * {PQ_TOP_K}) AS recall_milli,
       CAST(s // n AS BIGINT) AS distortion_micro_avg
FROM rec_b, dist_b
UNION ALL
SELECT 'after' AS phase, n_queries, total_hits,
       (total_hits * 1000) // (n_queries * {PQ_TOP_K}) AS recall_milli,
       CAST(s // n AS BIGINT) AS distortion_micro_avg
FROM rec_n, dist_n
"""


def q_quantize_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does int8 storage cost in ranking quality? Recall@{TOP_K}
    of the cosine ranking computed ON THE QUANTIZED CODES
    (`embedding_quantize`'s symmetric per-vector int8) against the
    float brute-force truth (`q_similarity_topk`) on the same query
    set — the measurement that licenses shipping a 4×-smaller index.
    The scale factor CANCELS in cosine (q = x·127/scale is a positive
    scalar multiple per vector), so the quantized ranking is exactly
    the cosine of the integer code arrays: integer components are
    exact doubles and the fold is the engine-shared `dot_double`
    tree, no dequantization float round-trip. One row
    (n_queries, total_hits, recall_milli), composition-priced — both
    rankings run end-to-end, caching either would fake the audit.
    An all-zero vector quantizes to NULL components (try_divide) and
    its NULL cosine ranks last in both engines.

    Scale shape: the quantized side is the same broadcast-queries ×
    one-corpus-scan + per-query WindowGroupLimit plan as the float
    baseline (a deliberate |Q|×n contrast entry, like
    `similarity_topk` itself); the hit join is K-bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    scaled = emb.select("vec_id", "embedding", max_abs.alias("scale"))
    qarr = F.transform(
        e,
        lambda x: F.round(
            F.try_divide(x.cast("double") * F.lit(127.0), F.col("scale"))
        ).try_cast("int"),
    )
    codes = scaled.select("vec_id", qarr.alias("q")).withColumn(
        "nrm", _l2(F.col("q"))
    )
    qs = codes.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = codes.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qq"), F.col("q"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("qcos"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("qcos").desc(), F.col("nid")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(F.col("qid").alias("aqid"), F.col("nid").alias("anid"))
    )
    exact = q_similarity_topk(spark, sf_dir).select("qid", "nid")
    hits = exact.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")),
        "left",
    )
    per_q = hits.groupBy("qid").agg(F.count("anid").alias("hits"))
    return (
        per_q.agg(
            F.count("*").alias("n_queries"),
            F.sum("hits").alias("total_hits"),
        )
        .filter(F.col("n_queries") > 0)
        .select(
            "n_queries",
            "total_hits",
            F.expr(
                f"(total_hits * 1000) div (n_queries * {TOP_K})"
            ).alias("recall_milli"),
        )
    )


ORACLE_QUANTIZE_RECALL_REPORT = f"""
WITH ex AS ({ORACLE_SIMILARITY_TOPK}),
qz AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> TRY_CAST(round(x * 127.0 / NULLIF(scale, 0)) AS INT)) AS q
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
             AS scale
    FROM embeddings)
),
ap AS (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, e.vec_id AS nid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.q::DOUBLE[],
                                             e.q::DOUBLE[]) DESC,
                      e.vec_id) AS rank
    FROM qz q JOIN qz e ON e.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_MOD} = 0
  ) WHERE rank <= {TOP_K}
),
h AS (
  SELECT ex.qid, COUNT(ap.nid) AS hits
  FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.nid = ex.nid
  GROUP BY ex.qid
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       (CAST(SUM(hits) AS BIGINT) * 1000)
         // (COUNT(*) * {TOP_K}) AS recall_milli
FROM h HAVING COUNT(*) > 0
"""


# ---------------------------------------------------------------------------
# semantic decontamination (embedding-space eval-set leakage scan)
# ---------------------------------------------------------------------------

#: held-out eval-set proxy: vec_id % DECON_MOD == 0 (deterministic,
#: disjoint id universes by construction; distinct from QUERY_MOD so
#: the decontamination eval set is NOT the ANN benchmark query set)
DECON_MOD = 20
#: hard-removal threshold (cosine micro) — an embedding this close to
#: an eval item is a paraphrase-or-copy; drop it from training
DECON_HARD_MICRO = 900_000
#: review-band threshold — fixture-calibrated like SEMDEDUP_THRESHOLD
#: (max eval↔train cosine ≈ 0.49 at sf0.01, so the review band is
#: non-empty while the hard band is empty — both flag branches are
#: exercised; a production run tunes both against labeled leaks)
DECON_REVIEW_MICRO = 450_000


def q_decontamination_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space eval-set decontamination — the semantic
    complement of the n-gram `decontamination_check`: an eval item
    paraphrased into the training set shares no 8-gram but sits at
    cosine ≈ 1 in embedding space. Per TRAINING vector: its nearest
    eval-set vector (micro-rounded cosine, ties to the smaller eval
    id), the hard `contaminated` flag (≥ DECON_HARD_MICRO — drop) and
    the `review` flag (≥ DECON_REVIEW_MICRO — human queue). Output is
    corpus-sized: exactly the filter column a curation run joins on.

    Plan: eval set is benchmark-sized (|corpus| / DECON_MOD here; real
    eval suites are thousands of items) → broadcast against ONE corpus
    scan, same shape as `q_similarity_topk`; the per-vector argmax is
    a narrow map-side-combinable min(struct(-cos, eid)) aggregate —
    no corpus×eval-sized window/shuffle: the exchange after the
    partial aggregate carries one row per training vector. NULL
    embeddings are excluded on both sides on both engines (cosine
    undefined); a NULL vec_id fails both mod predicates on both
    engines and joins neither side."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    ev = emb.filter(F.col("vec_id") % DECON_MOD == 0).select(
        F.col("vec_id").alias("eid"),
        F.col("embedding").alias("ee"),
        _l2(F.col("embedding")).alias("enrm"),
    )
    tr = emb.filter(F.col("vec_id") % DECON_MOD != 0).withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    pairs = tr.join(F.broadcast(ev), F.col("vec_id") != F.col("eid"))
    # try_cast, not cast: a zero-norm (poisoned) vector yields NaN
    # cosine, which must become NULL-missing, not an ANSI CAST error
    # that kills the corpus job (the r12 poisoned-numerics discipline,
    # same as adc_micro). The NULL must then NEVER win the argmax:
    # min(struct) ranks a NULL field FIRST, so an unguarded poisoned
    # EVAL vector would win nearest_eval_id for every training row and
    # null out both flags corpus-wide (r15 review finding). The guard
    # is a COALESCE to an above-any-real-value sentinel, NOT a
    # pre-aggregate filter on a projected cm column: predicate
    # pushdown substitutes the projected expression into the filter,
    # duplicating the 64-element cosine fold per pair and (measured)
    # falling out of codegen — 0.8 s → 19 s at the 10× smoke. The
    # coalesce form references the fold exactly ONCE; a NULL cosine
    # becomes the sentinel, loses to any real candidate, and a vector
    # whose EVERY cosine is NULL (poisoned train row) is dropped by
    # the group-sized post-aggregate sentinel filter — semantically
    # identical to the oracle's TRY_CAST + IS NOT NULL pre-filter.
    cm = F.round(
        dot_double(F.col("embedding"), F.col("ee"))
        / (F.col("nrm") * F.col("enrm"))
        * 1e6
    ).try_cast("bigint")
    sentinel = 1 << 62  # any real neg-cosine is within ±1e6
    best = (
        pairs.select(
            "vec_id",
            F.struct(
                F.coalesce(-cm, F.lit(sentinel)).alias("neg"),
                F.col("eid").alias("eid"),
            ).alias("cand"),
        )
        .groupBy("vec_id")
        .agg(F.min("cand").alias("mn"))
        .filter(F.col("mn.neg") != sentinel)
    )
    cmx = -F.col("mn.neg")
    return best.select(
        "vec_id",
        F.col("mn.eid").alias("nearest_eval_id"),
        cmx.alias("max_cos_micro"),
        (cmx >= DECON_HARD_MICRO).alias("contaminated"),
        (cmx >= DECON_REVIEW_MICRO).alias("review"),
    )


ORACLE_DECONTAMINATION_SEMANTIC = f"""
WITH ev AS (
  SELECT vec_id AS eid, embedding::DOUBLE[] AS ee FROM embeddings
  WHERE vec_id % {DECON_MOD} = 0 AND embedding IS NOT NULL
),
tr AS (
  SELECT vec_id, embedding::DOUBLE[] AS te FROM embeddings
  WHERE vec_id % {DECON_MOD} <> 0 AND embedding IS NOT NULL
),
p AS (
  SELECT vec_id, eid,
         TRY_CAST(ROUND(list_cosine_similarity(te, ee) * 1e6) AS BIGINT)
           AS cm
  FROM tr, ev
  WHERE TRY_CAST(ROUND(list_cosine_similarity(te, ee) * 1e6) AS BIGINT)
        IS NOT NULL
),
r AS (
  SELECT vec_id, eid, cm,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY cm DESC, eid) AS rn
  FROM p
)
SELECT vec_id, eid AS nearest_eval_id, cm AS max_cos_micro,
       cm >= {DECON_HARD_MICRO} AS contaminated,
       cm >= {DECON_REVIEW_MICRO} AS review
FROM r WHERE rn = 1
"""


QUERIES = {
    "similarity_topk": q_similarity_topk,
    "decontamination_semantic": q_decontamination_semantic,
    "ann_recall_report": q_ann_recall_report,
    "ann_retrain_report": q_ann_retrain_report,
    "quantize_recall_report": q_quantize_recall_report,
    "similarity_ivfpq_refined": q_similarity_ivfpq_refined,
    "hard_negative_mining": q_hard_negative_mining,
    "hard_negative_mining_ivf": q_hard_negative_mining_ivf,
    "bitext_margin_pairs": q_bitext_margin_pairs,
    "bitext_margin_pairs_ivf": q_bitext_margin_pairs_ivf,
    "similarity_pq": q_similarity_pq,
    "similarity_ivf": q_similarity_ivf,
    "similarity_ivfpq": q_similarity_ivfpq,
    "similarity_lsh": q_similarity_lsh,
    "similarity_lsh_verified": q_similarity_lsh_verified,
    "similarity_norms": q_similarity_norms,
}

ORACLES = {
    "similarity_topk": ORACLE_SIMILARITY_TOPK,
    "decontamination_semantic": ORACLE_DECONTAMINATION_SEMANTIC,
    "ann_recall_report": ORACLE_ANN_RECALL_REPORT,
    "ann_retrain_report": _oracle_ann_retrain(),
    "quantize_recall_report": ORACLE_QUANTIZE_RECALL_REPORT,
    "similarity_ivfpq_refined": ORACLE_SIMILARITY_IVFPQ_REFINED,
    "hard_negative_mining": ORACLE_HARD_NEGATIVE_MINING,
    "hard_negative_mining_ivf": ORACLE_HARD_NEGATIVE_MINING_IVF,
    "bitext_margin_pairs": ORACLE_BITEXT_MARGIN_PAIRS,
    "bitext_margin_pairs_ivf": ORACLE_BITEXT_MARGIN_PAIRS_IVF,
    "similarity_pq": ORACLE_SIMILARITY_PQ,
    "similarity_ivf": ORACLE_SIMILARITY_IVF,
    "similarity_ivfpq": ORACLE_SIMILARITY_IVFPQ,
    # similarity_lsh: rows-only (engine-specific plane family); its
    # *_verified twin carries the deterministic contract gate
    "similarity_lsh_verified": ORACLE_SIMILARITY_LSH_VERIFIED,
    "similarity_norms": ORACLE_SIMILARITY_NORMS,
}

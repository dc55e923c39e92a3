"""Quality gates for the approximate operators (LSH ANN, MinHash).

Approximate operators can't be value-hash-oracled (their output depends
on the hash family), but their QUALITY contract is testable: recall
against the exact operator, precision of what they do return, and the
candidate-cost bound that justifies their existence. Floors are set
well below measured values (ANN recall@5 measured 0.48-0.54 at ~12%
candidate cost with k=12/L=32 + 1-bit multi-probe on the weak-signal
fixture embeddings; MinHash recall 0.93-0.96, precision 1.0) so the
tests catch structural regressions, not noise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from gomysql2pg_spark.catalog import load_table
from gomysql2pg_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def test_ann_lsh_recall_floor(spark, sf_dir, queries):
    exact = {
        (r["qid"], r["nid"])
        for r in queries["similarity_topk"](spark, sf_dir)
        .filter("rank <= 5")
        .collect()
    }
    lsh = {
        (r["qid"], r["nid"])
        for r in queries["similarity_lsh"](spark, sf_dir).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.3, f"ANN recall@5 collapsed: {recall:.3f}"


def test_ann_lsh_scores_are_exact_cosines(spark, sf_dir, queries):
    """The rerank must be exact: every returned cos_sim equals the
    brute-force cosine for that pair."""
    lsh = queries["similarity_lsh"](spark, sf_dir).select(
        "qid", "nid", "cos_sim"
    )
    brute = queries["similarity_topk"](spark, sf_dir).select(
        F.col("qid").alias("bqid"),
        F.col("nid").alias("bnid"),
        F.col("cos_sim").alias("brute_cos"),
    )
    joined = lsh.join(
        brute,
        (lsh.qid == brute.bqid) & (lsh.nid == brute.bnid),
        "inner",
    )
    # pairs present in both must agree bit-for-bit
    assert joined.filter(F.col("cos_sim") != F.col("brute_cos")).count() == 0


def test_ann_lsh_candidate_cost_bounded(spark, sf_dir):
    """The justification for LSH: candidates ≪ corpus. Mean candidate
    fraction per query must stay under 30% (brute force would be 100%)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    keyed = emb.select(
        "vec_id", F.explode(SIM.lsh_bucket_keys_udf()(F.col("embedding"))).alias("bkey")
    )
    q = emb.filter(F.col("vec_id") % SIM.QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.explode(
            SIM.multiprobe_keys(
                SIM.lsh_bucket_keys_udf()(F.col("embedding"))
            )
        ).alias("qbkey"),
    )
    cand = (
        keyed.join(
            F.broadcast(q),
            (F.col("bkey") == F.col("qbkey")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id")
        .distinct()
    )
    n_queries = q.select("qid").distinct().count()
    frac = cand.count() / (n_queries * n)
    assert frac < 0.30, f"candidate fraction {frac:.3f} — LSH not pruning"


def test_minhash_precision_and_recall(spark, sf_dir, queries):
    """Every pair MinHash-LSH returns is exact-verified (precision 1.0
    by construction — assert it holds); recall vs the exact Jaccard
    operator must stay high (banding theory: j>=0.5 → P(candidate)
    ≈ 0.22 per band × 4 bands; measured 0.93+)."""
    exact = {
        (r["da"], r["db"])
        for r in queries["dedup_jaccard"](spark, sf_dir).collect()
    }
    lsh = {
        (r["da"], r["db"])
        for r in queries["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    if exact:
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.8, f"MinHash recall collapsed: {recall:.3f}"


def test_approx_distinct_accuracy(spark, sf_dir, queries):
    """HLL++ at rsd=0.02 must land within 5% of the exact distinct
    count per group."""
    approx = {
        r["o_orderpriority"]: r["approx_custs"]
        for r in queries["approx_distinct"](spark, sf_dir).collect()
    }
    exact_df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
    )
    exact = {r["o_orderpriority"]: r["n"] for r in exact_df.collect()}
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_approx_quantiles_rank_accuracy(spark, sf_dir, queries):
    """GK sketch at accuracy 1000: each reported quantile must sit
    within 1% rank error of the target quantile in the exact sorted
    values."""
    rows = queries["approx_quantiles"](spark, sf_dir).collect()
    data = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("ac"),
        )
        .collect()
    )
    by_seg: dict = {}
    for r in data:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["ac"])
    import bisect

    # output is exploded to (c_mktsegment, n, approx_cents, quantile) rows
    for r in rows:
        vals = sorted(by_seg[r["c_mktsegment"]])
        n = len(vals)
        q, got = r["quantile"], r["approx_cents"]
        lo = bisect.bisect_left(vals, got)
        hi = bisect.bisect_right(vals, got)
        target = q * (n - 1)
        assert lo - 1 <= target + 0.01 * n and hi >= target - 0.01 * n, (
            r["c_mktsegment"], q, got, lo, hi, target, n,
        )


def test_simhash_pairs_are_close(spark, sf_dir, queries):
    """SimHash output contract: ordered pairs, hamming distance ≤ 3."""
    rows = queries["dedup_simhash"](spark, sf_dir).collect()
    for r in rows:
        assert r["da"] < r["db"]
        assert 0 <= r["hamming"] <= 3


def test_dedup_clusters_are_connected_components(spark, sf_dir, queries):
    """Cluster validity against a driver-side union-find ground truth
    computed from the same pair set (small at test scale)."""
    pairs = [
        (r["da"], r["db"])
        for r in queries["dedup_jaccard"](spark, sf_dir).collect()
    ]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in queries["dedup_clusters"](spark, sf_dir).collect()
    }

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {n: find(n) for n in parent}
    # re-run find to full compression
    expected = {n: find(n) for n in parent}
    assert got == expected
    # keep flag marks exactly the cluster minima
    keeps = {
        r["doc_id"]
        for r in queries["dedup_clusters"](spark, sf_dir)
        .filter("keep")
        .collect()
    }
    assert keeps == set(expected.values())


def test_dedup_embedding_guard_refuses_large_input(spark, sf_dir):
    """The exact O(n²) verifier must be unreachable above the vector
    cap without an explicit opt-in (VERDICT r2 item 4)."""
    import pytest as _pytest

    from gomysql2pg_spark.operators.dedup import q_dedup_embedding

    with _pytest.raises(ValueError, match="O\\(n²\\) verifier"):
        q_dedup_embedding(spark, sf_dir, max_vectors=3)
    # default cap admits the test corpus and stays correct
    assert q_dedup_embedding(spark, sf_dir).count() == 50


def test_dedup_semantic_guard_refuses_mega_cluster(spark, sf_dir):
    """Σ|cluster|² is an enforced precondition (VERDICT r3 item 4):
    a cluster above the cap raises with sub-split guidance instead of
    silently launching an un-splittable quadratic join."""
    import pytest as _pytest

    from gomysql2pg_spark.operators.dedup import q_dedup_semantic

    with _pytest.raises(ValueError, match="Sub-split mega-clusters"):
        q_dedup_semantic(spark, sf_dir, max_cluster=2)
    # default cap admits the fixture's clusters and still finds dups
    assert q_dedup_semantic(spark, sf_dir).count() > 0


def test_pq_adc_picks_beat_random(spark, sf_dir, queries):
    """PQ with the untrained seed codebook cannot promise trained-PQ
    recall on the weak-signal fixture, but ADC must still carry
    signal: the exact-cosine rank of its picks must average well
    above random (percentile < 0.4; measured ~0.28). A broken
    codebook/code/lookup would push this to ~0.5."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.dedup import dot_double
    from gomysql2pg_spark.operators.similarity import _l2, _queries_df

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    n = emb.count()
    q = _queries_df(emb).withColumn("qnrm", _l2(F.col("qe")))
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    ranked = scored.withColumn("xrank", F.row_number().over(w))
    pq = queries["similarity_pq"](spark, sf_dir).select("qid", "nid")
    mean_rank = (
        pq.join(ranked, ["qid", "nid"]).agg(F.avg("xrank")).collect()[0][0]
    )
    assert mean_rank / n < 0.4, (mean_rank, n)


def _brute_components(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# chain (forces multi-round propagation: diameter 9), a triangle, a
# pair, and an asymmetric edge whose dst never appears as src
_CC_EDGES = (
    [(i, i + 1) for i in range(9)]
    + [(100, 101), (101, 102), (100, 102), (200, 201), (300, 301)]
)


@pytest.mark.parametrize(
    "typed",
    ["long", "string"],
)
def test_cc_distributed_path_equals_driver_path(spark, typed):
    """Force the distributed min-label path (small_graph_edges=0) and
    assert it agrees with the driver union-find path AND brute force,
    for long- and string-typed nodes (r8 ADVICE: every fixture graph
    sits below the 100k hybrid threshold, so the distributed path —
    and the dynamic convergence mode of iterate_fixed_point, with its
    lazy-checkpoint + unpersist interplay — had no automated
    coverage)."""
    from gomysql2pg_spark.operators.dedup import connected_components

    if typed == "long":
        edges = _CC_EDGES
        schema = "da long, db long"
    else:
        # zero-padded so lexicographic min == numeric min
        edges = [(f"n{a:03d}", f"n{b:03d}") for a, b in _CC_EDGES]
        schema = "da string, db string"
    df = spark.createDataFrame(edges, schema)
    expected = _brute_components(edges)

    driver = {
        r["node"]: r["label"]
        for r in connected_components(df).collect()
    }
    distributed = {
        r["node"]: r["label"]
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert driver == expected
    assert distributed == expected


def test_cc_union_find_asymmetric_and_null_contract():
    """_cc_union_find labels nodes appearing only in column b (it no
    longer relies on the caller having doubled the edge list) and
    refuses NULL endpoints loudly (r8 ADVICE: both behaviors were
    undocumented accidents)."""
    from gomysql2pg_spark.operators.dedup import _cc_union_find

    labels = _cc_union_find([{"a": 1, "b": 2}, {"a": 2, "b": 3}])
    assert labels == {1: 1, 2: 1, 3: 1}
    with pytest.raises(ValueError, match="NULL endpoint"):
        _cc_union_find([{"a": 1, "b": None}])


def test_ivfpq_equals_independent_numpy_ivfadc(spark, sf_dir, queries):
    """Independent reimplementation check for the composed IVFADC
    path: rebuild the whole pipeline (seed codebook → codes → exact
    bigint-micro cell centroids → per-query multi-probe cell ranking →
    per-query distance tables → in-probed-cells ADC top-5 with the
    (adc, nid) tie-break) in plain numpy from the raw parquet, and
    require the Spark result row-for-row. Also pins the probe contract
    directly: every returned neighbor lives in one of its query's
    IVF_NPROBE nearest cells."""
    import numpy as np
    import pyarrow.parquet as pq

    from gomysql2pg_spark.operators.similarity import (
        IVF_NLIST,
        IVF_NPROBE,
        IVF_TRAIN_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        PQ_TOP_K,
        QUERY_MOD,
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    vid = np.asarray(tbl["vec_id"], dtype=np.int64)
    mat = np.asarray([list(e) for e in tbl["embedding"]], dtype=np.float64)
    order = np.argsort(vid)
    vid, mat = vid[order], mat[order]

    # bigint-micro units shared by both quantizer trainings
    # (half-away-from-zero ROUND; np.rint banker's-rounds exact halves
    # the other way)
    micros = (np.trunc(np.abs(mat) * 1e6 + 0.5) * np.sign(mat)).astype(
        np.int64
    )
    from gomysql2pg_spark.operators.similarity import (
        PQ_TRAIN_ITERS,
        TRAIN_SAMPLE_MOD,
    )

    # r15: both quantizers train on the md5 hash-sample (seeds and
    # encoding stay full-corpus) — replicate the engine's
    # _train_sample mask independently
    import hashlib as _hl

    tmask = (
        np.asarray(
            [
                int(_hl.md5(str(int(v)).encode()).hexdigest()[30], 16)
                % TRAIN_SAMPLE_MOD
                == 0
                for v in vid
            ]
        )
        if TRAIN_SAMPLE_MOD > 1
        else np.ones(len(vid), dtype=bool)
    )

    # trained sub-codebooks (r14): PQ_TRAIN_ITERS Lloyd iterations per
    # subspace from the seed sub-slices (vec_id < PQ_K), same
    # micro-sum discipline as the coarse replay below — (d, cid)
    # argmin, empty cells keep their previous sub-centroid
    seeds = mat[vid < PQ_K]
    seed_ids = vid[vid < PQ_K]
    subcb = {}
    for m in range(PQ_M):
        sub = mat[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        smic = micros[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        cb = {
            int(s): seeds[k, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM].copy()
            for k, s in enumerate(seed_ids)
        }
        for _ in range(PQ_TRAIN_ITERS):
            C = np.stack([cb[int(s)] for s in seed_ids])
            d = ((sub[tmask][:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)  # first min = smallest cid
            for k, s in enumerate(seed_ids):
                rows = smic[tmask][a == k]
                if len(rows):
                    cb[int(s)] = (
                        rows.sum(axis=0).astype(np.float64) / 1e6
                    ) / len(rows)
        subcb[m] = np.stack([cb[int(s)] for s in seed_ids])
    codes = np.empty((len(vid), PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        sub = mat[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        d = ((sub[:, None, :] - subcb[m][None, :, :]) ** 2).sum(axis=2)
        # argmin with cid tie-break = first minimum in seed_id order
        codes[:, m] = seed_ids[
            np.lexsort((seed_ids[None, :].repeat(len(vid), 0), d), axis=1)[
                :, 0
            ]
        ]
    # trained coarse quantizer replay: IVF_TRAIN_ITERS Lloyd
    # iterations the way both engines run them — (dist2, cell)-argmin
    # assignment, per-component bigint-micro sums, one division at the
    # end, empty cells keeping their previous centroid
    cell_ids = sorted(int(v) for v in vid[vid < IVF_NLIST])
    cent = {int(vid[i]): mat[i].copy() for i in np.flatnonzero(vid < IVF_NLIST)}
    for _ in range(IVF_TRAIN_ITERS):
        C = np.stack([cent[c] for c in cell_ids])
        d = ((mat[tmask][:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # first min = smallest cell id
        for ci, c in enumerate(cell_ids):
            rows = micros[tmask][assign == ci]
            if len(rows):
                cent[c] = (
                    rows.sum(axis=0).astype(np.float64) / 1e6
                ) / len(rows)
    C = np.stack([cent[c] for c in cell_ids])
    d = ((mat[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cell = np.asarray(cell_ids)[d.argmin(axis=1)]

    qmask = vid % QUERY_MOD == 0
    expected = set()
    for qi in np.flatnonzero(qmask):
        qv, qid = mat[qi], vid[qi]
        cd = sorted(
            (float(((qv - cent[c]) ** 2).sum()), c) for c in cell_ids
        )
        probe = {c for _, c in cd[:IVF_NPROBE]}
        cand = np.flatnonzero(
            np.isin(cell, list(probe)) & (vid != qid)
        )
        adc = np.zeros(len(cand))
        for m in range(PQ_M):
            qs = qv[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            cs = subcb[m]
            # exact sequential fold matches double math closely enough
            # for micro-rounding (1e-6 * 1e6 = integer units)
            dtab = ((qs[None, :] - cs) ** 2).sum(axis=1)
            lut = {int(s): dtab[k] for k, s in enumerate(seed_ids)}
            adc += np.asarray([lut[int(codes[c, m])] for c in cand])
        top = sorted(zip(adc, vid[cand]))[:PQ_TOP_K]
        for rank, (a, nid) in enumerate(top, start=1):
            expected.add((int(qid), int(nid), round(a * 1e6), rank))

    got = {
        (int(r.qid), int(r.nid), int(r.adc_micro), int(r.rank))
        for r in queries["similarity_ivfpq"](spark, sf_dir).collect()
    }
    # allow ±1 micro-unit on the rounded ADC (numpy pairwise-sum vs the
    # engine's strict sequential fold); identity/rank must be exact
    assert {(q, n, r) for q, n, _, r in got} == {
        (q, n, r) for q, n, _, r in expected
    }
    gm = {(q, n, r): a for q, n, a, r in got}
    em = {(q, n, r): a for q, n, a, r in expected}
    for k, a in gm.items():
        assert abs(a - em[k]) <= 1, (k, a, em[k])


def test_ivfpq_recall_vs_in_cell_exact(spark, sf_dir, queries):
    """Recall gate for the composed path: within the PROBED cells, the
    PQ quantization must retain ranking signal — the exact-cosine
    in-probed-cells rank of IVFADC's picks averages well above random
    (the untrained seed codebook caps absolute recall, so the gate pins
    better-than-random, not trained-PQ recall). Random would land at
    percentile ~0.5."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.dedup import dot_double
    from gomysql2pg_spark.operators.similarity import _l2

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _l2(F.col("embedding"))
    )
    picks = queries["similarity_ivfpq"](spark, sf_dir).select("qid", "nid")
    # exact-cosine rank over the same candidate universe the probe saw:
    # every (qid, cell-mate-of-any-probed-cell) — reconstruct it as all
    # vectors sharing a label with any of the query's picks' labels is
    # circular; instead rank the picks against the query's FULL exact
    # ranking and normalize by corpus size (a strictly harder universe)
    q = emb.filter(F.col("vec_id").isin(
        [r["qid"] for r in picks.select("qid").distinct().collect()]
    )).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("vec_id").alias("nid"),
        (
            dot_double(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    ranked = scored.withColumn("xrank", F.row_number().over(w))
    sizes = ranked.groupBy("qid").agg(F.max("xrank").alias("n_all"))
    pct = (
        picks.join(ranked, ["qid", "nid"])
        .join(sizes, "qid")
        .agg(F.avg(F.col("xrank") / F.col("n_all")).alias("p"))
        .collect()[0]["p"]
    )
    assert pct < 0.4, pct


def test_ivfpq_multiprobe_recall_monotone(spark, sf_dir):
    """The nprobe lever: recall@5 against exhaustive ADC
    (`similarity_pq`, same codebook, no IVF pruning) must be monotone
    non-decreasing in nprobe, with strictly more candidate coverage —
    probing 2 cells can only add candidates, and with the deterministic
    cell ranking the oracle stays exact at any nprobe (driver-checked
    at the default)."""
    from gomysql2pg_spark.operators.similarity import (
        q_similarity_ivfpq,
        q_similarity_pq,
    )

    exhaustive = {
        (r["qid"], r["nid"])
        for r in q_similarity_pq(spark, sf_dir).collect()
    }
    recalls = {}
    for nprobe in (1, 2, 3):
        got = {
            (r["qid"], r["nid"])
            for r in q_similarity_ivfpq(spark, sf_dir, nprobe=nprobe)
            .collect()
        }
        recalls[nprobe] = len(got & exhaustive) / len(exhaustive)
    # the trained cells are balanced, so each extra probed cell must
    # recover a STRICTLY larger share of the exhaustive-ADC truth
    # (measured 0.36 -> 0.56 -> 0.72 on the sf0.01 fixture)
    assert recalls[1] < recalls[2] < recalls[3], recalls
    # the trained-coarse-quantizer floor: an untrained/regressed cell
    # assignment sits at chance (nprobe/nlist = 0.375 at nprobe 3)
    assert recalls[3] >= 0.5, recalls


def test_survivors_invariants_hold_on_lsh_edges(spark, sf_dir, queries):
    """The survivor semantics are edge-source-agnostic: with the
    sub-quadratic MinHash-LSH pair generator (the 100 TB edge source)
    instead of the exact verifier, every cluster still elects exactly
    one survivor, every corpus doc appears exactly once, and each
    survivor maximizes (quality_score, n_chars, -doc_id) within its
    cluster."""
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        q_dedup_survivors,
    )

    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("da", "db")
    surv = q_dedup_survivors(spark, sf_dir, pairs=pairs)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert surv.count() == n_docs
    assert surv.select("doc_id").distinct().count() == n_docs
    per = surv.groupBy("cluster_id").agg(
        F.sum(F.col("is_survivor").cast("int")).alias("n_surv")
    )
    assert per.filter(F.col("n_surv") != 1).count() == 0
    # the elected survivor is the cluster maximum under the total order
    best = surv.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                "quality_score", "n_chars", (-F.col("doc_id")).alias("nid")
            )
        ).alias("b")
    )
    elected = surv.filter("is_survivor").join(best, "cluster_id")
    bad = elected.filter(
        (F.col("quality_score") != F.col("b.quality_score"))
        | (F.col("n_chars") != F.col("b.n_chars"))
        | (F.col("doc_id") != -F.col("b.nid"))
    )
    assert bad.count() == 0


def test_ivf_code_table_partition_prunes_on_probe(spark, sf_dir, tmp_path):
    """The 100 TB claim behind `q_similarity_ivfpq` made executable:
    the per-cell PQ code table written `partitionBy("cell")` must let
    a multi-probe filter prune partitions at the SCAN (the probe then
    reads nprobe directories, not the corpus). Asserts the pruned
    scan reads strictly fewer files than the full table and that the
    pushed partition filter appears in the physical plan."""
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.similarity import (
        _assign_cells,
        _pq_codes,
        _served_model,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows, cb = _served_model(spark, sf_dir, emb)
    codes = _pq_codes(_assign_cells(emb, rows), cb, carry=("cell",))
    out = str(tmp_path / "codes")
    codes.write.partitionBy("cell").parquet(out)
    full = spark.read.parquet(out)
    # the ENTRY's own plan: the probe equi-join against the disk index
    # compiles to dynamic partition pruning on the cell directories
    # (SubqueryAdaptiveBroadcast feeding a dynamicpruning partition
    # filter) — the literal "query touches nprobe cells" 100 TB claim
    from gomysql2pg_spark.operators.similarity import q_similarity_ivfpq

    entry_plan = (
        q_similarity_ivfpq(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruningexpression(cell" in entry_plan

    probed = full.filter(F.col("cell").isin(3, 5))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:120], plan
    n_cells = full.select("cell").distinct().count()
    assert n_cells > 2  # pruning below is non-trivial
    # the filter lands in PartitionFilters (applied at file listing),
    # NOT as a post-scan data filter on the cell column
    scan = plan.split("FileScan")[1]
    assert "PushedFilters" in scan
    # and the pruned read returns exactly the probed cells' codes
    got = {r["cell"] for r in probed.select("cell").distinct().collect()}
    assert got == {3, 5}
    assert (
        probed.count()
        == full.filter(F.col("cell").isin(3, 5)).count()
        < full.count()
    )


def test_train_coarse_empty_cell_keeps_previous_centroid(
    spark, monkeypatch
):
    """The one training branch the fixture never hits: a cell that
    loses every member keeps its previous centroid, in BOTH engines.
    Two identical seed vectors force it deterministically — every
    vector equidistant to cells 2 and 3 tie-breaks to the smaller
    cell, so cell 3 is empty from iteration 1. The Spark-side model
    must keep cell 3's seed centroid verbatim, and the oracle's
    COALESCE CTE must produce the identical final centroids.
    Training-sample disabled (MOD=1): the hand-built membership
    geometry needs every synthetic vector in the training set, and
    the hash-sample is orthogonal to the empty-cell branch (its
    engine/oracle parity has its own test)."""
    import duckdb
    import pandas as pd

    from gomysql2pg_spark.operators import similarity as SIMM
    from gomysql2pg_spark.operators.similarity import (
        IVF_TRAIN_ITERS,
        _train_coarse,
    )

    monkeypatch.setattr(SIMM, "TRAIN_SAMPLE_MOD", 1)
    _coarse_train_sql = SIMM._coarse_train_sql

    dim = 64
    # seeds = vec_id 0..7; seed 7 DUPLICATES seed 6, and members (ids
    # >= 100) sit strictly nearer their seed than any other, with a
    # member at 7.1 equidistant to cells 6 and 7 tie-breaking to 6
    seeds = [[float(i + 1)] * dim for i in range(7)]
    seeds.append(seeds[6])
    rows = [(i, v) for i, v in enumerate(seeds)]
    rows += [(100 + j, [1.0 + 0.1 * (j + 1)] * dim) for j in range(3)]
    rows.append((200, [7.1] * dim))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = dict(_train_coarse(emb))
    # cell 7 never wins a tie against cell 6 -> kept its seed centroid
    assert model[7] == seeds[6]
    assert model[6] != seeds[6]  # cell 6 absorbed the 7.1 member
    assert model[0] != seeds[0]  # cell 0 absorbed the 1.1/1.2/1.3 set
    # the oracle's training CTEs produce the identical final model
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}),
    )
    got = con.execute(
        f"WITH {_coarse_train_sql()} SELECT cell, ce "
        f"FROM cent{IVF_TRAIN_ITERS} ORDER BY cell"
    ).fetchall()
    oracle_model = {c: list(ce) for c, ce in got}
    assert oracle_model == model


def test_ivf_index_control_plane_rides_pyarrow_fs(spark, sf_dir, tmp_path):
    """The L4 treatment applied to the ANN index (r12 verdict item 2):
    build + probe the IVFADC index through an injected
    SubTreeFileSystem. The control plane (cache-key check, _SUCCESS
    gate, install, eviction) sees only subtree-RELATIVE paths — any
    leftover os.* access on those paths would ENOENT — while Spark
    reads/writes the same bytes at `spark_root`. Results must be
    byte-identical to the default-local-path build, a _SUCCESS removed
    through the filesystem must force a rebuild, and the installed
    tree must carry the atomic-install marker."""
    from pyarrow import fs as pafs

    base = tmp_path / "objstore" / "ann"
    base.mkdir(parents=True)
    subfs = pafs.SubTreeFileSystem(
        str(tmp_path / "objstore"), pafs.LocalFileSystem()
    )
    kw = dict(
        index_root="ann",  # subtree-relative: os.* on this would ENOENT
        filesystem=subfs,
        spark_root=str(base),
    )
    got = sorted(
        map(tuple, SIM.q_similarity_ivfpq(spark, sf_dir, **kw).collect())
    )
    want = sorted(
        map(tuple, SIM.q_similarity_ivfpq(spark, sf_dir).collect())
    )
    assert got == want and got
    trees = [
        i.base_name
        for i in subfs.get_file_info(pafs.FileSelector("ann"))
        if i.type == pafs.FileType.Directory
    ]
    assert len(trees) == 1 and trees[0].startswith("spark_graft_ivf_")
    success = f"ann/{trees[0]}/_SUCCESS"
    assert subfs.get_file_info(success).type == pafs.FileType.File
    # evict the marker THROUGH the filesystem: the next build must not
    # trust the half-tree and must reinstall (same results)
    subfs.delete_file(success)
    again = sorted(
        map(tuple, SIM.q_similarity_ivfpq(spark, sf_dir, **kw).collect())
    )
    assert again == want
    assert subfs.get_file_info(success).type == pafs.FileType.File


def test_ivf_index_default_root_is_per_user(tmp_path, monkeypatch):
    """The default index root is a per-user 0700 cache dir, not the
    old world-shared predictable /tmp path (r12 advice: another user's
    pre-created dir with a _SUCCESS marker must never be trusted)."""
    import os
    import stat

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    from gomysql2pg_spark.index_store import open_store

    store = open_store()
    croot, sroot = store.croot, store.sroot
    assert croot == sroot
    uid = os.getuid() if hasattr(os, "getuid") else 0
    assert croot.endswith(f"spark_graft_ivf-u{uid}")
    assert croot.startswith(str(tmp_path))
    mode = stat.S_IMODE(os.stat(croot).st_mode)
    assert mode == 0o700


def test_fixture_key_catches_same_second_rewrite(tmp_path):
    """Cache-key staleness hole from the r12 advice: a fixture
    rewritten in place within the same wall-clock second must change
    the key. The key uses (size, mtime_ns), so either a size change or
    a sub-second mtime change re-keys; identical bytes at identical
    mtime_ns (a true no-op) may share the key."""
    import os

    fx = tmp_path / "embeddings.parquet"
    fx.write_bytes(b"one")
    os.utime(fx, (1_700_000_000, 1_700_000_000))
    k1 = SIM._fixture_key(str(tmp_path))
    # same second (os.utime with identical integer seconds), new size
    fx.write_bytes(b"longer-content")
    os.utime(fx, (1_700_000_000, 1_700_000_000))
    k2 = SIM._fixture_key(str(tmp_path))
    assert k1 is not None and k2 is not None and k1 != k2
    # sub-second mtime change, same size
    os.utime(fx, ns=(1_700_000_000_000_000_000, 1_700_000_000_500_000_000))
    k3 = SIM._fixture_key(str(tmp_path))
    assert k3 != k2
    # missing fixture -> unkeyable, never a crash
    assert SIM._fixture_key(str(tmp_path / "nope")) is None


def _py_cell(e, cent_rows):
    """Independent reference for `_assign_cells`: the (d², cell)
    argmin over float64, d² the strict left fold of (x - y)². A NULL
    distance (NULL, short or NULL-holding embedding) sorts below every
    number and NaN above, as in Spark's ordering; ties go to the
    smaller cell."""
    import math

    def key(row):
        c, ce = row
        if e is None or len(e) != len(ce) or None in e:
            return (0, 0.0, c)
        d = 0.0
        for x, y in zip(e, ce):
            d = d + (float(x) - y) * (float(x) - y)
        return (2, 0.0, c) if math.isnan(d) else (1, d, c)

    return min(cent_rows, key=key)[0]


def _assert_one_projection(df):
    """The assignment plan: no shuffle, no cartesian product, no cache
    — the model reaches the scan as one broadcast row."""
    import re as _re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _re.search(r"(?<!Broadcast)Exchange", plan), plan
    for bad in ("CartesianProduct", "InMemoryTableScan"):
        assert bad not in plan, plan
    assert "BroadcastExchange" in plan, plan


def _check_assignment(emb, rows):
    """Run `_assign_cells` on `emb` and check it row by row against
    `_py_cell`: same columns plus `cell`, every input row exactly once
    (NULL and duplicate keys included), the plan one projection.
    Returns the sorted (vec_id, cell) pairs."""
    out = SIM._assign_cells(emb, rows)
    assert out.columns == emb.columns + ["cell"]
    _assert_one_projection(out)
    # rows are matched on (vec_id, repr(embedding)): repr keeps NaN
    # comparable, where NaN != NaN would fail a tuple comparison
    got = sorted(
        ((r["vec_id"], repr(r["embedding"]), r["cell"]) for r in out.collect()),
        key=repr,
    )
    want = sorted(
        (
            (r["vec_id"], repr(r["embedding"]), _py_cell(r["embedding"], rows))
            for r in emb.collect()
        ),
        key=repr,
    )
    assert got == want
    assert len(got) == emb.count()
    return [(v, c) for v, _, c in got]


def test_assign_cells_join_form_equals_literal_form(spark, sf_dir):
    """The one assignment form — a projection against the broadcast
    model row — picks the cell a literal float64 (d², cell) argmin
    picks for every fixture vector under the trained model, keeps
    every row and payload column, and plans as one projection with no
    shuffle, cartesian product or cache."""
    from gomysql2pg_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = SIM._train_coarse(emb)
    assert rows
    _check_assignment(emb, rows)
    out = SIM._assign_cells(emb, rows)
    lbl = {r["vec_id"]: r["label"] for r in emb.collect()}
    assert {r["vec_id"]: r["label"] for r in out.collect()} == lbl


def test_assign_cells_join_form_trains_identically(spark, sf_dir):
    """End to end: `_train_coarse`, whose Lloyd passes assign through
    `_assign_cells`, trains the bit-identical model the oracle's
    training CTEs replay on the fixture (the oracle replays training
    CTE-for-CTE, so the model must not depend on the physical
    assignment plan)."""
    import duckdb

    from gomysql2pg_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = dict(SIM._train_coarse(emb))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = con.execute(
        f"WITH {SIM._coarse_train_sql()} SELECT cell, ce "
        f"FROM cent{SIM.IVF_TRAIN_ITERS} ORDER BY cell"
    ).fetchall()
    con.close()
    assert got and got == {c: list(ce) for c, ce in want}


def test_ivf_tree_build_trains_each_model_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A `similarity_ivfpq` tree build runs the coarse and the PQ Lloyd
    training once each — the built tree's sidecar is then the model
    every caller reads — and a query against the built tree trains
    nothing and serves the same rows."""
    calls = []

    def counted(name):
        real = getattr(SIM, name)

        def run(*a, **k):
            calls.append(name)
            return real(*a, **k)

        return run

    for name in ("_train_coarse", "_train_pq_model"):
        monkeypatch.setattr(SIM, name, counted(name))
    root = str(tmp_path / "ann")
    first = sorted(
        map(tuple, SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).collect())
    )
    assert sorted(calls) == ["_train_coarse", "_train_pq_model"]
    calls.clear()
    again = sorted(
        map(tuple, SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).collect())
    )
    assert calls == [] and again == first and first


def test_ivf_index_accepts_file_uri_root(spark, sf_dir, tmp_path):
    """The `FileSystem.from_uri` branch of `index_store.open_store`: a
    file:// URI index root resolves to a pyarrow LocalFileSystem for
    the control plane while Spark reads/writes the URI — the same
    wiring an s3://... root would use. Results must match the default
    build and the tree must land under the URI's path."""
    import os

    from pyarrow import fs as pafs

    root_uri = (tmp_path / "uri_idx").as_uri()  # file:///...
    got = sorted(
        map(
            tuple,
            SIM.q_similarity_ivfpq(
                spark, sf_dir, index_root=root_uri
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, SIM.q_similarity_ivfpq(spark, sf_dir).collect())
    )
    assert got == want and got
    trees = [
        d
        for d in os.listdir(tmp_path / "uri_idx")
        if d.startswith("spark_graft_ivf_")
    ]
    assert len(trees) == 1
    assert os.path.isfile(tmp_path / "uri_idx" / trees[0] / "_SUCCESS")
    from gomysql2pg_spark.index_store import open_store

    store = open_store(index_root=root_uri)
    assert isinstance(store.fs, pafs.LocalFileSystem)
    assert store.sroot == root_uri and not store.croot.startswith("file://")


def test_ivf_index_losing_a_race_trusts_the_winner(spark, sf_dir, tmp_path):
    """The non-atomic-move story made executable: if the tmp→final
    move fails because another writer already installed a COMPLETE
    tree (_SUCCESS present), the loser must clean up its tmp tree and
    serve the winner's; if the existing tree is INCOMPLETE (no
    _SUCCESS — a crashed writer), it must be evicted and replaced."""
    import os

    from pyarrow import fs as pafs

    base = tmp_path / "race"
    base.mkdir()
    subfs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())

    class MoveOnceFails:
        """Delegating wrapper whose first move() raises — the shape of
        losing an object-store install race."""

        def __init__(self, inner):
            self._inner = inner
            self.failed = False

        def move(self, src, dst):
            if not self.failed:
                self.failed = True
                raise OSError("simulated lost install race")
            return self._inner.move(src, dst)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    kw = dict(index_root="race", spark_root=str(base))

    # case 1: incomplete pre-existing tree (no _SUCCESS) -> evicted,
    # fresh tree installed on the retry inside the except branch
    from gomysql2pg_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fk = SIM._fixture_key(sf_dir)
    import hashlib

    key = hashlib.md5(repr((fk, "ivf-codes-v2")).encode()).hexdigest()[:12]
    stale = base / f"spark_graft_ivf_{key}"
    stale.mkdir()
    (stale / "part-junk.parquet").write_bytes(b"not parquet")
    racing = MoveOnceFails(subfs)
    model, codes = SIM._ivf_index(
        spark, sf_dir, emb, filesystem=racing, **kw
    )
    assert racing.failed and model and codes is not None
    assert (stale / "_SUCCESS").is_file()  # fresh tree installed
    assert not (stale / "part-junk.parquet").exists()  # junk evicted
    n_codes = codes.count()
    assert n_codes == emb.count()
    # no tmp litter left behind
    assert not [d for d in os.listdir(base) if ".tmp-" in d]

    # case 2: complete winner tree already present -> loser's rebuild
    # is discarded, winner served, winner bytes untouched
    marker_mtime = (stale / "_SUCCESS").stat().st_mtime_ns
    racing2 = MoveOnceFails(subfs)
    # force a rebuild attempt (the on-disk _SUCCESS short-circuits
    # before any move, so simulate the race window: hide _SUCCESS from
    # the FIRST check)
    class HideSuccessOnce:
        def __init__(self, inner):
            self._inner = inner
            self._hidden = False

        def get_file_info(self, path):
            if not self._hidden and isinstance(path, str) and path.endswith("_SUCCESS"):
                self._hidden = True
                from pyarrow import fs as _pafs

                return _pafs.FileInfo(path, _pafs.FileType.NotFound)
            return self._inner.get_file_info(path)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    model2, codes2 = SIM._ivf_index(
        spark, sf_dir, emb, filesystem=HideSuccessOnce(MoveOnceFails(subfs)), **kw
    )
    assert codes2 is not None and codes2.count() == n_codes
    # the loser serves the winner's tree and so the winner's sidecar
    assert model2 == model
    assert (stale / "_SUCCESS").stat().st_mtime_ns == marker_mtime
    assert not [d for d in os.listdir(base) if ".tmp-" in d]


def test_assign_cells_forms_agree_on_poisoned_vectors(spark):
    """Vectors carrying NaN/Inf components get the reference argmin's
    cell: a NaN distance sorts above every finite distance in
    `array_min`, so a poisoned vector deterministically falls to the
    lowest cell id among its all-NaN candidates, and an all-Inf row
    ties on every cell and takes the smallest."""
    emb = spark.createDataFrame(
        [
            (0, [float("nan")] * 64),
            (1, [1.0] * 64),
            (2, [float("inf")] + [0.0] * 63),
            (3, [-float("inf")] + [2.0] * 63),
            (4, [0.5] * 64),
        ],
        "vec_id bigint, embedding array<float>",
    )
    rows = [(0, [0.0] * 64), (1, [1.0] * 64), (2, [2.0] * 64)]
    cells = dict(_check_assignment(emb, rows))
    assert len(cells) == 5
    assert cells[1] == 1 and cells[4] == 0  # finite rows: true nearest


def test_assign_cells_join_form_preserves_hostile_rows(spark):
    """Rows with NULL or DUPLICATE natural keys — which an
    equi-join/groupBy on vec_id would silently drop or merge — come
    out exactly once with the reference argmin's cell, NULL and short
    embeddings included (their distances are NULL on every cell)."""
    emb = spark.createDataFrame(
        [
            (None, [1.0] * 64),
            (7, [1.0] * 64),
            (7, [0.4] * 64),
            (3, None),
            (5, [2.0] * 10),
            (6, [1.0] * 63 + [None]),
            (4, [0.5] * 64),
        ],
        "vec_id bigint, embedding array<float>",
    )
    rows = [(2, [2.0] * 64), (0, [0.0] * 64), (1, [1.0] * 64)]
    got = _check_assignment(emb, rows)
    assert len(got) == 7  # nothing dropped, nothing merged
    assert sorted(c for v, c in got if v == 7) == [0, 1]


def test_ivf_index_serves_in_memory_codes_when_install_fails(
    spark, sf_dir, tmp_path
):
    """Both install attempts failing (transient fs error, no winner
    tree) must DEGRADE — serve the in-memory code table just built —
    not crash reading a final path that was never installed."""
    from pyarrow import fs as pafs

    from gomysql2pg_spark.catalog import load_table

    base = tmp_path / "broken"
    base.mkdir()
    subfs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())

    class MoveAlwaysFails:
        def __init__(self, inner):
            self._inner = inner

        def move(self, src, dst):
            raise OSError("simulated persistent install failure")

        def __getattr__(self, name):
            return getattr(self._inner, name)

    emb = load_table(spark, sf_dir, "embeddings")
    model, codes = SIM._ivf_index(
        spark,
        sf_dir,
        emb,
        index_root="broken",
        filesystem=MoveAlwaysFails(subfs),
        spark_root=str(base),
    )
    assert model and codes is not None
    assert codes.count() == emb.count()  # the in-memory frame works


def test_secure_private_dir_refuses_squats(tmp_path):
    """The predictable-path trust fix: a symlink at the scratch path
    is refused, a dir owned by another uid is refused (root can chown
    to simulate the squatter), a loose mode on our own dir is
    re-tightened, and a fresh path is created 0700."""
    import os
    import stat as stat_mod

    import pytest as _pytest

    from gomysql2pg_spark.functions.paths import secure_private_dir

    fresh = tmp_path / "fresh"
    out = secure_private_dir(str(fresh))
    assert stat_mod.S_IMODE(os.stat(out).st_mode) == 0o700

    loose = tmp_path / "loose"
    loose.mkdir(mode=0o777)
    os.chmod(loose, 0o777)
    secure_private_dir(str(loose))
    assert stat_mod.S_IMODE(os.stat(loose).st_mode) == 0o700

    target = tmp_path / "target"
    target.mkdir()
    link = tmp_path / "link"
    link.symlink_to(target)
    with _pytest.raises(RuntimeError, match="not a real directory"):
        secure_private_dir(str(link))

    if hasattr(os, "getuid") and os.getuid() == 0:
        foreign = tmp_path / "foreign"
        foreign.mkdir()
        os.chown(foreign, 12345, 12345)  # the squatter
        with _pytest.raises(RuntimeError, match="owned by uid 12345"):
            secure_private_dir(str(foreign))


def test_cc_long_chain_converges_within_log_rounds(spark):
    """The r13 review finding made a test: one-hop min-label needs
    diameter-many rounds, so a chain longer than max_iter came back
    SILENTLY SPLIT. With pointer jumping the label paths halve per
    round, so a 200-node chain (diameter 199) through the DISTRIBUTED
    path must converge to ONE component within max_iter=12 rounds —
    and an impossible budget must RAISE, never return split
    components."""
    import pytest as _pytest

    from gomysql2pg_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "da bigint, db bigint"
    )
    labels = connected_components(
        chain, small_graph_edges=0, max_iter=12
    )
    got = {r["label"] for r in labels.collect()}
    assert got == {0}  # one component, rooted at the minimum
    assert labels.count() == 200
    # an impossible round budget fails LOUDLY instead of splitting
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            chain, small_graph_edges=0, max_iter=2
        ).count()


def test_iterate_fixed_point_exhaustion_guard(spark):
    """require_convergence: a step that never converges raises at
    max_iter instead of returning the half-propagated state; without
    the flag the legacy best-effort return is preserved."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gomysql2pg_spark.plans.iterative import iterate_fixed_point

    state = spark.range(3).select(
        F.col("id").alias("node"), F.col("id").alias("label")
    )

    def never_converges(s):
        return s.select(
            "node",
            F.col("label").alias("old_label"),
            (F.col("label") + 1).alias("label"),
        )

    with _pytest.raises(RuntimeError, match="did not converge"):
        iterate_fixed_point(
            state,
            never_converges,
            3,
            changed=F.col("label") != F.col("old_label"),
            require_convergence=True,
        )
    out = iterate_fixed_point(
        state,
        never_converges,
        3,
        changed=F.col("label") != F.col("old_label"),
    )
    assert out.count() == 3  # legacy best-effort path unchanged


def test_minhash_lsh_mega_bucket_cap(spark, tmp_path, monkeypatch):
    """The Σ bucket² bound is enforced: with the cap forced low, a
    template stamped across many docs (every band bucket identical,
    size ≫ cap) produces NO candidate pairs from the mega-bucket,
    while an unrelated near-dup pair in a healthy (size-2) bucket
    still comes through. With the production cap the same corpus
    pairs up normally — the cap only bites degenerate buckets."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gomysql2pg_spark.operators import dedup as DD

    template = "the same boilerplate template text stamped everywhere " * 4
    near_a = "completely different unique content about alpha beta gamma delta epsilon zeta"
    near_b = near_a + " extra"
    texts = [template] * 30 + [near_a, near_b]
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    fx = tmp_path / "documents.parquet"
    pq.write_table(tbl, fx)

    monkeypatch.setattr(DD, "LSH_MAX_BUCKET", 10)
    pairs = {
        (r["da"], r["db"])
        for r in DD.q_dedup_minhash_lsh(spark, str(tmp_path)).collect()
    }
    assert (30, 31) in pairs  # healthy bucket survives
    assert not any(a < 30 and b < 30 for a, b in pairs)  # mega-bucket dropped

    monkeypatch.setattr(DD, "LSH_MAX_BUCKET", 1024)
    pairs_full = {
        (r["da"], r["db"])
        for r in DD.q_dedup_minhash_lsh(spark, str(tmp_path)).collect()
    }
    assert (30, 31) in pairs_full
    assert (0, 1) in pairs_full  # identical docs pair up under the real cap


def test_bucket_pairs_drops_null_doc_ids(spark):
    """NULL-keyed rows never reach the pair generator: the pre-r14
    self-join's strict a.doc_id < b.doc_id predicate dropped them
    implicitly; the fused kernel must drop them explicitly or SimHash
    (which returns _bucket_pairs output directly after the Hamming
    filter) would emit (NULL, x) pairs on a hostile fixture."""
    from gomysql2pg_spark.operators.dedup import _bucket_pairs

    bands = spark.createDataFrame(
        [(None, 0, 7), (1, 0, 7), (2, 0, 7)],
        "doc_id long, band int, bkey long",
    )
    pairs = {(r.da, r.db) for r in _bucket_pairs(bands).collect()}
    assert pairs == {(1, 2)}


def test_sampled_training_matches_oracle_and_actually_samples(spark):
    """The r15 training hash-sample is part of the model spec: the
    engine's _train_sample predicate and the oracle's `tr` CTE must
    pick the SAME subset (md5-of-string is byte-identical across
    engines) and train to the bit-identical model — on a fixture
    where the sample is a strict subset AND a NULL vec_id is present
    (excluded from training by BOTH engines: the predicate hashes
    NULL to NULL)."""
    import hashlib

    import duckdb
    import pandas as pd

    from gomysql2pg_spark.operators import similarity as SIMM

    dim = SIMM.PQ_M * SIMM.PQ_SUBDIM
    rows = [(i, [float(i + 1)] * dim) for i in range(SIMM.IVF_NLIST)]
    # member 100 is EXCLUDED by the sample (md5 digit 31 of "100" is
    # odd) and is an outlier that would drag cell 7's mean to ~29 if
    # it trained; members 103/105 are kept. So sampled != full-train
    # is guaranteed, not fixture luck.
    rows += [
        (100, [50.0] * dim),
        (103, [1.35] * dim),
        (105, [1.65] * dim),
    ]
    rows.append((None, [2.5] * dim))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # the sample must bite: some non-seed member excluded
    member_ids = [r[0] for r in rows if r[0] is not None]
    kept = [
        i
        for i in member_ids
        if int(hashlib.md5(str(i).encode()).hexdigest()[30], 16)
        % SIMM.TRAIN_SAMPLE_MOD
        == 0
    ]
    assert 0 < len(kept) < len(member_ids)

    model = dict(SIMM._train_coarse(emb))
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": pd.array(
                    [r[0] for r in rows], dtype="Int64"
                ),
                "embedding": [r[1] for r in rows],
            }
        ),
    )
    got = con.execute(
        f"WITH {SIMM._coarse_train_sql()} SELECT cell, ce "
        f"FROM cent{SIMM.IVF_TRAIN_ITERS} ORDER BY cell"
    ).fetchall()
    con.close()
    assert {c: list(ce) for c, ce in got} == model
    # and the model differs from an UNSAMPLED training run — proof
    # the engine-side filter engaged (not vacuously equal)
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(SIMM, "TRAIN_SAMPLE_MOD", 1)
    try:
        full = dict(SIMM._train_coarse(emb))
    finally:
        mp.undo()
    assert model != full

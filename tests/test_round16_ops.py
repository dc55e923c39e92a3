"""Round-16 operator tests: RRF hybrid fusion, within-document
repeated-span scrub, BPE merge mining, incremental ANN index append."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


# ------------------------------------------------------- retrieval_rrf


def test_retrieval_rrf_reconciles_components(spark, sf_dir, queries):
    """Every fused score must equal the sum of the reciprocal-rank
    contributions recomputed from the two component rankings fetched
    independently — the fusion is arithmetic over the published
    rankers, never a reimplementation that can drift (VERDICT r16
    item 2's 'Done' condition)."""
    from gomysql2pg_spark.operators.ranking import (
        BM25_QUERIES,
        RRF_K0,
        RRF_TOPK,
    )
    from gomysql2pg_spark.operators.similarity import QUERY_MOD

    bm = {
        (r["qid"], r["doc_id"]): r["rank"]
        for r in queries["bm25_topk"](spark, sf_dir).collect()
    }
    ann = {}
    for r in queries["similarity_ivfpq"](spark, sf_dir).collect():
        if r["qid"] < len(BM25_QUERIES) * QUERY_MOD:
            ann[(r["qid"] // QUERY_MOD + 1, r["nid"])] = r["rank"]
    fused = queries["retrieval_rrf"](spark, sf_dir).collect()
    assert fused, "fusion produced no rows at the test scale"
    # expected fused score for every (qid, doc) either ranker saw
    expect = {}
    for key, rank in bm.items():
        expect[key] = expect.get(key, 0) + 1_000_000_000 // (RRF_K0 + rank)
    for key, rank in ann.items():
        expect[key] = expect.get(key, 0) + 1_000_000_000 // (RRF_K0 + rank)
    for r in fused:
        key = (r["qid"], r["doc_id"])
        assert r["fused_nano"] == expect[key], (key, r)
        assert r["bm25_rank"] == bm.get(key), (key, r)
        assert r["ann_rank"] == ann.get(key), (key, r)
    # per-qid: the emitted rows are exactly the top-RRF_TOPK of the
    # expected fused scores (ties by doc_id)
    by_qid = {}
    for (qid, doc), s in expect.items():
        by_qid.setdefault(qid, []).append((doc, s))
    for qid, docs in by_qid.items():
        want = [
            d
            for d, _ in sorted(docs, key=lambda kv: (-kv[1], kv[0]))
        ][:RRF_TOPK]
        got = [
            r["doc_id"]
            for r in sorted(
                (r for r in fused if r["qid"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        assert got == want[: len(got)], (qid, got, want)


def test_retrieval_rrf_union_coverage(spark, sf_dir, queries):
    """A document ranked by only ONE component must still appear with
    the other rank NULL and a single-list contribution (the
    full-outer shape) — and at least one such row must exist at test
    scale, otherwise the fixture isn't exercising the union."""
    rows = queries["retrieval_rrf"](spark, sf_dir).collect()
    single = [
        r
        for r in rows
        if (r["bm25_rank"] is None) != (r["ann_rank"] is None)
    ]
    assert single, "no single-list rows — fusion degenerated"


# ------------------------------------------------------- selfrep_scrub


def _write_docs(tmp_path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), type=pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")


def test_selfrep_scrub_constructed_semantics(spark, tmp_path, queries):
    """Pinned outputs on constructed docs: a repeated 3-gram collapses
    to its first occurrence, overlapping repeats never double-remove,
    clean docs pass through as their normalized form."""
    _write_docs(
        tmp_path,
        [
            # repeat of "a b c" at positions 5..7 -> removed
            "a b c x a b c",
            # clean doc: unchanged (normalized)
            "The  quick   Brown fox",
            # run of identical tokens: spans "a a a" at 1..4; first
            # kept, repeats at 2,3,4 cover positions 2..6 -> "a"
            "a a a a a a",
            # too short for any span: unchanged
            "x y",
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in queries["selfrep_scrub"](spark, str(tmp_path)).collect()
    }
    assert rows[1]["scrubbed_text"] == "a b c x"
    assert rows[1]["n_removed"] == 3 and rows[1]["n_tokens"] == 7
    assert rows[2]["scrubbed_text"] == "the quick brown fox"
    assert rows[2]["n_removed"] == 0
    assert rows[3]["scrubbed_text"] == "a"
    assert rows[3]["n_removed"] == 5
    assert rows[4]["scrubbed_text"] == "x y"
    assert rows[4]["n_removed"] == 0


def test_selfrep_scrub_invariants_and_idempotence(
    spark, tmp_path, queries
):
    """Invariants over a mixed fixture: output shorter ONLY where a
    span repeated (n_removed > 0 iff a within-doc repeat existed),
    and the scrub is idempotent — re-scrubbing its own output changes
    nothing."""
    texts = [
        "alpha beta gamma delta alpha beta gamma",
        "one two three four five six seven",
        "loop loop loop loop loop",
        "p q r p q r p q r",
        "clean text with no repeats at all here",
    ]
    _write_docs(tmp_path, texts)
    first = {
        r["doc_id"]: r
        for r in queries["selfrep_scrub"](spark, str(tmp_path)).collect()
    }
    for did, r in first.items():
        toks = texts[did - 1].lower().split()
        grams = [
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ]
        has_rep = len(grams) != len(set(grams))
        assert (r["n_removed"] > 0) == has_rep, (did, r)
        kept = len(r["scrubbed_text"].split()) if r["scrubbed_text"] else 0
        assert kept == r["n_tokens"] - r["n_removed"], (did, r)
    # idempotence: write the scrubbed output back as a corpus and
    # re-scrub — every doc must come through with n_removed == 0
    out_dir = tmp_path / "again"
    out_dir.mkdir()
    _write_docs(
        out_dir,
        [first[i]["scrubbed_text"] for i in sorted(first)],
    )
    second = queries["selfrep_scrub"](spark, str(out_dir)).collect()
    for r in second:
        assert r["n_removed"] == 0, r


# ------------------------------------------------------- bpe_merges


def test_bpe_merges_constructed_greedy_semantics(
    spark, tmp_path, queries
):
    """Hand-computed merge sequence on a tiny corpus, covering the
    greedy-run rule (in 'aaaa' the pair (a,a) counts 3 adjacencies
    but merging leaves 'aa aa' — the survivor cannot re-merge within
    the iteration) and the dependence of iteration 2 on iteration 1's
    applied merge."""
    # corpus: "ab" x 3 words, "aaaa" x 2 words
    _write_docs(tmp_path, ["ab ab ab", "aaaa aaaa"])
    rows = [
        (r["it"], r["sym_a"], r["sym_b"], r["pair_n"])
        for r in sorted(
            queries["bpe_merges"](spark, str(tmp_path)).collect(),
            key=lambda r: r["it"],
        )
    ]
    # iteration 1: pair (a,b) count 3 ("ab" x3); pair (a,a) count
    # 3*2=6 from the two "aaaa" words -> (a,a) wins
    assert rows[0] == (1, "a", "a", 6)
    # after merging: "aaaa" -> [aa, aa]; iteration 2 pairs:
    # (a,b) 3, (aa,aa) 2 -> (a,b) wins
    assert rows[1] == (2, "a", "b", 3)
    # after merging: "ab" -> [ab]; iteration 3: only (aa,aa) 2 left
    assert rows[2] == (3, "aa", "aa", 2)
    # iteration 4: everything is a single symbol -> no pairs; the
    # loop breaks early and emits exactly 3 merges
    assert len(rows) == 3


def test_bpe_merges_oracle_agrees_on_constructed(spark, tmp_path, duck):
    """The static CTE oracle replays the same loop on the constructed
    corpus (early-exhaustion case included: the LEFT JOIN ON TRUE
    keeps the vocabulary alive through an empty argmax)."""
    import duckdb

    from gomysql2pg_spark.operators.text import _oracle_bpe_merges
    from gomysql2pg_spark.operators.text import q_bpe_merges

    _write_docs(tmp_path, ["ab ab ab", "aaaa aaaa"])
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    got = sorted(
        tuple(r)
        for r in q_bpe_merges(spark, str(tmp_path)).collect()
    )
    want = sorted(tuple(r) for r in con.execute(_oracle_bpe_merges()).fetchall())
    assert got == want


# ----------------------------------------------- incremental ANN append


def _new_vectors(spark, rows):
    """(vec_id, embedding[64] float, label) frame for append batches."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_ivf_index_append_equals_frozen_rebuild(spark, sf_dir, tmp_path):
    """VERDICT r16 item 4's 'Done': appending a batch under the FROZEN
    stored model must yield, tree-union-wise, exactly the codes a full
    re-encode of (base corpus + batch) under that same model produces
    — row-for-row, including the coarse cell."""
    import gomysql2pg_spark.operators.similarity as SIM
    from gomysql2pg_spark.functions.consume import local_frame
    from pyspark.sql import functions as F

    root = str(tmp_path / "ann")
    emb = SIM.load_table(spark, sf_dir, "embeddings")
    # build the base index in an isolated root
    df = SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root)
    df.count()
    # batch: three synthetic vectors outside the fixture id range
    base_max = emb.agg(F.max("vec_id")).first()[0]
    new = _new_vectors(
        spark,
        [
            (base_max + 1 + i, [float((i + 2) * (d % 7)) for d in range(64)], None)
            for i in range(3)
        ],
    )
    n = SIM.ivf_index_append(spark, sf_dir, new, "b001", index_root=root)
    assert n == 3
    # idempotent: same batch id -> no-op
    assert (
        SIM.ivf_index_append(spark, sf_dir, new, "b001", index_root=root)
        == 0
    )
    # read the served union back
    from gomysql2pg_spark.index_store import open_tree

    key = SIM.hashlib.md5(
        repr((SIM._fixture_key(sf_dir), "ivf-codes-v2")).encode()
    ).hexdigest()[:12]
    name = f"spark_graft_ivf_{key}"
    tree = open_tree(name, index_root=root)
    served = tree.read(spark, "IVF index")
    # frozen re-encode of base + batch from the stored model
    model = tree.model
    cent_rows = [(c, ce) for c, ce in model["cent"]]
    cb = local_frame(
        spark,
        [tuple(r) for r in model["codebook"]],
        "m int, cid int, ce array<double>",
    )
    full = emb.select("vec_id", "embedding").unionByName(
        new.select("vec_id", "embedding")
    )
    want = SIM._pq_codes(
        SIM._assign_cells(full, cent_rows), cb, carry=("cell",)
    )
    cols = ["vec_id", "cell", "c0", "c1", "c2", "c3"]
    got_rows = sorted(tuple(r) for r in served.select(*cols).collect())
    want_rows = sorted(tuple(r) for r in want.select(*cols).collect())
    assert got_rows == want_rows
    # staleness report: 3 appended codes over the total
    rep = SIM.ivf_index_staleness(spark, sf_dir, index_root=root).first()
    assert rep["n_trees"] == 2
    assert rep["n_appended"] == 3
    assert rep["n_codes"] == len(want_rows)
    assert rep["staleness_milli"] == 3000 // len(want_rows)
    assert rep["model_consistent"] is True


def test_ivf_index_append_serves_new_vectors_in_queries(
    spark, sf_dir, tmp_path
):
    """Functional proof the probe READS the delta: plant a copy of a
    query vector as an appended vector — after the append, the IVFADC
    query must surface the planted neighbor (identical embedding ⇒
    identical codes ⇒ minimal ADC) for that query."""
    import gomysql2pg_spark.operators.similarity as SIM
    from pyspark.sql import functions as F

    root = str(tmp_path / "ann2")
    emb = SIM.load_table(spark, sf_dir, "embeddings")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    q0 = emb.filter(F.col("vec_id") == 0).first()
    planted_id = 990_000
    new = _new_vectors(spark, [(planted_id, list(q0["embedding"]), None)])
    assert SIM.ivf_index_append(
        spark, sf_dir, new, "plant", index_root=root
    ) == 1
    res = SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root)
    top0 = [r["nid"] for r in res.filter(F.col("qid") == 0).collect()]
    assert planted_id in top0, top0


def test_ivf_index_append_refuses_model_mismatch(
    spark, sf_dir, tmp_path
):
    """A delta encoded under a different quantizer must be refused at
    read time (silently mixing models would corrupt ADC scores), and
    the staleness report must flag the inconsistency."""
    import json

    import pytest as _pytest

    import gomysql2pg_spark.operators.similarity as SIM

    root = str(tmp_path / "ann3")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    emb = SIM.load_table(spark, sf_dir, "embeddings")
    new = _new_vectors(
        spark, [(880_000, [1.0] * 64, None)]
    )
    SIM.ivf_index_append(spark, sf_dir, new, "tamper", index_root=root)
    from gomysql2pg_spark.index_store import open_store, open_tree

    store = open_store(index_root=root)
    key = SIM.hashlib.md5(
        repr((SIM._fixture_key(sf_dir), "ivf-codes-v2")).encode()
    ).hexdigest()[:12]
    name = f"spark_graft_ivf_{key}"
    dname = f"{name}.delta.tamper"
    blob = store.read_model(dname)
    blob["model_key"] = "deadbeef0000"
    side = store.control(dname) + "/_MODEL.json"
    with store.fs.open_output_stream(side) as f:
        f.write(json.dumps(blob).encode())
    with _pytest.raises(ValueError, match="different.*model|model.*serves"):
        open_tree(name, index_root=root).read(spark, "IVF index").count()
    rep = SIM.ivf_index_staleness(spark, sf_dir, index_root=root).first()
    assert rep["model_consistent"] is False


def test_ann_recall_report_over_appended_index(spark, sf_dir, tmp_path):
    """The nightly recall audit runs against an APPENDED index (the
    r16 'Done' condition): same query set, sane recall bounds, and
    the report consumes the base+delta union (planted near-duplicate
    vectors are allowed to displace exact neighbors, so only bounds
    are pinned, not the exact milli value)."""
    import gomysql2pg_spark.operators.similarity as SIM
    from pyspark.sql import functions as F

    root = str(tmp_path / "ann4")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    emb = SIM.load_table(spark, sf_dir, "embeddings")
    base_max = emb.agg(F.max("vec_id")).first()[0]
    new = _new_vectors(
        spark,
        [
            (base_max + 1 + i, [float((i * 3 + d) % 11) for d in range(64)], None)
            for i in range(4)
        ],
    )
    SIM.ivf_index_append(spark, sf_dir, new, "audit", index_root=root)
    rep = SIM.q_ann_recall_report(spark, sf_dir, index_root=root).first()
    n_queries = emb.filter(
        F.col("vec_id") % SIM.QUERY_MOD == 0
    ).count()
    assert rep["n_queries"] == n_queries
    assert 0 <= rep["recall_milli"] <= 1000


# ----------------------------------------- retrieval_quality_report


def test_retrieval_quality_report_reconciles(spark, sf_dir, queries):
    """The nDCG report must equal a driver-side recompute from the
    three published frames (truth, ivfpq, rrf) using the same literal
    gain table — the audit is arithmetic over its components."""
    from gomysql2pg_spark.operators.ranking import (
        BM25_QUERIES,
        NDCG_K,
        _NDCG_GAIN,
        _NDCG_PREFIX,
    )
    from gomysql2pg_spark.operators.similarity import QUERY_MOD

    truth = {}
    for r in queries["similarity_topk"](spark, sf_dir).collect():
        if r["rank"] <= NDCG_K:
            truth.setdefault(r["qid"], set()).add(r["nid"])
    evalq = {
        q for q in truth if q < len(BM25_QUERIES) * QUERY_MOD
    }
    ranked = {"ivfpq": {}, "rrf": {}}
    for r in queries["similarity_ivfpq"](spark, sf_dir).collect():
        if r["rank"] <= NDCG_K:
            ranked["ivfpq"].setdefault(r["qid"], []).append(
                (r["rank"], r["nid"])
            )
    for r in queries["retrieval_rrf"](spark, sf_dir).collect():
        if r["rank"] <= NDCG_K:
            ranked["rrf"].setdefault(
                (r["qid"] - 1) * QUERY_MOD, []
            ).append((r["rank"], r["doc_id"]))
    got = {
        r["ranker"]: r
        for r in queries["retrieval_quality_report"](
            spark, sf_dir
        ).collect()
    }
    for ranker, byq in ranked.items():
        ndcg_sum = hits = 0
        for q in evalq:
            dcg = 0
            for rank, nid in byq.get(q, []):
                if nid in truth[q]:
                    dcg += _NDCG_GAIN[rank - 1]
                    hits += 1
            idcg = _NDCG_PREFIX[min(len(truth[q]), NDCG_K)]
            ndcg_sum += (dcg * 1000) // idcg
        row = got[ranker]
        assert row["n_queries"] == len(evalq), row
        assert row["total_hits"] == hits, (ranker, row, hits)
        assert row["mean_ndcg_milli"] == ndcg_sum // len(evalq), row


# ------------------------------------------------------- bpe_fertility


def test_bpe_fertility_hand_computed(spark, tmp_path, queries):
    """Train-then-apply loop closure on the constructed corpus: after
    the three mined merges ((a,a), (a,b), (aa,aa)) both vocabulary
    words collapse to ONE symbol, so fertility is exactly 1000 milli
    tokens per word."""
    _write_docs(tmp_path, ["ab ab ab", "aaaa aaaa"])
    rows = queries["bpe_fertility"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["lang"] == "en"
    assert r["n_word_tokens"] == 5
    assert r["n_bpe_tokens"] == 5
    assert r["bpe_tokens_per_word_milli"] == 1000


def test_bpe_fertility_not_above_char_baseline(spark, sf_dir, queries):
    """Merges can only COLLAPSE symbols: fertility under the trained
    BPE must sit at or below the character-level (zero-merge)
    baseline for every language on the real fixture."""
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = {
        r["lang"]: r["m"]
        for r in docs.select(
            "lang",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .filter(F.length("w") > 0)
        .groupBy("lang")
        .agg(
            F.expr(
                "(CAST(SUM(length(w)) AS BIGINT) * 1000) div COUNT(*)"
            ).alias("m")
        )
        .collect()
    }
    for r in queries["bpe_fertility"](spark, sf_dir).collect():
        assert r["bpe_tokens_per_word_milli"] <= base[r["lang"]], (
            r,
            base,
        )

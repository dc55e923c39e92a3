"""Round-17 operator tests: t-closeness release audit (batch 1)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


# ---------------------------------------------- t_closeness_report


def _py_t_milli_per_class(events):
    """Plain-Python recount of the per-class milli-TVD under the
    (day, value-bucket) QI with event_type sensitive — the exact
    cross-multiplied integer arithmetic the operator publishes."""
    from gomysql2pg_spark.operators.events import (
        K_ANON_DAY_US,
        K_ANON_VALUE_CENTS,
    )

    cells: dict = {}
    glob: dict = {}
    for ts_us, value, etype in events:
        day = ts_us // K_ANON_DAY_US
        vb = round(value * 100) // K_ANON_VALUE_CENTS
        cells[(day, vb, etype)] = cells.get((day, vb, etype), 0) + 1
        glob[etype] = glob.get(etype, 0) + 1
    n_tot = sum(glob.values())
    classes: dict = {}
    for (day, vb, etype), n in cells.items():
        classes.setdefault((day, vb), {})[etype] = n
    out = {}
    for qi, dist in classes.items():
        n_c = sum(dist.values())
        present = sum(
            abs(n * n_tot - glob[e] * n_c) for e, n in dist.items()
        )
        absent = n_c * (n_tot - sum(glob[e] for e in dist))
        out[qi] = (1000 * (present + absent)) // (2 * n_c * n_tot)
    return out, n_tot


def test_t_closeness_bands_partition_event_log(spark, sf_dir, queries, duck):
    """Band record counts must partition the event log; t is bounded
    [0, 1000]; shares are the exact truncating milli-division."""
    rows = queries["t_closeness_report"](spark, sf_dir).collect()
    assert rows
    n_events = duck.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    assert sum(r["n_records"] for r in rows) == n_events
    for r in rows:
        assert 0 <= r["t_lo"] <= r["t_hi"] <= 1000
        assert r["records_milli"] == r["n_records"] * 1000 // n_events


def test_t_closeness_matches_python_model(spark, sf_dir, queries, duck):
    """Every band's class count and record mass must equal a plain-
    Python recount of the TVD formula over the fixture."""
    from gomysql2pg_spark.operators.events import T_CLOSE_BANDS

    events = duck.execute(
        "SELECT epoch_us(ts), value, event_type FROM events"
    ).fetchall()
    t_by_class, _ = _py_t_milli_per_class(events)
    cells: dict = {}
    for ts_us, value, etype in events:
        from gomysql2pg_spark.operators.events import (
            K_ANON_DAY_US,
            K_ANON_VALUE_CENTS,
        )

        day = ts_us // K_ANON_DAY_US
        vb = round(value * 100) // K_ANON_VALUE_CENTS
        cells[(day, vb)] = cells.get((day, vb), 0) + 1
    want: dict = {}
    for qi, t in t_by_class.items():
        band = next(
            (lo, hi) for lo, hi in T_CLOSE_BANDS if lo <= t <= hi
        )
        n_cls, n_rec = want.get(band, (0, 0))
        want[band] = (n_cls + 1, n_rec + cells[qi])
    got = {
        (r["t_lo"], r["t_hi"]): (r["n_classes"], r["n_records"])
        for r in queries["t_closeness_report"](spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture produced no QI classes — vacuous test"


# --------------------------------- bpe_merges_k64 / bpe_fertility_curve


def _py_bpe_train(word_counts, iters):
    """Reference pure-Python BPE trainer (Sennrich et al., ACL 2016,
    Algorithm 1): per iteration count adjacent symbol pairs weighted
    by word frequency, merge the (count DESC, pair ASC) argmax with
    greedy left-to-right non-overlapping application."""
    vocab = [(list(w), n) for w, n in word_counts.items()]
    merges = []
    for it in range(1, iters + 1):
        pairs: dict = {}
        for syms, n in vocab:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((it, a, b, cnt))
        for i, (syms, n) in enumerate(vocab):
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            vocab[i] = (out, n)
    return merges, vocab


def _fixture_word_counts(duck):
    rows = duck.execute(
        r"""SELECT w, COUNT(*) FROM (
              SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents)
            WHERE length(w) > 0 AND strpos(w, chr(31)) = 0
            GROUP BY w"""
    ).fetchall()
    return dict(rows)


def test_bpe_k64_matches_pure_python(spark, sf_dir, queries, duck):
    """The distributed 64-merge table must equal the reference
    pure-Python BPE trainer on the fixture vocabulary — algorithmic
    equivalence, independent of the DuckDB cross-engine oracle."""
    from gomysql2pg_spark.operators.text import BPE_PROD_ITERS

    want, _ = _py_bpe_train(_fixture_word_counts(duck), BPE_PROD_ITERS)
    got = sorted(
        (r["it"], r["sym_a"], r["sym_b"], r["pair_n"])
        for r in queries["bpe_merges_k64"](spark, sf_dir).collect()
    )
    assert got == want
    assert len(got) == BPE_PROD_ITERS, "fixture exhausted pairs early"


def test_bpe_fertility_curve_shape(spark, sf_dir, queries, duck):
    """The curve must be monotone non-increasing in k (every merge can
    only shrink token counts), anchored at the char baseline (k=0:
    n_bpe = total characters), constant in n_word_tokens, and its
    final point must equal the pure-Python trainer's segmentation."""
    from gomysql2pg_spark.operators.text import (
        BPE_CURVE_KS,
        BPE_PROD_ITERS,
    )

    rows = {
        r["k"]: r
        for r in queries["bpe_fertility_curve"](spark, sf_dir).collect()
    }
    assert set(rows) == set(BPE_CURVE_KS)
    wc = _fixture_word_counts(duck)
    n_words = sum(wc.values())
    n_chars = sum(len(w) * n for w, n in wc.items())
    assert rows[0]["n_word_tokens"] == n_words
    assert rows[0]["n_bpe_tokens"] == n_chars
    last = None
    for k in sorted(BPE_CURVE_KS):
        r = rows[k]
        assert r["n_word_tokens"] == n_words
        assert r["bpe_tokens_per_word_milli"] == (
            r["n_bpe_tokens"] * 1000 // n_words
        )
        if last is not None:
            assert r["n_bpe_tokens"] <= last
        last = r["n_bpe_tokens"]
    _, vocab = _py_bpe_train(wc, BPE_PROD_ITERS)
    assert rows[BPE_PROD_ITERS]["n_bpe_tokens"] == sum(
        len(syms) * n for syms, n in vocab
    )


# ------------------------------------------------ ann_retrain_report


def test_ann_retrain_report_distortion_collapses(spark, sf_dir, queries):
    """The gated lifecycle claim: retraining on the drifted corpus
    must collapse the k-means objective (the frozen model prices the
    shifted cluster at ~the shift distance; the hash-seeded retrained
    model gives it cells). Strict factor-2 gate — measured ~14× on
    every fixture SF."""
    rows = {
        r["phase"]: r
        for r in queries["ann_retrain_report"](spark, sf_dir).collect()
    }
    assert set(rows) == {"before", "after"}
    b, a = rows["before"], rows["after"]
    assert a["distortion_micro_avg"] * 2 < b["distortion_micro_avg"]
    for r in (b, a):
        assert r["n_queries"] > 0
        assert 0 <= r["total_hits"] <= r["n_queries"] * 5
        assert r["recall_milli"] == r["total_hits"] * 1000 // (
            r["n_queries"] * 5
        )


def test_ivf_index_retrain_swaps_model_and_absorbs_deltas(
    spark, sf_dir, tmp_path
):
    """After a forced retrain: the sidecar serves a NEW model key,
    every pre-retrain delta is absorbed (named in compacted_through,
    tree GC'd), the code table covers base+delta rows exactly once,
    and post-retrain appends encode under the NEW model."""
    import gomysql2pg_spark.operators.similarity as SIM
    from tests.test_round16_ops import _new_vectors
    from tests.test_round16b_ops import _build_appended_index

    from gomysql2pg_spark.index_store import open_tree

    root = str(tmp_path / "ann")
    _build_appended_index(spark, sf_dir, root, n_batches=2)
    name = SIM._index_name(sf_dir)
    tree = open_tree(name, index_root=root)
    old = tree.model
    n_served = tree.read(spark, "IVF index").count()
    from gomysql2pg_spark.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    base_max = emb.agg(F.max("vec_id")).first()[0]
    extra = []
    for b in range(2):
        extra += [
            (
                base_max + 1 + b * 10 + i,
                [float((i + b + 2) * (d % 7)) for d in range(64)],
                None,
            )
            for i in range(3)
        ]
    corpus = emb.unionByName(_new_vectors(spark, extra))
    info = SIM.ivf_index_retrain(
        spark, sf_dir, corpus, force=True, index_root=root
    )
    assert info["retrained"] and info["n_deltas_absorbed"] == 2
    tree = open_tree(name, index_root=root)
    new = tree.model
    assert new["model_key"] != old["model_key"]
    assert info["new_model_key"] == new["model_key"]
    assert len(new["compacted_through"]) == 2
    assert not [
        t for t in tree.store.trees() if t.startswith(name + ".delta.")
    ]
    assert (
        tree.read(spark, "IVF index").count()
        == n_served
        == corpus.count()
    )
    # post-retrain append encodes under the NEW sidecar model
    more = _new_vectors(spark, [(base_max + 100, [0.5] * 64, None)])
    assert SIM.ivf_index_append(
        spark, sf_dir, more, "post", index_root=root
    ) == 1
    rep = SIM.ivf_index_staleness(
        spark, sf_dir, index_root=root
    ).first()
    assert rep["model_consistent"] is True and rep["n_trees"] == 2


def test_ivf_index_retrain_below_threshold_is_noop(
    spark, sf_dir, tmp_path
):
    """A fresh, delta-free index is 0‰ stale: the maintenance call
    must not retrain, and the sidecar must be untouched."""
    import gomysql2pg_spark.operators.similarity as SIM
    from gomysql2pg_spark.catalog import load_table

    root = str(tmp_path / "ann")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    from gomysql2pg_spark.index_store import open_store

    store = open_store(index_root=root)
    name = SIM._index_name(sf_dir)
    old = store.read_model(name)
    emb = load_table(spark, sf_dir, "embeddings")
    info = SIM.ivf_index_retrain(spark, sf_dir, emb, index_root=root)
    assert not info["retrained"]
    assert info["staleness_milli"] == 0
    assert store.read_model(name)["model_key"] == old["model_key"]


def test_ivf_index_retrain_failed_swap_rolls_back(
    spark, sf_dir, tmp_path
):
    """A FAILED second rename (transient fs error, not a crash) must
    roll the old base back in place and re-raise; the old model keeps
    serving and the next entry-point call GCs the staged tree."""
    import pytest as _pytest

    import gomysql2pg_spark.operators.similarity as SIM
    from gomysql2pg_spark.catalog import load_table
    from tests.test_round16b_ops import _build_appended_index

    root = str(tmp_path / "ann")
    _build_appended_index(spark, sf_dir, root, n_batches=1)
    from gomysql2pg_spark.index_store import open_store

    store = open_store(index_root=root)
    real_fs, croot, sroot = store.fs, store.croot, store.sroot
    name = SIM._index_name(sf_dir)
    old = store.read_model(name)
    base_c = store.control(name)

    class CrashFS:
        """Raises on the swap's SECOND rename (.compact-* -> base)."""

        def __init__(self, inner):
            self._inner = inner

        def move(self, src, dst):
            if ".compact-" in src and dst == base_c:
                raise OSError("injected: second rename died")
            return self._inner.move(src, dst)

        def __getattr__(self, attr):
            return getattr(self._inner, attr)

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(OSError, match="injected"):
        SIM.ivf_index_retrain(
            spark,
            sf_dir,
            emb,
            force=True,
            index_root=croot,
            filesystem=CrashFS(real_fs),
            spark_root=sroot,
        )
    # rolled back: the base is in place and still serves the OLD model
    assert store.built(name)
    assert store.read_model(name)["model_key"] == old["model_key"]
    # the next entry-point call GCs the orphan staging tree
    SIM.ivf_index_staleness(spark, sf_dir, index_root=root).collect()
    from pyarrow import fs as pafs

    names = [
        i.base_name
        for i in real_fs.get_file_info(pafs.FileSelector(croot))
        if i.type == pafs.FileType.Directory
    ]
    assert not any(".compact-" in n or ".old-" in n for n in names)


def test_ivf_index_retrain_pre_swap_barrier(spark, sf_dir, tmp_path):
    """The r17 overlap contract: `pre_swap` fires exactly once, AFTER
    the staging tree is fully installed (a complete `.compact-*` tree
    with its sidecar exists) and BEFORE the pointer flip (the base
    still serves the old model key at callback time) — so a caller
    can sequence in-flight reads of the old tree ahead of the swap."""
    import gomysql2pg_spark.operators.similarity as SIM
    from gomysql2pg_spark.catalog import load_table
    from pyarrow import fs as pafs

    root = str(tmp_path / "ann")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    from gomysql2pg_spark.index_store import open_store

    store = open_store(index_root=root)
    name = SIM._index_name(sf_dir)
    old_key = store.read_model(name)["model_key"]
    seen = []

    def barrier():
        # base untouched: still serving the OLD model
        assert store.read_model(name)["model_key"] == old_key
        staged = [
            i.base_name
            for i in store.fs.get_file_info(pafs.FileSelector(store.croot))
            if i.type == pafs.FileType.Directory
            and ".compact-" in i.base_name
            and ".tmp-" not in i.base_name
        ]
        # staging tree COMPLETE (installed, sidecar present)
        assert len(staged) == 1
        assert store.built(staged[0])
        assert store.read_model(staged[0]) is not None
        seen.append(staged[0])

    emb = load_table(spark, sf_dir, "embeddings")
    info = SIM.ivf_index_retrain(
        spark, sf_dir, emb, force=True, index_root=root,
        pre_swap=barrier,
    )
    assert info["retrained"] and len(seen) == 1
    assert (
        store.read_model(name)["model_key"]
        == info["new_model_key"]
        != old_key
    )


def test_ivfpq_serves_the_retrained_model(spark, sf_dir, tmp_path):
    """After a forced retrain swap, the `similarity_ivfpq` entry must
    score the swapped tree's codes with the tree's own (retrained)
    sidecar model: non-empty, and row-for-row what `query_index_tree`
    serves for the same queries. A model kept outside the tree (the
    first training) probes cell ids the retrained tree does not have
    and returned zero rows."""
    import gomysql2pg_spark.operators.similarity as SIM
    from gomysql2pg_spark.catalog import load_table

    root = str(tmp_path / "ann")
    before = SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root)
    assert before.count() > 0
    emb = load_table(spark, sf_dir, "embeddings")
    info = SIM.ivf_index_retrain(
        spark, sf_dir, emb, force=True, index_root=root
    )
    assert info["retrained"]
    got = sorted(
        map(
            tuple,
            SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            SIM.query_index_tree(
                spark, SIM._queries_df(emb), sf_dir=sf_dir, index_root=root
            ).collect(),
        )
    )
    assert got and got == want


# ------------------------------------------------ stream_dedup_admit


def test_stream_admit_reconciles_with_batch_lsh(spark, sf_dir, queries):
    """The r16 VERDICT's done-condition for the online gate: a
    streamed (odd) doc is flagged duplicate-of m exactly when the
    BATCH banded pipeline on the combined corpus produces a candidate
    pair between it and an installed (even) doc, with m the minimal
    such partner. (Fixture buckets are far below LSH_MAX_BUCKET, so
    the batch kernel's mega-bucket drop cannot make the sides differ.)"""
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.dedup import (
        _bucket_pairs,
        _md5_minhash_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _bucket_pairs(_md5_minhash_bands(docs)).collect()
    want: dict = {}
    for r in pairs:
        a, b = r["da"], r["db"]
        for odd, even in ((a, b), (b, a)):
            if odd % 2 == 1 and even % 2 == 0:
                want[odd] = min(want.get(odd, even), even)
    got = {
        r["doc_id"]: r["dup_of"]
        for r in queries["stream_dedup_admit"](spark, sf_dir).collect()
        if r["verdict"] == "duplicate"
    }
    assert got == want
    assert want, "fixture produced no cross-half candidates — vacuous"


def test_stream_admit_covers_every_streamed_doc(spark, sf_dir, queries):
    """Append-mode gate: exactly one verdict per odd doc; admitted
    rows carry NULL dup_of; duplicate rows point at an even doc."""
    from gomysql2pg_spark.catalog import load_table

    rows = queries["stream_dedup_admit"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_odd = docs.filter("doc_id % 2 = 1").count()
    assert len(rows) == n_odd
    assert len({r["doc_id"] for r in rows}) == n_odd
    for r in rows:
        if r["verdict"] == "admit":
            assert r["dup_of"] is None
        else:
            assert r["dup_of"] is not None and r["dup_of"] % 2 == 0


# ------------------------------------- dp_contribution_bound (batch 5)


def _py_dp_report(events_rows):
    """Plain-Python recount of the contribution-bounding report: the
    same deterministic top-L selection and per-key cap."""
    from gomysql2pg_spark.operators.events import (
        DP_MAX_KEYS_PER_USER,
        DP_MAX_PER_KEY,
        K_ANON_DAY_US,
    )

    uk: dict = {}
    for ts_us, user, etype in events_rows:
        key = (user, etype, ts_us // K_ANON_DAY_US)
        uk[key] = uk.get(key, 0) + 1
    per_user: dict = {}
    for (user, etype, day), n in uk.items():
        per_user.setdefault(user, []).append((n, etype, day))
    kept: dict = {}
    for user, rows in per_user.items():
        rows.sort(key=lambda r: (-r[0], r[1], r[2]))
        for n, etype, day in rows[:DP_MAX_KEYS_PER_USER]:
            kept[(user, etype, day)] = min(n, DP_MAX_PER_KEY)
    report: dict = {}
    for (user, etype, day), n in uk.items():
        r = report.setdefault(
            etype, {"days": set(), "raw": 0, "ub": {}}
        )
        r["days"].add(day)
        r["raw"] += n
    for (user, etype, day), nb in kept.items():
        r = report[etype]
        r["ub"][user] = r["ub"].get(user, 0) + nb
    out = {}
    for etype, r in report.items():
        bounded = sum(r["ub"].values())
        out[etype] = (
            len(r["days"]),
            r["raw"],
            bounded,
            (r["raw"] - bounded) * 1000 // r["raw"],
            max(r["ub"].values()) if r["ub"] else 0,
        )
    return out


def test_dp_contribution_bound_matches_python_model(
    spark, sf_dir, queries, duck
):
    """Every published column equals the plain-Python recount, and the
    caps genuinely bind on the fixture (a report where nothing is
    clipped would be a vacuous test of the bounding logic)."""
    events = duck.execute(
        "SELECT epoch_us(ts), user_id, event_type FROM events"
    ).fetchall()
    want = _py_dp_report(events)
    got = {
        r["event_type"]: (
            r["n_keys"],
            r["raw_events"],
            r["bounded_events"],
            r["dropped_milli"],
            r["max_user_bound"],
        )
        for r in queries["dp_contribution_bound"](spark, sf_dir).collect()
    }
    assert got == want
    assert any(v[3] > 0 for v in got.values()), "caps never bind — vacuous"


def test_dp_contribution_bound_sensitivity_cap(spark, sf_dir, queries):
    """The whole point of bounding: no user's total bounded
    contribution (across ALL keys) can exceed C·L, so the released
    histogram's L1 sensitivity is bounded regardless of user activity;
    the per-type realized max the report publishes respects it too."""
    from gomysql2pg_spark.operators.events import (
        DP_MAX_KEYS_PER_USER,
        DP_MAX_PER_KEY,
    )

    cap = DP_MAX_PER_KEY * DP_MAX_KEYS_PER_USER
    for r in queries["dp_contribution_bound"](spark, sf_dir).collect():
        assert 0 <= r["max_user_bound"] <= cap
        assert r["bounded_events"] <= r["raw_events"]


# --------------------------------------- rollup_incremental (batch 5)


def test_rollup_incremental_merge_equals_one_pass(spark, sf_dir, queries):
    """The algebraic-merge proof, engine-side: the base+delta merged
    rollup must be ROW-IDENTICAL to a single-pass Spark recompute of
    the same rollup (the oracle proves it cross-engine; this pins it
    within Spark so a merge bug can't hide behind a matching oracle
    bug)."""
    from pyspark.sql import functions as F

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.events import (
        K_ANON_DAY_US,
        sql_cents_spark,
    )

    got = {
        (r["event_type"], r["day_idx"]): (
            r["n_events"], r["sum_cents"], r["min_cents"],
            r["max_cents"], r["avg_cents"],
        )
        for r in queries["rollup_incremental"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    direct = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) div {K_ANON_DAY_US}").alias("day_idx"),
        F.expr(sql_cents_spark("value")).alias("c"),
    ).groupBy("event_type", "day_idx").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
    )
    want = {
        (r["event_type"], r["day_idx"]): (
            r["n"], r["s"], r["mn"], r["mx"], r["s"] // r["n"],
        )
        for r in direct.collect()
    }
    assert got == want and got


def test_rollup_incremental_cutoff_splits_a_group():
    """The mid-day cutoff claim: at least one (event_type, day) group
    must hold events on BOTH sides of the split, so the merge path is
    exercised as a genuine combine, not a concatenation of disjoint
    partials. Pinned at sf0.01 (the driver's correctness-gate scale):
    at sf0.001 the fixture has ~29 events/day and the cutoff can land
    in an empty intra-day gap, which exercises only the disjoint
    (still correct) merge."""
    import duckdb

    from gomysql2pg_spark.operators.events import (
        K_ANON_DAY_US,
        ROLLUP_SPLIT_DEN,
        ROLLUP_SPLIT_NUM,
    )

    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet')"
    )
    lo, hi = duck.execute(
        "SELECT MIN(epoch_us(ts)), MAX(epoch_us(ts)) FROM events"
    ).fetchone()
    cutoff = lo + (hi - lo) * ROLLUP_SPLIT_NUM // ROLLUP_SPLIT_DEN
    split = duck.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT event_type, epoch_us(ts) // {K_ANON_DAY_US} AS d,
                 SUM(CAST(epoch_us(ts) < {cutoff} AS INT)) AS nb,
                 SUM(CAST(epoch_us(ts) >= {cutoff} AS INT)) AS nd
          FROM events GROUP BY 1, 2)
        WHERE nb > 0 AND nd > 0
        """
    ).fetchone()[0]
    assert split > 0


# ------------------------------ decontamination_ngram_join (batch 6)


def test_decontamination_ngram_join_matches_python_model(
    spark, sf_dir, queries, duck
):
    """Full plain-Python recount of the gram join: distinct 8-gram
    sets per doc, eval side = mod-7 docs, per-lang rollup of hit
    counts; the fixture must actually produce contaminated docs."""
    from gomysql2pg_spark.operators.dedup import (
        DECON_EVAL_MOD,
        DECON_JOIN_N,
    )

    docs = duck.execute(
        "SELECT doc_id, lang, text FROM documents"
    ).fetchall()
    grams = {}
    for doc_id, lang, text in docs:
        toks = [t for t in text.strip().lower().split()]
        gs = {
            " ".join(toks[i : i + DECON_JOIN_N])
            for i in range(len(toks) - DECON_JOIN_N + 1)
        }
        grams[doc_id] = (lang, gs)
    ev = set()
    for doc_id, (lang, gs) in grams.items():
        if doc_id % DECON_EVAL_MOD == 0:
            ev |= gs
    want: dict = {}
    for doc_id, (lang, gs) in grams.items():
        if doc_id % DECON_EVAL_MOD == 0:
            continue
        n_hit = len(gs & ev)
        if n_hit:
            w = want.setdefault(lang, [0, 0, 0])
            w[0] += 1
            w[1] += n_hit
            w[2] = max(w[2], n_hit)
    got = {
        r["lang"]: [
            r["n_contaminated"],
            r["total_gram_hits"],
            r["max_grams_per_doc"],
        ]
        for r in queries["decontamination_ngram_join"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert want, "no contaminated docs on the fixture — vacuous"


def test_decontamination_ngram_join_broadcasts_eval_side(
    spark, sf_dir, queries
):
    """The 100 TB claim in the docstring: the eval gram set rides a
    broadcast join — the corpus stream must not shuffle on the gram."""
    plan = queries["decontamination_ngram_join"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------- installed LSH admission index (batch 7)


def test_lsh_index_lifecycle_build_append_staleness(spark, sf_dir):
    """The admission index as an on-disk artifact: build on 70% of the
    even half, append the rest as a delta, and the MERGED served index
    must be row-identical to the inline index over the full even half;
    staleness reports the appended fraction; a duplicate batch_id is a
    no-op; an empty batch and a tampered band family are refused."""
    import shutil
    import tempfile

    import pytest as _pytest

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.streaming.stream import (
        _lsh_bucket_minima,
        lsh_index_append,
        lsh_index_build,
        lsh_index_staleness,
        read_lsh_index,
    )

    root = tempfile.mkdtemp(prefix="spark_graft_lshidx_test_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        even = docs.filter("doc_id % 2 = 0")
        base_docs = even.filter("doc_id % 10 < 7")
        delta_docs = even.filter("doc_id % 10 >= 7")
        info = lsh_index_build(spark, sf_dir, base_docs, index_root=root)
        assert info["installed"] and info["n_docs"] == base_docs.count()
        assert lsh_index_staleness(spark, sf_dir, index_root=root) == 0

        with _pytest.raises(ValueError, match="empty append"):
            lsh_index_append(
                spark, sf_dir, even.filter("doc_id < 0"), "b000",
                index_root=root,
            )
        out = lsh_index_append(
            spark, sf_dir, delta_docs, "b001", index_root=root
        )
        assert out["appended"] and out["n_docs"] == delta_docs.count()
        again = lsh_index_append(
            spark, sf_dir, delta_docs, "b001", index_root=root
        )
        assert not again["appended"]  # idempotent per batch_id

        stale = lsh_index_staleness(spark, sf_dir, index_root=root)
        assert 0 < stale < 1000

        served = {
            (r["band"], r["bkey"]): r["m"]
            for r in read_lsh_index(
                spark, sf_dir, index_root=root
            ).collect()
        }
        inline = {
            (r["band"], r["bkey"]): r["m"]
            for r in _lsh_bucket_minima(even).collect()
        }
        assert served == inline and served

        # tampered family: flip the sidecar key → every read refuses
        import json
        import os

        from gomysql2pg_spark.streaming.stream import _lsh_index_name

        side = os.path.join(
            root, _lsh_index_name(sf_dir) + ".delta.b001", "_MODEL.json"
        )
        blob = json.load(open(side))
        blob["model_key"] = "tampered00000"
        json.dump(blob, open(side, "w"))
        with _pytest.raises(ValueError, match="band-family mismatch"):
            read_lsh_index(spark, sf_dir, index_root=root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_lsh_index_append_refuses_unservable_batch_ids(spark, sf_dir, tmp_path):
    """A batch id the store would never serve is refused before any
    tree installs, as the IVF append refuses it: `a/b` nests the delta
    one level down and `x.tmp-1` reads as an install in progress, so
    either tree would count as built (a re-append silently skips) while
    `read_lsh_index` never serves its rows."""
    import os

    import pytest as _pytest

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.streaming.stream import (
        lsh_index_append,
        lsh_index_build,
    )

    root = str(tmp_path / "lsh")
    docs = load_table(spark, sf_dir, "documents")
    lsh_index_build(spark, sf_dir, docs.filter("doc_id % 4 = 0"), index_root=root)
    batch = docs.filter("doc_id % 4 = 2")
    for bad in ("a/b", "x.tmp-1", "", "b" * 65):
        with _pytest.raises(ValueError, match="batch_id"):
            lsh_index_append(spark, sf_dir, batch, bad, index_root=root)
    assert not [t for t in os.listdir(root) if ".delta." in t]


def test_lsh_index_rebuild_replaces_the_served_index(spark, sf_dir, tmp_path):
    """Building over an installed admission index REPLACES it: after a
    build on a tenth of the corpus, an appended delta and a rebuild on
    every document into the same root, the served index equals a
    single fresh build of all documents, the served sidecar counts
    every document, and the absorbed delta is no longer served. A
    plain install lost the move to the complete old base and kept
    serving the first build while reporting the second."""
    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.index_store import open_store
    from gomysql2pg_spark.streaming.stream import (
        _lsh_index_name,
        lsh_index_append,
        lsh_index_build,
        lsh_index_staleness,
        read_lsh_index,
    )

    def served(root):
        return sorted(
            map(tuple, read_lsh_index(spark, sf_dir, index_root=root).collect())
        )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    root = str(tmp_path / "lsh")
    lsh_index_build(
        spark, sf_dir, docs.filter("doc_id % 10 = 0"), index_root=root
    )
    lsh_index_append(
        spark, sf_dir, docs.filter("doc_id % 10 = 1"), "b001", index_root=root
    )
    info = lsh_index_build(spark, sf_dir, docs, index_root=root)
    assert info["installed"] and info["n_docs"] == n
    fresh = str(tmp_path / "fresh")
    lsh_index_build(spark, sf_dir, docs, index_root=fresh)
    assert served(root) == served(fresh) and served(root)
    sidecar = open_store(index_root=root).read_model(_lsh_index_name(sf_dir))
    assert sidecar["n_docs"] == n
    assert lsh_index_staleness(spark, sf_dir, index_root=root) == 0


def test_stream_admit_installed_index_matches_inline(spark, sf_dir, queries):
    """The gate's installed-index serving path: verdicts probed from
    the built-and-appended on-disk tree must be row-identical to the
    inline-index default the driver oracles."""
    import shutil
    import tempfile

    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.streaming.stream import (
        lsh_index_append,
        lsh_index_build,
        q_stream_dedup_admit,
    )

    root = tempfile.mkdtemp(prefix="spark_graft_lshidx_test_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        even = docs.filter("doc_id % 2 = 0")
        lsh_index_build(
            spark, sf_dir, even.filter("doc_id % 10 < 7"), index_root=root
        )
        lsh_index_append(
            spark, sf_dir, even.filter("doc_id % 10 >= 7"), "b001",
            index_root=root,
        )
        want = {
            r["doc_id"]: (r["verdict"], r["dup_of"])
            for r in queries["stream_dedup_admit"](spark, sf_dir).collect()
        }
        got = {
            r["doc_id"]: (r["verdict"], r["dup_of"])
            for r in q_stream_dedup_admit(
                spark, sf_dir, index_root=root
            ).collect()
        }
        assert got == want and got
    finally:
        shutil.rmtree(root, ignore_errors=True)

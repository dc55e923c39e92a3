"""Round-16 batch-2 operator tests: winnowing fingerprints, document
BPE token counts, k-anonymity audit, KS length drift, and the IVF
index compaction that closes the append lifecycle."""

from __future__ import annotations

import hashlib

import pytest


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


# ------------------------------------------- winnowing_fingerprint

WINNOW_POS_BITS = 21


def _py_winnow(text: str, k: int = 3, w: int = 4):
    """Reference winnowing (Schleimer et al. fig. 5, rightmost-min):
    returns the selected {(pos, fingerprint)} set, 1-based shingle
    positions, same md5-derived 32-bit hash as the operator."""
    toks = [t for t in text.strip().lower().split() if t]
    grams = [
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    ]
    if len(grams) < w:
        return set(), len(grams)
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
    ]
    sel = set()
    for e in range(w - 1, len(hs)):
        window = hs[e - w + 1 : e + 1]
        m = min(window)
        # rightmost occurrence of the min in this window
        off = max(i for i, h in enumerate(window) if h == m)
        sel.add((e - w + 1 + off + 1, m))  # 1-based shingle pos
    return sel, len(grams)


def test_winnowing_matches_reference_model(spark, sf_dir, queries):
    """Per-doc aggregates must equal the paper's algorithm run in
    plain Python over the same fixture text (hash family included)."""
    from gomysql2pg_spark.catalog import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {
        r["doc_id"]: r
        for r in queries["winnowing_fingerprint"](spark, sf_dir).collect()
    }
    n_checked = 0
    for doc_id, text in texts.items():
        sel, n_grams = _py_winnow(text or "")
        if not sel:
            assert doc_id not in got, doc_id
            continue
        r = got[doc_id]
        assert r["n_grams"] == n_grams, doc_id
        assert r["n_fps"] == len(sel), doc_id
        xor = 0
        for _, fp in sel:
            xor ^= fp
        assert r["fp_xor"] == xor, doc_id
        assert r["density_milli"] == len(sel) * 1000 // n_grams
        n_checked += 1
    assert n_checked > 0, "fixture produced no winnowable docs"


def test_winnowing_guarantee_shared_run_shares_fingerprint(
    spark, tmp_path, queries
):
    """The winnowing guarantee: two documents sharing a run of at
    least w+k-1 tokens share at least one fingerprint. Verified on
    the Python model (proven equal to the operator above) over
    constructed docs whose only commonality is the shared run."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w+k-1 tokens
    d1 = "one two three four five " + shared + " six seven eight"
    d2 = "red green blue cyan " + shared + " magenta yellow black"
    s1, _ = _py_winnow(d1)
    s2, _ = _py_winnow(d2)
    f1 = {fp for _, fp in s1}
    f2 = {fp for _, fp in s2}
    assert f1 & f2, "guarantee violated on the shared 6-token run"
    # and the operator agrees with the model on these docs
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array([d1, d2]),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["s", "s"]),
            "n_chars": pa.array([len(d1), len(d2)], pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in queries["winnowing_fingerprint"](
            spark, str(tmp_path)
        ).collect()
    }
    for doc_id, sel in ((1, s1), (2, s2)):
        xor = 0
        for _, fp in sel:
            xor ^= fp
        assert rows[doc_id]["n_fps"] == len(sel)
        assert rows[doc_id]["fp_xor"] == xor


# ------------------------------------------------ bpe_token_counts


def test_bpe_token_counts_reconciles_with_fertility(
    spark, sf_dir, queries
):
    """Same corpus, same trained merges, two roll-ups: the document
    totals must equal the language totals, and compression invariants
    must hold (merges only collapse symbols)."""
    docs = queries["bpe_token_counts"](spark, sf_dir).collect()
    fert = queries["bpe_fertility"](spark, sf_dir).collect()
    assert docs, "no documents encoded"
    assert sum(r["n_bpe_tokens"] for r in docs) == sum(
        r["n_bpe_tokens"] for r in fert
    )
    assert sum(r["n_words"] for r in docs) == sum(
        r["n_word_tokens"] for r in fert
    )
    for r in docs:
        # per word: 1 <= symbols <= word length  =>  these bounds
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_word_chars"], r
        assert r["chars_per_bpe_milli"] >= 1000, r


# ---------------------------------------------- k_anonymity_report


def test_k_anonymity_bands_reconcile(spark, sf_dir, queries, duck):
    """Band subject counts must partition the distinct (QI, user)
    membership universe, recomputed independently in DuckDB; the
    shares must be the exact truncating milli-division."""
    rows = queries["k_anonymity_report"](spark, sf_dir).collect()
    assert rows
    total_members = duck.execute(
        """
        SELECT COUNT(*) FROM (
          SELECT DISTINCT event_type,
                 epoch_us(ts) // 86400000000,
                 TRY_CAST(ROUND(value * 100) AS BIGINT) // 5000,
                 user_id
          FROM events)
        """
    ).fetchone()[0]
    assert sum(r["n_subjects"] for r in rows) == total_members
    for r in rows:
        assert (
            r["subjects_milli"]
            == r["n_subjects"] * 1000 // total_members
        )
        assert r["n_classes"] <= r["n_subjects"]
        lo, hi = r["k_lo"], r["k_hi"]
        assert lo >= 1 and (hi is None or hi >= lo)


# ------------------------------------------------- length_drift_ks


def test_length_drift_ks_matches_python_model(spark, sf_dir, queries):
    """ks_micro must equal the exact two-sample KS statistic computed
    by a plain-Python ECDF sweep per language, and sit in [0, 1e6]."""
    from gomysql2pg_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").collect()
    by_lang: dict = {}
    for r in docs:
        v = len(r["text"]) if r["text"] is not None else 0
        by_lang.setdefault(r["lang"], ([], []))[
            0 if r["doc_id"] % 2 == 0 else 1
        ].append(v)
    got = {
        r["lang"]: r
        for r in queries["length_drift_ks"](spark, sf_dir).collect()
    }
    assert set(got) == set(by_lang)
    for lang, (a, b) in by_lang.items():
        r = got[lang]
        assert r["n_a"] == len(a) and r["n_b"] == len(b), lang
        if not a or not b:
            assert r["ks_micro"] is None, lang
            continue
        grid = sorted(set(a) | set(b))
        best = 0
        for v in grid:
            ca = sum(1 for x in a if x <= v)
            cb = sum(1 for x in b if x <= v)
            best = max(best, abs(ca * len(b) - cb * len(a)))
        assert r["ks_micro"] == best * 1_000_000 // (len(a) * len(b))
        assert 0 <= r["ks_micro"] <= 1_000_000


# ----------------------------------------------- ivf_index_compact


def _build_appended_index(spark, sf_dir, root, n_batches=2):
    import gomysql2pg_spark.operators.similarity as SIM
    from pyspark.sql import functions as F

    emb = SIM.load_table(spark, sf_dir, "embeddings")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    base_max = emb.agg(F.max("vec_id")).first()[0]
    nxt = base_max + 1
    for b in range(n_batches):
        rows = [
            (
                nxt + b * 10 + i,
                [float((i + b + 2) * (d % 7)) for d in range(64)],
                None,
            )
            for i in range(3)
        ]
        from tests.test_round16_ops import _new_vectors

        SIM.ivf_index_append(
            spark, sf_dir, _new_vectors(spark, rows), f"b{b:03d}",
            index_root=root,
        )
    return SIM


_CODE_COLS = ["vec_id", "cell", "c0", "c1", "c2", "c3"]


def _served_codes(spark, sf_dir, root):
    """The code rows the index serves (base + live deltas), sorted."""
    import gomysql2pg_spark.operators.similarity as SIM
    from gomysql2pg_spark.index_store import open_tree

    tree = open_tree(SIM._index_name(sf_dir), index_root=root)
    return sorted(
        tuple(r)
        for r in tree.read(spark, "IVF index").select(*_CODE_COLS).collect()
    )


def test_ivf_index_compact_preserves_served_codes(
    spark, sf_dir, tmp_path
):
    """Compaction must change NOTHING a query reads: the served code
    table before and after is row-identical; staleness resets to 0
    with one tree; a second compact is a no-op; re-appending an
    absorbed batch_id is refused as a no-op (the double-row hole)."""
    root = str(tmp_path / "ann")
    SIM = _build_appended_index(spark, sf_dir, root)
    before = _served_codes(spark, sf_dir, root)
    assert SIM.ivf_index_compact(spark, sf_dir, index_root=root) == 2
    after = _served_codes(spark, sf_dir, root)
    assert before == after
    rep = SIM.ivf_index_staleness(spark, sf_dir, index_root=root).first()
    assert rep["n_trees"] == 1
    assert rep["n_appended"] == 0
    assert rep["staleness_milli"] == 0
    assert rep["model_consistent"] is True
    # idempotent
    assert SIM.ivf_index_compact(spark, sf_dir, index_root=root) == 0
    # an absorbed batch_id must not re-append (its rows live in base)
    from tests.test_round16_ops import _new_vectors

    dummy = _new_vectors(
        spark, [(999_999, [0.0] * 64, None)]
    )
    assert (
        SIM.ivf_index_append(
            spark, sf_dir, dummy, "b000", index_root=root
        )
        == 0
    )


def test_ivf_index_compact_survives_crashed_delta_cleanup(
    spark, sf_dir, tmp_path
):
    """Crash-safety step 2: if delta removal dies after the new base
    is installed, the leftover delta trees are IGNORED by reads and
    staleness (they're named in compacted_through) — no double rows."""
    from gomysql2pg_spark.index_store import open_store

    root = str(tmp_path / "ann")
    SIM = _build_appended_index(spark, sf_dir, root)
    store = open_store(index_root=root)
    before = _served_codes(spark, sf_dir, root)
    kept = {"skip": False}

    class KeepDeltas:
        """Delegating filesystem whose delete_dir skips delta trees —
        the shape of dying before delta cleanup."""

        def __init__(self, inner):
            self._inner = inner

        def delete_dir(self, path):
            if ".delta." in path:
                kept["skip"] = True
                return
            self._inner.delete_dir(path)

        def __getattr__(self, attr):
            return getattr(self._inner, attr)

    assert SIM.ivf_index_compact(
        spark,
        sf_dir,
        index_root=store.croot,
        filesystem=KeepDeltas(store.fs),
        spark_root=store.sroot,
    ) == 2
    assert kept["skip"], "the simulated crash never triggered"
    # leftover delta trees are still on disk...
    name = SIM._index_name(sf_dir)
    left = [t for t in store.trees() if t.startswith(name + ".delta.")]
    assert left and all(store.built(t) for t in left), "deltas were removed"
    # ...but the served table and staleness ignore them
    after = _served_codes(spark, sf_dir, root)
    assert before == after
    rep = SIM.ivf_index_staleness(spark, sf_dir, index_root=root).first()
    assert rep["n_trees"] == 1
    assert rep["n_appended"] == 0


def test_ivf_index_append_empty_batch_is_refused(
    spark, sf_dir, tmp_path
):
    """An empty batch must NOT install a delta tree: a tree with
    _SUCCESS but zero part files fails schema inference on every
    later read and poisons the index (r16 review). The call is a
    no-op returning 0, the index keeps serving, and a later retry of
    the same batch_id with real rows still appends."""
    import gomysql2pg_spark.operators.similarity as SIM

    from tests.test_round16_ops import _new_vectors

    root = str(tmp_path / "ann")
    SIM.q_similarity_ivfpq(spark, sf_dir, index_root=root).count()
    empty = _new_vectors(spark, [])
    assert (
        SIM.ivf_index_append(spark, sf_dir, empty, "bz", index_root=root)
        == 0
    )
    from gomysql2pg_spark.index_store import open_tree

    key = SIM.hashlib.md5(
        repr((SIM._fixture_key(sf_dir), "ivf-codes-v2")).encode()
    ).hexdigest()[:12]
    tree = open_tree(f"spark_graft_ivf_{key}", index_root=root)
    assert not tree.deltas
    # the index still reads, and the batch_id is NOT burned
    assert tree.read(spark, "IVF index").count() > 0
    real = _new_vectors(spark, [(10_000_001, [1.0] * 64, None)])
    assert (
        SIM.ivf_index_append(spark, sf_dir, real, "bz", index_root=root)
        == 1
    )


def test_compact_swap_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the swap's two renames leaves NO base tree —
    previously the next build would silently rebuild a fresh base and
    double-serve the surviving absorbed deltas (r16 review).
    Opening the tree must finish the swap (a COMPLETE staging tree is
    the newer state) or, with only the `.old` tree present, roll back
    to the pre-compaction state; either way reads serve exactly the
    pre-crash row set."""
    from gomysql2pg_spark.index_store import open_tree

    root = str(tmp_path / "ann")
    SIM = _build_appended_index(spark, sf_dir, root, n_batches=1)
    name = SIM._index_name(sf_dir)
    tree = open_tree(name, index_root=root)
    store = tree.store

    def served():
        return _served_codes(spark, sf_dir, root)

    before = served()
    deltas = tree.deltas
    assert deltas
    # hand-construct the post-crash state of a compaction that died
    # between move 1 (base -> .old) and move 2 (.compact -> base):
    # a fully-built staging tree with the absorbed-deltas sidecar,
    # the old base moved aside, deltas still on disk
    assert store.install(
        f"{name}.compact-deadbeef",
        tree.read(spark, "IVF index"),
        {**tree.model, "compacted_through": sorted(deltas)},
        partition_by="cell",
    )
    store.fs.move(store.control(name), store.control(f"{name}.old-deadbeef"))
    # base is gone — a read via any entry point must RECOVER, not
    # rebuild: staleness opens (and so repairs) the tree first
    rep = SIM.ivf_index_staleness(spark, sf_dir, index_root=root).first()
    assert rep["n_trees"] == 1 and rep["n_appended"] == 0
    assert served() == before
    # deltas may remain on disk but are named in compacted_through
    # and ignored
    assert not open_tree(name, index_root=root).deltas
    # the swap leftovers are gone
    from pyarrow import fs as pafs

    names = [
        i.base_name
        for i in store.fs.get_file_info(pafs.FileSelector(store.croot))
        if i.type == pafs.FileType.Directory
    ]
    assert not any(".compact-" in n or ".old-" in n for n in names)

    # rollback-only state: base moved aside, NO staging tree
    store.fs.move(store.control(name), store.control(f"{name}.old-cafe01"))
    rep = SIM.ivf_index_staleness(spark, sf_dir, index_root=root).first()
    assert rep["n_trees"] == 1
    assert served() == before

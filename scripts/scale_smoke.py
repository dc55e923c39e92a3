#!/usr/bin/env python
"""Scale-smoke: run the scale-critical operators on a ~10× replication
of the sf0.1 fixtures (~sf1) and report per-operator wall time next to
the same operator at sf0.1 — the empirical check behind every "would
survive 100 TB" claim in the docstrings: a bounded design should scale
close to linearly in rows, so a time ratio far above the row ratio
flags a quadratic term (unbounded candidate generation, a global
window, a driver-side collect) that small fixtures can't surface.

    python scripts/scale_smoke.py [replication] [--sparse|--skewed] [name_filter...]

`--skewed` builds the dup-DENSE adversarial twin (r14 VERDICT item 5):
every third document's text is replaced by ONE shared boilerplate
template, so after replication a single LSH bucket holds ~reps×n/3
members — orders of magnitude over LSH_MAX_BUCKET, in EVERY band
(identical docs collide everywhere). This is the mega-bucket the
bucket cap exists for; the smoke records that the LSH family survives
it with bounded time (the window gate drops the bucket BEFORE the
collect materializes it). Defaults the filter to the LSH family.

`--sparse` switches the documents replication to the duplication-SPARSE
variant (replicas are NOT near-dups — see `build_replicated`) and
defaults the filter to `dedup_jaccard`.

The replicated fixture set is built once with pyarrow under /tmp
(cached by source mtimes + replication factor) from the DRIVER fixtures
— never written into /root/testdata:

- fact/dimension keys are offset per replica (orderkey/partkey/doc_id/
  vec_id/event_id stay unique; lineitem follows orders' offsets so FK
  joins keep their fan-out),
- `documents.text` gets a per-replica suffix token, so every original
  document gains R-1 NEAR-duplicates rather than exact clones: the
  near-dup/LSH/CC family sees a realistic dup-heavy crawl where
  candidate volume genuinely grows with scale,
- `events.user_id` / `documents.source` are NOT offset: per-key
  cardinality grows with scale, stressing state size and per-key
  windows the way a real corpus would.

Output: one line per operator — rows, seconds at the replicated scale,
seconds at sf0.1, and the time ratio to compare against the row ratio.
Exit 1 if any operator fails; ratios are printed, not asserted (this
box's CPU steal makes hard thresholds flaky — read the table).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"

#: operators whose 100 TB story is load-bearing: candidate generation,
#: iterative graph work, self-joins, heavy state — the ones a hidden
#: quadratic term would kill first
SCALE_CRITICAL = [
    "dedup_exact",
    "dedup_exact_norm",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_jaccard",
    "dedup_containment",
    "dedup_lines",
    "dedup_clusters",
    "dedup_survivors",
    "dedup_survivors_lsh",
    "copytext_roundtrip",
    # r12: the end-to-end migration row (re-stages the dump tree each
    # run — encode, write, range-split read-back, checksum all scale
    # with rows)
    "migration_e2e",
    "cross_source_overlap",
    # r13: cluster-atomic splits + the per-source dedup accounting
    # (both ride the jaccard+CC pipeline, priced end-to-end), the
    # distinct-n diversity rollup and DSIR selection (corpus token
    # shuffles with broadcast models)
    "split_by_cluster",
    "dedup_impact_report",
    "distinct_ngram_ratio",
    "dsir_select",
    # r14: CCNet terciles (broadcast LM + per-lang rank window), epoch
    # shards ((epoch, shard)-partitioned window over a 2× generator),
    # per-source datacard (one window + one partial agg)
    "ccnet_perplexity_buckets",
    "epoch_shuffle",
    "corpus_datacard",
    # r15: brute-force negative mining (|Q|x|corpus| by definition —
    # the deliberate quadratic contrast, like similarity_topk), its
    # IVF-probed bounded twin, margin-based bitext mining (|Q|x|B|
    # pair frame through two window exchanges), per-shard manifest
    # (one combinable agg over the epoch window)
    "hard_negative_mining",
    "hard_negative_mining_ivf",
    "bitext_margin_pairs",
    "bitext_margin_pairs_ivf",
    "shard_manifest",
    # r15 batch 4: chunk-df boilerplate strip (chunk explosion + df
    # join + doc-sized collects), the composed LSH recall audit
    # (exact verifier + md5-banded candidates end-to-end — the
    # worst-case composition row), embedding decontamination
    # (|eval|x|corpus| broadcast scan with a narrow argmax)
    "boilerplate_strip",
    "lsh_recall_report",
    "decontamination_semantic",
    "classifier_calibration",
    "quality_signal_correlation",
    "token_fertility",
    "ann_recall_report",
    # r15 batch 5: multi-query BM25 retrieval (postings shuffle +
    # per-query WindowGroupLimit top-k — the postings build is the
    # term that must scale linearly), rule ablation (single scan,
    # 5-group agg), temporal holdout audit (two combinable aggs)
    "bm25_topk",
    "quality_rule_ablation",
    "temporal_holdout_report",
    # r15 batch 6: the threshold sweep rides the SAME capped inverted
    # index as dedup_jaccard (un-thresholded, so its pair frame is the
    # full Σ df² bound — the family's worst honest case), the size
    # histogram composes jaccard+CC like split_by_cluster
    "dedup_threshold_sweep",
    "dedup_cluster_sizes",
    # r16: RRF fusion (composition of bm25_topk + similarity_ivfpq +
    # one k-bounded full-outer join — must track the SUM of its two
    # components), the within-doc span scrub (token-scale explodes +
    # one (doc,span) window + doc-sized reassembly), and BPE merge
    # mining (K vocabulary-sized pair aggregates; vocabulary grows
    # sublinearly in corpus size, so the ratio should sit BELOW the
    # row ratio)
    "retrieval_rrf",
    "selfrep_scrub",
    "bpe_merges",
    "retrieval_quality_report",
    "bpe_fertility",
    # r16 batch 2: winnowing (token-scale shingle explode + ONE per-doc
    # window — the ratio should track the token ratio), doc-level BPE
    # encode (train + vocab encode + one word-keyed join back; the
    # vocab side grows sublinearly), k-anonymity (two shrinking hash
    # aggs over the event log), KS drift (corpus collapses to the
    # (lang, length) grid before any window — the grid saturates, so
    # the ratio should fall BELOW the row ratio)
    "winnowing_fingerprint",
    "bpe_token_counts",
    "k_anonymity_report",
    "length_drift_ks",
    # r16 batch 3: int8 recall audit (two |Q|×n rankings by design —
    # the deliberate-quadratic contrast class), weak-vote diagnostics
    # (one scan + 4-struct fan-out into a combinable agg — should
    # track the row ratio), curriculum schedule (broadcast-cutpoint,
    # one scan + grouped percentile), KN bigram LM (bigram stream +
    # vocabulary-sized model aggs, same shape as bigram_lm_logprob)
    "quantize_recall_report",
    "weak_label_vote",
    "curriculum_order",
    "kn_bigram_logprob",
    # r16 batch 4: IVFADC+R — the partition-pruned ADC plan plus a
    # |Q|·R-bounded exact rerank; the rerank term is corpus-size
    # independent, so the ratio should track similarity_ivfpq's
    "similarity_ivfpq_refined",
    # r16 batch 5: the MOSS pair index (fp-bucket self-join under the
    # df-cap — the LSH-band-join shape, Σ df² bounded) and the
    # l-diversity audit (two shrinking hash aggs like k-anonymity)
    "winnow_near_dup",
    "l_diversity_report",
    # r17: t-closeness (the k-anonymity plan + one broadcast — same
    # shrinking-agg shape), production-K BPE (64 vocabulary-sized
    # iterations — per-iteration cost must stay flat as the corpus
    # grows, so the ratio should track bpe_merges'), the fertility
    # curve (same loop + 4 checkpoint aggs), and the streaming
    # admission gate (stateless band keys + 4 stream-static joins
    # against the (band,bkey)→min index; a mega-bucket collapses to
    # ONE index row, so the skewed twin must stay flat)
    "t_closeness_report",
    "bpe_merges_k64",
    "bpe_fertility_curve",
    "stream_dedup_admit",
    # r17: the retrain lifecycle audit (composition-priced like
    # retrieval_quality_report: two trainings — model-sized collects
    # only — two corpus encodes, the exact |Q|×n truth, two probes;
    # the truth term dominates and is the deliberate contrast)
    "ann_retrain_report",
    # r17 batch 5: DP contribution bounding (the replication does NOT
    # offset events.user_id, so per-user key cardinality grows with
    # scale — exactly the per-user window state this op's bound-by-
    # |types|·|days| claim must survive) and the incremental rollup
    # merge (two corpus scans + a rollup-sized combine)
    "dp_contribution_bound",
    "rollup_incremental",
    # r17 batch 6: the gram-join decontamination (corpus-side token-
    # scale explode + BROADCAST eval join — no corpus shuffle before
    # the per-doc agg; the replicated eval side grows with the corpus
    # here, the honest worst case for the broadcast claim)
    "decontamination_ngram_join",
    "similarity_topk",
    "similarity_ivf",
    "similarity_lsh",
    "similarity_pq",
    "similarity_ivfpq",
    "er_resolved_rollup",
    "heavy_hitters",
    "cooccurrence_lift",
    "interval_overlap_join",
    "snapshot_diff",
    "group_agg",
    "q3_shipping_priority",
    "window_funcs",
    "token_budget_select",
    "bigram_lm_logprob",
    "weighted_systematic_sample",
    "group_reservoir_sample",
    "mixture_allocation",
    "pagerank_bipartite",
    "mm_decode",
    # streaming: keyed state must stay bounded as the drained volume
    # grows — per-user deque (anomaly), per-key counts (heavy hitters),
    # per-domain aggregates (source stats)
    "stream_anomaly",
    "stream_heavy_hitters",
    "stream_source_stats",
]


SKEW_TEMPLATE = (
    "this is the shared boilerplate template footer stamped verbatim "
    "across a third of the corpus navigation about contact terms "
    "privacy copyright all rights reserved subscribe newsletter "
) * 3


def build_replicated(
    base: str, reps: int, sparse: bool = False, skewed: bool = False
) -> str:
    """`sparse=True` builds the duplication-SPARSE variant: every word
    gets a per-replica suffix (`the` → `ther3`), so each replica's
    shingle universe is disjoint from every other's while its INTERNAL
    df distribution is byte-for-byte the original's — the corpus grows
    10× with duplicate pairs growing only linearly (dup-dense
    replication would instead give every doc R-1 near-dups).

    Construction notes from variants that DIDN'T isolate the variable:
    a boundary token between words turns every single WORD frequency
    into a shingle frequency ((tok, word, tok) trigrams) and floods
    the index with unintended mid-df buckets (measured 12× on the
    candidate join); a shared per-group template suffix flips short
    same-group docs into spurious near-dups (measured 2560 → 158k
    result pairs), changing the task rather than the scale."""
    import hashlib

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(base) if f.endswith(".parquet")
    )
    # (name, size, mtime) like bench.py's split cache — mtime alone
    # misses a same-second fixture rewrite (r15 review)
    stamp = [
        (
            f,
            os.path.getsize(os.path.join(base, f)),
            int(os.path.getmtime(os.path.join(base, f))),
        )
        for f in files
    ]
    # hashlib, NOT hash(): str hashing is per-process randomized, which
    # would defeat the cross-invocation cache and strand orphan trees.
    # The key must cover the CONSTRUCTION RECIPE too (sparse flag +
    # template shape), or editing the recipe silently reuses a stale
    # tree built by the old one.
    # SKEW_TEMPLATE's CONTENT is part of the recipe: editing the
    # template with a stale keyed tree on disk would otherwise smoke
    # a corpus that was never built (r15 review — the exact failure
    # the comment above warns about)
    recipe = (stamp, sparse, skewed, "v3-word-suffix", SKEW_TEMPLATE)
    key = hashlib.md5(repr(recipe).encode()).hexdigest()[:12]
    tag = "sparse_" if sparse else ("skewed_" if skewed else "")
    out = os.path.join("/tmp", f"spark_graft_scale_{tag}{reps}x_{key}")
    manifest = os.path.join(out, "_MANIFEST.json")
    if os.path.isfile(manifest):
        return out
    os.makedirs(out, exist_ok=True)

    # key columns offset per replica so uniqueness survives; everything
    # else copied verbatim
    offset_cols = {
        "orders.parquet": ["o_orderkey"],
        "lineitem.parquet": ["l_orderkey"],
        "part.parquet": ["p_partkey"],
        "customer.parquet": ["c_custkey"],
        "supplier.parquet": ["s_suppkey"],
        "documents.parquet": ["doc_id"],
        "embeddings.parquet": ["vec_id"],
        "events.parquet": ["event_id"],
    }
    keep_single = {"region.parquet", "nation.parquet"}
    counts = {}
    # the lineitem FK must follow ORDERS' offset step, not its own
    # max(l_orderkey): orphan lineitems above max(o_orderkey) — or a
    # trailing order with no lineitems — would otherwise give the two
    # tables different steps and silently break replica fan-out
    orders_step = (
        pc.max(
            pq.read_table(
                os.path.join(base, "orders.parquet"), columns=["o_orderkey"]
            )["o_orderkey"]
        ).as_py()
        + 1
        if os.path.isfile(os.path.join(base, "orders.parquet"))
        else None
    )
    for f in files:
        tbl = pq.read_table(os.path.join(base, f))
        tdir = os.path.join(out, f)
        os.makedirs(tdir, exist_ok=True)
        if f in keep_single:
            pq.write_table(tbl, os.path.join(tdir, "part-000.parquet"))
            counts[f] = tbl.num_rows
            continue
        offs = {
            c: pc.max(tbl[c]).as_py() + 1 for c in offset_cols.get(f, [])
        }
        if f == "lineitem.parquet" and orders_step is not None:
            offs["l_orderkey"] = orders_step
        for i in range(reps):
            t = tbl
            for c, step in offs.items():
                t = t.set_column(
                    t.schema.get_field_index(c),
                    c,
                    pc.add(t[c], i * step),
                )
            if f == "documents.parquet" and skewed:
                # dup-DENSE adversarial twin: one template stamped on
                # every third doc of every replica — one mega-bucket
                # per band, ~reps*n/3 members, far over LSH_MAX_BUCKET
                import pyarrow as pa

                idx = t.schema.get_field_index("text")
                ids = t["doc_id"].to_pylist()
                txt = t["text"].to_pylist()
                txt = [
                    SKEW_TEMPLATE if (d is not None and d % 3 == 0) else x
                    for d, x in zip(ids, txt)
                ]
                t = t.set_column(
                    idx, "text", pa.array(txt, type=t.schema.field(idx).type)
                )
            elif f == "documents.parquet" and sparse:
                idx = t.schema.get_field_index("text")
                # per-replica word suffix: replica shingle universes
                # are disjoint (no cross-replica near-dups) with the
                # original per-replica df distribution preserved
                t = t.set_column(
                    idx,
                    "text",
                    pc.binary_join_element_wise(
                        pc.replace_substring(
                            t["text"], pattern=" ", replacement=f"r{i} "
                        ),
                        f"r{i}",
                        "",
                    ),
                )
            elif f == "documents.parquet" and i > 0:
                # near-duplicate replicas, not exact clones
                idx = t.schema.get_field_index("text")
                t = t.set_column(
                    idx,
                    "text",
                    pc.binary_join_element_wise(
                        t["text"], f" rep{i}", ""
                    ),
                )
            pq.write_table(t, os.path.join(tdir, f"part-{i:03d}.parquet"))
        counts[f] = tbl.num_rows * reps
    with open(manifest, "w") as fh:
        json.dump({"source": base, "reps": reps, "rows": counts}, fh)
    return out


def main() -> int:
    args = [
        a for a in sys.argv[1:] if a not in ("--sparse", "--skewed")
    ]
    sparse = "--sparse" in sys.argv[1:]
    skewed = "--skewed" in sys.argv[1:]
    # the usage line marks [replication] optional: only consume the
    # first arg as the factor when it IS a number — a name-only
    # invocation (`scale_smoke.py similarity_topk`) must not die on
    # int('similarity_topk') (r15 review)
    if args and args[0].isdigit():
        reps, name_filter = int(args[0]), args[1:]
    else:
        reps, name_filter = 10, args
    if sparse and not name_filter:
        # the sparse corpus prices the exact verifier when replicas
        # share no shingles
        name_filter = ["dedup_jaccard"]
    if skewed and not name_filter:
        # the skewed corpus exists to prove the LSH family survives a
        # mega-bucket; exact-norm dedup rides along as the operator
        # that HANDLES the template class upstream in production
        name_filter = [
            "dedup_minhash_lsh",
            "dedup_simhash",
            "dedup_survivors_lsh",
            "dedup_exact_norm",
            # r17: the online admission gate must survive the same
            # mega-bucket (the template collapses to ONE index row)
            "stream_dedup_admit",
        ]
    names = [
        n
        for n in SCALE_CRITICAL
        if not name_filter or any(f in n for f in name_filter)
    ]

    big = build_replicated(BASE, reps, sparse=sparse, skewed=skewed)
    print(f"# replicated fixtures: {big}", file=sys.stderr)

    import __spark_entry__ as entry
    from gomysql2pg_spark.functions.consume import force_count
    from gomysql2pg_spark.session import get_spark

    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    # codegen/JVM warmup at sf0.001 so the first timed operator doesn't
    # absorb session startup — force_count, not count(): the timed loop
    # drains through force_count, whose xxhash64-wrapped plan is a
    # DIFFERENT codegen unit than the column-pruned count plan, so a
    # count() warmup would leave the first (big-corpus) timed run to
    # pay the one-time codegen and inflate the ratio (r15 review)
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        for name in names:
            try:
                force_count(qs[name](spark, warm))
            except Exception:
                pass
        spark.catalog.clearCache()
    if "copytext_roundtrip" in names:
        # build the wire trees OUTSIDE the timed loop: the entry caches
        # the encoded dump per source fixture, and the smoke should
        # measure the SCAN ratio, not a one-off encode
        for d in (big, BASE):
            try:
                force_count(qs["copytext_roundtrip"](spark, d))
            except Exception:
                pass
        spark.catalog.clearCache()
    if "similarity_ivfpq" in names:
        # build the IVF index trees (coarse training + corpus encode +
        # disk materialization) OUTSIDE the timed loop: the build is
        # the OFFLINE step of an IVF system, amortized over every
        # query against the unchanged corpus — the smoke measures the
        # WARM-query ratio (the probe of the cell-pruned disk table);
        # the one-off build cost is reported separately on stderr
        for d in (big, BASE):
            try:
                t0 = time.perf_counter()
                force_count(qs["similarity_ivfpq"](spark, d))
                print(
                    f"# ivfpq offline index build ({d}): "
                    f"{time.perf_counter() - t0:.2f}s",
                    file=sys.stderr,
                )
            except Exception as exc:
                # loud, not fatal: a failed pre-build means the timed
                # loop measures build+probe, so the ratio would
                # misattribute a one-off build cost as a scaling
                # regression — say so instead of hiding it
                print(
                    f"# ivfpq PRE-BUILD FAILED ({d}): "
                    f"{type(exc).__name__}: {exc} — the timed row "
                    f"below includes the index build",
                    file=sys.stderr,
                )
        spark.catalog.clearCache()

    failures = []
    print(f"{'operator':34s} {'rows':>10s} {'t_big':>8s} {'t_0.1':>8s} ratio")
    for name in names:
        fn = qs.get(name)
        if fn is None:
            # registry drift (renamed/removed operator) must cost ONE
            # row, not the rest of the table (r15 review; bench.py's
            # qs.get discipline)
            print(f"{name:34s} NOT IN REGISTRY")
            failures.append(name)
            continue
        try:
            # force_count, not count(): a bare count lets column
            # pruning delete the output expressions, so projection-
            # and aggregate-shaped operators smoke-tested as parquet
            # row counts (r15 finding — see functions/consume.py).
            # SMOKE tables recorded before this fix under-measure
            # exactly those rows (ratios were still valid: pruning is
            # plan-level, identical at both scales).
            t0 = time.perf_counter()
            n_big = force_count(fn(spark, big))
            t_big = time.perf_counter() - t0
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            force_count(fn(spark, BASE))
            t_small = time.perf_counter() - t0
            spark.catalog.clearCache()
            ratio = t_big / t_small if t_small > 0 else float("inf")
            print(
                f"{name:34s} {n_big:>10d} {t_big:>8.2f} {t_small:>8.2f} "
                f"{ratio:>5.1f}x"
            )
        except Exception as exc:
            failures.append((name, f"{type(exc).__name__}: {exc}"[:300]))
            print(f"{name:34s} FAILED {failures[-1][1]}")
    print(f"FAILURES: {failures or 'none'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

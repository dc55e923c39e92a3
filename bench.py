#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on)
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query time = full plan execution to a driver-side count/collect
(cold caches per rep, shared JVM). Each entry runs once untimed at the
timed scale right before its reps, so the reps measure execution rather
than session startup, footer reads or code generation;
"codegen_compiles" records the classes each entry still compiled while
timed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the headline set: TPC-H-style relational + scale-critical extension ops
HEADLINE = [
    "group_agg",
    "q3_shipping_priority",
    "q5_local_supplier",
    "join_multi",
    "derived_table",
    "window_topk",
    "window_funcs",
    "group_concat",
    "cube_agg",
    "having_large_orders",
    "dedup_exact_norm",
    "dedup_minhash_lsh",
    "similarity_topk",
    "similarity_lsh",
    "text_stats",
    "tfidf_top_terms",
    "corpus_pipeline",
    "q10_returned_items",
    "stream_windowed_counts",
    "events_window",
    "events_sessionize",
    "events_asof_purchase",
    "skew_salted_join",
    # round-2 operators (perf-tracked from round 3 on)
    "q7_volume_shipping",
    "q8_market_share",
    "q17_small_qty_revenue",
    "q19_disjunctive",
    "dedup_substring_chunks",
    "incremental_dedup",
    "ts_ohlc",
    # round-3 operators
    "dedup_semantic",
    "kmeans_update",
    "token_budget_select",
    "oov_rate",
    "events_anomaly",
    # round-6: every operator family gets a bench row
    "q13_custdist",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_volume",
    "q22_dormant_customers",
    "dedup_containment",
    "dedup_lines",
    "vocab_topk",
    "unigram_logprob",
    "temperature_sample",
    "stream_anomaly",
    # round-6 sampling/curation family
    "domain_cap_sample",
    "hash_mod_sample",
    "cohort_retention",
    "hapax_stats",
    "ngram_novelty",
    "rfm_segments",
    "engagement_dau",
    "value_quantiles",
    "key_skew_histogram",
    "validate_fk_orphans",
    "validate_bucket_checksum",
    "curation_pipeline",
    # round-7: the scale-safe twins of the two perf-weak r6 ops
    "domain_cap_sample_scaled",
    "rfm_segments_scaled",
    # round-7 corpus-shaping family (operators/quality.py): one bench
    # row per distinct plan shape — chunking (zero-shuffle fan-out),
    # entropy (chained partial aggs), MAD (broadcast-cutpoint ×2),
    # PageRank (iterative keyed joins)
    "doc_chunking",
    "char_entropy",
    "mad_outliers",
    "pagerank_bipartite",
    # round-7 streaming corpus ingest (documents file stream)
    "stream_source_stats",
    # round-7 batch 2: one bench row per new plan family — ER
    # end-to-end (block+match+CC+broadcast rollup), heavy hitters
    # (partial agg + broadcast total), co-occurrence (domain-bounded
    # pair explode), z-order envelope (arithmetic interleave), the
    # interval grid join (explode+equi), and the systematic sampler
    # (two-level prefix sum)
    "er_resolved_rollup",
    "heavy_hitters",
    "cooccurrence_lift",
    "zorder_layout",
    "interval_overlap_join",
    "weighted_systematic_sample",
    # round-7 batch 3: coreset margin (broadcast k-NN fold + bounded
    # best-2), classifier inference (pure codegen map), mixture fill
    # (per-domain window + broadcast budgets)
    "coreset_margin_select",
    "classifier_score",
    "mixture_allocation",
    # explicit bloom runtime-filter audit (bounded-broadcast position
    # joins over distinct keys)
    "bloom_prefilter_join",
    # streaming heavy-hitter monitor (complete-mode bounded state)
    "stream_heavy_hitters",
    # contamination matrix (hash-keyed bounded self-join) and the
    # deterministic reservoir (WindowGroupLimit top-k pushdown)
    "cross_source_overlap",
    "group_reservoir_sample",
    # PQ/ADC compression path (broadcast codebook encode + fixed-order
    # distance-table lookups)
    "similarity_pq",
    # sequential pattern mining (per-user lead window → bounded matrix)
    "events_transition_matrix",
    # row-level snapshot diff (single-scan explode + keyed hash merge)
    "snapshot_diff",
    # round-9: real media decode (synth BMP/WAV/PPM containers parsed
    # back byte-for-byte through two chained Arrow mapInPandas stages)
    "mm_decode",
    # round-10: composed IVFADC (coarse-cell equi-probe + broadcast
    # distance-table ADC — the corpus-scale PQ path, no crossJoin)
    "similarity_ivfpq",
    # round-10: quality-aware cluster survivor selection (jaccard →
    # CC → one narrow window) and conditional bigram LM scoring
    # (two hash aggs + co-partitioned prob-table probe)
    "dedup_survivors",
    "bigram_lm_logprob",
    # round-11: the survivor operator on its 100 TB edge source
    # (MinHash-LSH pairs instead of the exact verifier) and the
    # vectorized COPY-text scan (arrow RecordBatch reader over the
    # cached wire tree — the reps measure the scan, not the encode)
    "dedup_survivors_lsh",
    "copytext_roundtrip",
    # round-12: the whole migration pipeline as one row (bounded-
    # parallel table pump -> JVM COPY-text encode -> staged dump tree
    # -> copytext read-back -> canonical content checksum); every rep
    # RE-STAGES the tree, so the number is the migration itself — the
    # one phase the reference publishes wall times for
    "migration_e2e",
    # round-13: leakage-free cluster-atomic splits (CC labels + one
    # stateless md5/CASE map), the per-source dedup accounting rollup,
    # and the corpus diversity distinct-n (one (source, bigram)
    # partial-agg shuffle)
    "split_by_cluster",
    "dedup_impact_report",
    "distinct_ngram_ratio",
    # round-13: DSIR importance selection (two broadcast unigram LMs +
    # one per-doc reduce, stateless gate — no corpus sort)
    "dsir_select",
    # round-14: CCNet perplexity terciles (broadcast LM + integer-rank
    # cutpoints), deterministic per-epoch training shards (one
    # (epoch, shard)-partitioned window), per-source datacard rollup
    "ccnet_perplexity_buckets",
    "epoch_shuffle",
    "corpus_datacard",
    # round-15: contrastive hard negatives (broadcast queries, one
    # corpus scan), margin-based bitext mining (two pair-frame
    # windows on integer micro-cosines), per-shard manifest (one agg
    # riding the epoch-shuffle window's partitioning)
    "hard_negative_mining",
    "hard_negative_mining_ivf",
    "bitext_margin_pairs",
    "bitext_margin_pairs_ivf",
    "shard_manifest",
    # round-15 batch 2: calibration bins (single scan + 10-key
    # combinable agg) and the per-lang Pearson signal agreement
    # (six integer sufficient statistics, no rank window)
    "classifier_calibration",
    "quality_signal_correlation",
    # round-15 batch 3: tokenizer fertility (one lang-key combinable
    # agg) and the composed ANN index audit (re-runs exact + IVFADC
    # end-to-end — composition-priced like dedup_impact_report)
    "token_fertility",
    "ann_recall_report",
    # round-15 batch 4: chunk-granular boilerplate strip (two
    # Σ-bounded groupBys + doc-sized collects), the md5-banded LSH
    # recall audit (composition-priced: exact verifier + banded
    # candidates), embedding decontamination (broadcast eval set +
    # narrow argmax agg), packing telemetry (source-keyed rollup of
    # the packing window), per-lang Cohen's kappa (four integer
    # sufficient statistics, one combinable agg)
    "boilerplate_strip",
    "lsh_recall_report",
    "decontamination_semantic",
    "packing_efficiency",
    "label_agreement_kappa",
    # round-15 batch 5: the two structurally new TPC-H shapes — Q9's
    # five-table join fan (LIKE pushed to the part scan, all dims
    # broadcast, one fact scan) and Q21's same-order different-supplier
    # semi/anti pair
    "q9_product_profit",
    "q21_waiting_suppliers",
    # round-15 batch 6: the four remaining TPC-H shapes over the
    # derived partsupp relation — correlated min (Q2), group-vs-global
    # threshold (Q11), NOT-IN distinct count (Q16), nested-IN
    # half-sum (Q20)
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_parts_supplier_cnt",
    "q20_potential_promotion",
    # round-15 batch 7: multi-query BM25 retrieval (one postings
    # shuffle, broadcast query map, WindowGroupLimit top-k per query),
    # the per-rule curation ablation (one scan, 5-group combinable
    # agg), and the temporal-holdout leakage audit (two combinable
    # aggs, no window)
    "bm25_topk",
    "quality_rule_ablation",
    "temporal_holdout_report",
    # round-15 batch 8: dedup tuning telemetry — the threshold sweep
    # (one capped pair frame, 7-value fan-out, two combinable aggs)
    # and the cluster-size histogram (composition-priced: Jaccard
    # pairs + CC, then two tiny aggs)
    "dedup_threshold_sweep",
    "dedup_cluster_sizes",
    # round-16: hybrid retrieval fusion (composition-priced: both
    # rankers end-to-end + one k-bounded full-outer join), the
    # within-doc repeated-span scrub (token-scale: span explode,
    # min-pos window, covered-position anti-mark, doc-sized
    # reassembly), and BPE merge mining (K=4 vocabulary-sized
    # pair-count aggregates + bounded argmaxes off one cached and
    # released word table)
    "retrieval_rrf",
    "selfrep_scrub",
    "bpe_merges",
    # nDCG audit: composition-priced (brute-force truth + both rankers)
    "retrieval_quality_report",
    # BPE train->apply fertility (composition-priced: mines the merges,
    # then K stateless replace maps + one lang-keyed aggregate)
    "bpe_fertility",
    # r16 batch 2
    "winnowing_fingerprint",
    "bpe_token_counts",
    "k_anonymity_report",
    "length_drift_ks",
    # r16 batch 3
    "quantize_recall_report",
    "weak_label_vote",
    "curriculum_order",
    "kn_bigram_logprob",
    # r16 batch 4
    "similarity_ivfpq_refined",
    # r16 batch 5
    "winnow_near_dup",
    "l_diversity_report",
    # r17: release-audit trio closer, production-K BPE pair, the
    # streaming admission gate, the retrain lifecycle audit
    # (composition-priced: two trainings + exact truth + two probes),
    # DP contribution bounding, incremental rollup merge
    "t_closeness_report",
    "bpe_merges_k64",
    "bpe_fertility_curve",
    "stream_dedup_admit",
    "ann_retrain_report",
    "dp_contribution_bound",
    "rollup_incremental",
    "decontamination_ngram_join",
]


def _split_fixture_dir(
    sf_dir: str, n_files: int = 8, min_rows_per_part: int = 5_000
) -> str:
    """Rewrite each single-file fixture table as `n_files` parquet
    part-files under a cached temp dir, so the benched scans schedule
    REAL parallel tasks. The driver fixtures are one file × one row
    group per table, which caps every scan at 1 task on local[32] —
    benchmarks were floor-dominated by serial scan latency, and scan
    parallelism (the thing a 1000-executor cluster lives on) was never
    exercised. pyarrow does the rewrite (no Spark job runs before the
    timed loop) and the copy is cached keyed on the source files'
    (name, size, mtime), so fixture drift between rounds rebuilds it
    automatically. Tables stay byte-identical in content and schema
    (row-order-preserving slices, original timestamp units)."""
    import hashlib
    import tempfile

    import pyarrow.parquet as pq

    files = [
        f
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
        and os.path.isfile(os.path.join(sf_dir, f))
    ]
    if not files:
        return sf_dir
    stat = [
        (
            f,
            os.path.getsize(os.path.join(sf_dir, f)),
            int(os.path.getmtime(os.path.join(sf_dir, f))),
        )
        for f in files
    ]
    key = hashlib.md5(
        repr((stat, n_files, min_rows_per_part)).encode()
    ).hexdigest()[:12]
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_{os.path.basename(sf_dir.rstrip('/'))}_{key}",
    )
    manifest = os.path.join(out, "_MANIFEST.json")
    if os.path.isfile(manifest):
        return out
    os.makedirs(out, exist_ok=True)
    counts = {}
    # don't shard tiny dimension tables: an 8-way split of a 25-row
    # table buys nothing and costs 8 footer reads + 8 task launches on
    # every sub-second query (measured 1.2-1.4× on the small queries).
    # EXCEPTION: the text/vector tables are CPU-bound per row
    # (shingling, n-gram explosion, dot products), so scan parallelism
    # pays at any row count — always full fan-out (measured: 8-way
    # documents split took ngram_novelty 0.76s → 0.34s at 5k rows).
    cpu_heavy = {"documents.parquet", "embeddings.parquet"}
    for f in files:
        tbl = pq.read_table(os.path.join(sf_dir, f))
        tdir = os.path.join(out, f)
        os.makedirs(tdir, exist_ok=True)
        if f in cpu_heavy:
            n = min(n_files, max(1, tbl.num_rows))
        else:
            n = max(1, min(n_files, tbl.num_rows // min_rows_per_part))
        step = -(-tbl.num_rows // n) if tbl.num_rows else 1
        for i in range(n):
            part = tbl.slice(i * step, step)
            if part.num_rows == 0:
                break
            pq.write_table(part, os.path.join(tdir, f"part-{i:03d}.parquet"))
        if tbl.num_rows == 0:
            # a 0-row table must still carry its SCHEMA: an empty
            # part dir makes Spark fail schema inference for every
            # query touching the table, and the manifest would cache
            # the breakage (r15 review)
            pq.write_table(tbl, os.path.join(tdir, "part-000.parquet"))
        counts[f] = tbl.num_rows
    with open(manifest, "w") as fh:
        json.dump({"source": sf_dir, "rows": counts}, fh)
    return out


def _float_or(s: str, fallback):
    try:
        return float(s)
    except ValueError:
        return fallback


def _steal_jiffies() -> int | None:
    """Cumulative CPU-steal jiffies from /proc/stat (field 8 of the
    aggregate cpu line), or None off-Linux. On a shared VM this is the
    direct measurement of 'the host took our cycles' — loadavg can't
    distinguish our own 32 busy workers from a noisy neighbor."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    sf_label_dir = sf_dir
    if os.environ.get("SPARK_GRAFT_BENCH_SPLIT", "1") != "0":
        try:
            sf_dir = _split_fixture_dir(sf_dir)
        except Exception as exc:  # never lose the bench to fixture prep
            print(f"# fixture split failed, using source: {exc}",
                  file=sys.stderr)

    from gomysql2pg_spark.functions.consume import force_count
    from gomysql2pg_spark.session import codegen_compiles, get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="gomysql2pg-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # one scan task per part-file: the split fixture files are far
    # below maxPartitionBytes, and the default 4 MiB open-cost would
    # coalesce all 8 back into one task — pricing a file open at the
    # full partition budget forces file-granular tasks
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
    qs = entrymod.queries()

    def _release():
        # drop caches the call persisted (the codegen cache survives)
        # and collect garbage so the next call pays no GC debt
        try:
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        except Exception:
            pass

    # Per-query headline time = MIN over REPS cold executions (the same
    # metric as every prior round), with median + min/max spread reported
    # alongside. This box is a shared VM with bursty host CPU steal
    # (measured: the same query ranges 3.5s-28s wall under identical
    # plans); the min is the least-contended estimate, the median/spread
    # expose the noise. A failing query records null and NEVER
    # kills the run — two rounds of bench were lost to one
    # AnalysisException propagating out of the timed loop.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # Sub-0.7 s entries are dominated by task-launch jitter: between
    # driver rounds they swung ±45% at 3 reps, drowning real
    # regressions (r11: q15_top_supplier 0.48→0.64→0.48 with untouched
    # code; r12: bigram_lm_logprob 0.41→0.56 the same way — both above
    # the old 0.4 s cut, so the re-sampler never engaged; widened to
    # 0.7 per the r12 verdict to kill this false-alarm class). For
    # those, keep sampling (up to `fast_reps` total) until the min
    # stabilizes — extra reps on a sub-second query cost little and
    # tighten the min estimate where it is noisiest.
    fast_cut = float(os.environ.get("SPARK_GRAFT_BENCH_FAST_CUT", "0.7"))
    fast_reps = int(os.environ.get("SPARK_GRAFT_BENCH_FAST_REPS", "7"))
    load_start = os.getloadavg()  # host-contention marker (1/5/15 min)
    steal_start = _steal_jiffies()  # hypervisor CPU steal (shared box)
    times: dict[str, float | None] = {}
    medians: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # classes Janino compiled during each entry's timed reps: generated
    # code the codegen cache did not hold
    compiles: dict[str, int] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            times[name] = None
            errors[name] = "not in queries() registry"
            continue
        samples: list[float] = []
        n = -1
        # untimed first call at the timed scale, right before the reps:
        # a warm-up pass over all 144 entries generates more classes
        # than the codegen cache holds (1000 in get_spark), so the early
        # entries' classes would be evicted and recompiled while timed
        try:
            force_count(fn(spark, sf_dir))
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            _release()
        compiled_before = codegen_compiles(spark)
        while name not in errors and (len(samples) < reps or (
            samples and min(samples) < fast_cut and len(samples) < fast_reps
        )):
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                # force_count, NOT count(): a bare count lets column
                # pruning delete every output expression a row count
                # doesn't need, so projection-/aggregate-shaped
                # queries used to bench as near-no-op scans (r15
                # finding: 0.31 s recorded for 18.6 s of real cosine
                # work). All r01-r15 records before this fix
                # under-measure exactly those entries.
                n = force_count(df)
                samples.append(time.perf_counter() - t0)
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                break
            finally:
                _release()  # each rep measured independently
        compiles[name] = codegen_compiles(spark) - compiled_before
        if samples:
            samples.sort()
            # headline = min (same metric as every prior round — the
            # least-contended estimate on a noisy shared host); median
            # + full spread reported alongside for noise visibility
            times[name] = round(samples[0], 3)
            medians[name] = round(samples[len(samples) // 2], 3)
            spread[name] = [round(samples[0], 3), round(samples[-1], 3)]
            print(
                f"# {name}: {n} rows in {times[name]:.2f}s "
                f"(median {medians[name]:.2f} max {samples[-1]:.2f}, "
                f"{len(samples)} reps)",
                file=sys.stderr,
            )
        else:
            times[name] = None
            print(f"# {name}: FAILED {errors.get(name, '')}", file=sys.stderr)

    ok = [t for t in times.values() if t is not None]
    total = round(sum(ok), 3)
    sf = os.path.basename(sf_label_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "median": medians,
        "spread": spread,
        "codegen_compiles": compiles,
        "n_queries": len(HEADLINE),
        "n_ok": len(ok),
        # marker: results are drained through force_count (every
        # output column hashed), NOT a prunable count() — r01-r15
        # records without this field under-measure projection-shaped
        # entries and are not row-comparable for those
        "consumption": "hash-forced",
        # a non-'sf<number>' dir basename must not raise AFTER the
        # whole timed loop ran (it would destroy the record; r15
        # review) — fall back to the label
        "sf": _float_or(sf, sf_label_dir) if sf else sf_label_dir,
        "cpus": int(cpus),
        # loadavg before/after the timed loop: lets a reader attribute
        # round-over-round deltas to host contention vs real changes
        "load_1m": [round(load_start[0], 2), round(os.getloadavg()[0], 2)],
        "load_5m": [round(load_start[1], 2), round(os.getloadavg()[1], 2)],
    }
    steal_end = _steal_jiffies()
    if steal_start is not None and steal_end is not None:
        # jiffies of CPU the hypervisor withheld during the timed loop
        # — the r13 verdict's "unattributed 1.2× drift" class: if this
        # is large, the round's deltas are the host's, not the code's
        out["steal_jiffies"] = steal_end - steal_start
    if errors:
        out["errors"] = errors
    # the driver's BENCH_r{N}.json tail truncates to the last ~52
    # per-query timings; persist the FULL record at a stable path so
    # round-over-round comparison covers every entry (README: Bench)
    try:
        full = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_FULL_latest.json",
        )
        with open(full, "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError as exc:  # read-only checkout must not kill the bench
        print(f"# full-bench write failed: {exc}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Physical-plan quality gates (the 100 TB discipline, mechanized).

The task is not "produces correct rows" but "produces the plan you'd
want on a 1000-executor cluster": filters pushed to the parquet scan,
columns pruned, small sides broadcast, aggregates partial-applied,
expressions inside whole-stage codegen. These tests pin those
properties so a refactor that silently regresses the plan fails CI,
not the cluster."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, queries):
    plan = plan_of(queries["group_agg"](spark, sf_dir))
    assert "PushedFilters:" in plan
    # the shipdate predicate must be in the scan, not only post-scan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters:" in ln
    ]
    assert any("l_shipdate" in ln for ln in pushed), pushed


def test_column_pruning(spark, sf_dir, queries):
    """group_agg touches 6 of 11 lineitem columns; the scan schema must
    not include the untouched ones."""
    plan = plan_of(queries["group_agg"](spark, sf_dir))
    schema_lines = [
        ln for ln in plan.splitlines() if "ReadSchema:" in ln
    ]
    assert schema_lines
    rs = schema_lines[0]
    for needed in ("l_shipdate", "l_extendedprice", "l_quantity"):
        assert needed in rs, rs
    for pruned in ("l_partkey", "l_suppkey", "l_comment", "l_shipmode"):
        assert pruned not in rs, rs


def test_projection_prunes_scan(spark, sf_dir, queries):
    plan = plan_of(queries["projection"](spark, sf_dir))
    rs = [ln for ln in plan.splitlines() if "ReadSchema:" in ln][0]
    assert "o_comment" not in rs and "o_orderstatus" not in rs, rs


def test_q3_broadcasts_dimensions(spark, sf_dir, queries):
    """customer (filtered) and orders are both far under the broadcast
    threshold at test scale — no shuffle join should appear before the
    aggregation."""
    plan = plan_of(queries["q3_shipping_priority"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_q5_broadcasts_all_dims(spark, sf_dir, queries):
    plan = plan_of(queries["q5_local_supplier"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_new_tpch_dims_broadcast(spark, sf_dir, queries):
    """Q14/Q17/Q19: part (and the other dims) are broadcast — the
    only shuffle left is the fact-side aggregation exchange. Q8 keeps
    its true dims (part/supplier/nation) broadcast but joins the
    pre-filtered orders frame by shuffle (fact-sized at scale; AQE
    may flip it to broadcast at runtime)."""
    for name in (
        "q14_promo_revenue",
        "q17_small_qty_revenue",
        "q18_large_volume",
        "q19_disjunctive",
    ):
        plan = plan_of(queries[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
    plan = plan_of(queries["q8_market_share"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_q7_q8_pushdown_reaches_scan(spark, sf_dir, queries):
    """The spec date windows must reach the parquet scans as pushed
    filters (row-group pruning), not sit above the joins."""
    plan = plan_of(queries["q7_volume_shipping"](spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("l_shipdate" in ln and "GreaterThanOrEqual" in ln
               for ln in pushed), pushed
    plan = plan_of(queries["q8_market_share"](spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("o_orderdate" in ln and "GreaterThanOrEqual" in ln
               for ln in pushed), pushed


def test_q13_outer_join_preserves_customer(spark, sf_dir, queries):
    """Q13's LEFT join must stay an outer join (zero-order customers
    keep their 0 bucket) and the priority filter must push to the
    orders scan, not sit above the join."""
    plan = plan_of(queries["q13_custdist"](spark, sf_dir))
    assert "LeftOuter" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("o_orderpriority" in ln for ln in pushed), pushed


def test_q22_anti_join_and_single_scalar_pass(spark, sf_dir, queries):
    """Q22: the threshold is one tiny broadcast (no per-row recompute)
    and the no-urgent-orders predicate is a LeftAnti join."""
    plan = plan_of(queries["q22_dormant_customers"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_small_sides_broadcast_in_r3_ops(spark, sf_dir, queries):
    """kmeans: the k-row centroid set must reach every vector by
    broadcast (nested-loop is fine — there is no equi-key), never a
    shuffle; oov_rate: the vocabulary probe must be a broadcast hash
    join on the corpus-side token stream."""
    plan = plan_of(queries["kmeans_assign"](spark, sf_dir))
    assert "Broadcast" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    plan = plan_of(queries["oov_rate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_partial_aggregation_before_shuffle(spark, sf_dir, queries):
    """Hash aggregation must be map-side partial + reduce-side final
    (two HashAggregate operators around one Exchange) so the shuffle
    carries groups, not rows."""
    plan = plan_of(queries["group_agg"](spark, sf_dir), mode="simple")
    assert plan.count("HashAggregate") >= 2, plan
    # partial_ functions indicate map-side combine
    assert "partial_" in plan, plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir, queries):
    df = queries["group_agg"](spark, sf_dir)
    df.collect()  # AQE reveals the final (codegen'd) plan only after execution
    plan = plan_of(df, mode="simple")
    assert "isFinalPlan=true" in plan, plan
    # codegen spans appear as "*(n) Operator" in simple mode — the agg,
    # filter and scan-to-row must all be inside one
    assert "*(1) HashAggregate" in plan or "*(2) HashAggregate" in plan, plan
    assert "*(1) Filter" in plan, plan


def test_window_partitioned_not_global(spark, sf_dir, queries):
    """window_funcs partitions by customer — there must be NO
    single-partition global Exchange (the classic non-scalable window
    mistake)."""
    plan = plan_of(queries["window_funcs"](spark, sf_dir), mode="simple")
    assert "Window" in plan
    assert "SinglePartition" not in plan, plan


def test_semi_join_stays_semi(spark, sf_dir, queries):
    """The IN-subquery formulation must compile to a semi join (not an
    inner join + distinct)."""
    plan = plan_of(queries["semi_join"](spark, sf_dir), mode="simple")
    assert "LeftSemi" in plan, plan


def test_similarity_broadcasts_queries(spark, sf_dir, queries):
    """The ANN scan must broadcast the small query set and stream the
    corpus — a shuffle of the corpus would be the 100 TB killer."""
    plan = plan_of(queries["similarity_topk"](spark, sf_dir), mode="simple")
    assert "Broadcast" in plan, plan


def test_minhash_join_is_equi_hash(spark, sf_dir, queries):
    """The LSH band join must be a hash equi-join on (band, bkey) —
    never a nested-loop over all pairs."""
    plan = plan_of(queries["dedup_minhash_lsh"](spark, sf_dir), mode="simple")
    assert "NestedLoop" not in plan, plan


def test_exact_dedup_partial_aggregates(spark, sf_dir, queries):
    plan = plan_of(queries["dedup_exact"](spark, sf_dir), mode="simple")
    assert "partial_" in plan, plan




def count_executed_shuffles(df) -> int:
    """Count ShuffleExchangeExec nodes in the prepared physical plan by
    walking the plan TREE, not the explain string (a cached subplan
    prints its materialization exchange once per consumer, which
    double-counts shared stages). Cached plans (InMemoryTableScan is a
    leaf in the tree) are descended into exactly once per distinct
    InMemoryRelation, because their materialization shuffle runs once
    regardless of consumer count. Under AQE the prepared tree is the
    AdaptiveSparkPlanExec's initialPlan; pre-AQE it's executedPlan
    itself (sparkPlan() is pre-EnsureRequirements and has NO exchange
    nodes at all — counting there is vacuously zero)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.initialPlan()
    shuffles = 0
    seen_caches = set()
    stack = [root]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            shuffles += 1
        if cls == "InMemoryTableScanExec":
            rel = n.relation()
            key = rel.hashCode()
            if key not in seen_caches:
                seen_caches.add(key)
                stack.append(rel.cachedPlan())
            continue
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return shuffles

SHUFFLE_BUDGETS = {
    # query -> max shuffle exchanges (broadcasts excluded) the plan may
    # contain; measured values, pinned so a refactor that silently adds
    # a shuffle fails here instead of on the cluster
    "group_agg": 1,
    "q3_shipping_priority": 1,
    "q5_local_supplier": 1,
    "having_large_orders": 1,
    "dedup_exact": 1,
    "window_funcs": 1,
    "seq_packing": 1,
    "events_sessionize": 1,
    "q10_returned_items": 1,
    "corpus_pipeline": 2,
    "skew_salted_join": 2,
    "tfidf_top_terms": 4,
    # round-2 additions (caps = measured plan + 0 slack: a regression
    # that adds an Exchange fails here before it costs a cluster run)
    "repetition_filter": 2,
    "dedup_substring_chunks": 4,
    "decontamination_check": 1,
    "stratified_sample": 1,
    # q7/q8 (r3 rewrite): the dimension predicates are pushed THROUGH
    # the fact join (customer/orders pre-filtered before l⋈o), so the
    # plan carries the co-partitioned shuffle joins of the two filtered
    # fact-sized frames plus the agg — 3 exchanges of ~8-20% volume
    # beat 1 exchange of 100%; AQE converts them to broadcasts when
    # the filtered sides turn out small
    "q7_volume_shipping": 3,
    "q8_market_share": 3,
    "q13_custdist": 2,
    "q14_promo_revenue": 1,
    "q15_top_supplier": 2,
    "q17_small_qty_revenue": 2,
    # r3: one lineitem agg exchange; qualifying orders + customer
    # broadcast; top-100 via TakeOrdered (no global sort exchange)
    "q18_large_volume": 1,
    "q19_disjunctive": 1,
    "q22_dormant_customers": 2,
    "ts_ohlc": 1,
    "scd2_intervals": 1,
    "validate_content_hash": 3,
    # r3: within-cluster pair join (broadcast at test scale) + one
    # grouped-agg exchange
    "dedup_semantic": 2,
    # r3 batch 2: k-means (broadcast centroids; per-vector argmin agg /
    # + posexplode stats agg), vocabulary (token agg incl. distinct-df
    # expand; id window over the N-row top-k only), OOV probe
    # (broadcast vocab join; per-doc agg), two-level prefix sum (two
    # tiny band-frame exchanges + one partitioned window + global-agg
    # budget), rolling anomaly (one user-partitioned window)
    "kmeans_assign": 1,
    "kmeans_update": 2,
    "vocab_topk": 2,
    "oov_rate": 2,
    "token_budget_select": 4,
    "events_anomaly": 1,
    # unigram LM score: vocab agg + corpus-total agg + per-doc agg +
    # the doc-keyed outer join (both sides doc-cardinality — a shuffle
    # join IS the right plan; the agg exchange is reused);
    # temperature mix: two tiny lang-frame aggs + audit agg + probe
    "unigram_logprob": 4,
    "temperature_sample": 4,
    # r6 sampling/curation family: domain cap = one window exchange on
    # source; hash sample = stateless predicate, ZERO shuffles; cohort
    # = user agg + distinct + join + cell agg; hapax = vocab-keyed agg
    # + lang agg; ngram novelty = benchmark distinct + per-doc agg
    # (corpus grams never shuffle — array_distinct pre-explode);
    # rfm = user agg + one shared single-partition window exchange +
    # segment agg; dau/wau = two distinct aggs + broadcast week join
    "domain_cap_sample": 1,
    "hash_mod_sample": 0,
    "cohort_retention": 4,
    "hapax_stats": 2,
    "ngram_novelty": 2,
    "rfm_segments": 3,
    "engagement_dau": 4,
    # value profile: per-type exact percentile agg; skew histogram:
    # per-key agg + tiny bucket agg
    "value_quantiles": 1,
    "key_skew_histogram": 2,
    # r6 validation: per-edge broadcast anti-joins — the child side
    # never shuffles; the 5 exchanges are SinglePartition carriers of
    # one partial-count row each (one per FK edge);
    # bucketed checksum = one bucket-keyed agg
    "validate_fk_orphans": 5,
    "validate_bucket_checksum": 1,
    # r6 capstone: window exchange on source + dedup-hash agg +
    # per-source stats agg
    "curation_pipeline": 3,
    # r7 corpus-shaping family: chunking = stateless map, ZERO
    # shuffles; entropy = (doc,char) agg + doc agg; the three
    # broadcast-cutpoint ops = grouped/global percentile agg + final
    # agg (the cut table comes back as a broadcast, never a shuffle);
    # reweight = per-source agg + one-row normalizer agg
    "doc_chunking": 0,
    "char_entropy": 2,
    "winsorized_stats": 2,
    "mad_outliers": 2,
    "domain_reweight": 2,
    "quality_calibration": 2,
    # pagerank: the distinct-edge materialization shuffle lives inside
    # the caches (counted once); the two live exchanges are the two
    # per-iteration contribution aggs — rank⋈edge joins broadcast at
    # fixture scale and key-shuffle on a cluster
    "pagerank_bipartite": 2,
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_shuffle_budget(spark, sf_dir, queries, name):
    import re

    df = queries[name](spark, sf_dir)
    shuffles = count_executed_shuffles(df)
    assert shuffles <= SHUFFLE_BUDGETS[name], (
        name,
        shuffles,
        plan_of(df, mode="simple"),
    )


def test_no_driver_side_row_collection_in_engine():
    """100 TB discipline, statically enforced: no engine module may
    pull UNBOUNDED row data to the driver. `.toPandas()` is banned
    outright; bare `.collect()` is allowed only in validate.py where
    it fetches single-row aggregates (content hashes / counts). The
    one other sanctioned shape is a LIMIT-guarded probe —
    `.limit(<bound>).collect()` — whose driver-side row count is
    capped by construction regardless of input scale (the hybrid
    small-graph path of `connected_components`, thresholded like a
    broadcast join). The exemption accepts only bounds that are
    integer literals or `<name> + <literal>` over a known module
    constant (r8 ADVICE: a bare `.limit(<anything>).collect()`
    exemption would also bless runtime-computed, arbitrarily large
    bounds, silently un-capping the probe). `.first()` needs no
    exemption: it is `.limit(1).collect()` by definition — one row
    reaches the driver regardless of input scale — which is why
    `force_count` drains its single-row aggregate through it."""
    import pathlib
    import re

    import gomysql2pg_spark

    # bounds provably capped at lint time: "123", "N", "N + 1" where
    # N names a module-level int constant (small_graph_edges defaults
    # to CC_SMALL_GRAPH_EDGES — a literal checked below)
    # only integer literals or the ONE known capped parameter name are
    # exempt — a bare-identifier exemption would also bless
    # `.limit(runtime_n).collect()`, silently un-capping the probe
    bounded = re.compile(
        r"\.limit\(\s*(?:\d+|small_graph_edges(?:\s*//\s*\d+)?"
        r"(?:\s*\+\s*\d+)?|IVF_NLIST|PQ_K|PQ_M \* PQ_K|BM25_DRAIN_CAP"
        r"|BPE_ARGMAX_SCAN|driver_vocab(?:\s*\+\s*\d+)?)"
        r"\s*\)\s*\.collect\(\)"
    )
    from gomysql2pg_spark.operators.dedup import CC_SMALL_GRAPH_EDGES
    from gomysql2pg_spark.operators.ranking import BM25_DRAIN_CAP
    from gomysql2pg_spark.operators.similarity import IVF_NLIST, PQ_K, PQ_M
    from gomysql2pg_spark.operators.text import (
        BPE_ARGMAX_SCAN,
        BPE_DRIVER_VOCAB,
    )

    # the bounded top-k drain cap: |queries| × K, a module-level int
    assert isinstance(BM25_DRAIN_CAP, int)
    assert BM25_DRAIN_CAP <= 4_096

    # the BPE mining round's pair-count snapshot: a TakeOrdered of a
    # lint-time-capped row count (r17 batch-merge optimization)
    assert isinstance(BPE_ARGMAX_SCAN, int)
    assert BPE_ARGMAX_SCAN <= 4_096

    # the BPE driver-side trainer's vocabulary probe (r18): the same
    # hybrid shape as the CC small-graph path — `driver_vocab` is a
    # keyword parameter defaulting to this lint-checked constant
    assert isinstance(BPE_DRIVER_VOCAB, int)
    assert BPE_DRIVER_VOCAB <= 1_000_000  # driver-memory sane

    # the other known capped names: the coarse/sub-codebook model
    # collects are nlist-/codebook-row model tables, never data rows
    assert isinstance(IVF_NLIST, int)
    assert IVF_NLIST <= 4_096
    assert isinstance(PQ_K, int) and isinstance(PQ_M, int)
    assert PQ_M * PQ_K <= 4_096

    assert isinstance(CC_SMALL_GRAPH_EDGES, int)
    assert CC_SMALL_GRAPH_EDGES <= 1_000_000  # driver-memory sane

    root = pathlib.Path(gomysql2pg_spark.__file__).parent
    for py in root.rglob("*.py"):
        src = py.read_text()
        assert ".toPandas()" not in src, py
        if py.name == "validate.py":
            continue
        unbounded = bounded.sub("", src)
        assert ".collect()" not in unbounded, py


def test_hash_mod_sample_fully_codegen_no_shuffle(spark, sf_dir, queries):
    """The md5-bucket sample must be a single codegen span over the
    scan: predicate evaluated row-locally, no Exchange anywhere, and
    the untouched columns pruned from the read schema."""
    df = queries["hash_mod_sample"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "codegen id" in plan, plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema:" in ln][0]
    assert "source" not in rs and "n_chars" not in rs, rs


def test_ngram_novelty_broadcasts_benchmark(spark, sf_dir, queries):
    """The benchmark gram set must be broadcast; the corpus side must
    flow scan→explode→join with no Exchange before the join (per-doc
    dedup happens via array_distinct, not a distinct shuffle)."""
    df = queries["ngram_novelty"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # corpus branch = the BuildRight join's left child: walk the text
    # plan — between the corpus-side Generate and the join there must
    # be no Exchange line
    lines = plan.splitlines()
    join_idx = next(
        i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln
    )
    corpus_branch = []
    for ln in lines[join_idx + 1 :]:
        if "BroadcastExchange" in ln:
            break
        corpus_branch.append(ln)
    assert not any("Exchange" in ln for ln in corpus_branch), plan


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column
    must become a PartitionFilter (directory pruning — at 100 TB this
    is the difference between scanning one partition and the lake)."""
    from gomysql2pg_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").parquet(path)

    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = plan_of(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert pf and "event_type" in pf[0], plan
    # the predicate must NOT appear as a post-scan row filter
    assert df.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_rfm_scaled_has_no_window(spark, sf_dir, queries):
    """The scale-safe RFM path must contain ZERO window operators —
    the whole point is replacing the three unpartitioned NTILE sorts
    (single-reducer at 10^9 users) with broadcast percentile cutpoints
    + stateless CASE bucketing. The 1-row cutpoint side must arrive by
    broadcast, and the cutpoint aggregate must be partial-applied."""
    df = queries["rfm_segments_scaled"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert "Window" not in plan, plan
    assert "ntile(" not in plan.lower(), plan  # NB "percentile" contains "ntile"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "percentile_disc" in plan, plan


def test_domain_cap_scaled_window_is_post_filter(spark, sf_dir, queries):
    """The scaled domain-cap rank window must sit ABOVE the broadcast
    threshold join (i.e., rank only the <=cap+ties candidate survivors),
    never directly over the raw documents scan — that full-corpus
    window partitioned by `source` is exactly the mega-domain straggler
    this variant exists to avoid. In explain's parent-first tree order,
    the row_number Window line must precede the BroadcastHashJoin."""
    df = queries["domain_cap_sample_scaled"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    lines = plan.splitlines()
    rank_idx = next(
        i for i, ln in enumerate(lines)
        if "Window" in ln and "row_number" in ln
    )
    join_idx = next(
        i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln
    )
    assert rank_idx < join_idx, plan
    # and it must produce byte-identical rows to the window formulation
    a = sorted(
        tuple(r) for r in queries["domain_cap_sample"](spark, sf_dir).collect()
    )
    b = sorted(tuple(r) for r in df.collect())
    assert a == b


def test_doc_chunking_zero_shuffle_prunes_scan(spark, sf_dir, queries):
    """Chunking must be one codegen span over the scan — sequence +
    explode + substring are all narrow — and the scan must read only
    (doc_id, text): a chunker that drags lang/source/n_chars through
    the fan-out multiplies 100 TB by chunks-per-doc for nothing."""
    df = queries["doc_chunking"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema:" in ln][0]
    for dropped in ("n_chars", "lang", "source"):
        assert dropped not in rs, rs


def test_char_entropy_partial_aggregates(spark, sf_dir, queries):
    """Both entropy aggregations (doc,char)→count and doc→H must be
    partial-applied: four HashAggregate operators (partial+final ×2)
    so the char fan-out combines map-side before either shuffle."""
    df = queries["char_entropy"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert plan.count("HashAggregate") >= 4, plan


def test_cutpoint_ops_broadcast_no_window(spark, sf_dir, queries):
    """The robust-stats family must follow the broadcast-cutpoint
    pattern, not the corpus-wide window: percentile cut tables come
    back as broadcasts (hash joins for per-source cuts, nested-loop
    for the one-row global threshold), and there must be no Window —
    the exact anti-pattern rfm_segments_scaled exists to avoid."""
    for name, min_bcast in (("winsorized_stats", 1), ("mad_outliers", 2)):
        plan = plan_of(queries[name](spark, sf_dir), mode="simple")
        assert plan.count("BroadcastHashJoin") >= min_bcast, (name, plan)
        assert "Window" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
    plan = plan_of(queries["quality_calibration"](spark, sf_dir), mode="simple")
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    ), plan
    assert "Window" not in plan, plan


def test_pagerank_reuses_edges_no_cartesian(spark, sf_dir, queries):
    """The PR iteration joins must stay keyed (no CartesianProduct —
    the failure mode of joining ranks to edges without the node-id
    equi-key), and — since r8's shared fixed-point kernel — the final
    plan must be LINEAGE-TRUNCATED: a scan of the checkpointed ranks,
    not a re-derivation through every iteration (no events scan, no
    joins, no iteration-count-proportional plan depth). Edge-cache
    reuse (the test's name) is verified through the storage layer: the
    operator's persists (ue / edges_deg / nodes) must MATERIALIZE into
    executor storage during the run — a persist the rounds never read
    would leave memSize 0 (r8 ADVICE: the ExistingRDD rewrite had
    dropped any assertion backing the 'reuses edges' claim)."""
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    df = queries["pagerank_bipartite"](spark, sf_dir)
    assert df.count() > 0
    plan = plan_of(df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    # checkpoint truncation: the published frame reads a materialized
    # RDD; the per-iteration join/agg work happened eagerly inside the
    # kernel and must not reappear in the consumer plan
    assert "ExistingRDD" in plan, plan
    assert "Join" not in plan, plan
    assert "events" not in plan, plan
    newly_cached = [
        info
        for info in jsc.getRDDStorageInfo()
        if info.id() not in before and info.memSize() > 0
    ]
    assert newly_cached, (
        "edges/degrees/nodes persists never materialized — the "
        "iteration did not read them from cache"
    )


def test_similarity_pq_broadcasts_tables_no_corpus_shuffle_join(
    spark, sf_dir, queries
):
    """The PQ/ADC scale contract: the corpus codes flow through
    BROADCAST joins only — the per-subspace distance tables and the
    query id set are dimension-sized and must come to the corpus, never
    the corpus to them (a SortMergeJoin/ShuffledHashJoin against the
    codes side would shuffle the full corpus once per subspace at
    100 TB). The corpus pays exactly one wide exchange: the per-query
    rank window."""
    df = queries["similarity_pq"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # 4 distance-table joins (one per subspace) + the codebook join on
    # the query side; the qid fan-out is a broadcast nested loop
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_cross_source_overlap_distinct_collapse_before_self_join(
    spark, sf_dir, queries
):
    """The contamination matrix's |sources|² bound exists ONLY because
    hashes collapse to DISTINCT (h, source) pairs before the self-join
    — joining raw documents would explode by duplicate multiplicity
    squared. Gate the shape: in the optimized plan, every relation
    leaf under the join sits below an Aggregate (the distinct), and
    the join itself is hash-keyed, not cartesian."""
    df = queries["cross_source_overlap"](spark, sf_dir)
    assert "CartesianProduct" not in plan_of(df, mode="simple")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    join_idx = min(
        i for i, ln in enumerate(lines) if "Join" in ln
    )
    leaf_idxs = [
        i
        for i, ln in enumerate(lines)
        if "Relation" in ln or "FileScan" in ln
    ]
    agg_idxs = [i for i, ln in enumerate(lines) if "Aggregate" in ln]
    assert leaf_idxs, opt
    for leaf in leaf_idxs:
        assert any(join_idx < a < leaf for a in agg_idxs), (
            "relation joined without a distinct collapse above it",
            opt,
        )


def test_snapshot_diff_single_scan_no_join(spark, sf_dir, queries):
    """The r9 diff shape: both snapshot sides come out of ONE fact
    scan (array-filter explode), merge through one keyed hash
    aggregate — no join operator, no second/third orders scan, and
    map-side partials on the merge."""
    plan = plan_of(queries["snapshot_diff"](spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_" in plan, plan


def test_er_rollup_broadcasts_local_labels(spark, sf_dir, queries):
    """The r9 rollup shape: the component labels arrive as a
    driver-built local relation whose broadcast costs no upstream job,
    joined LEFT (preserved fact side) with no shuffle join anywhere;
    the aggregate is partial-applied. (createDataFrame surfaces as an
    ExistingRDD scan — the point is that the build side is driver-local
    data, not a derived plan with its own scans/joins.)"""
    df = queries["er_resolved_rollup"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "partial_" in plan, plan


def test_similarity_ivfpq_probe_is_equi_join_no_cartesian(
    spark, sf_dir, queries
):
    """The IVFADC composition contract: unlike `similarity_pq`'s
    documented exhaustive crossJoin, the composed path's probe is a
    hash EQUI-join on the coarse-cell id — no CartesianProduct and no
    BroadcastNestedLoopJoin anywhere, so per query the engine touches
    |cell| code rows, never the corpus. The distance tables and query
    set stay broadcast (corpus codes are never shuffled to them)."""
    df = queries["similarity_ivfpq"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # cell probe + 4 distance tables + encode codebook joins, all hash
    assert plan.count("BroadcastHashJoin") >= 6, plan


def test_ivfpq_codes_partitioned_by_cell_prune_on_probe(
    spark, sf_dir, tmp_path
):
    """Substantiates the IVFADC 100 TB claim mechanically: write the
    PQ code table partitioned BY the coarse cell, probe one cell, and
    require the cell predicate to land as a PartitionFilter (directory
    pruning) — at corpus scale this is what turns a probe into a scan
    of |cell| code rows instead of the lake."""
    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.similarity import (
        _codebook_frame,
        _pq_codes,
        _train_pq_model,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _codebook_frame(spark, _train_pq_model(emb))
    codes = _pq_codes(emb, cb, carry=("label",))
    path = str(tmp_path / "pq_codes_by_cell")
    codes.write.partitionBy("label").parquet(path)

    probe_cell = emb.select("label").first()["label"]
    probed = spark.read.parquet(path).filter(F.col("label") == probe_cell)
    plan = plan_of(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert pf and "label" in pf[0], plan
    assert (
        probed.count()
        == codes.filter(F.col("label") == probe_cell).count()
    )


def test_dedup_survivors_single_window_partial_quality(
    spark, sf_dir, queries
):
    """The survivor rank must be ONE window PARTITIONED by cluster_id
    (never a global sort), and the plan keeps the quality computation
    a stateless map — no second documents scan beyond what the
    cluster-label derivation needs."""
    df = queries["dedup_survivors"](spark, sf_dir)
    plan = plan_of(df, mode="simple")
    assert plan.count("Window") == 1, plan
    wline = next(ln for ln in plan.splitlines() if "Window" in ln)
    assert "cluster_id" in wline or "windowspecdefinition(cluster" in (
        wline
    ), wline
    assert "CartesianProduct" not in plan, plan


def test_distinct_ngram_ratio_partial_aggregates_and_prunes(
    spark, sf_dir, queries
):
    """The diversity rollup must read only (source, text) from the
    scan (column pruning) and partial-aggregate the (source, bigram)
    stream before its shuffle — at 100 TB the map side collapses each
    partition's repeats so the wire carries distinct pairs, not the
    exploded corpus."""
    plan = plan_of(queries["distinct_ngram_ratio"](spark, sf_dir))
    sched = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert sched and all(
        "doc_id" not in ln and "lang" not in ln and "n_chars" not in ln
        for ln in sched
    ), sched
    assert "partial" in plan.lower()
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_split_by_cluster_map_is_join_plus_case(spark, sf_dir, queries):
    """Beyond the clustering pipeline it composes, the split operator
    itself must add NO quadratic machinery: the doc-spine meet with
    the label frame is a hash equi-join (never a nested loop), and the
    bucket/split assignment is a stateless projection (no extra
    aggregate or window on the corpus side)."""
    plan = plan_of(queries["split_by_cluster"](spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan
    # the md5/CASE map rides a projection, not a window: the cluster
    # labels enter through a lineage-truncated checkpoint, so the
    # WHOLE final plan must be window-free (contrast dedup_survivors,
    # whose survivor rank legitimately needs one)
    assert "Window" not in plan, plan
    surv_plan = plan_of(queries["dedup_survivors"](spark, sf_dir))
    assert "Window" in surv_plan  # the contrast that keeps this gate honest


def test_dedup_impact_report_is_bounded_rollup(spark, sf_dir, queries):
    """The report's own aggregate is |sources|-bounded and
    partial-applied; the doc-spine join is an equi-join."""
    plan = plan_of(queries["dedup_impact_report"](spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan
    assert "partial" in plan.lower()


def test_model_tables_are_local_table_scans_not_python_rdds(
    spark, sf_dir, queries
):
    """Every driver-held model table (PQ codebook, trained IVF
    centroids, the cell-assignment codebook) must reach the plan as a
    LocalTableScan. `createDataFrame(<python list>)` compiles to
    `Scan ExistingRDD ... applySchemaToPythonRDD`, which launches a
    PYTHON worker task inside every consuming query's broadcast
    build — measured ~0.3 s per stage per rep, and the PQ codebook
    feeds the encode, the distance table, and all scoring joins
    (the r14 `similarity_pq` 1.35 → 2.4 s regression). This pins the
    `local_frame` pyarrow-table path against that ever coming back."""
    from gomysql2pg_spark.functions.consume import local_frame

    cb = local_frame(
        spark, [(0, 1, [1.0, 2.0])], "m int, cid int, ce array<double>"
    )
    cb_plan = plan_of(cb)
    assert "LocalTableScan" in cb_plan, cb_plan
    assert "ExistingRDD" not in cb_plan, cb_plan
    # and the HOT queries that consume model tables must carry no
    # Python-RDD scan anywhere in their physical plans
    for name in ("similarity_pq", "similarity_ivfpq"):
        plan = plan_of(queries[name](spark, sf_dir))
        assert "applySchemaToPythonRDD" not in plan, name
        assert "ExistingRDD" not in plan, name


def _collect_in_group(spark, df, group):
    """(rows, Spark job ids) of one `df.collect()` run in a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, list(jobs)


def _assert_empty_jvm_frame(spark, df, schema, group):
    """0 rows with the DECLARED schema, and no Python path: no
    `Scan ExistingRDD ... applySchemaToPythonRDD` in the plan (draining
    one forks `pyspark.daemon` plus a worker per core, resident for the
    session) and no Spark job to drain it."""
    assert df.schema.simpleString() == schema
    plan = plan_of(df)
    assert "ExistingRDD" not in plan, plan
    assert "applySchemaToPythonRDD" not in plan, plan
    rows, jobs = _collect_in_group(spark, df, group)
    assert rows == []
    assert jobs == [], jobs


def test_local_frame_empty_rows_stay_on_the_jvm(spark):
    """An empty driver-row table (empty corpus / pruned-away
    partition) is `LocalTableScan <empty>` with the DECLARED schema —
    the contract the r13 review forced on empty models. The pandas
    path cannot give it: `createDataFrame(pandas)` uses Arrow only for
    a non-empty frame and otherwise takes the Python-list path."""
    from gomysql2pg_spark.functions.consume import local_frame

    # the job probe sees jobs at all
    _, jobs = _collect_in_group(spark, spark.range(3), "local-frame-probe")
    assert jobs, "statusTracker reported no job for a range collect"
    df = local_frame(spark, [], "m int, cid int, ce array<double>")
    assert "LocalTableScan <empty>" in plan_of(df, mode="simple")
    _assert_empty_jvm_frame(
        spark, df, "struct<m:int,cid:int,ce:array<double>>", "local-frame"
    )


def test_bm25_topk_without_query_terms_stays_on_the_jvm(spark, tmp_path):
    """A corpus holding none of the BM25 query terms (every
    `curate_corpus` seed: its vocabulary is `w0…w1499`) ranks nothing;
    the empty result must not reach a Python worker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gomysql2pg_spark.operators.ranking import BM25_QUERIES, q_bm25_topk

    texts = ["w1 w2 w3", "w2 w4", "w5 w1 w1"]
    terms = {t for ts in BM25_QUERIES.values() for t in ts}
    assert not terms & {w for t in texts for w in t.split()}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "text": texts,
            }
        ),
        tmp_path / "documents.parquet",
    )
    _assert_empty_jvm_frame(
        spark,
        q_bm25_topk(spark, str(tmp_path)),
        "struct<qid:int,doc_id:bigint,rank:int,score_micro:bigint>",
        "bm25-empty",
    )


def test_connected_components_of_no_edges_stays_on_the_jvm(spark):
    """An edgeless graph takes the union-find path with zero labels;
    its empty result must not reach a Python worker."""
    from gomysql2pg_spark.operators.dedup import connected_components

    edges = spark.range(0).select(
        F.col("id").alias("da"), F.col("id").alias("db")
    )
    _assert_empty_jvm_frame(
        spark,
        connected_components(edges),
        "struct<node:bigint,label:bigint>",
        "cc-empty",
    )


def test_epoch_shuffle_never_globally_sorts(spark, sf_dir, queries):
    """The epoch shuffle's ONLY shuffle is the (epoch, shard)-
    partitioned window — a global ROW_NUMBER (SinglePartition
    exchange) is the classic non-scalable training-shard writer and
    must never appear."""
    plan = plan_of(queries["epoch_shuffle"](spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_corpus_datacard_partial_agg_no_cartesian(spark, sf_dir, queries):
    plan = plan_of(queries["corpus_datacard"](spark, sf_dir))
    for bad in ("CartesianProduct",):
        assert bad not in plan
    assert "partial" in plan.lower()


def test_ccnet_buckets_no_cartesian_beyond_scalar_total(
    spark, sf_dir, queries
):
    """The bucket algebra adds only equi-joins on lang; the single
    sanctioned one-row meet is the LM total's scalar-subquery idiom
    inherited from unigram_logprob."""
    plan = plan_of(queries["ccnet_perplexity_buckets"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bucket_pairs_gate_precedes_collect_single_shuffle(spark, sf_dir):
    """The r15 memory-bound contract of the fused LSH kernel: the
    bucket-size gate is a spillable WINDOW count evaluated BELOW the
    collect_list aggregate (parent-first plan print), so the collect
    provably never materializes an over-cap bucket in its (unspillable)
    single-group buffer — the r14 VERDICT's weak mark. And the fusion
    win is kept: exactly ONE exchange keyed on (band, bkey); the
    aggregate rides the window's partitioning."""
    from gomysql2pg_spark.catalog import load_table
    from gomysql2pg_spark.operators.dedup import _bucket_pairs

    docs = load_table(spark, sf_dir, "documents")
    bands = docs.select(
        "doc_id",
        (F.xxhash64("doc_id") % 4).cast("int").alias("band"),
        F.xxhash64("text").alias("bkey"),
    )
    plan = plan_of(_bucket_pairs(bands), mode="simple")
    assert "Window" in plan, plan
    i_collect = plan.find("collect_list")
    i_gate = plan.find("__bn")
    assert 0 <= i_collect < i_gate, plan
    assert plan.count("Exchange hashpartitioning(band") == 1, plan


def test_local_frame_parses_composite_typed_ddl(spark):
    """Column names come from a real DDL parse: a comma-bearing
    composite type must not shift the column list (r14 ADVICE —
    the old split-on-comma derived ['m', 'cells', 'decimal(4'])."""
    from gomysql2pg_spark.functions.consume import local_frame

    from decimal import Decimal

    df = local_frame(
        spark,
        [(1, [2, 3], Decimal("1.50"))],
        "m int, cells array<int>, score decimal(4,2)",
    )
    assert df.columns == ["m", "cells", "score"]
    row = df.collect()[0]
    assert row["m"] == 1 and row["cells"] == [2, 3]


# (module path relative to the package, function name) -> reason the
# pin is allowed to survive the function's return. Every entry must
# carry a real justification — "it was convenient" is not one; the
# measured numbers live in the named docstrings.
_PERSIST_PIN_ALLOWLIST = {
    ("operators/dedup.py", "_pair_intersections"): (
        "corpus-scale shingle cache feeding three branches of the "
        "returned lazy plan; the fused no-cache alternative was "
        "A/B-measured 1.5-1.8x slower (docstring); LRU-evictable"
    ),
    ("operators/dedup.py", "q_dedup_minhash_lsh"): (
        "candidate-pair + candidate-pruned shingle caches; both are "
        "|candidates|-bounded (never corpus-sized) and the race "
        "duplication without them is measured in the docstring"
    ),
    ("operators/frequency.py", "_bloom_audit_frames"): (
        "caller-owns-release contract (docstring): the public "
        "q_bloom_prefilter_join drains the one-row audit and "
        "unpersists both handed-over caches; the plan-gate test "
        "does the same"
    ),
    ("operators/linkage.py", "q_er_clusters"): (
        "entity-DISTINCT dimension cache (~10^3 rows per 10^6 "
        "facts), documented session policy in the docstring"
    ),
    ("operators/linkage.py", "q_er_resolved_rollup"): (
        "same dimension-sized entity cache per _blocking_pairs' "
        "contract (docstring)"
    ),
    ("operators/quality.py", "q_mad_outliers"): (
        "per-source median table: dimension-sized (|sources| rows), "
        "consumed by the MAD aggregate and the returned filter"
    ),
    ("operators/quality.py", "q_domain_reweight"): (
        "per-source count table: dimension-sized, feeds the "
        "normalizer and the returned projection"
    ),
    ("operators/quality.py", "q_pagerank_bipartite"): (
        "iterative kernel: the lazy localCheckpoints materialize on "
        "the CONSUMER's first action and still read the edge caches; "
        "releasing before return was measured 1.4s -> 1.9s (NOTE in "
        "function body)"
    ),
    ("operators/ranking.py", "_bm25_topk_ranked"): (
        "caller-owns-release contract (docstring): the public "
        "q_bm25_topk drains the plan and unpersists the handed-over "
        "postings cache; the plan-gate test does the same"
    ),
    ("operators/ranking.py", "q_bigram_lm_logprob"): (
        "bigram-stream cache feeding the count aggregates AND the "
        "returned per-doc probe join (same discipline as the "
        "shingle pipelines, documented)"
    ),
    ("operators/ranking.py", "q_kn_bigram_logprob"): (
        "the same bigram-stream cache as q_bigram_lm_logprob (the "
        "KN model adds two by-product aggregates over the SAME "
        "stream; docstring documents the discipline)"
    ),
}


def test_driver_rows_become_frames_in_one_place():
    """One builder turns driver rows into a frame:
    `functions.consume.local_frame`, which never needs a Python
    worker. Any other `createDataFrame` call in the package is a way
    back to `applySchemaToPythonRDD` (a Python-list or empty input),
    so no other module may make one."""
    import ast
    import pathlib

    import gomysql2pg_spark

    root = pathlib.Path(gomysql2pg_spark.__file__).parent
    calls = []
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls.append((rel, node.lineno))
    assert {rel for rel, _ in calls} == {"functions/consume.py"}, calls


def test_tokenizer_rule_lives_in_one_place():
    """The word tokenizer `split(lower(trim(text)), '\\s+')` and the
    normal form `regexp_replace(lower(trim(text)), '\\s+', ' ')` are
    a contract with every DuckDB oracle, so only
    `functions/tokens.py` may spell them out; every other module calls
    `tokenize` / `norm_text`. A hand copy is a `split` or
    `regexp_replace` on the pattern `\\s+` whose subject is a
    `lower(...)` call or a name bound to one."""
    import ast
    import pathlib

    import gomysql2pg_spark

    def callee(node):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

    root = pathlib.Path(gomysql2pg_spark.__file__).parent
    copies = []
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        tree = ast.parse(py.read_text())
        calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
        lowered = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Call)
            and callee(n.value) == "lower"
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for node in calls:
            if callee(node) not in ("split", "regexp_replace"):
                continue
            if len(node.args) < 2 or not (
                isinstance(node.args[1], ast.Constant)
                and node.args[1].value == r"\s+"
            ):
                continue
            subject = node.args[0]
            if (
                isinstance(subject, ast.Call) and callee(subject) == "lower"
            ) or (isinstance(subject, ast.Name) and subject.id in lowered):
                copies.append((rel, node.lineno))
    assert {rel for rel, _ in copies} == {"functions/tokens.py"}, copies


def test_persist_release_discipline():
    """Persist-release lint (r16, VERDICT item 5): a `.persist()`
    created inside an engine function must either be RELEASED in the
    same function (eager-drain pattern: `drain_one_row`, or the
    iterative kernels' rolling unpersist) or be registered in
    `_PERSIST_PIN_ALLOWLIST` with a reason. EXACT set equality: a new
    unreleased persist fails the lint until justified here, and a
    fixed one fails until its allowlist entry is deleted — the list
    can only shrink silently, never grow."""
    import ast
    import pathlib

    import gomysql2pg_spark

    import re

    def releases(seg: str) -> int:
        # `.unpersist()` calls, plus the caches handed to
        # `drain_one_row(report, *caches)` (which unpersists them)
        n = seg.count(".unpersist(")
        for m in re.finditer(r"drain_one_row\(([^)]*)\)", seg):
            args = [a for a in m.group(1).split(",") if a.strip()]
            n += max(0, len(args) - 1)
        return n

    root = pathlib.Path(gomysql2pg_spark.__file__).parent
    violations = set()
    for py in sorted(root.rglob("*.py")):
        src = py.read_text()
        if ".persist(" not in src:
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            seg = ast.get_source_segment(src, node) or ""
            np, nu = seg.count(".persist("), releases(seg)
            # attribute counts to the INNERMOST function: subtract
            # DIRECT child defs only (their segments already include
            # anything nested deeper — recursing would double-count)
            stack = list(ast.iter_child_nodes(node))
            while stack:
                ch = stack.pop()
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    iseg = ast.get_source_segment(src, ch) or ""
                    np -= iseg.count(".persist(")
                    nu -= iseg.count(".unpersist(")
                else:
                    stack.extend(ast.iter_child_nodes(ch))
            if np > nu:
                violations.add(
                    (str(py.relative_to(root)), node.name)
                )
    assert violations == set(_PERSIST_PIN_ALLOWLIST), (
        "unreleased persists changed: unexpected="
        f"{sorted(violations - set(_PERSIST_PIN_ALLOWLIST))} "
        f"stale_allowlist="
        f"{sorted(set(_PERSIST_PIN_ALLOWLIST) - violations)}"
    )


# (importing module relative to the package, source module, name) for
# each underscore-prefixed name a package module still imports from
# another module. EXACT set equality, as for `_PERSIST_PIN_ALLOWLIST`:
# a new reach-in fails until it is listed here, and a removed one fails
# until its entry is deleted.
_PRIVATE_IMPORT_ALLOWLIST = {
    ("operators/quality.py", "operators.text", "_SQL_STOP"),
    ("operators/similarity.py", "operators.clustering", "_sq_dist"),
    ("streaming/stream.py", "operators.dedup", "_md5_minhash_bands"),
}


def test_no_module_imports_another_modules_private_names():
    """A module's underscore-prefixed names are its own: another
    package module that needs one is a second owner of the concept
    (the on-disk index helpers `streaming/stream.py` once imported from
    `operators/similarity.py` copied the index lifecycle a second
    time). Relative and absolute `from … import _name` both count."""
    import ast
    import pathlib

    import gomysql2pg_spark

    root = pathlib.Path(gomysql2pg_spark.__file__).parent
    found = set()
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root).as_posix()
        package = rel.split("/")[:-1]
        for node in ast.walk(ast.parse(py.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            if node.level:
                base = package[: len(package) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
                if mod.startswith("gomysql2pg_spark."):
                    mod = mod[len("gomysql2pg_spark."):]
            for alias in node.names:
                if alias.name.startswith("_"):
                    found.add((rel, mod, alias.name))
    assert found == _PRIVATE_IMPORT_ALLOWLIST, (
        f"unexpected={sorted(found - _PRIVATE_IMPORT_ALLOWLIST)} "
        f"stale_allowlist={sorted(_PRIVATE_IMPORT_ALLOWLIST - found)}"
    )


def test_no_module_level_mutable_containers():
    """The engine holds no driver-side state of its own: no package
    module may bind an EMPTY `{}`, `[]`, `dict()`, `set()` or `list()`
    at module level, the shape of a cache or registry that grows for
    the life of the session with no bound and no owner (the trained
    IVF-PQ model lives in its index tree, not in a dict). No
    allowlist: state that must outlive a call belongs to an owner
    with a bound, not to a module."""
    import ast
    import pathlib

    import gomysql2pg_spark

    def empty(v) -> bool:
        if isinstance(v, (ast.Dict, ast.List, ast.Set)):
            return not (getattr(v, "keys", None) or getattr(v, "elts", None))
        return (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id in ("dict", "set", "list")
            and not v.args
            and not v.keywords
        )

    def module_level(body):
        # module statements, including those under module-level
        # if/try/with blocks, but never function or class bodies
        for node in body:
            yield node
            if isinstance(node, (ast.If, ast.Try, ast.With, ast.For)):
                for field in ("body", "orelse", "finalbody"):
                    yield from module_level(getattr(node, field, []))
                for h in getattr(node, "handlers", []):
                    yield from module_level(h.body)

    root = pathlib.Path(gomysql2pg_spark.__file__).parent
    found = []
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text())
        for node in module_level(tree.body):
            if (
                isinstance(node, (ast.Assign, ast.AnnAssign))
                and node.value is not None
                and empty(node.value)
            ):
                found.append((py.relative_to(root).as_posix(), node.lineno))
    assert found == [], found


def test_q11_single_corpus_pass_via_reused_exchange(spark, sf_dir, queries):
    """Q11's per-part supply aggregate feeds both the returned frame
    and the global total; the two references must share ONE physical
    shuffle (`ReusedExchange`), so the corpus is scanned and partially
    aggregated once inside one fully lazy plan — no persist pin, no
    eager scalar whose lineage re-runs at consumption (r16 ADVICE).
    Pinned at sf0.01: the sf0.001 fixture yields an EMPTY Q11 result,
    which AQE's empty-relation propagation collapses to a no-exchange
    plan (also fine, but it would not exercise the reuse)."""
    df = queries["q11_important_stock"](spark, "/root/testdata/sf0.01")
    df.collect()  # AQE reveals the final plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_one_row_reports_return_local_frames(spark, sf_dir, queries):
    """The drained one-row gates must come back as local literal
    frames — no corpus lineage left in the returned plan (the whole
    point of the eager drain: the caches they pinned are released and
    nothing in the result can silently re-trigger the pipeline)."""
    for name in (
        "dedup_simhash_verified",
        "bloom_prefilter_join",
    ):
        df = queries[name](spark, sf_dir)
        plan = plan_of(df, mode="simple")
        assert "Scan parquet" not in plan, (name, plan)
        assert df.count() == 1, name


def test_selfrep_scrub_two_shuffles_no_token_position_join(
    spark, sf_dir, queries
):
    """The span scrub must stay at TWO hash exchanges — the (doc,
    span) window and the doc-keyed covered-set aggregate — with the
    covered side joined back by doc (broadcast at test scale, an
    equi-join at 100 TB) and the reassembly done by an index-aware
    array filter: no token-position (doc, p) shuffle, no final
    collect_list exchange (the r16 first cut paid five)."""
    df = queries["selfrep_scrub"](spark, sf_dir)
    df.collect()  # AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the AQE toString prints the final AND the initial plan — gate
    # the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2, final
    assert "collect_list" not in final, final


def test_repeated_curation_chain_compiles_no_new_classes(
    spark, sf_dir, queries
):
    """A pipeline run again in the same session must reuse its generated
    classes. The curation chain needs about 190 codegen cache entries;
    with Spark's default of 100 (evicted least-recently-used first)
    every entry's classes were gone before it ran again, and pass 3 here
    recompiled 127 classes with Janino (30/19/37/41), which the JIT then
    profiled again as new bytecode.

    `similarity_ivfpq` is not pinned at 0: some of its calls still
    compile up to 8 classes whose source differs from a cached one only
    in `codegenStageId`, which numbers stages in the order AQE query
    stages finish, and that order varies between calls."""
    from gomysql2pg_spark.session import codegen_compiles

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    chain = ("dedup_survivors", "bpe_token_counts", "bm25_topk",
             "similarity_ivfpq")
    for _ in range(3):
        compiled = {}
        for name in chain:
            before = codegen_compiles(spark)
            queries[name](spark, sf_dir).collect()
            compiled[name] = codegen_compiles(spark) - before
    assert all(compiled[n] == 0 for n in chain[:3]), compiled
    assert sum(compiled.values()) <= 10, compiled

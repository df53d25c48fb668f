"""Physical-plan audits: assert the scale-critical plan properties hold.

These are the SURVEY §4 / 100 TB checklist items as regression tests:
filters reach the parquet scan, column pruning works, small dims broadcast,
and the LSH self-join is an equi-join (never a cartesian product).
"""

from __future__ import annotations

from sample_deepbook_margin_dune_dbt_spark.operators.topk import topk
from sample_deepbook_margin_dune_dbt_spark.plans import audit_plan, explain_str
from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES as ALL_QUERIES


def _plan(spark, sf_dir, name):
    fn, _ = ALL_QUERIES[name]
    return audit_plan(fn(spark, sf_dir))


def test_q6_pushdown_and_pruning(spark, sf_dir):
    a = _plan(spark, sf_dir, "tpch_q6")
    assert a["has_pushed_filters"], "q6 filters must reach the parquet scan"
    # column pruning: only the 4 referenced columns in ReadSchema
    read = [l for l in a["plan"].splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read and "l_orderkey" not in read and "l_partkey" not in read


def test_event_filter_pushdown(spark, sf_dir):
    a = _plan(spark, sf_dir, "p2_filter_eq")
    assert a["has_pushed_filters"]
    assert a["num_exchanges"] == 0, "pure filter+project must not shuffle"


def test_seed_join_broadcasts(spark, sf_dir):
    a = _plan(spark, sf_dir, "j4_seed_ci_join")
    assert a["num_broadcasts"] >= 1, "5-row seed dim must broadcast, not shuffle"


def test_q5_broadcasts_dims(spark, sf_dir):
    a = _plan(spark, sf_dir, "tpch_q5")
    assert a["num_broadcasts"] >= 1, "nation/region must broadcast"


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: the shuffle must carry partial aggregates, not rows.
    (WholeStageCodegen isn't visible pre-execution under AQE, so the partial
    agg is the plan property worth asserting.)"""
    fn, _ = ALL_QUERIES["tpch_q1"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "partial_sum" in plan, "q1 must partial-aggregate before the exchange"
    assert plan.index("partial_sum") > plan.index("Exchange"), (
        "partial agg must sit below the exchange (map side)"
    )


def test_lsh_join_is_equijoin(spark, sf_dir):
    fn, _ = ALL_QUERIES["dedup_minhash_lsh"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "LSH candidate join must stay a hash/sort-merge equi-join"
    )


def test_embedding_cosine_dedup_no_cross_join(spark, sf_dir):
    """The corpus-scale embedding near-dup query must generate candidates
    through the banded-LSH bucket pipeline — hash/sort-merge equi-joins
    only, never the all-pairs cartesian the naive formulation produces."""
    fn, _ = ALL_QUERIES["dedup_embedding_cosine"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "embedding cosine dedup must not plan a cross join"
    )


def test_q4_exists_plans_semi_join(spark, sf_dir):
    """The correlated-EXISTS rewrite must be a semi join, never a re-scan
    per row or a nested loop over the probe side."""
    plan = explain_str(ALL_QUERIES["tpch_q4"][0](spark, sf_dir), "simple")
    assert "LeftSemi" in plan or "Semi" in plan
    assert "CartesianProduct" not in plan


def test_q18_single_lineitem_pass(spark, sf_dir):
    """IN-over-HAVING: the qualifying aggregate is reused for the output
    sum — exactly one lineitem scan and one aggregation in the plan."""
    plan = explain_str(ALL_QUERIES["tpch_q18"][0](spark, sf_dir), "formatted")
    assert plan.count("lineitem.parquet") == 1, "lineitem must be scanned once"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q17_decorrelated_single_pass(spark, sf_dir):
    """The per-part AVG subquery must decorrelate to one grouped aggregate
    joined back — the brand filter broadcast-prunes both lineitem passes."""
    a = _plan(spark, sf_dir, "tpch_q17")
    assert a["num_broadcasts"] >= 2, "Brand#11 part keys must broadcast to both sides"


def test_q13_left_join_preserves_and_aggregates(spark, sf_dir):
    plan = explain_str(ALL_QUERIES["tpch_q13"][0](spark, sf_dir), "simple")
    assert "LeftOuter" in plan
    assert "partial_count" in plan, "both aggregation levels must partial-aggregate"


def test_incremental_models_no_shuffle(spark, tmp_path):
    """The event-decode models are narrow maps: zero exchanges in-plan."""
    import datetime as dt

    from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
    from sample_deepbook_margin_dune_dbt_spark.engine.model import ModelContext, get_model
    import sample_deepbook_margin_dune_dbt_spark.models_deepbook  # noqa: F401
    from tests.fixtures import write_fixtures

    sources = write_fixtures(str(tmp_path / "src"))
    store = TableStore(spark, str(tmp_path / "wh"))
    cfg = get_model("deepbook_margin_loan_borrowed")
    ctx = ModelContext(spark, store, sources, cfg, fixed_now=dt.datetime(2026, 2, 1))
    df = cfg.builder(ctx)
    a = audit_plan(df)
    assert a["num_exchanges"] == 0, "event decode must be a narrow map (no shuffle)"
    assert a["has_pushed_filters"], "event_type + watermark filters must push down"


def test_daily_fact_volumes_are_one_aggregate(no_aqe, tmp_path):
    """The fact's four daily volumes come from one aggregate over a union
    of the event refs, full and incremental: no full outer join, and one
    partial + final HashAggregate pair (the four-aggregate FOJ chain
    planned 8 HashAggregates and 3 FullOuter joins)."""
    import datetime as dt

    from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore
    from sample_deepbook_margin_dune_dbt_spark.engine.model import get_model
    import sample_deepbook_margin_dune_dbt_spark.models_deepbook  # noqa: F401
    from tests.fixtures import write_fixtures

    runner = Runner(
        no_aqe, TableStore(no_aqe, str(tmp_path / "wh")),
        write_fixtures(str(tmp_path / "src")), fixed_now=dt.datetime(2026, 2, 1),
    )
    runner.run("+fct_deepbook_margin_pool_daily")
    cfg = get_model("fct_deepbook_margin_pool_daily")
    for full_refresh in (True, False):
        ctx = runner._context(cfg, full_refresh)
        assert ctx.is_incremental() is not full_refresh
        plan = explain_str(cfg.builder(ctx), "simple")
        assert plan.count("FullOuter") == 0
        aggs = [l for l in plan.splitlines() if "HashAggregate" in l]
        assert len(aggs) == 2 and sum("partial_sum" in l for l in aggs) == 1, aggs


def test_ivf_pq_scoring_joins_are_equijoins(spark, sf_dir):
    """IVF-PQ candidate scoring must flow through cell-id equi-joins (probe
    expansion is a UDF + explode, not a centroid cross join) and the refine
    is an id hash join — no cartesian anywhere."""
    from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

    fn, _ = FULL_QUERIES["ann_ivf_pq"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcast_probe(spark, sf_dir):
    """The benchmark membership probe must plan as a broadcast hash join
    (corpus never shuffles on shingle content) feeding ONE aggregation —
    never a cartesian/BNLJ, and no second pass over the exploded
    shingles."""
    fn, _ = ALL_QUERIES["text_decontaminate"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "benchmark shingle set must broadcast"
    assert plan.count("Generate explode") <= 2, (
        "corpus + benchmark shingles must each explode exactly once"
    )


def test_bounded_topk_plans_no_window_sort(spark, sf_dir):
    """A grouped ``topk`` must not plan a Window over all candidates: the
    bounded two-level aggregation shows up as hash/object-hash
    aggregates, with no Window node and no global sort of the scored
    candidates — for the ANN ranking and for the Hamming search. A
    global ``topk`` plans TakeOrderedAndProject and numbers its ≤ k
    survivors without a Window (an unpartitioned one moves its input to
    a single partition)."""
    for name in ("ann_cosine_topk", "multimodal_phash_topk"):
        fn, _ = ALL_QUERIES[name]
        plan = explain_str(fn(spark, sf_dir), "simple")
        assert "Window" not in plan, f"{name}: bounded top-k must not fall back to a window"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = explain_str(topk(emb, 5, "vec_id", "vec_id", by=()), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_cdc_chunking_is_narrow_map(spark, sf_dir):
    """Content-defined chunking must stay a shuffle-free narrow map
    (arrays + one posexplode), like the fixed-stride chunker."""
    fn, _ = ALL_QUERIES["chunk_content_defined"]
    a = audit_plan(fn(spark, sf_dir))
    assert a["num_exchanges"] == 0, "CDC chunking must not shuffle"


def test_cdc_chunking_single_md5_evaluation(spark, sf_dir):
    """ADVICE r11 (low): the CDC boundary array (md5 per token — the
    operator's entire cost) must be evaluated exactly ONCE per doc, and
    that property must be pinned by plan shape, not by an optimizer-
    internals barrier. Two historical regressions this guards:
    CollapseProject inlining _starts into the chunk-end element_at
    (md5 would appear ABOVE the Generate — r11, 3×), and
    InferFiltersFromGenerate cloning it into a useless size()>0 filter
    (a second md5 below — r12, 2×, fixed via posexplode_outer)."""
    fn, _ = ALL_QUERIES["chunk_content_defined"]
    plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1, plan
    above_generate = plan.split("Generate ")[0]
    assert "md5(" not in above_generate, above_generate
    # r12: the token array must also be computed once — an inline split
    # inside the boundary lambda re-splits the whole text per token
    # position (O(|text|²); 2.1 → 0.93 s at sf0.1 staged)
    assert plan.count("split(") == 1, plan


def test_winnow_single_gram_array_evaluation(spark, sf_dir):
    """r12: the winnowing k-gram hash array must be an attribute before
    the sliding-window minima slice it — inlined, the whole md5-per-gram
    array re-evaluates once per window position (O(|text|²) md5 calls;
    measured 79.4 → 1.1 s at sf0.1). One md5 node, below the Generate."""
    fn, _ = ALL_QUERIES["text_winnow"]
    plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1, plan
    assert "md5(" not in plan.split("Generate ")[0], plan


def test_curation_queries_are_narrow_maps(spark, sf_dir):
    """Repetition metrics, PII scrub, and int8 quantization are per-row
    transforms — zero Exchange, so they stream at 100 TB."""
    for name in ("text_repetition", "text_pii_redact", "emb_quantize_int8"):
        a = _plan(spark, sf_dir, name)
        assert a["num_exchanges"] == 0, f"{name} must not shuffle"


def test_bloom_probe_corpus_never_shuffles(spark, sf_dir):
    """The Bloom probe side must be a narrow map. Probing a materialized
    filter row, the whole plan is scan → BroadcastNestedLoopJoin against
    ONE broadcast row → project: exactly one (broadcast) exchange, no
    shuffle, no sort-merge — the corpus never moves on content. The full
    query adds only the tiny build side's exchanges."""
    from pyspark.sql import functions as F

    from sample_deepbook_margin_dune_dbt_spark.operators import bloom as B
    from sample_deepbook_margin_dune_dbt_spark.operators.dedup import shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_sh = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles(F.col("text"), 3)).alias("_s"))
        .distinct()
    )
    bf = spark.createDataFrame(B.bloom_build(bench_sh, "_s").collect())
    probe = docs.crossJoin(F.broadcast(bf)).select(
        "doc_id",
        B.bloom_might_contain(F.col("bloom"), F.col("text")).alias("hit"),
    )
    a = audit_plan(probe)
    # the only exchange is the broadcast: no shuffle partitioning anywhere
    for marker in ("hashpartitioning", "rangepartitioning", "SinglePartition"):
        assert marker not in a["plan"], marker
    assert "BroadcastNestedLoopJoin" in a["plan"]
    assert "SortMergeJoin" not in a["plan"]
    # and the declared query (build inlined) still never sort-merges
    full = _plan(spark, sf_dir, "text_bloom_decontaminate")
    assert "SortMergeJoin" not in full["plan"]


def test_heavy_hitters_take_ordered(spark, sf_dir):
    """Top-20 heavy hitters must plan a TakeOrdered (bounded per-partition
    heaps), never a global sort of the distinct-shingle counts."""
    a = _plan(spark, sf_dir, "text_heavy_hitters")
    assert "TakeOrderedAndProject" in a["plan"]
    assert "partial_count" in a["plan"], "count must map-side combine"


def test_mixture_sample_broadcasts_plan(spark, sf_dir):
    """The corpus side of the Bernoulli mixture tier must broadcast the
    tiny per-domain plan (never shuffle the corpus on the domain key)
    and keep the variate filter an equi-join-free narrow map."""
    fn, _ = ALL_QUERIES["corpus_mixture_sample"]
    a = audit_plan(fn(spark, sf_dir))
    assert a["num_broadcasts"] >= 1, "per-domain plan must broadcast"
    assert "CartesianProduct" not in a["plan"]
    assert "SortMergeJoin" not in a["plan"], (
        "corpus must not shuffle to meet the 5-row plan"
    )


def test_mixture_select_single_domain_shuffle(spark, sf_dir):
    """The greedy tier's only corpus shuffle is the per-domain window
    partitioning; the plan joins stay broadcast."""
    fn, _ = ALL_QUERIES["corpus_mixture_select"]
    a = audit_plan(fn(spark, sf_dir))
    assert a["num_broadcasts"] >= 1
    assert "SortMergeJoin" not in a["plan"]
    # corpus-side hash partitioning only on the window's domain key
    corpus_parts = [
        l for l in a["plan"].splitlines()
        if "hashpartitioning(lang" in l or "hashpartitioning(domain" in l
    ]
    assert corpus_parts, "window must partition by the domain key"


def test_boilerplate_dedup_broadcast_anti_join(spark, sf_dir):
    """The boilerplate segment set (bounded by repeated content, not
    corpus size) must probe as a broadcast LEFT ANTI join — never a
    shuffled join of the full exploded segment relation — and the
    segment-df aggregation must partial-aggregate map-side."""
    fn, _ = ALL_QUERIES["dedup_boilerplate_segments"]
    a = audit_plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in a["plan"]
    assert "BroadcastNestedLoop" not in a["plan"]
    assert a["num_broadcasts"] >= 1, "boilerplate set must broadcast"
    assert "BroadcastHashJoin LeftAnti" in a["plan"]
    assert "SortMergeJoin LeftAnti" not in a["plan"]
    assert "ShuffledHashJoin LeftAnti" not in a["plan"]


def test_corpus_profile_single_scan_expand(spark, sf_dir):
    """The profiler must read the corpus ONCE: the multi-distinct
    aggregate plans one Expand pass over one scan — never one scan per
    profiled column — and partial-aggregates map-side."""
    fn, _ = ALL_QUERIES["corpus_profile"]
    a = audit_plan(fn(spark, sf_dir))
    # formatted mode prints each scan node twice (tree + detail); the
    # detail block's Location line appears once per physical scan
    assert a["plan"].count("Location: InMemoryFileIndex") == 1, "one scan for all columns"
    assert "Expand" in a["plan"]


def test_quality_model_is_narrow_map(spark, sf_dir):
    """The linear quality scorer is a pure projection: zero exchanges."""
    fn, _ = ALL_QUERIES["text_quality_model"]
    a = audit_plan(fn(spark, sf_dir))
    assert a["num_exchanges"] == 0


def test_funnel_single_join_key(spark, sf_dir):
    """Every funnel exchange hashes on user_id — the chained
    sequential-min joins and rollup reuse one co-partitioning; no
    cartesian or nested-loop anywhere."""
    fn, _ = ALL_QUERIES["events_funnel"]
    a = audit_plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in a["plan"]
    assert "BroadcastNestedLoop" not in a["plan"]
    for l in a["plan"].splitlines():
        if "hashpartitioning" in l:
            assert "user_id" in l, l


def test_retention_broadcasts_cohort_sizes(spark, sf_dir):
    """Cohort sizes (≤ distinct-days rows) broadcast; the actives input
    shuffles on its aggregation keys only."""
    fn, _ = ALL_QUERIES["events_retention"]
    a = audit_plan(fn(spark, sf_dir))
    assert a["num_broadcasts"] >= 1
    assert "CartesianProduct" not in a["plan"]


def test_tumbling_agg_partial_aggregates(spark, sf_dir):
    """The windowed agg must map-side combine below its one exchange."""
    fn, _ = ALL_QUERIES["w_tumbling_agg"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "partial" in plan and "Exchange" in plan
    assert plan.index("partial") > plan.index("Exchange"), (
        "partial agg must sit below (after in text) the exchange"
    )


def test_snapshot_diff_no_cartesian(spark, sf_dir):
    """The snapshot FULL OUTER joins two narrow (id, fp) projections —
    equi-join only, and column pruning must reach both scans."""
    fn, _ = ALL_QUERIES["corpus_snapshot_diff"]
    a = audit_plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in a["plan"]
    assert "BroadcastNestedLoop" not in a["plan"]
    assert "FullOuter" in a["plan"].replace(" ", "")


def test_sketch_union_is_two_level_aggregate(spark, sf_dir):
    """Per-day sketch agg partial-aggregates; the union step consumes
    ≤ n_days sketch rows (no second corpus scan beyond the exact twin)."""
    fn, _ = ALL_QUERIES["a_sketch_union"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "hll_sketch_agg" in plan and "hll_union_agg" in plan
    assert "CartesianProduct" not in plan  # the scalar gate is broadcast


def test_runtime_bloom_filter_prefilters_shuffle_join(spark, tmp_path):
    """Spark's runtime bloom-filter injection (the 100 TB shuffle-join
    pre-filter: a bloom filter built from the selective dim side is
    pushed into the fact side's scan stage, discarding non-joining rows
    BEFORE the shuffle) fires when its documented conditions hold —
    pinned here so an engine upgrade that changes them is caught:

    - a SHUFFLE join (broadcast joins don't need it),
    - a *comparison/IN/LIKE* predicate on the creation side (a bare
      boolean column does NOT count as 'likely selective'),
    - creation side under ``runtime.bloomFilter.creationSideThreshold``,
      application side over ``applicationSideScanSizeThreshold``.
    """
    from pyspark.sql import functions as F

    d = str(tmp_path)
    spark.range(0, 200_000).withColumn("k", F.col("id") % 10_000).write.parquet(
        d + "/fact"
    )
    spark.range(0, 10_000).withColumn("grp", F.col("id") % 50).write.parquet(
        d + "/dim"
    )
    keep = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in keep:
        keep[k] = spark.conf.get(k)
    try:
        # thresholds sized for a test-scale fact table; on a real cluster
        # the defaults (10GB application side) already pass at fact scale
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.read.parquet(d + "/fact")
        dim = spark.read.parquet(d + "/dim").filter("grp = 7")
        plan = explain_str(fact.join(dim, fact.k == dim.id), "simple")
        assert "bloom_filter_agg" in plan, "runtime bloom filter must inject"
        assert "might_contain" in plan.lower() or "BloomFilter" in plan
        # a computed-then-filtered boolean still injects: the optimizer
        # collapses filter(flag) over flag = (grp = 7) back to the EqualTo,
        # which IS 'likely selective' (unlike a bare stored boolean column)
        dim2 = spark.read.parquet(d + "/dim").withColumn(
            "flag", F.col("grp") == 7
        ).filter("flag")
        plan2 = explain_str(fact.join(dim2, fact.k == dim2.id), "simple")
        assert "bloom_filter_agg" in plan2
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_at_runtime(spark, tmp_path):
    """AQE's skew-join handling (the runtime half of the skew story —
    `operators/skew.py` salting is the plan-time half): a sort-merge
    join whose shuffle puts ~90% of fact rows in one partition is
    re-planned mid-query with that partition split across tasks
    (`skew=true` in the final adaptive plan). Pinned so a conf or
    engine-default change that silently disables it is caught —
    at 100 TB this is the difference between one straggler task
    holding a 9-TB partition and N parallel splits.
    """
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.adaptive.enabled": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": None,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": None,
        "spark.sql.adaptive.coalescePartitions.enabled": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in keys:
        keys[k] = spark.conf.get(k)
    try:
        # thresholds scaled down so the MB-scale test fact qualifies as
        # skewed; production keeps the defaults (256MB advisory). AQE is
        # pinned ON here even though the test session default is already
        # on (conftest): the pin guards this adaptive-runtime test against
        # the `no_aqe` fixture and against SPARK_GRAFT_TEST_AQE=false.
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        fact = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("v"),
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("d"))
        j = fact.join(dim, "k")
        assert len(j.collect()) == 500_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE must split the hot partition"
    finally:
        for k, v in keys.items():
            spark.conf.set(k, v)


def test_new_tpch_partsupp_queries_plan_shape(spark, sf_dir):
    """The r6 partsupp-dependent TPC-H queries: dimension sides broadcast,
    and no plan ever falls back to a cartesian product — the derived
    partsupp expansion is a narrow 4-wide explode, not a join."""
    from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

    for name in ("tpch_q2", "tpch_q9", "tpch_q11", "tpch_q16", "tpch_q20"):
        fn, _ = FULL_QUERIES[name]
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name == "tpch_q11":
            # q11's HAVING threshold is the deliberate ONE-ROW broadcast
            # total (the bounded crossJoin idiom shared with skew/bloom);
            # exactly one BNLJ, nothing data-scale
            assert plan.count("BroadcastNestedLoopJoin") == 1, name
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, f"{name}: dims must broadcast"


def test_repeated_spans_dup_join_is_equijoin(spark, sf_dir):
    """The duplicated-window probe must stay a fingerprint equi-join
    (AQE-skew-splittable) — never a cartesian/nested-loop — and the
    island merge must window per document, not globally."""
    fn, _ = ALL_QUERIES["dedup_repeated_spans"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan, (
        "island merge must partition by document, never globally"
    )


def test_bigram_lm_scoring_join_is_equijoin(spark, sf_dir):
    """The familiarity probe must stay a fingerprint equi-join (hot
    stopword bigrams skew the probe side; an equi-join lets AQE split
    them) and the count table must partial-aggregate map-side."""
    fn, _ = ALL_QUERIES["text_bigram_lm"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan, "bigram counts must map-side combine"


def test_decontaminate_spans_broadcasts_benchmark(spark, sf_dir):
    """The benchmark window-fingerprint set must broadcast as a LEFT SEMI
    probe — the corpus never shuffles on content for membership."""
    fn, _ = ALL_QUERIES["decontaminate_spans"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_shingle_self_intersections_hashed_fp_join(spark, sf_dir):
    """The exact jaccard/containment self-join must (a) exchange 8-byte
    xxhash64 shingle fingerprints, not UTF-8 shingle strings, and (b)
    plan as ShuffledHashJoin — the unhinted SMJ's sort of both
    corpus-sized shingle sides went superlinear at the 100× documents
    fixture (120 s → 33 s for the containment scan; PERF.md r9
    continuation 5)."""
    from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

    for name in ("dedup_containment", "dedup_ngram_jaccard"):
        fn, _ = FULL_QUERIES[name]
        plan = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        # the staged fp-array projection is a checkpoint (lineage cut →
        # ExistingRDD scan); the self-join must key on the 8-byte _fp
        # column and hash, not sort-merge
        assert "Scan ExistingRDD[_id" in plan, name
        assert "ShuffledHashJoin [_fp" in plan, name
        assert "SortMergeJoin [_fp" not in plan, name


def test_bucket_local_refine_plan_shape(spark, sf_dir):
    """The near-dup tiers' DEFAULT verification tail (r11 bucket_local)
    must never join candidates back to the vector table: no sort-merge
    or shuffled-hash pair-fetch joins, no cartesian -- the only wide ops
    are the bucket aggregation and the survivor-sized distinct. Guards
    the fourth-decade fix (the exchange tail's candidate x vector
    intermediate filled the probe host's disk, PERF.md r11)."""
    from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

    for name in ("dedup_embedding_cosine", "dedup_embedding_cosine_ivf"):
        fn, _ = FULL_QUERIES[name]
        plan = explain_str(fn(spark, sf_dir), "simple")
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "MapInPandas" in plan, name  # the in-bucket verifier


def test_image_phash_dedup_plan_shape(spark, sf_dir):
    """The content-level image dedup chain (r13) must stay equi-join +
    narrow-map shaped: banded Hamming candidates are an equi-join on
    (band, key) — never a cartesian or nested-loop pairing — and no
    corpus window appears anywhere (hash/band/verify are all per-row or
    hash-aggregate work)."""
    from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES

    fn, _ = FULL_QUERIES["multimodal_phash_dedup"]
    plan = explain_str(fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Window" not in plan
    # the decode→hash Arrow pass is staged ONCE behind a localCheckpoint
    # (three consumers — bands + both verify sides — would otherwise
    # each re-run it); the checkpoint surfaces as a Scan ExistingRDD
    assert "Scan ExistingRDD" in plan


def test_media_pairs_from_index_broadcast_probe_shape(spark):
    """The shared incremental media pair core (r14) must NEVER shuffle
    the accumulated index wholesale: the index is semi-join-prefiltered
    by a BROADCAST of the batch's distinct (kind, band, band_key) keys,
    and the video frame re-join reads only candidate ids' frames via a
    broadcast semi filter — so every index-sided exchange is bounded by
    the batch, not the corpus (the stream_dedup_ingest broadcast-probe
    discipline)."""
    from pyspark.sql import functions as F

    from sample_deepbook_margin_dune_dbt_spark.operators.multimodal import (
        media_index_rows,
        media_neardup_pairs_from_index,
        media_signatures,
    )
    from sample_deepbook_margin_dune_dbt_spark.operators.multimodal import (
        attach_pattern_png,
    )

    media = attach_pattern_png(
        spark.range(20).select(F.col("id").alias("media_id")),
        "media_id", keys=7,
    ).select("media_id", F.lit("image").alias("kind"),
             F.col("png_payload").alias("payload"))
    idx = media_index_rows(media_signatures(media))
    new = idx.filter(F.col("media_id") >= 15)
    plan = explain_str(media_neardup_pairs_from_index(new, idx), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "LeftSemi, BuildRight" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

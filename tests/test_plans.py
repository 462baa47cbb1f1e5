"""Physical-plan regression tests: the *shape* of the plan is part of
the contract at 100 TB (SURVEY.md §4.2).  Each assertion pins a scale
property that correctness tests can't see — a broadcast that silently
becomes a shuffle, a pushdown that stops reaching the scan, a second
exchange sneaking into a window pipeline."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
from experts_etl_spark.plans.flagship import person_assembly
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


def plan_of(df, mode: str = "simple") -> str:
    # "simple" keeps one line per operator (formatted repeats each node in
    # a detail section, double-counting scans) and shows the `*(n)`
    # whole-stage-codegen markers.
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def shuffles(plan: str) -> int:
    # broadcast exchanges are not shuffles; count only hash/range exchanges
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning", plan))


def test_dim_joins_broadcast_not_shuffle(spark):
    for name in ["customers_per_nation", "enrichment_left_join", "dim_lookup_quarantine"]:
        plan = plan_of(QUERIES[name](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(QUERIES["pricing_summary"](spark, SF_SMOKE), "formatted")
    # filter reaches the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # ...and the scan reads only the 7 needed columns, not all 11
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 7, m.group(1)


def test_window_pipelines_single_shuffle(spark):
    """W2/W8/A4/sessionize share one partitioning: exactly one shuffle."""
    for name in [
        "event_run_groups",
        "latest_event_per_user",
        "user_sessions",
        "primary_event_election",
    ]:
        plan = plan_of(QUERIES[name](spark, SF_SMOKE))
        assert shuffles(plan) == 1, f"{name}: {shuffles(plan)} shuffles"


def test_flagship_single_shuffle_and_codegen(spark):
    df = person_assembly(spark, SF_SMOKE)
    assert shuffles(plan_of(df)) == 1
    # Under AQE the whole plan hides in AdaptiveSparkPlan until runtime
    # and reports 0 codegen subtrees pre-execution; plan once without AQE
    # to assert stages actually compile.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cg = plan_of(person_assembly(spark, SF_SMOKE), "codegen")
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
        assert m and int(m.group(1)) >= 1, cg[:200]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_merge_upsert_reads_each_input_once(spark):
    """The single-pass merge rewrite: the events file appears exactly
    twice (target derivation + source derivation), not five times."""
    plan = plan_of(QUERIES["merge_upsert_freshness"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")


def test_no_cartesian_products_anywhere(spark):
    """Nothing in the registry may plan a cartesian/broadcast-nested-loop
    join over two fact inputs.  (BroadcastNestedLoopJoin is tolerated
    only for non-equi probe joins against a broadcast side — the ANN
    brute-force probe and the scalar-root cross join.)"""
    allowed_bnlj = {
        "ann_topk_bruteforce",   # probe set broadcast against the corpus
        "owner_reassignment",    # scalar root key broadcast
        "embedding_near_dup",    # exact all-pairs baseline (bucketed twin exists)
        "ann_topk_ivf",          # centroid set broadcast for cell assignment
        "ann_topk_ivf2",         # super/cell set broadcast, two-level assignment
        "ann_ivf_kmeans",        # centroid set broadcast per Lloyd iteration
        "ann_ivf_kmeans_sampled",  # same centroid broadcast, sampled training
        "dedup_lsh_recall_sampled",  # 1-row count aggregates cross-joined
        "ann_topk_ivf_refined",  # trained-centroid broadcast for assignment
        "ann_topk_ivf2_refined",  # trained super/cell broadcast, two-level
        "training_dedup_leakage_sampled",  # 1-row count aggs cross-joined
        "training_dedup_leakage_sampled_p8",  # same template, p = 1/8
        "ann_recall",            # brute-force baseline + 1-row agg cross joins
        "tfidf_topk_terms",      # corpus-size scalar broadcast for idf
        "dedup_lsh_recall",      # 1-row count aggregates cross-joined
        "training_dedup_leakage",  # 1-row count aggregates cross-joined
        "ann_topk_ivfpq",        # super/cell broadcast (ivf2 assignment)
                                 # + probe×cells cell-dot broadcast
        "ann_topk_ivfpq_refined",  # same shape over trained cells
        "ann_recall_pq",         # brute-force baseline + 1-row agg
                                 # cross joins (the ann_recall shape)
        "dedup_lsh_recall_sampled_p8",  # template twin of
                                 # dedup_lsh_recall_sampled (1-row aggs)
        "ann_recall_sampled",    # in-sample brute-force truth (probe set
                                 # broadcast) + 1-row agg cross joins —
                                 # the ann_recall shape at p = 1/4
    }
    for name, fn in QUERIES.items():
        plan = plan_of(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_composite_pipelines_shuffle_budget(spark):
    """person_360: one shuffle key end-to-end plus a broadcast dim.
    cdc_end_to_end is one scan and one groupBy on user_id: the chained
    form (compaction, version guard, action split, delete cascade,
    freshness merge) reduces per user to two heads, so its five
    exchanges collapse to one.  person_assembly_cycle: the jobs
    transform partitions its entries once on emplid, which clusters
    its (emplid, position_nbr) windows and the person-level emplid
    windows alike — one exchange where there were two.  The bounds are
    exact: a second exchange in either plan is a regression."""
    p = plan_of(QUERIES["person_360"](spark, SF_SMOKE))
    assert shuffles(p) == 1, shuffles(p)
    assert "BroadcastHashJoin" in p
    c = plan_of(QUERIES["cdc_end_to_end"](spark, SF_SMOKE))
    assert shuffles(c) == 1, shuffles(c)
    assert c.count("Scan parquet") == 1, c.count("Scan parquet")
    # the COMPLETE §3.2 assembly — and the orders fact is scanned
    # exactly once
    a = plan_of(QUERIES["person_assembly_cycle"](spark, SF_SMOKE))
    assert shuffles(a) == 1, shuffles(a)
    assert a.count("Scan parquet") == 1, a.count("Scan parquet")
    # the dept/defaults dims are JVM local relations: a Python-built
    # dim (createDataFrame from a list) shows as Scan ExistingRDD and
    # runs Python tasks on every broadcast
    assert "Scan ExistingRDD" not in a, a
    assert "LocalTableScan" in a, a


def test_warm_person_cycle_compiles_nothing(spark):
    """A warm sync cycle reuses every generated class: the codegen cache
    (session.py) holds the cycle's working set, so running the same
    person_cycle_xml a second time adds no Janino compile."""
    from experts_etl_spark.plans.reference_queries import person_cycle_xml

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    person_cycle_xml(spark, SF_SMOKE).collect()
    before = metric.getCount()
    person_cycle_xml(spark, SF_SMOKE).collect()
    assert metric.getCount() - before == 0


def test_pub_cycle_plan_budget(spark):
    """The document-side composite (pub_cycle): every shuffle keyed on
    pub_id, dims broadcast (person/org dims never shuffle the fact), no
    cartesian — and each fact input crosses the scan boundary ONCE: the
    narrow lineitem projection and the gated pub set are persisted
    (MEMORY_AND_DISK), so every downstream consumer is an
    InMemoryTableScan over a cache the cache manager builds exactly one
    time per action.  (The explain STRING reprints the cache-build
    subtree — with its parquet scan line — under every consumer, so
    string-level scan counts overcount; the invariant here is that all
    fact access goes through InMemoryTableScan.)"""
    import re

    df = QUERIES["pub_cycle"](spark, SF_SMOKE)
    p = plan_of(df)
    assert shuffles(p) <= 9, shuffles(p)
    assert "CartesianProduct" not in p
    # both shared subtrees are cache-backed: 3 base consumers (states,
    # associations, prior children) + veto reuse, 2 gated consumers.
    # (String-level parquet-scan counts are NOT asserted: the explain
    # string reprints each cache's build subtree under every consumer,
    # and the reprint count changes with cache materialization state.)
    assert p.count("InMemoryTableScan") >= 5, p.count("InMemoryTableScan")
    # the PHYSICAL single-pass proof: executing the query materializes
    # exactly two cached RDDs — one per shared subtree (narrow lineitem
    # projection + gated pub set), each built once by the cache manager.
    # Build a FRESH df after clearCache: dfs constructed earlier hold
    # plan references to since-evicted cache entries and would
    # materialize extra orphan RDDs.
    spark.catalog.clearCache()
    try:
        QUERIES["pub_cycle"](spark, SF_SMOKE).count()
        # SQL-cache RDDs carry their plan string as the name; bare
        # "MapPartitionsRDD" entries are localCheckpoint residue from
        # other tests sharing the session — not pub_cycle's caches.
        cached = [
            str(i)
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if not str(i).startswith('RDD "MapPartitionsRDD"')
        ]
        assert len(cached) == 2, cached
    finally:
        spark.catalog.clearCache()


def test_curation_pack_plan_budget(spark):
    """Round-4 curation pack plan pins: PII redaction is a pure map
    (zero exchanges — one scan, regexp chain, nothing else);
    repetition_metrics and the training_corpus_pipeline composite read
    their shared subtree through a lazy localCheckpoint, so no fact
    parquet re-scan survives in the executed plan."""
    p = plan_of(QUERIES["pii_redaction"](spark, SF_SMOKE))
    assert shuffles(p) == 0, p
    assert p.count("Scan parquet") == 1, p

    r = plan_of(QUERIES["repetition_metrics"](spark, SF_SMOKE))
    assert r.count("Scan parquet") == 0, r  # checkpointed gram stream
    assert shuffles(r) <= 4, shuffles(r)

    t = plan_of(QUERIES["training_corpus_pipeline"](spark, SF_SMOKE))
    assert "CartesianProduct" not in t
    assert t.count("Scan parquet") == 0, t  # single materialized base


def test_domain_mixture_broadcasts_rate_table(spark):
    """The per-domain rate table must broadcast — the row-level filter
    join shuffling the fact on `source` (20 keys) would be a skew
    disaster at 100 TB."""
    p = plan_of(QUERIES["domain_mixture_sample"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert shuffles(p) <= 1, shuffles(p)  # only the tiny counts agg


def test_epoch_shuffle_is_distributed_rank(spark):
    """The global training-order rank must never collapse to a bare
    global window (Exchange SinglePartition = every row through one
    task).  The scalable shape: range partition on the hash key +
    per-partition row_number + broadcast prefix offsets."""
    p = plan_of(QUERIES["epoch_shuffle"](spark, SF_SMOKE))
    assert "SinglePartition" not in p, p
    assert "BroadcastHashJoin" in p  # prefix offsets broadcast, not shuffled

"""Physical-plan regression pins for the scale claims in PLANS.md.

These assert the plan SHAPE (join strategy, top-k operator, partial
aggregation, scan pruning/pushdown), not timings — the properties that
decide whether an operator survives a 100× scale-up. If a refactor or a
Spark upgrade silently degrades one (broadcast → sort-merge, top-k →
global sort, pruned scan → full scan), these fail before any benchmark
does.
"""

from pyspark.sql import functions as F

from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.link import build_edges
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import road_address_gate
from extract_address_ner_spark.sources import corpus as C


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_graph_edges_joins_are_broadcast_only(spark, sf_smoke):
    """The 100 TB fact side must never shuffle for the dimension joins:
    BroadcastHashJoin only, zero SortMergeJoin in the full KG chain."""
    edges = build_edges(
        canonicalize_mentions(
            road_address_gate(
                extract_mentions(C.corpus_from_documents(spark, sf_smoke))
            )
        )
    )
    plan = _plan(edges)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_events_latest_n_is_take_ordered(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    topk = ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(100)
    plan = _plan(topk)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort operator


def test_corpus_scan_is_pruned_to_needed_columns(spark, sf_smoke):
    """documents has (doc_id, text, lang, ...); the mention pipeline must
    read exactly the columns the derivation uses — at 100 TB a scan that
    reads extra columns is wrong."""
    m = extract_mentions(C.corpus_from_documents(spark, sf_smoke))
    plan = _plan(m)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    cols = {c.split(":")[0] for s in schemas for c in s.split(",") if c}
    assert cols == {"doc_id", "text", "lang"}


def _shuffle_records_written(spark, fn) -> int:
    """Run ``fn`` under a job group of its own and return the shuffle
    records its jobs' stages wrote, read from the status store."""
    import uuid

    sc = spark.sparkContext
    group = f"records-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store fills async
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stage_ids = {sid for j in tracker.getJobIdsForGroup(group)
                 for sid in tracker.getJobInfo(j).stageIds}
    total = 0
    for sid in stage_ids:
        attempts = store.stageData(sid, False, None, False, None)
        for i in range(attempts.size()):
            total += attempts.apply(i).shuffleWriteRecords()
    return total


def test_repo_counts_aggregation_has_map_side_partial(spark, sf_smoke):
    """The hot-key bound of the plain aggregate: a partial count runs
    below the exchange, so the mega-repo (half of all rows) crosses the
    shuffle as at most one record per input partition."""
    from collections import Counter

    from extract_address_ner_spark.operators.link import repo_mention_counts

    m = extract_mentions(C.corpus_from_documents(spark, sf_smoke))
    plan = _plan(repo_mention_counts(m))
    assert "partial_" in plan  # partial agg before every exchange

    n_parts = 32
    df = C.synthesize_corpus(spark, 20000, seed=1).repartition(n_parts) \
        .localCheckpoint()
    mega = df.filter(F.col("repo") == "repo_mega")
    assert mega.count() == 10000  # the mega-repo holds half of all rows

    counts = repo_mention_counts(df)
    plan = _plan(counts)  # before execution: the one, initial plan
    assert plan.index("partial_count") > plan.index(
        "Exchange hashpartitioning(repo"), plan
    plain = Counter(r["repo"] for r in df.select("repo").collect())
    assert {r["repo"]: r["n_mentions"] for r in counts.collect()} == plain

    written = _shuffle_records_written(
        spark, lambda: repo_mention_counts(mega).collect())
    assert 0 < written <= n_parts, written


def _built_edges(spark, sf_smoke):
    return build_edges(
        canonicalize_mentions(
            road_address_gate(
                extract_mentions(C.corpus_from_documents(spark, sf_smoke))
            )
        )
    )


def test_graph_queries_no_sort_merge_join(spark, sf_smoke, tmp_path):
    """Round-3 read-side KG queries: every join must be broadcast (the
    located_in / backbone sides are dimensions bounded by the address
    vocabulary); a SortMergeJoin here would shuffle the 100 TB fact side.
    The reads keep the module's caching contract: no cache of their own,
    and a lazy ``build_edges`` input is computed once across branches."""
    from extract_address_ner_spark.operators import graph_query as GQ

    edges = _built_edges(spark, sf_smoke)
    for df in (
        GQ.degree_distribution(edges),
        GQ.top_addresses_per_repo(edges),
        GQ.region_rollup(edges),
    ):
        plan = _plan(df)
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan

    # the reads cache nothing: over a file scan, each branch re-reads it
    path = str(tmp_path / "edges")
    edges.write.parquet(path)
    scanned = spark.read.parquet(path)
    for read in (GQ.degree_distribution, GQ.top_addresses_per_repo,
                 GQ.region_rollup):
        plan = _plan(read(scanned))
        assert "InMemoryRelation" not in plan, read.__name__
        assert "InMemoryTableScan" not in plan, read.__name__

    # over the lazy build, the branches share build_edges' final exchange,
    # so the tagger upstream runs once (AQE reuses it at execution time)
    for read in (GQ.degree_distribution, GQ.region_rollup):
        df = read(edges)
        df.collect()
        assert "ReusedExchange" in _plan(df), read.__name__


def test_bucketed_edges_aggregate_is_shuffle_free(spark, sf_smoke, tmp_path):
    """Round-3 storage-layer co-location: subj-keyed aggregation over the
    bucketed edge table must plan with ZERO Exchange (bucket files ARE the
    partitioning) and scan only the subj column."""
    from extract_address_ner_spark.operators.link import write_edges_bucketed

    edges = _built_edges(spark, sf_smoke)
    t = write_edges_bucketed(edges, table="kg_edges_bucketed_test",
                             n_buckets=8)
    agg = t.groupBy("subj").agg(F.count(F.lit(1)).alias("degree"))
    plan = _plan(agg)
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan
    # row parity with the unbucketed aggregate
    direct = edges.groupBy("subj").agg(F.count(F.lit(1)).alias("degree"))
    assert sorted(map(tuple, agg.collect())) == sorted(
        map(tuple, direct.collect()))
    spark.sql("DROP TABLE kg_edges_bucketed_test")


def test_asof_join_is_single_shuffle_no_join(spark, sf_smoke):
    """The as-of join's reason to exist: the naive theta-join formulation
    has per-key quadratic candidate output; the union+window formulation
    must plan with ZERO join operators and exactly ONE exchange (the
    key-partitioned window sort)."""
    from extract_address_ner_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    out = asof_join(
        ev.filter("event_type='click'"), ev.filter("event_type='error'"),
        on=["user_id"], right_cols=["event_id", "ts", "value"],
        tiebreak="event_id",
    )
    plan = _plan(out)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan and "Union" in plan


def test_components_round_shuffles_messages_not_labels(spark):
    """Round-4 shuffle diet for connected_components: with edges cached
    partitioned on the message source and labels checkpointed partitioned
    on the node id (a localCheckpoint keeps its outputPartitioning), ONE
    propagation round must plan exactly ONE new exchange —
    the message aggregation (∝ edges) — and must never re-shuffle the
    O(nodes) label table (the old union+groupBy formulation did, every
    round). AQE/broadcast are disabled in-test to force the at-scale
    co-partitioned join shape that the claim is about."""
    from pyspark.sql import functions as F

    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        edges = (spark.range(1000)
                 .select((F.col("id") % 97).alias("_u"),
                         (F.col("id") % 89).alias("_v"))
                 .repartition(F.col("_u")).persist())
        labels = (spark.range(200)
                  .select(F.col("id").alias("_id"), F.col("id").alias("_lab"))
                  .repartition(F.col("_id")).localCheckpoint())
        edges.count()
        msgs = edges.join(labels, edges["_u"] == labels["_id"]).select(
            F.col("_v").alias("_id"), "_lab")
        mm = msgs.groupBy("_id").agg(F.min("_lab").alias("_m"))
        new_labels = labels.join(mm, "_id", "left").select(
            "_id", F.least(F.col("_lab"),
                           F.coalesce(F.col("_m"), F.col("_lab"))).alias("_lab"))

        def count_ex(p):
            if any(b in p.nodeName()
                   for b in ("InMemoryTableScan", "ExistingRDD")):
                return 0  # cache/checkpoint boundary: its input is history
            c = 1 if "Exchange" in p.nodeName() else 0
            ch = p.children()
            return c + sum(count_ex(ch.apply(i)) for i in range(ch.size()))

        n_ex = count_ex(new_labels._jdf.queryExecution().executedPlan())
        assert n_ex == 1, n_ex
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        edges.unpersist()


def test_integrity_report_anti_join_budget(spark):
    """integrity_report (round 5): exactly THREE anti-joins in the whole
    eight-check plan — Catalyst distributes the unpivoted-endpoint
    dangling join across the union's two branches (one LeftAnti per
    endpoint direction, each edge endpoint tested exactly once) plus the
    orphan check — and the three row-level checks (self-loop, confidence
    range, unknown pred) fold into aggregates rather than extra joins."""
    from extract_address_ner_spark.operators.graph_query import (
        integrity_report,
    )

    edges = spark.createDataFrame(
        [("a", "p", "b", 0.9)],
        "subj string, pred string, obj string, confidence double",
    )
    nodes = spark.createDataFrame(
        [("a", "t"), ("b", "t")], "node_id string, node_type string"
    )
    plan = _plan(integrity_report(edges, nodes, ontology=(("p", "t", "t"),)))
    assert plan.count("LeftAnti") == 3, plan


def test_comention_pair_join_runs_on_capped_preaggregated_sets(spark, sf_smoke):
    """comention_pairs (round 5): the pair self-join must consume the
    rank-CAPPED per-repo sets built from pre-aggregated (repo, address)
    counts — partial aggregation (map-side combine) feeding a bounded
    Window — never raw corpus-sized mention rows on either join side."""
    from extract_address_ner_spark.entry_queries import _built_edges
    from extract_address_ner_spark.operators.graph_query import (
        comention_pairs,
    )

    plan = _plan(comention_pairs(_built_edges(spark, sf_smoke)))
    assert "partial_count" in plan, plan      # map-side combine
    assert "Window" in plan, plan             # the rank cap
    assert "row_number" in plan, plan


def test_triangle_stats_no_cartesian_equi_joins_only(spark):
    """triangle_stats (round 5): every join in the degree-oriented wedge
    enumeration is a keyed equi-join — the apex-keyed wedge self-join and
    the (lo, hi) closing-edge probe must never degrade to a cartesian /
    broadcast-nested-loop product, and the degree aggregation must keep
    its map-side combine (what bounds the plan at 100 TB is the
    orientation, not optimizer luck)."""
    from extract_address_ner_spark.operators.graph_query import (
        triangle_stats,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "addr_a string, addr_b string",
    )
    plan = _plan(triangle_stats(pairs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_repo_similarity_joins_on_filtered_index(spark):
    """repo_similarity (round 5): the inverted-index pair join must be a
    keyed equi-join on the address (never cartesian), the per-repo rank
    cap must run as a bounded Window over PRE-AGGREGATED counts
    (partial_count = map-side combine), and the document-frequency
    filter must appear as an aggregate-then-join — the two quadratic
    bounds are plan structure, not optimizer luck."""
    from extract_address_ner_spark.operators.graph_query import (
        repo_similarity,
    )

    edges = spark.createDataFrame(
        [("r1:f", "mentions_address", "A", 0.9),
         ("r2:f", "mentions_address", "A", 0.9)],
        "subj string, pred string, obj string, confidence double",
    )
    plan = _plan(repo_similarity(edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan
    assert "Window" in plan, plan
    assert "row_number" in plan, plan


def test_label_propagation_no_window_no_cartesian(spark):
    """label_propagation (round 5): the per-round winner must be picked by
    the groupBy-min-over-(−count, label)-struct trick — NO Window/sort in
    the plan (a hub's candidate labels are aggregated, never sorted) —
    and every join must stay a keyed equi-join."""
    from extract_address_ner_spark.operators.graph_query import (
        label_propagation,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "addr_a string, addr_b string")
    plan = _plan(label_propagation(pairs, iterations=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "row_number" not in plan, plan


def test_word_shingles_come_from_the_arrow_kernel_only(spark, sf_smoke):
    """Every word-shingle operator reads the Arrow kernel's frame
    (ArrowEvalPython): no plan cuts shingles a second way, with the SQL
    regex (regexp_extract_all)."""
    from extract_address_ner_spark.entry_queries_data import dup_documents
    from extract_address_ner_spark.operators import dedup

    docs = dup_documents(spark, sf_smoke).limit(50)
    qs = docs.limit(3)
    with dedup.dedup_cache_scope():
        for df in (dedup.lsh_verified_pairs(docs), dedup.jaccard_pairs(docs),
                   dedup.similar_docs(docs, qs),
                   dedup.simhash_signatures(docs)):
            plan = _plan(df)
            assert "regexp_extract_all" not in plan
            assert "ArrowEvalPython" in plan

"""KG schema summarization + embedding-training export.

Two read-side operators a production KG pipeline runs after materialization
(reference: the graph the service's extractions imply — app/services/
preprocess.py emits the mention/canonical rows these edges derive from; the
reference itself has no graph analytics, so these are the Spark-first
extensions a 100 TB KG deployment needs):

* ``characteristic_sets`` — the Neumann/Moerkotte RDF schema summary: group
  subjects by their exact set of outgoing predicates. The classic
  cardinality-estimation structure for SPARQL/BGP planning, and the
  cheapest "what shapes does this KG actually contain" report. Two
  map-side-combinable shuffles (subj → pred-set, then pred-set → counts);
  output cardinality is the number of distinct predicate combinations —
  tiny at any corpus scale.

* ``embedding_training_export`` — (subj, pred, obj, label) rows for a
  TransE-style KG-embedding trainer: every positive triple plus
  ``k`` deterministically-corrupted negatives (object replaced by a
  pseudo-random node), with "filtered" semantics (a corruption that happens
  to be a true triple is dropped, the standard filtered-negatives protocol).

  Scale design — the trap here is the obvious implementation: a GLOBAL
  ``row_number()`` over the node table to index nodes funnels every node
  through ONE task (``Exchange SinglePartition``). Instead nodes are
  salt-bucketed by an md5-derived hash (``NEG_BUCKETS`` buckets) and ranked
  *within* their bucket, so the window runs ``NEG_BUCKETS``-wide in
  parallel; a corruption picks (bucket, rank) from two more md5 draws keyed
  on the triple and the negative's ordinal. Bucket sizes join in by a
  broadcast (``NEG_BUCKETS`` rows). Everything is md5-derived, so the
  DuckDB oracle reproduces the export bit-for-bit and re-running the job
  yields identical training data (resume/backfill-safe — no RNG state).

Plan shape pinned in tests/test_kg_export.py: no ``SinglePartition``
exchange anywhere in the export plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: parallelism of the node-ranking window; at 100 TB raise to O(node-table
#: partitions) — correctness is unaffected, only the window width changes.
NEG_BUCKETS = 16


def _md5_mod(expr: str, mod: int) -> str:
    """Spark-side md5→BIGINT bridge, reduced mod ``mod`` (same form the
    dedup/split operators use; DuckDB twin in entry_queries)."""
    return (
        f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT) % {mod}"
    )


def characteristic_sets(edges: DataFrame) -> DataFrame:
    """(pred_set, n_subjects, n_triples): subjects grouped by their exact
    sorted set of outgoing predicates — the characteristic-sets schema
    summary. ``pred_set`` is the comma-joined sorted predicate list (a
    stable string key both engines produce identically)."""
    per_subj = edges.groupBy("subj").agg(
        F.array_join(F.sort_array(F.collect_set("pred")), ",").alias(
            "pred_set"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    return per_subj.groupBy("pred_set").agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.sum("n").cast("long").alias("n_triples"),
    )


def predicate_stats(edges: DataFrame) -> DataFrame:
    """(pred, n_triples, n_subjects, n_objects): VoID-style per-predicate
    dataset statistics — the other half of the planner-statistics pair with
    :func:`characteristic_sets`. One shuffle on pred with map-side partial
    aggregation; distinct counts are exact (count_distinct inside the
    grouped agg — Spark expands it to a two-phase aggregate, still one
    logical pass). Output cardinality = number of predicates."""
    return edges.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.count_distinct("subj").cast("long").alias("n_subjects"),
        F.count_distinct("obj").cast("long").alias("n_objects"),
    )


def schema_graph(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src_type, pred, dst_type, n_edges, n_src, n_dst): the QUOTIENT
    (schema) graph — every edge lifted to its endpoint types and collapsed
    into one typed super-edge with edge/endpoint counts. The "schema
    panel" summary an RDF store derives for planners and UIs, and the
    third leg of the planner-statistics family here (with
    :func:`characteristic_sets` and :func:`predicate_stats`). Two
    edge→node_type equi-joins (the node table is O(nodes) — too big to
    broadcast at scale, so these are shuffle joins on a real corpus even
    though AQE may broadcast them at test sizes; same shape as the
    integrity report's domain/range leg, graph_query.integrity_report) +
    one map-side-combinable aggregate; output cardinality = distinct
    (src_type, pred, dst_type) triples. Inner joins: edges with
    unresolvable endpoints are excluded (the integrity report counts
    those separately as dangling)."""
    t = nodes.select("node_id", "node_type").distinct()
    typed = edges.join(
        t.select(
            F.col("node_id").alias("subj"),
            F.col("node_type").alias("src_type"),
        ),
        "subj",
    ).join(
        t.select(
            F.col("node_id").alias("obj"),
            F.col("node_type").alias("dst_type"),
        ),
        "obj",
    )
    return typed.groupBy("src_type", "pred", "dst_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.count_distinct("subj").cast("long").alias("n_src"),
        F.count_distinct("obj").cast("long").alias("n_dst"),
    )


def _bucketed_nodes(edges: DataFrame, seed: int) -> DataFrame:
    """Distinct nodes (subjects ∪ objects) with a salt bucket and an
    in-bucket dense rank: (node, bucket, rank). The window partitions by
    bucket — NEG_BUCKETS-wide parallel, never SinglePartition."""
    nodes = (
        edges.select(F.col("subj").alias("node"))
        .unionByName(edges.select(F.col("obj").alias("node")))
        .distinct()
        .withColumn(
            "bucket",
            F.expr(_md5_mod(f"concat('nb:{seed}:', node)", NEG_BUCKETS)),
        )
    )
    w = Window.partitionBy("bucket").orderBy("node")
    return nodes.withColumn("rank", F.row_number().over(w) - F.lit(1))


def corruption_pairs(
    edges: DataFrame, k: int = 2, seed: int = 7
) -> DataFrame:
    """(subj, pred, obj, neg_obj): each distinct positive triple paired with
    up to ``k`` filtered corrupted objects — the margin-ranking training
    pairs TransE consumes, and the generator behind
    :func:`embedding_training_export`. Deterministic (md5-keyed) and
    distributed: corruptions explode map-side, node lookup is one equi-join
    on (bucket, rank), bucket sizes broadcast, and the filter against true
    triples is one anti-join."""
    pos = edges.select("subj", "pred", "obj").distinct()
    nodes = _bucketed_nodes(edges, seed)
    sizes = nodes.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )

    tkey = f"concat('{seed}:', subj, '|', pred, '|', obj, '#', i)"
    cand = (
        pos.withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        )
        .withColumn("bucket", F.expr(_md5_mod(f"concat('b:', {tkey})", NEG_BUCKETS)))
        .join(F.broadcast(sizes), "bucket")
        .withColumn(
            "rank",
            F.expr(_md5_mod(f"concat('r:', {tkey})", 2**31)) % F.col("bucket_n"),
        )
    )
    return (
        cand.join(nodes, ["bucket", "rank"])
        .select("subj", "pred", "obj", F.col("node").alias("neg_obj"))
        # filtered protocol: drop corruptions that are true triples (this
        # also drops neg_obj == obj collisions); then distinct — two draws
        # of one positive may corrupt to the same node
        .join(
            pos.select("subj", "pred", F.col("obj").alias("neg_obj")),
            ["subj", "pred", "neg_obj"],
            "left_anti",
        )
        .distinct()
    )


def embedding_training_export(
    edges: DataFrame, k: int = 2, seed: int = 7
) -> DataFrame:
    """(subj, pred, obj, label) training rows: label=1 for every distinct
    positive triple, label=0 for up to ``k`` filtered corrupted-object
    negatives per positive (the :func:`corruption_pairs` set, flattened)."""
    pos = edges.select("subj", "pred", "obj").distinct()
    neg = (
        corruption_pairs(edges, k=k, seed=seed)
        .select("subj", "pred", F.col("neg_obj").alias("obj"))
        .distinct()
        .withColumn("label", F.lit(0))
    )
    return pos.withColumn("label", F.lit(1)).unionByName(neg)

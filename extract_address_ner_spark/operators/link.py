"""Entity linking + graph materialization (SURVEY.md §2.9, north_star).

Produces the KG tables:

- ``edges(subj, pred, obj, confidence)`` with pred ∈
  {mentions_address, located_in}
- ``nodes(node_id, node_type, attrs)`` with node_type ∈
  {file, address, admin_region}

Skew: repos are Zipf-distributed (one mega-repo can hold ~half the corpus)
and canonical address ids are few and hot. Aggregations keyed on either are
algebraic (count, max), so a plain ``groupBy().agg()`` already bounds the hot
key: Spark runs a partial aggregate before the exchange, and each map
partition ships the key as one row. Work that cannot be combined, such as
joins, is where skew needs more; AQE skew-join splitting covers it
(session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.admin_regions import hierarchy_edges


def build_edges(canonical_mentions: DataFrame) -> DataFrame:
    """Both edge families in ONE pass: each canonical mention emits its
    mentions_address edge and its located_in edge (a 2-element inline
    explode), then a single aggregate (partial aggregate before the
    exchange) dedupes/maxes confidence for both families at once. The
    upstream extraction DAG runs exactly once with NO caching — at 3M rows
    the previous persist-then-two-branches formulation spent more time
    writing cache blocks under 32-thread MemoryStore contention than
    recomputing (+70s @32c) and doubled the shuffles.

    The static region hierarchy backbone is unioned afterwards (tiny)."""
    m = canonical_mentions.filter(F.col("canonical_id").isNotNull())
    both = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.concat_ws(":", "repo", "path").alias("subj"),
                    F.lit("mentions_address").alias("pred"),
                    F.col("canonical_id").alias("obj"),
                    F.col("confidence").alias("confidence"),
                ),
                F.struct(
                    F.col("canonical_id").alias("subj"),
                    F.lit("located_in").alias("pred"),
                    F.col("region_id").alias("obj"),
                    F.lit(1.0).alias("confidence"),
                ),
            )
        ).alias("_e")
    ).select("_e.subj", "_e.pred", "_e.obj", "_e.confidence")
    deduped = both.groupBy("subj", "pred", "obj").agg(
        F.max("confidence").alias("confidence")
    )
    spark = canonical_mentions.sparkSession
    backbone = spark.createDataFrame(
        hierarchy_edges(), "subj string, pred string, obj string"
    ).withColumn("confidence", F.lit(1.0))
    return deduped.unionByName(backbone)


def build_nodes(canonical_mentions: DataFrame) -> DataFrame:
    """nodes(node_id, node_type, attrs map<string,string>)."""
    spark = canonical_mentions.sparkSession
    m = canonical_mentions.filter(F.col("canonical_id").isNotNull())
    files = (
        m.select(
            F.concat_ws(":", "repo", "path").alias("node_id"),
            F.col("repo"),
        )
        .dropDuplicates(["node_id"])
        .select(
            "node_id",
            F.lit("file").alias("node_type"),
            F.create_map(F.lit("repo"), F.col("repo")).alias("attrs"),
        )
    )
    addrs = (
        m.select(F.col("canonical_id").alias("node_id"), F.col("canonical_addr"))
        .dropDuplicates(["node_id"])
        .select(
            "node_id",
            F.lit("address").alias("node_type"),
            F.create_map(F.lit("text"), F.col("canonical_addr")).alias("attrs"),
        )
    )
    from ..sources.admin_regions import ADMIN_REGIONS

    regions = spark.createDataFrame(
        [(rid, name) for rid, name, _lvl, _p, _a in ADMIN_REGIONS],
        "node_id string, name string",
    ).select(
        "node_id",
        F.lit("admin_region").alias("node_type"),
        F.create_map(F.lit("name"), F.col("name")).alias("attrs"),
    )
    return files.unionByName(addrs).unionByName(regions)


def write_edges_bucketed(
    edges: DataFrame,
    table: str = "kg_edges_bucketed",
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> DataFrame:
    """Materialize the edge table BUCKETED by subj (bucketBy + sortBy into
    the session catalog) and return the bucketed read. Read-side queries
    keyed on subj — degree counts, per-node rollups, self-joins on subj —
    then plan with ZERO Exchange: the bucket files are the co-location
    (`SelectedBucketsCount` in the scan, partial+final HashAggregate with
    no shuffle between; pinned by tests/test_plans.py). This is the §2.6
    storage-layer answer to the same problem the partial aggregate before
    the exchange solves at shuffle time: write once bucketed, aggregate
    forever shuffle-free.

    At 100 TB: n_buckets should be sized so a bucket fits one task
    (corpus_edges/n_buckets rows); a pathologically hot subj concentrates
    in ONE bucket's task — streaming aggregation keeps memory flat.
    Catalog note: bucketing metadata lives in the session catalog
    (saveAsTable) — on a cluster this is the Hive/Iceberg metastore; plain
    `.parquet()` writes cannot carry it.

    The write REPARTITIONS on the bucket key first (round 4): Spark emits
    one file per (write task × bucket it holds rows of), so bucketing a
    W-task upstream directly produces up to W × n_buckets files — measured
    1033 files for a 25-file edge stage, with every read-side scan paying
    the per-file open cost (3-4× slower reads at 1.3M edges; at 100 TB it
    is a small-files catastrophe). ``repartition(n_buckets, subj)`` uses
    the same pmod(Murmur3) assignment as the bucket spec, so each task
    holds exactly one bucket and the table lands as exactly n_buckets
    files; the extra exchange is one-time write cost, the read-side
    co-location is forever."""
    (
        edges.repartition(n_buckets, F.col("subj"))
        .write.bucketBy(n_buckets, "subj")
        .sortBy("subj")
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )
    return edges.sparkSession.table(table)


def repo_mention_counts(canonical_mentions: DataFrame) -> DataFrame:
    """Per-repo mention counts — the canonical hot-key aggregation (the
    mega-repo holds ~half the rows). The partial aggregate before the
    exchange ships the mega-repo as one row per map partition."""
    return canonical_mentions.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )

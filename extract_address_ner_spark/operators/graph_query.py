"""Read-side queries over the materialized KG (round 3, VERDICT r02 #7).

The pipeline builds nodes/edges (link.py); a real KG consumer's first
queries are degree distributions, per-repo top-k addresses, and rollups
that hop file → address → admin region. Each operator here works on the
``edges(subj, pred, obj, confidence)`` table alone (no upstream pipeline
state), so they run equally over a freshly built edge DataFrame or the
warehouse-persisted edge table.

Scale notes: degree counting keys on nodes — the canonical ids are FEW and
HOT (a handful of dictionary addresses receive edges from half the corpus
via the mega-repo). The counts are algebraic, so a plain ``groupBy`` bounds
them: the partial aggregate before the exchange ships a hot node as one row
per map partition. The file→address→region hop broadcasts the
located_in side (bounded by the admin-region dictionary times the address
vocabulary — a dimension, not a fact). The per-repo top-k ranks run on
pre-aggregated (repo, address) counts — the window input is bounded by
|repos| × |address vocabulary|, not by corpus rows.

Caching contract: the first three reads (``degree_distribution``,
``top_addresses_per_repo``, ``region_rollup``) cache nothing, and each reads
its ``edges`` input once per branch (two branches in the degree
distribution, three in the rollup). The caller must make that cheap. A file
scan (``read_edge_snapshot``, a staged or bucketed table) costs nothing
extra. Neither does an input that ends in a shuffle, as ``build_edges``
does: Spark reuses that exchange across the branches (``ReusedExchange`` in
the plan), so the upstream pipeline runs once. A caller with any other lazy
input materializes it first.

The operators below them that iterate, probe or self-join a subplan persist
it themselves (same contract as operators/dedup.py): MEMORY_AND_DISK,
LRU-evictable and SCOPE-REGISTERED. The blocks outlive the call, so a
long-lived session should wrap materialization in
``dedup.dedup_cache_scope()`` or call ``spark.catalog.clearCache()``
between workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _persist

MENTIONS = "mentions_address"
LOCATED_IN = "located_in"


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(pred, direction, degree, n_nodes): how many nodes have a given
    out-/in-degree, per predicate — the first sanity query over any KG.
    Per-node degrees are a plain count (hot canonical addresses cross the
    exchange once per map partition); the histogram over (pred, degree) is
    uniform by construction. The edges input feeds both direction
    branches (see the module caching contract)."""

    def degrees(node_col: str, direction: str) -> DataFrame:
        per_node = edges.groupBy("pred", F.col(node_col).alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        return per_node.groupBy("pred", "degree").agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        ).select("pred", F.lit(direction).alias("direction"), "degree",
                 "n_nodes")

    return degrees("subj", "out").unionByName(degrees("obj", "in"))


def top_addresses_per_repo(edges: DataFrame, k: int = 3) -> DataFrame:
    """(repo, address_id, n_files, rank): the k most-mentioned canonical
    addresses per repo, by number of distinct mentioning files (each
    mentions_address edge IS one distinct (file, address) pair — the edge
    table is deduped), ties broken by address id. The count's partial
    aggregate before the exchange absorbs the mega-repo skew; the rank
    window runs on the aggregated counts."""
    m = edges.filter(F.col("pred") == MENTIONS).select(
        F.substring_index("subj", ":", 1).alias("repo"),
        F.col("obj").alias("address_id"),
    )
    counts = m.groupBy("repo", "address_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    w = Window.partitionBy("repo").orderBy(
        F.desc("n_files"), F.asc("address_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("repo", "address_id", "n_files", "rank")
    )


def region_rollup(edges: DataFrame) -> DataFrame:
    """(region_id, parent_region_id, n_files, n_addresses): two-hop rollup
    file →(mentions_address) address →(located_in) region, with one more
    backbone hop exposing the region's parent. The located_in side (address
    → region, plus the static region hierarchy) is broadcast — it is
    bounded by the address vocabulary, never by corpus size — so the only
    shuffle is the final distinct-count aggregation. The edges input feeds
    three branches (mentions, located_in, backbone; see the module caching
    contract)."""
    ma = edges.filter(F.col("pred") == MENTIONS).select(
        F.col("subj").alias("file_id"), F.col("obj").alias("address_id")
    )
    li = edges.filter(
        (F.col("pred") == LOCATED_IN) & F.col("subj").startswith("kaddr:")
    ).select(F.col("subj").alias("address_id"), F.col("obj").alias("region_id"))
    backbone = edges.filter(
        (F.col("pred") == LOCATED_IN) & ~F.col("subj").startswith("kaddr:")
    ).select(
        F.col("subj").alias("region_id"),
        F.col("obj").alias("parent_region_id"),
    )
    hop = ma.join(F.broadcast(li), "address_id")
    return (
        hop.groupBy("region_id")
        .agg(
            F.countDistinct("file_id").cast("long").alias("n_files"),
            F.countDistinct("address_id").cast("long").alias("n_addresses"),
        )
        .join(F.broadcast(backbone), "region_id", "left")
        .select("region_id", "parent_region_id", "n_files", "n_addresses")
    )


def k_hop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "subj",
    dst_col: str = "obj",
) -> DataFrame:
    """(node, hops): every node reachable from ``seeds`` in at most ``k``
    directed hops, with ``hops`` = the MINIMUM hop count (seeds themselves
    at 0) — the neighborhood/reachability query every KG consumer asks
    right after degrees ("everything within 3 hops of this repo's files").
    ``seeds`` is a one-column DataFrame (``node``); duplicates are fine.

    Frontier BFS over the distinct (src, dst) pairs: per round exactly one
    shuffle-join of the CURRENT FRONTIER (only the nodes discovered last
    round, never the whole visited set) against the edge list keyed on src,
    plus one anti-join against the visited set — so per-round shuffle
    volume is ∝ frontier out-edges, and the visited set is touched only as
    the anti-join's build side. The loop early-exits when a round
    discovers nothing (diameter < k), checked on the round's
    ``localCheckpoint``-ed frontier — the same per-round plan-truncation
    discipline as ``connected_components_star`` (dedup.py), because a
    k-deep lazy BFS would otherwise nest k joins into one Catalyst tree
    (and re-run round 1 k times under the per-round emptiness action).
    Nothing is collected to the driver; the only per-round driver scalar
    is the emptiness probe. Oracle: DuckDB recursive CTE with the same
    hops-capped min-hop semantics (entry_queries.gold_khop_sql)."""
    ed = _persist(
        edges.select(
            F.col(src_col).alias("_u"), F.col(dst_col).alias("_v")
        ).distinct()
    )
    frontier = (
        seeds.select(F.col("node")).distinct()
        .withColumn("hops", F.lit(0)).localCheckpoint()
    )
    visited = frontier
    for i in range(1, k + 1):
        nxt = (
            frontier.join(ed, frontier["node"] == ed["_u"])
            .select(F.col("_v").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(i))
            .localCheckpoint()  # truncate the per-round plan
        )
        if new.limit(1).count() == 0:  # frontier died: diameter < k
            break
        visited = visited.unionByName(new)
        frontier = new
    return visited.select("node", F.col("hops").cast("int").alias("hops"))


#: The built KG's ontology: allowed (pred, subj node_type, obj node_type)
#: triples — files mention addresses; addresses sit in admin regions;
#: regions roll up to parent regions. integrity_report's default rule set,
#: mirrored verbatim in the DuckDB oracle (entry_queries.gold_integrity_sql).
ONTOLOGY: tuple[tuple[str, str, str], ...] = (
    (MENTIONS, "file", "address"),
    (LOCATED_IN, "address", "admin_region"),
    (LOCATED_IN, "admin_region", "admin_region"),
)

#: concat_ws separator for the (pred, subj_type, obj_type) membership test
#: — never appears in predicate or type names.
_SEP = "\x00"


def integrity_report(
    edges: DataFrame,
    nodes: DataFrame,
    ontology: tuple[tuple[str, str, str], ...] = ONTOLOGY,
    orphan_exempt_types: tuple[str, ...] = ("admin_region",),
) -> DataFrame:
    """(check, n): the KG validation stage — eight structural invariants
    any production construction pipeline asserts before publishing a graph
    build. Checks: ``dangling_subj`` / ``dangling_obj`` (edge endpoints
    absent from the node table), ``orphan_node`` (nodes no edge touches —
    static-dimension types, default the admin-region dictionary, are
    EXEMPT: an unreferenced vocabulary entry is expected, not corruption),
    ``duplicate_triple`` (excess copies beyond the first of each (subj,
    pred, obj)), ``self_loop`` (subj = obj), ``confidence_out_of_range``
    (confidence NULL or outside (0, 1]), ``unknown_pred`` (predicate not
    declared in the ``ontology``), and ``domain_range_violation``
    (known-pred edges whose resolved (subj node_type, obj node_type) pair
    the ontology doesn't allow — endpoints that don't resolve are counted
    by the dangling checks, not double-counted here). Always exactly
    eight rows, counts possibly 0 — a clean build returns all zeros,
    which IS the assertion.

    Scale shape: the two dangling checks are written as ONE anti-join
    over the (node, role)-unpivoted endpoints; Catalyst distributes that
    join across the union's two branches (plan-pinned: exactly one
    LeftAnti per endpoint direction), which shuffles the same 2·|edges|
    endpoint rows either way — the invariant that matters is that each
    edge endpoint is anti-joined against the node-id set exactly ONCE,
    and the role split costs no extra pass. The orphan check anti-joins
    the (distinct) node-id set against the endpoints. ``self_loop``,
    ``confidence_out_of_range`` and ``unknown_pred`` fold into a single
    conditional-aggregate pass over the edge table (map-side partial
    aggregation, one row out; the pred membership test is a pure
    expression — the rule set is tiny). ``duplicate_triple`` is the
    irreducible groupBy(subj, pred, obj) — partial counts map-side,
    excess = Σ(count−1) over groups with count > 1. The domain/range leg
    is the one typed lookup: two shuffle-joins edge→node_type (the node
    table is O(nodes), too big to broadcast at scale — the irreducible
    type-resolution shape), then the allowed-triple test as a pure
    expression, no rules join. Every leg reduces to a SCALAR, the
    one-row legs are cross-joined into one wide row (so each leg executes
    exactly once, in one job, with no driver-side collection), and
    ``stack`` unpivots it to the eight-row report. The edges input feeds
    five legs and is persisted (scope-aware, see dedup.dedup_cache_scope),
    as is the distinct (node_id, node_type) projection feeding three."""
    ed = _persist(edges)
    nt = _persist(nodes.select("node_id", "node_type").distinct())
    node_ids = nt.select(F.col("node_id").alias("node")).distinct()
    known_preds = sorted({p for p, _s, _o in ontology})
    allowed = [f"{p}{_SEP}{s}{_SEP}{o}" for p, s, o in ontology]
    endpoints = ed.select(
        F.col("subj").alias("node"), F.lit("subj").alias("role")
    ).unionByName(
        ed.select(F.col("obj").alias("node"), F.lit("obj").alias("role"))
    )

    dangling = endpoints.join(node_ids, "node", "left_anti").agg(
        F.coalesce(
            F.sum(F.when(F.col("role") == "subj", 1)), F.lit(0)
        ).alias("_ds"),
        F.coalesce(
            F.sum(F.when(F.col("role") == "obj", 1)), F.lit(0)
        ).alias("_do"),
    )
    orphan = (
        nt.filter(~F.col("node_type").isin(list(orphan_exempt_types)))
        .select(F.col("node_id").alias("node"))
        .distinct()
        .join(endpoints.select("node").distinct(), "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("_on"))
    )
    dup = (
        ed.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .agg(F.coalesce(F.sum(F.col("_c") - 1), F.lit(0)).alias("_dup"))
    )
    row_checks = ed.agg(
        F.coalesce(
            F.sum(F.when(F.col("subj") == F.col("obj"), 1)), F.lit(0)
        ).alias("_sl"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("confidence").isNull()
                    | (F.col("confidence") <= 0)
                    | (F.col("confidence") > 1),
                    1,
                )
            ),
            F.lit(0),
        ).alias("_cr"),
        F.coalesce(
            F.sum(F.when(~F.col("pred").isin(known_preds), 1)), F.lit(0)
        ).alias("_up"),
    )
    st = nt.select(
        F.col("node_id").alias("subj"), F.col("node_type").alias("_st")
    )
    ot = nt.select(
        F.col("node_id").alias("obj"), F.col("node_type").alias("_ot")
    )
    domain_range = (
        ed.filter(F.col("pred").isin(known_preds))
        .join(st, "subj")
        .join(ot, "obj")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.concat_ws(
                            _SEP, F.col("pred"), F.col("_st"), F.col("_ot")
                        ).isin(allowed),
                        1,
                    )
                ),
                F.lit(0),
            ).alias("_dr")
        )
    )
    wide = (
        dangling.crossJoin(orphan)
        .crossJoin(dup)
        .crossJoin(row_checks)
        .crossJoin(domain_range)
    )
    return wide.select(
        F.expr(
            "stack(8,"
            " 'dangling_subj', _ds, 'dangling_obj', _do,"
            " 'orphan_node', _on, 'duplicate_triple', _dup,"
            " 'self_loop', _sl, 'confidence_out_of_range', _cr,"
            " 'unknown_pred', _up, 'domain_range_violation', _dr"
            ") AS (check, n)"
        )
    ).select("check", F.col("n").cast("long").alias("n"))


def _capped_repo_addr_sets(edges: DataFrame, cap: int) -> DataFrame:
    """Rank-capped per-repo address sets — one row per kept (repo, addr):
    MENTIONS edges keyed to repo granularity, (repo, addr) mention counts,
    then per repo only the ``cap`` most-mentioned addresses survive
    (count desc, address id as the deterministic tie-break). ONE
    definition shared by ``comention_pairs`` and ``repo_similarity`` (and
    mirrored verbatim by entry_queries.capped_repo_addr_cte) so the
    cap/tie-break rule cannot silently diverge between the two operators
    and their oracles. Returned unpersisted — callers decide caching."""
    m = edges.filter(F.col("pred") == MENTIONS).select(
        F.substring_index("subj", ":", 1).alias("repo"),
        F.col("obj").alias("addr"),
    )
    counts = m.groupBy("repo", "addr").agg(F.count(F.lit(1)).alias("_nf"))
    w = Window.partitionBy("repo").orderBy(F.desc("_nf"), F.asc("addr"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .select("repo", "addr")
    )


def comention_pairs(edges: DataFrame, cap: int = 100) -> DataFrame:
    """(addr_a, addr_b, n_repos): the co-mention projection of the
    bipartite file→address graph at repo granularity — two canonical
    addresses are related when at least one repo mentions both, weighted
    by how many repos do. The "related entities" read every KG consumer
    builds next after top-k: it turns mention edges into an
    address–address similarity graph (input to clustering, recommendations,
    region-mix analysis). Pairs are emitted once with ``addr_a < addr_b``.

    Scale shape: the naive projection self-joins mentions on the repo key
    — a mega-repo mentioning m addresses emits m²/2 pairs, the classic
    hot-key quadratic blowup (same failure mode as an uncapped LSH
    bucket, dedup.py). Defense in the same style: per repo, only the
    ``cap`` most-mentioned addresses enter the pairing (rank by distinct
    mentioning files desc, address id as the deterministic tie-break), so
    per-repo work is ≤ cap² regardless of repo size, and the rank window
    runs on pre-aggregated (repo, address) counts — bounded by the
    address vocabulary, not corpus rows. The truncation is explicit
    operator contract (cap=100 default), not silent: callers sizing for
    a fat-tailed corpus pick cap to taste and the planted-graph test pins
    the deterministic cut. The capped per-repo sets feed BOTH sides of
    the pair join, so they are persisted (scope-aware)."""
    kept = _persist(_capped_repo_addr_sets(edges, cap))
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, "repo")
        .filter(F.col("a.addr") < F.col("b.addr"))
        .groupBy(
            F.col("a.addr").alias("addr_a"), F.col("b.addr").alias("addr_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_repos"))
    )


def pagerank(
    edges: DataFrame, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank over the KG edge table (round 4) —
    (node, pagerank) after exactly ``iterations`` rounds of

        pr(v) = (1 - d)/N + d * Σ_{u→v} pr(u) / outdeg(u)

    over the DISTINCT (src, dst) pairs (the multigraph's parallel edges —
    one per predicate — would otherwise double-count influence). Dangling
    nodes (no out-edges) keep receiving rank but redistribute none; their
    mass is dropped, the common simplified formulation, and the ORACLE
    mirrors it exactly, so the semantics are pinned rather than implied.

    Scale shape: each iteration is one shuffle-join of the edge list with
    the current rank vector (keyed on src) plus one aggregation keyed on
    dst — the irreducible PageRank pattern. Ranks and degrees are O(nodes),
    edges O(edges); nothing is collected to the driver except the single
    node COUNT for the teleport constant. Fixed iteration count (not a
    convergence probe) keeps the whole computation ONE lazy plan — no
    per-round action — so the edge list and node set are persisted (the
    final action references each several times across iterations) under
    the module's scope-registered caching contract (see module docstring);
    per-round rank persists are markers the single materialization fills.
    Output is rounded to 6dp — the per-engine float-summation-order noise
    is ~1e-16 relative, far below the rounding grain, which is what makes
    the result exactly oracle-comparable."""
    ed = _persist(
        edges.select(F.col("subj").alias("_u"), F.col("obj").alias("_v"))
        .distinct()
    )
    outdeg = ed.groupBy("_u").agg(
        F.count(F.lit(1)).cast("double").alias("_deg")
    )
    nodes = _persist(
        ed.select(F.col("_u").alias("node"))
        .union(ed.select(F.col("_v").alias("node")))
        .distinct()
    )
    # ed ⋈ outdeg is ITERATION-INVARIANT — join it once and persist (round
    # 6): only exchanges are deduplicated across a plan (ReusedExchange),
    # not identical join subtrees, so the old per-iteration
    # ed⋈ranks⋈outdeg re-executed the degree join every round. One join
    # per iteration now; arithmetic unchanged (outdeg is one row per _u).
    ed_deg = _persist(ed.join(outdeg, "_u"))
    n = nodes.count()  # one driver scalar: the teleport constant's N
    ranks = _persist(nodes.withColumn("_pr", F.lit(1.0 / n)))
    teleport = (1.0 - damping) / n
    for _round in range(iterations):
        contrib = (
            ed_deg.join(ranks, ed_deg["_u"] == ranks["node"])
            .select(
                F.col("_v").alias("node"),
                (F.col("_pr") / F.col("_deg")).alias("_c"),
            )
        )
        new_ranks = _persist(nodes.join(
            contrib.groupBy("node").agg(F.sum("_c").alias("_s")),
            "node",
            "left",
        ).select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("_pr"),
        ))
        ranks.unpersist()
        ranks = new_ranks
    return ranks.select(
        "node", F.round("_pr", 6).cast("double").alias("pagerank")
    )


def triangle_stats(
    pairs: DataFrame, a_col: str = "addr_a", b_col: str = "addr_b"
) -> DataFrame:
    """(node, degree, triangles, clustering): per-node triangle counts and
    local clustering coefficient over an undirected simple graph given as
    canonical pairs (``a_col < b_col``, each edge once) — the density /
    community-structure read over the co-mention projection
    (``comention_pairs``): a high-clustering address sits inside a tight
    co-mention clique (one neighborhood's address vocabulary), a
    low-clustering high-degree one is a hub bridging unrelated repos.
    Global triangle count = sum(triangles) / 3.

    Scale shape — the naive wedge enumeration is the classic quadratic
    trap: a degree-d hub generates d(d-1)/2 wedge candidates, and the
    co-mention graph HAS hubs (a dictionary address mentioned by half the
    corpus). The standard fix (node-iterator++ / the MapReduce formulation
    of Suri & Vassilvitskii, WWW'11) orients every edge from the
    (degree, id)-SMALLER endpoint to the larger one; each triangle then has
    exactly one apex whose two out-edges form the wedge, and the oriented
    out-degree of ANY node — hub or not — is bounded by O(sqrt(2m)), so
    per-apex wedge work never exceeds O(m) total regardless of the degree
    distribution. The wedge self-join keys on the apex; the closing-edge
    probe is an equi-join on the canonical (lo, hi) pair key. Everything
    is plain joins + aggregations: one degree aggregation, two keyed joins
    to attach endpoint degrees, the apex-keyed wedge join, the pair-keyed
    closing join, and the final per-node count — no driver-side state, no
    cross join (plan-pinned, tests/test_plans.py). ``pairs`` feeds the
    orientation AND the closing probe, and the oriented table feeds both
    wedge sides, so both are persisted (scope-registered — see the module
    caching contract).

    Clustering = 2·t / (d·(d−1)) for d ≥ 2 else 0.0, rounded to 6dp —
    the values are exact small rationals, so the rounding makes the result
    exactly oracle-comparable (same grain argument as ``pagerank``)."""
    pairs = _persist(
        pairs.select(
            F.col(a_col).alias("_pa"), F.col(b_col).alias("_pb")
        ).distinct()
    )
    deg = _persist(
        pairs.select(F.col("_pa").alias("node"))
        .unionAll(pairs.select(F.col("_pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    with_deg = pairs.join(
        deg.select(F.col("node").alias("_pa"), F.col("degree").alias("_da")),
        "_pa",
    ).join(
        deg.select(F.col("node").alias("_pb"), F.col("degree").alias("_db")),
        "_pb",
    )
    # orient (deg, id)-low → high; _pa < _pb by contract, so ties keep _pa
    a_is_src = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_pa") < F.col("_pb"))
    )
    oriented = _persist(
        with_deg.select(
            F.when(a_is_src, F.col("_pa")).otherwise(F.col("_pb")).alias("_src"),
            F.when(a_is_src, F.col("_pb")).otherwise(F.col("_pa")).alias("_dst"),
        )
    )
    wedges = (
        oriented.select("_src", F.col("_dst").alias("_v"))
        .join(oriented.select("_src", F.col("_dst").alias("_w")), "_src")
        .filter(F.col("_v") < F.col("_w"))  # one wedge per dst pair
    )
    tri = wedges.join(
        pairs,
        (wedges["_v"] == pairs["_pa"]) & (wedges["_w"] == pairs["_pb"]),
    ).select("_src", "_v", "_w")
    tc = tri.select(
        F.explode(F.array("_src", "_v", "_w")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("_t"))
    return deg.join(tc, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce(F.col("_t"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).cast("double").alias("clustering"),
    )


def repo_similarity(
    edges: DataFrame, cap: int = 100, max_df: int = 1000
) -> DataFrame:
    """(repo_a, repo_b, n_shared, jaccard): the related-REPOSITORIES read —
    Jaccard similarity of two repos' canonical-address vocabularies, the
    dual of ``comention_pairs`` (project the bipartite repo→address graph
    onto the repo side instead of the address side). Pairs are emitted
    once with ``repo_a < repo_b``; only pairs sharing ≥1 address appear
    (disjoint repos have jaccard 0 by definition and would be |repos|²/2
    rows of zeros).

    Scale shape — two quadratic blowups, each with its own bound:

    1. Mega-repo vocabulary: a repo's set enters through the SAME
       per-repo rank cap as ``comention_pairs`` (top-``cap`` addresses by
       mention count, address-id tie-break) so any one repo contributes
       ≤ cap rows to the index.
    2. Ubiquitous address: pair generation is an inverted-index join
       keyed on the address, and an address mentioned by r repos emits
       r²/2 pairs — the hot-key quadratic again, this time on the
       dictionary head (a capital-city address half the corpus mentions).
       Defense is the standard similarity-join document-frequency filter:
       addresses kept by more than ``max_df`` repos are dropped from the
       index BEFORE pairing. Ubiquity is exactly what makes them useless
       as similarity signal, so the filter removes the quadratic keys and
       the noise in one move — explicit operator contract (like the LSH
       bucket cap / co-mention cap), never a silent truncation.

    Jaccard is computed over the capped+filtered sets (n_shared /
    (|A| + |B| − n_shared)), so the reported similarity is consistent
    with its own index. Set sizes are distinct-address counts (the kept
    table is one row per (repo, addr) by construction). 6dp rounding:
    unions are small integers, whose reciprocals never terminate exactly
    at the 7th decimal digit, so cross-engine rounding cannot disagree
    (same grain argument as ``pagerank``). The filtered index feeds both
    join sides and the size table, so it is persisted (scope-registered —
    see the module caching contract)."""
    kept = _capped_repo_addr_sets(edges, cap)
    rare = (
        kept.groupBy("addr")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("addr")
    )
    kept = _persist(kept.join(rare, "addr"))
    sizes = _persist(
        kept.groupBy("repo").agg(F.count(F.lit(1)).alias("_sz"))
    )
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(b, "addr")
        .filter(F.col("a.repo") < F.col("b.repo"))
        .groupBy(
            F.col("a.repo").alias("repo_a"), F.col("b.repo").alias("repo_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("repo").alias("repo_a"),
                         F.col("_sz").alias("_sa")),
            "repo_a",
        )
        .join(
            sizes.select(F.col("repo").alias("repo_b"),
                         F.col("_sz").alias("_sb")),
            "repo_b",
        )
        .select(
            "repo_a",
            "repo_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("_sa") + F.col("_sb") - F.col("n_shared")),
                6,
            ).cast("double").alias("jaccard"),
        )
    )


def label_propagation(
    pairs: DataFrame,
    iterations: int = 3,
    a_col: str = "addr_a",
    b_col: str = "addr_b",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(node, community_id): SYNCHRONOUS label propagation over an
    undirected simple graph given as canonical pairs (``a_col < b_col``)
    — community detection FINER than connected components: a bridge edge
    joins two cliques into one component, but under LPA each clique
    converges to its own internal label, so the cliques stay separate
    communities (pinned by the two-triangles-plus-bridge test). Labels
    start as the node's own id; each round every node adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label — fully deterministic, unlike the asynchronous/random-order
    formulations, which is what makes the result oracle-comparable. A
    fixed iteration count (default 3) rather than a convergence probe:
    synchronous LPA can oscillate on bipartite structures, so bounded
    rounds are the honest contract (same reasoning as fixed-iteration
    ``pagerank``), and the unrolled-CTE SQL oracle mirrors the count
    exactly.

    Scale shape: per round ONE join of the symmetrized edge list with the
    O(nodes) label table (keyed on the neighbor), one (node, label)
    count aggregation (map-side combinable), and one groupBy-min over a
    (−count, label) struct — the argmax-by-struct-ordering trick, so the
    per-node winner needs NO window/sort and hub nodes cost only their
    aggregation fan-in. Per-round ``localCheckpoint`` truncates the
    otherwise iterations-nested plan (the components/BFS discipline).
    ``nodes``, if given, is a 1-column DataFrame adding isolated nodes
    (they keep their own label); otherwise nodes = pair endpoints."""
    e = pairs.select(
        F.col(a_col).alias("_u"), F.col(b_col).alias("_v")
    ).filter(F.col("_u") != F.col("_v")).distinct()
    sym = e.select(F.col("_u").alias("x"), F.col("_v").alias("nbr")).union(
        e.select(F.col("_v").alias("x"), F.col("_u").alias("nbr"))
    ).localCheckpoint()
    if nodes is None:
        node_df = sym.select(F.col("x").alias("node")).distinct()
    else:
        node_df = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    node_df = node_df.localCheckpoint()
    labels = node_df.select("node", F.col("node").alias("lbl"))
    for _ in range(iterations):
        nb = sym.join(
            labels.select(F.col("node").alias("nbr"), F.col("lbl").alias("nbl")),
            "nbr",
        )
        cnt = nb.groupBy("x", "nbl").agg(F.count(F.lit(1)).alias("_c"))
        pick = (
            cnt.groupBy("x")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("nc"), F.col("nbl").alias("l"))
                ).alias("_m")
            )
            .select(F.col("x").alias("node"), F.col("_m.l").alias("_new"))
        )
        labels = (
            node_df.join(labels, "node")
            .join(pick, "node", "left")
            .select(
                "node", F.coalesce(F.col("_new"), F.col("lbl")).alias("lbl")
            )
            .localCheckpoint()
        )
    return labels.select("node", F.col("lbl").alias("community_id"))


def weighted_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "subj",
    dst_col: str = "obj",
    cost_col: str = "cost",
) -> DataFrame:
    """(node, dist): the minimum total ``cost`` over directed paths of at
    most ``k`` edges from any seed — the weighted companion to
    :func:`k_hop_reachability` (hops answer "how far"; this answers "how
    trustworthy is the cheapest derivation chain" when cost encodes edge
    confidence). ``seeds`` is a one-column DataFrame (``node``); costs must
    be non-negative — a negative cost breaks the frontier argument on ANY
    engine, so a negative min is rejected loudly up front.

    Frontier Bellman-Ford: parallel edges collapse to min-cost per (src,
    dst) once up front (one scalar probe on that persisted table is the
    negative-cost guard); per round the CURRENT FRONTIER (only nodes whose
    best distance improved last round, never the full settled set) joins
    the edge list keyed on src, candidates take a map-side-combinable
    per-node min, and one left join against the running best keeps strict
    improvements. Per-round shuffle volume is ∝ frontier out-edges, the
    per-round ``localCheckpoint`` truncates the plan (a k-deep lazy chain
    would nest k joins into one Catalyst tree), and the loop early-exits
    the round nothing improves — with non-negative costs a cycle never
    improves, so termination needs no visited bookkeeping. After round i
    the running best equals the min cost over paths of ≤ i edges (each
    improvement re-enters the frontier, so a prefix that got cheaper
    re-propagates), which is exactly the hop-capped recursive-CTE oracle
    semantics (entry_queries.gold_shortest_paths_sql). Accumulation order
    is along the path on both engines (dist + w, left to right), so the
    doubles are bit-identical cross-engine; callers round for display.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    ed = _persist(
        edges.groupBy(
            F.col(src_col).alias("_u"), F.col(dst_col).alias("_v")
        ).agg(F.min(cost_col).alias("_w"))
    )
    if ed.filter(F.col("_w") < 0).limit(1).count() > 0:
        raise ValueError(f"negative edge cost in column {cost_col!r}")
    best = (
        seeds.select("node").distinct()
        .withColumn("dist", F.lit(0.0).cast("double"))
        .localCheckpoint()
    )
    frontier = best
    for _ in range(k):
        cand = (
            frontier.join(ed, frontier["node"] == ed["_u"])
            .select(F.col("_v").alias("node"),
                    (F.col("dist") + F.col("_w")).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(best.select("node", F.col("dist").alias("_bd")),
                      "node", "left")
            .filter(F.col("_bd").isNull() | (F.col("dist") < F.col("_bd")))
            .select("node", "dist")
            .localCheckpoint()  # truncate the per-round plan
        )
        if improved.limit(1).count() == 0:  # fixpoint before the hop cap
            break
        best = (
            best.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        frontier = improved
    return best

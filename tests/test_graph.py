"""Validation, canonicalization, linking, graph materialization."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from extract_address_ner_spark import oracle
from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.link import build_edges, build_nodes
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import (
    road_address_gate,
    validate_addresses,
)
from extract_address_ner_spark.sources import corpus as C
from extract_address_ner_spark.sources.admin_regions import hierarchy_edges


def test_validate_matches_reference_oracle(spark):
    """Spark rlike validation == pure-Python re.search oracle (P7), on
    positives, negatives, and the quirky '서울시 강동구'-style accepts."""
    texts = C.PLANTED_ADDRESSES + [
        C.ALIAS_VARIANT,
        "서울시 강동구",
        "경기도",
        "서울시 강남구 신사동 123길",
        "경기도 성남시 분당동",
        "hello world",
        "부산광역시 해운대구 우동 센텀로",
    ]
    df = spark.createDataFrame(pd.DataFrame({"mention_text": texts}))
    got = {
        r["mention_text"]: (r["is_valid"], r["valid_confidence"])
        for r in validate_addresses(df).collect()
    }
    for t in texts:
        want_valid, want_conf = oracle.validate_address_pattern(t)
        assert got[t] == (want_valid, want_conf), t


def test_feedback_sink_append(spark, tmp_path):
    """The validate stage's write-on-read side effect (app/main.py:133):
    verdicts append to training_data with text == address; repeated batches
    accumulate (S4/S5 semantics)."""
    from extract_address_ner_spark.operators.validate import append_training_data

    df = spark.createDataFrame(
        pd.DataFrame({"mention_text": ["서울시 강동구", "hello"]})
    )
    d = str(tmp_path / "training_data")
    append_training_data(df, d, "2026-01-01T00:00:00")
    append_training_data(df, d, "2026-01-02T00:00:00")
    rows = spark.read.parquet(d).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["text"] == r["address"]
        assert r["created_at"] is not None
    verdicts = {(r["address"], r["is_valid"]) for r in rows}
    assert ("서울시 강동구", True) in verdicts  # the reference regex quirk
    assert ("hello", False) in verdicts


def test_road_gate(spark):
    keep = C.PLANTED_ADDRESSES + [C.ALIAS_VARIANT]
    drop = ["경기도", "서울시 강동구", "서울특별시 강남구"]
    df = spark.createDataFrame(
        pd.DataFrame({"mention_text": keep + drop})
    )
    got = {r["mention_text"] for r in road_address_gate(df).collect()}
    assert got == set(keep)


def test_canonicalize_alias_expansion(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"mention_text": [C.ALIAS_VARIANT, C.PLANTED_ADDRESSES[1],
                                       "모름 어딘가 123로"]})
    )
    rows = {r["mention_text"]: r for r in canonicalize_mentions(df).collect()}
    assert rows[C.ALIAS_VARIANT]["canonical_addr"] == C.ALIAS_VARIANT_CANONICAL
    assert rows[C.ALIAS_VARIANT]["region_id"] == "kr/seoul"
    assert rows[C.ALIAS_VARIANT]["canonical_id"] == (
        "kaddr:" + C.ALIAS_VARIANT_CANONICAL.replace(" ", "/")
    )
    assert rows[C.PLANTED_ADDRESSES[1]]["region_id"] == "kr/gyeonggi"
    # unknown leading token → NULLs, row kept
    assert rows["모름 어딘가 123로"]["canonical_id"] is None


def test_edges_and_nodes(spark, sf_smoke):
    m = extract_mentions(C.corpus_from_documents(spark, sf_smoke))
    cm = canonicalize_mentions(road_address_gate(m))
    edges = build_edges(cm).collect()
    preds = {r["pred"] for r in edges}
    assert preds == {"mentions_address", "located_in"}
    # backbone present
    backbone = set(hierarchy_edges())
    got_located = {(r["subj"], r["pred"], r["obj"]) for r in edges
                   if r["pred"] == "located_in"}
    assert backbone <= got_located
    # triples unique
    keys = [(r["subj"], r["pred"], r["obj"]) for r in edges]
    assert len(keys) == len(set(keys))
    # every mention edge subject is a file node, every object an address node
    nodes = build_nodes(cm).collect()
    by_type = {}
    for r in nodes:
        by_type.setdefault(r["node_type"], set()).add(r["node_id"])
    for r in edges:
        if r["pred"] == "mentions_address":
            assert r["subj"] in by_type["file"]
            assert r["obj"] in by_type["address"]
    # attrs maps populated
    attrs = {r["node_id"]: r["attrs"] for r in nodes}
    some_addr = next(iter(by_type["address"]))
    assert "text" in attrs[some_addr]


def test_validate_divergence_pinned(spark):
    """PINNED reference quirk (do NOT 'fix' — see OPERATORS.md §2.2 P7 note):
    the reference's validate_address_pattern regexes require a 동/읍/면
    component, so they REJECT its own road-name positive samples and ACCEPT
    bare region fragments. road_address_gate (the pipeline's actual
    precision gate) has the opposite, structural behavior."""
    from extract_address_ner_spark.operators.validate import (
        road_address_gate,
        validate_addresses,
    )

    cases = [
        # (mention, validate_addresses verdict, passes road_address_gate)
        ("서울특별시 강남구 테헤란로 123번길 45", False, True),
        ("경기도 성남시 분당구 판교역로 235", False, True),
        ("부산광역시 해운대구 해운대해변로 264", False, True),
        ("서울시 강동구", True, False),          # bare fragment
        ("서울특별시 강남구 역삼동 123번지", True, True),  # 동-style address
    ]
    df = spark.createDataFrame(
        [(m,) for m, _v, _g in cases], "mention_text string")
    verdicts = {r["mention_text"]: r["is_valid"]
                for r in validate_addresses(df).collect()}
    gated = {r["mention_text"] for r in road_address_gate(df).collect()}
    for mention, valid, passes_gate in cases:
        assert verdicts[mention] is valid, mention
        assert (mention in gated) is passes_gate, mention


def test_pagerank_matches_reference_implementation(spark, jobs_run_by):
    """pagerank (round 4) against an independent driver-side reference on a
    small fixed graph: same fixed-iteration, dangling-mass-dropped
    semantics, exact to the 6dp output rounding. The graph mixes a hub, a
    chain, a dangling sink, and a parallel-predicate duplicate edge (which
    must NOT double-count — the operator works on distinct (src, dst)).
    The rounds build one lazy plan: a round that ran an action of its own
    would run it while the plan is built, so doubling the rounds must not
    add a job there. (The collect itself runs more jobs for more rounds:
    AQE submits each of its query stages as a job.)"""
    rows = [
        ("a", "p1", "b"), ("a", "p2", "b"),  # parallel edge: counts once
        ("a", "p1", "c"), ("b", "p1", "c"),
        ("c", "p1", "d"),                     # d is dangling (no out-edges)
        ("e", "p1", "a"),
    ]
    edges = spark.createDataFrame(rows, "subj string, pred string, obj string")
    from extract_address_ner_spark.operators.dedup import dedup_cache_scope
    from extract_address_ner_spark.operators.graph_query import pagerank

    def build_jobs(iterations):
        # a scope per call: the second call must not read the first's cache
        with dedup_cache_scope():
            ranked, n_jobs = jobs_run_by(
                lambda: pagerank(edges, iterations=iterations))
            return ranked.collect(), n_jobs

    rows3, jobs3 = build_jobs(3)
    _, jobs6 = build_jobs(6)
    assert jobs3 == jobs6, (jobs3, jobs6)
    got = {r["node"]: r["pagerank"] for r in rows3}

    pairs = sorted({(s, o) for s, _p, o in rows})
    nodes = sorted({n for p in pairs for n in p})
    n, d = len(nodes), 0.85
    outdeg = {u: sum(1 for a, _ in pairs if a == u) for u in nodes}
    pr = {u: 1.0 / n for u in nodes}
    for _ in range(3):
        nxt = {}
        for v in nodes:
            s = sum(pr[u] / outdeg[u] for u, w in pairs if w == v)
            nxt[v] = (1 - d) / n + d * s
        pr = nxt
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == round(pr[v], 6), (v, got[v], pr[v])
    # dangling mass is dropped, so total rank sums to < 1 here
    assert sum(got.values()) < 1.0


def test_k_hop_reachability_min_hops(spark):
    """k_hop_reachability (round 5) on a planted graph exercising the BFS
    invariants: min-hop wins when two paths reach the same node (diamond),
    cycles don't loop (a→b→…→a), nodes past k hops stay out, and the
    early-exit fires when the frontier dies before k."""
    rows = [
        ("s", "p", "a"), ("s", "p", "b"),       # hop 1
        ("a", "p", "t"),                          # t at hop 2 via a
        ("b", "p", "c"), ("c", "p", "t"),        # …and hop 3 via b→c: min=2
        ("t", "p", "s"),                          # cycle back to the seed
        ("t", "p", "far"), ("far", "p", "beyond"),  # hop 3, 4
        ("x", "p", "y"),                          # unreachable island
    ]
    edges = spark.createDataFrame(rows, "subj string, pred string, obj string")
    seeds = spark.createDataFrame([("s",)], "node string")
    from extract_address_ner_spark.operators.graph_query import (
        k_hop_reachability,
    )

    got = {r["node"]: r["hops"]
           for r in k_hop_reachability(edges, seeds, k=3).collect()}
    assert got == {"s": 0, "a": 1, "b": 1, "t": 2, "c": 2, "far": 3}
    # k past the diameter: early-exit, full reachable closure, island out
    got6 = {r["node"]: r["hops"]
            for r in k_hop_reachability(edges, seeds, k=6).collect()}
    assert got6 == {**got, "beyond": 4}
    assert "x" not in got6 and "y" not in got6
    # duplicate seed rows collapse; a seed node reached again keeps hops=0
    dup_seeds = spark.createDataFrame([("s",), ("s",)], "node string")
    assert {r["node"]: r["hops"]
            for r in k_hop_reachability(edges, dup_seeds, k=3).collect()
            } == got


def test_weighted_shortest_paths_planted(spark):
    """weighted_shortest_paths (round 5) on a planted graph pinning the
    Bellman-Ford invariants the registry query's near-uniform corpus
    weights can't discriminate: a CHEAPER longer path beats a heavier
    direct edge (and the improvement re-propagates downstream), parallel
    edges collapse to their min cost, the hop cap excludes the cheap route
    when it needs too many edges, zero-cost cycles terminate, and negative
    costs are rejected loudly."""
    rows = [
        ("s", "t", 10.0),                      # direct but heavy
        ("s", "a", 1.0), ("a", "b", 1.0), ("b", "t", 1.0),  # 3 hops, cost 3
        ("s", "a", 5.0),                        # parallel edge: min wins
        ("t", "d", 1.0),                        # improvement must propagate
        ("t", "s", 0.0),                        # zero-cost cycle to the seed
        ("x", "y", 1.0),                        # unreachable island
    ]
    edges = spark.createDataFrame(rows, "subj string, obj string, cost double")
    seeds = spark.createDataFrame([("s",)], "node string")
    from extract_address_ner_spark.operators.graph_query import (
        weighted_shortest_paths,
    )

    def run(k):
        return {r["node"]: r["dist"]
                for r in weighted_shortest_paths(
                    edges, seeds, k, dst_col="obj").collect()}

    # k=4: the 3-hop cost-3 route wins over the direct cost-10 edge, and
    # d sees the improved t (3 + 1); s stays 0 through the cycle
    assert run(4) == {"s": 0.0, "a": 1.0, "b": 2.0, "t": 3.0, "d": 4.0}
    # k=2: only the heavy direct edge fits the hop budget for t
    assert run(2) == {"s": 0.0, "a": 1.0, "b": 2.0, "t": 10.0, "d": 11.0}
    # k past the diameter: early-exit, island stays out
    assert run(9) == run(4)
    # negative cost: loud rejection, not a silent wrong fixpoint
    neg = spark.createDataFrame(
        [("s", "t", -1.0)], "subj string, obj string, cost double"
    )
    with pytest.raises(ValueError, match="negative"):
        weighted_shortest_paths(neg, seeds, k=2, dst_col="obj")


def test_integrity_report_detects_planted_corruption(spark):
    """integrity_report (round 5) on a planted corrupt graph: every check
    fires with the exact expected count, and a clean graph reports eight
    zeros (the all-clear IS the assertion). The planted ontology allows
    only p: t→t, so the q edges are unknown_pred and the t→weird edge is
    the domain/range violation (its endpoints RESOLVE — dangling endpoints
    must not double-count there). The edge-less admin_region node pins the
    static-dimension orphan exemption (unreferenced vocabulary is not
    corruption)."""
    from extract_address_ner_spark.operators.graph_query import (
        integrity_report,
    )

    edges = spark.createDataFrame(
        [
            ("a", "p", "b", 0.9),
            ("a", "p", "b", 0.9),      # duplicate_triple: 1 excess copy
            ("a", "p", "b", 0.9),      # …and a second excess copy
            ("b", "p", "c", 1.0),
            ("c", "p", "c", 0.5),      # self_loop
            ("c", "p", "ghost", 0.7),  # dangling_obj (ghost not a node)
            ("phantom", "p", "a", 0.7),  # dangling_subj
            ("b", "q", "a", 1.5),      # unknown_pred + confidence > 1
            ("a", "q", "c", 0.0),      # unknown_pred + confidence <= 0
            ("a", "p", "w", 0.9),      # domain_range_violation (t → weird)
        ],
        "subj string, pred string, obj string, confidence double",
    )
    nodes = spark.createDataFrame(
        [("a", "t"), ("b", "t"), ("c", "t"),
         ("island", "t"),           # orphan
         ("dim", "admin_region"),   # edge-less but EXEMPT (static dim)
         ("w", "weird")],
        "node_id string, node_type string",
    )
    ontology = (("p", "t", "t"),)
    got = {r["check"]: r["n"]
           for r in integrity_report(edges, nodes, ontology).collect()}
    assert got == {
        "dangling_subj": 1,
        "dangling_obj": 1,
        "orphan_node": 1,
        "duplicate_triple": 2,
        "self_loop": 1,
        "confidence_out_of_range": 2,
        "unknown_pred": 2,
        "domain_range_violation": 1,
    }
    clean_edges = edges.filter(
        (F.col("subj") != F.col("obj"))
        & ~F.col("subj").isin("phantom")
        & ~F.col("obj").isin("ghost", "w")
        & F.col("confidence").between(0.1, 1.0)
    ).distinct()
    clean_nodes = nodes.filter(~F.col("node_id").isin("island", "w"))
    clean = {
        r["check"]: r["n"]
        for r in integrity_report(
            clean_edges, clean_nodes, ontology
        ).collect()
    }
    assert clean == {k: 0 for k in got}


def test_comention_pairs_cap_and_weights(spark):
    """comention_pairs (round 5) on a planted mention graph: pair weights
    count co-mentioning repos, pairs are emitted once as addr_a < addr_b,
    non-mention predicates are ignored, and the fan-out cap keeps exactly
    the top-`cap` addresses per repo (by file count desc, then address id
    — the deterministic cut)."""
    from extract_address_ner_spark.operators.graph_query import (
        comention_pairs,
    )

    rows = [
        # r1 mentions A (2 files), B (1 file), C (1 file)
        ("r1:f1", "mentions_address", "A", 0.85),
        ("r1:f2", "mentions_address", "A", 0.85),
        ("r1:f2", "mentions_address", "B", 0.85),
        ("r1:f3", "mentions_address", "C", 0.85),
        # r2 mentions A and B -> pair (A,B) shared by r1 and r2
        ("r2:f1", "mentions_address", "A", 0.85),
        ("r2:f1", "mentions_address", "B", 0.85),
        # backbone noise must not contribute
        ("A", "located_in", "kr/seoul", 1.0),
    ]
    edges = spark.createDataFrame(
        rows, "subj string, pred string, obj string, confidence double"
    )
    got = {(r["addr_a"], r["addr_b"]): r["n_repos"]
           for r in comention_pairs(edges).collect()}
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}
    # cap=2 in r1 keeps A (2 files) then B (ties C at 1 file, id wins):
    # (A,C)/(B,C) vanish, (A,B) survives via both repos
    capped = {(r["addr_a"], r["addr_b"]): r["n_repos"]
              for r in comention_pairs(edges, cap=2).collect()}
    assert capped == {("A", "B"): 2}


def test_triangle_stats_planted_graph(spark):
    """triangle_stats (round 5) on K4 plus a pendant edge: every K4 corner
    sits in 3 of the 4 triangles; the corner carrying the pendant has
    degree 4 so its clustering halves; the pendant itself has none. A
    second check pins a triangle whose apex is NOT the string-order
    minimum (degree orientation must still count it exactly once)."""
    from extract_address_ner_spark.operators.graph_query import (
        triangle_stats,
    )

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d"), ("d", "e")]
    pairs = spark.createDataFrame(k4, "addr_a string, addr_b string")
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
           for r in triangle_stats(pairs).collect()}
    assert got == {
        "a": (3, 3, 1.0),
        "b": (3, 3, 1.0),
        "c": (3, 3, 1.0),
        "d": (4, 3, 0.5),
        "e": (1, 0, 0.0),
    }
    # star-with-one-closure: hub "a" has max degree, so the triangle's
    # apex under (degree, id) orientation is "b" — not the string minimum
    star = [("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"), ("b", "c")]
    got2 = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
            for r in triangle_stats(
                spark.createDataFrame(star, "addr_a string, addr_b string")
            ).collect()}
    assert got2 == {
        "a": (4, 1, round(2 * 1 / (4 * 3), 6)),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "d": (1, 0, 0.0),
        "e": (1, 0, 0.0),
    }


def test_repo_similarity_planted_graph(spark):
    """repo_similarity (round 5): r1={A,B,C}, r2={B,C,D}, r3={E} —
    r1/r2 share {B,C} → jaccard 2/4; r3 is disjoint so no row. With
    max_df=1, every shared address is ubiquitous and the result is
    empty; with cap=1, each repo keeps only its most-mentioned address
    (nf desc, addr tie-break) so only an A-vs-A overlap survives."""
    from extract_address_ner_spark.operators.graph_query import (
        repo_similarity,
    )

    def e(repo, path, addr, n=1):
        return [(f"{repo}:{path}{i}", "mentions_address", addr, 0.9)
                for i in range(n)]

    rows = (e("r1", "f", "A", 2) + e("r1", "g", "B") + e("r1", "h", "C")
            + e("r2", "f", "B") + e("r2", "g", "C") + e("r2", "h", "D")
            + e("r3", "f", "E"))
    edges = spark.createDataFrame(
        rows, "subj string, pred string, obj string, confidence double")
    got = {(r["repo_a"], r["repo_b"]): (r["n_shared"], r["jaccard"])
           for r in repo_similarity(edges).collect()}
    assert got == {("r1", "r2"): (2, 0.5)}
    # ubiquity filter: every address kept by >1 repo drops out
    assert repo_similarity(edges, max_df=1).count() == 0
    # rank cap: r1 keeps A (nf=2), r2 keeps B (tie → addr asc) — disjoint
    assert repo_similarity(edges, cap=1).count() == 0
    # cap determinism with an overlap: r4 most-mentions A too
    rows4 = rows + e("r4", "f", "A", 3) + e("r4", "g", "Z")
    edges4 = spark.createDataFrame(
        rows4, "subj string, pred string, obj string, confidence double")
    got4 = {(r["repo_a"], r["repo_b"]): (r["n_shared"], r["jaccard"])
            for r in repo_similarity(edges4, cap=1).collect()}
    assert got4 == {("r1", "r4"): (1, 1.0)}


def test_graph_communities_composition_planted(spark):
    """graph_communities composition (round 5): co-mention pairs feed the
    star components — r1 co-mentions {A,B}, r2 co-mentions {B,C} so
    {A,B,C} is one community labeled by its min id with size 3; address D
    (mentioned, never co-mentioned) is its own size-1 community."""
    from extract_address_ner_spark.operators.dedup import (
        connected_components_star,
    )
    from extract_address_ner_spark.operators.graph_query import (
        comention_pairs,
    )
    from pyspark.sql import functions as F

    rows = [("r1:f", "mentions_address", "A", 0.9),
            ("r1:g", "mentions_address", "B", 0.9),
            ("r2:f", "mentions_address", "B", 0.9),
            ("r2:g", "mentions_address", "C", 0.9),
            ("r3:f", "mentions_address", "D", 0.9)]
    edges = spark.createDataFrame(
        rows, "subj string, pred string, obj string, confidence double")
    pairs = comention_pairs(edges).select(
        F.col("addr_a").alias("id_a"), F.col("addr_b").alias("id_b"))
    nodes = (edges.filter(F.col("pred") == "mentions_address")
             .select(F.col("obj").alias("addr")).distinct())
    comp = connected_components_star(nodes, pairs, id_col="addr")
    got = {r["addr"]: r["component_id"] for r in comp.collect()}
    assert got == {"A": "A", "B": "A", "C": "A", "D": "D"}


def test_label_propagation_two_triangles_bridge(spark):
    """label_propagation (round 5): triangles {a,b,c} and {x,y,z} joined
    by bridge c–x form ONE connected component but TWO LPA communities —
    after 3 synchronous rounds (hand-unrolled: min-label ties round 1,
    majority pull rounds 2-3) the left triangle converges to 'a' and the
    right to 'c' (the bridge exports c's label, not a merged one). An
    isolated node keeps its own label via the `nodes` argument."""
    from extract_address_ner_spark.operators.graph_query import (
        label_propagation,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"),
         ("x", "y"), ("x", "z"), ("y", "z"),
         ("c", "x")],
        "addr_a string, addr_b string",
    )
    got = {r["node"]: r["community_id"]
           for r in label_propagation(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "c", "y": "c", "z": "c"}
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",), ("lone",)],
        "addr string")
    got2 = {r["node"]: r["community_id"]
            for r in label_propagation(pairs, nodes=nodes).collect()}
    assert got2["lone"] == "lone"
    assert {k: v for k, v in got2.items() if k != "lone"} == got

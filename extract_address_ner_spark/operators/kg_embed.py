"""Distributed KG-embedding training (TransE) — numpy, no torch.

Closes the loop on ``kg_export.corruption_pairs``: train entity/relation
embeddings on the KG's own triples so downstream consumers get a learned
representation (link prediction, semantic clustering of addresses/repos)
from the same engine that built the graph. TransE (Bordes et al., NeurIPS
2013) is chosen deliberately: its score is a plain L2 norm and its margin-
ranking gradient is closed-form, so the whole trainer is numpy inside
Arrow-batched ``mapInPandas`` — no deep-learning runtime, no per-row
Python.

Execution shape (synchronous data-parallel full-batch GD):

* the (pos, neg) pair table is built once (``corruption_pairs``) and
  persisted — epochs re-scan it, never the extraction pipeline;
* each epoch broadcasts the current model (two dense numpy matrices +
  name→row indices) and runs ONE ``mapInPandas`` pass: every partition
  scores its pairs, accumulates closed-form hinge gradients into a local
  dict, and emits one PARTIAL row per touched parameter — map-side
  combining done by hand, so the shuffle carries O(touched-params × dim),
  never O(pairs);
* partials reduce with one ``groupBy(kind, name)`` of per-dimension sums
  (the only shuffle per epoch), the model-sized result is collected,
  applied driver-side (SGD step + TransE's unit-ball projection of entity
  vectors), and re-broadcast.

Scale boundary, stated honestly: the model must fit in one broadcast —
the standard data-parallel embedding-training ceiling (Spark MLlib makes
the same trade). Past broadcastable model size you shard parameters
(parameter-server / per-bucket model partitions); the gradient PASS here
already scales with data (pairs) arbitrarily, only the model hits the
ceiling.

Determinism: pair generation and model init are md5-keyed (byte-stable
across runs); gradient REDUCTION sums float64 partials whose merge order
Spark doesn't fix, so trained weights are reproducible only up to float
summation order — tests pin behavior (loss decreases, positives score
closer than negatives), never bit-identity. Reference parity note: the
reference service (app/services/ml_model.py) trains a torch tagger, not a
KG embedding; this operator is part of the Spark-first KG extension
surface, not a port.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kg_export import corruption_pairs


def _init_vec(kind: str, name: str, dim: int, seed: int) -> np.ndarray:
    """md5-seeded uniform init in [-0.5/dim, 0.5/dim]^dim — deterministic
    per (kind, name), independent of driver iteration order."""
    h = hashlib.md5(f"init:{seed}:{kind}:{name}".encode()).digest()
    rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
    return (rng.rand(dim).astype(np.float64) - 0.5) / dim


def init_model(
    nodes: list[str], preds: list[str], dim: int, seed: int
) -> dict[str, np.ndarray]:
    """{'E': nodes×dim, 'R': preds×dim} plus name→row indices. Entity rows
    are unit-normalized (TransE's constraint)."""
    E = np.stack([_init_vec("e", n, dim, seed) for n in nodes])
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    R = np.stack([_init_vec("r", p, dim, seed) for p in preds])
    return {
        "E": E,
        "R": R,
        "e_idx": {n: i for i, n in enumerate(nodes)},
        "r_idx": {p: i for i, p in enumerate(preds)},
        "e_names": list(nodes),
        "r_names": list(preds),
    }


def _epoch_partials(bc_model, margin: float, dim: int):
    """mapInPandas closure: per partition, score every (pos, neg) pair
    against the broadcast model, accumulate closed-form margin-ranking
    gradients per touched parameter, emit ONE partial row per parameter
    plus one loss row — hand-rolled map-side combine. ``bc_model`` is a
    SparkContext broadcast (one ship per executor per epoch, not per
    task)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = bc_model.value
        E, R = model["E"], model["R"]
        e_idx, r_idx = model["e_idx"], model["r_idx"]
        e_names, r_names = model["e_names"], model["r_names"]
        # dense per-partition gradient accumulators (model fits memory by
        # construction — same budget as the broadcast itself); scatter-adds
        # are np.add.at, no per-row Python anywhere
        gE = np.zeros_like(E)
        gR = np.zeros_like(R)
        loss = 0.0
        for pdf in batches:
            if pdf.empty:
                continue
            i_s = pdf["subj"].map(e_idx).to_numpy()
            i_r = pdf["pred"].map(r_idx).to_numpy()
            i_o = pdf["obj"].map(e_idx).to_numpy()
            i_n = pdf["neg_obj"].map(e_idx).to_numpy()
            dp = E[i_s] + R[i_r] - E[i_o]
            dn = E[i_s] + R[i_r] - E[i_n]
            # L2 distances, epsilon-guarded for the d→0 gradient
            ndp = np.maximum(np.linalg.norm(dp, axis=1), 1e-12)
            ndn = np.maximum(np.linalg.norm(dn, axis=1), 1e-12)
            hinge = margin + ndp - ndn
            act = hinge > 0
            loss += float(hinge[act].sum())
            if not act.any():
                continue
            up = dp[act] / ndp[act, None]  # ∂ndp/∂(s+r-o)
            un = dn[act] / ndn[act, None]
            g_sr = up - un  # ∂hinge/∂s = ∂hinge/∂r
            np.add.at(gE, i_s[act], g_sr)
            np.add.at(gR, i_r[act], g_sr)
            np.add.at(gE, i_o[act], -up)
            np.add.at(gE, i_n[act], un)
        te = np.flatnonzero(np.abs(gE).sum(axis=1))
        tr = np.flatnonzero(np.abs(gR).sum(axis=1))
        rows = [{"kind": "e", "name": e_names[i], "g": list(gE[i])} for i in te]
        rows += [{"kind": "r", "name": r_names[i], "g": list(gR[i])} for i in tr]
        rows.append({"kind": "loss", "name": "", "g": [loss] + [0.0] * (dim - 1)})
        yield pd.DataFrame(rows, columns=["kind", "name", "g"])

    return fn


def train_transe(
    edges: DataFrame,
    dim: int = 16,
    epochs: int = 10,
    lr: float = 2.0,
    margin: float = 1.0,
    k: int = 2,
    seed: int = 7,
    pairs: DataFrame | None = None,
) -> tuple[DataFrame, list[float]]:
    """Train TransE embeddings on the KG's triples; returns
    (embeddings DataFrame (kind, name, vec), per-epoch MEAN hinge losses).
    kind ∈ {'e', 'r'}; entity vectors are unit-norm (projected after every
    step, per the TransE constraint). Gradients are normalized by the pair
    count (mean-loss full-batch GD), so the step size — and therefore the
    default ``lr`` — is independent of corpus size; without the
    normalization a hub entity's step would grow with its degree and the
    fixed lr would diverge at scale. ``pairs`` lets a caller supply (and
    manage the persistence of) a precomputed ``corruption_pairs`` table —
    e.g. the job reuses it for the post-training separation report; when
    None it is built, persisted, and released here. Raises ``ValueError``
    on an empty edge set or an empty (fully-filtered) pair set — a
    no-op training run should fail loudly, not emit garbage."""
    spark: SparkSession = edges.sparkSession
    own_pairs = pairs is None
    if own_pairs:
        pairs = corruption_pairs(edges, k=k, seed=seed).persist()
    train_pairs = None
    try:
        n_pairs = pairs.count()
        if n_pairs == 0:
            raise ValueError(
                "train_transe: no training pairs — every corruption was "
                "filtered as a true triple (degenerate/dense graph?)"
            )
        nodes = sorted(
            r["n"]
            for r in edges.select(F.col("subj").alias("n"))
            .unionByName(edges.select(F.col("obj").alias("n")))
            .distinct()
            .collect()
        )  # model-sized collect — the broadcast ceiling documented above
        preds = sorted(
            r["pred"] for r in edges.select("pred").distinct().collect()
        )
        if not nodes or not preds:
            raise ValueError("train_transe: empty edge set")
        model = init_model(nodes, preds, dim, seed)

        # Partition budget for the gradient pass: each partition emits up
        # to min(its rows, n_params) partial rows, so with small/dense
        # partitions the per-epoch reduce volume grows ∝ partitions ×
        # params and MORE parallelism means MORE shuffle (measured: a
        # 32-way pass emitted 4× the partials of an 8-way pass on the
        # same pairs and ran slower). Cap partitions so each holds ≥ ~2×
        # n_params pairs — the point where map-side combining actually
        # combines — bounded by the session's parallelism, with a floor
        # of 4 partitions so a pairs-poor/params-rich graph degrades the
        # combine (tens of MB of extra partials) rather than serializing
        # the whole epoch's compute onto one core.
        n_params = len(nodes) + len(preds)
        dp = spark.sparkContext.defaultParallelism
        n_part = min(dp, max(min(dp, 4), n_pairs // max(1, 2 * n_params)))
        train_pairs = pairs.repartition(n_part).persist()
        train_pairs.count()
        if own_pairs:
            # train_pairs now holds the materialized data — drop the
            # pre-repartition copy instead of caching the table twice
            pairs.unpersist()
            own_pairs = False

        losses: list[float] = []
        schema = "kind string, name string, g array<double>"
        dim_sums = [
            F.sum(F.col("g").getItem(i)).alias(f"g{i}") for i in range(dim)
        ]
        step = lr / n_pairs
        for _ in range(epochs):
            bc = spark.sparkContext.broadcast(model)
            partials = train_pairs.mapInPandas(
                _epoch_partials(bc, margin, dim), schema=schema
            )
            reduced = partials.groupBy("kind", "name").agg(*dim_sums).collect()
            bc.unpersist()
            epoch_loss = 0.0
            for row in reduced:
                g = np.array([row[f"g{i}"] for i in range(dim)])
                if row["kind"] == "loss":
                    epoch_loss = float(g[0]) / n_pairs
                elif row["kind"] == "e":
                    model["E"][model["e_idx"][row["name"]]] -= step * g
                else:
                    model["R"][model["r_idx"][row["name"]]] -= step * g
            model["E"] /= np.linalg.norm(model["E"], axis=1, keepdims=True)
            losses.append(epoch_loss)
    finally:
        if train_pairs is not None:
            train_pairs.unpersist()
        if own_pairs:
            pairs.unpersist()

    emb = [("e", n, [float(x) for x in model["E"][i]]) for n, i in model["e_idx"].items()]
    emb += [("r", p, [float(x) for x in model["R"][i]]) for p, i in model["r_idx"].items()]
    out = spark.createDataFrame(emb, "kind string, name string, vec array<double>")
    return out, losses


def _score_candidates(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """The ONE scoring definition serving and evaluation share: every
    entity candidate scored against every query's target t = e_s + r_p by
    the rounded dot product (≡ TransE L2 ranking over unit-norm
    candidates). Input: distinct rows with at least (subj, pred); extra
    columns pass through. Output: input columns + (obj, score). Query
    rows whose subj/pred lack an embedding drop out via the inner
    joins."""
    e = embeddings.filter(F.col("kind") == "e")
    es = e.select(F.col("name").alias("subj"), F.col("vec").alias("_ev"))
    rs = (
        embeddings.filter(F.col("kind") == "r")
        .select(F.col("name").alias("pred"), F.col("vec").alias("_rv"))
    )
    passthrough = [c for c in queries.columns]
    q = (
        queries.distinct()
        .join(F.broadcast(es), "subj")
        .join(F.broadcast(rs), "pred")
        .withColumn("_qv", F.zip_with("_ev", "_rv", lambda a, b: a + b))
        .select(*passthrough, "_qv")
    )
    cand = e.select(F.col("name").alias("obj"), F.col("vec").alias("_cv"))
    return cand.crossJoin(F.broadcast(q)).withColumn(
        "score",
        F.round(
            F.aggregate(
                F.zip_with("_qv", "_cv", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).cast("double"),
    ).select(*passthrough, "obj", "score")


def predict_links(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    filter_known: DataFrame | None = None,
) -> DataFrame:
    """(subj, pred, obj, rank, score): top-k link prediction — for each
    (subj, pred) query row, the k most TransE-plausible objects. Entity
    vectors are unit-norm (train_transe projects them), so ranking by the
    dot product target·candidate is EXACTLY the TransE L2 ranking
    (||t−o||² = ||t||² + 1 − 2·t·o for fixed target t = e_s + r_p), scored
    by an exact exhaustive scan. ``filter_known`` (typically the edge table)
    enables the standard FILTERED ranking protocol: known-true objects are
    removed from the candidate list before ranking. Deterministic ranking:
    (score 6dp desc, obj asc). Query rows whose subj or pred has NO
    embedding are dropped by the inner joins — an unknown entity yields
    zero result rows, indistinguishable from "no candidates"; callers that
    must tell the two apart should anti-join their queries against the
    embedding table first."""
    from pyspark.sql import Window

    scored = _score_candidates(embeddings, queries.select("subj", "pred"))
    if filter_known is not None:
        scored = scored.join(
            filter_known.select("subj", "pred", "obj"),
            ["subj", "pred", "obj"],
            "left_anti",
        )
    w = Window.partitionBy("subj", "pred").orderBy(
        F.desc("score"), F.asc("obj")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("subj", "pred", "obj", "rank", "score")
    )


def evaluate_link_prediction(
    embeddings: DataFrame,
    test_edges: DataFrame,
    all_edges: DataFrame,
    ks: tuple[int, ...] = (1, 3, 10),
) -> DataFrame:
    """One-row (n_queries, n_unrankable, mrr, hits_1, hits_3, hits_10):
    the standard FILTERED link-prediction evaluation (Bordes et al.) —
    for every distinct test triple, the TransE rank of the true object
    among all entities, with OTHER known-true objects for the same
    (subj, pred) removed from the candidate list (the test triple itself
    stays). A test triple whose subj/pred/obj has no embedding cannot be
    ranked; the protocol-correct treatment is a MISS, so such queries
    count in every denominator (reciprocal rank 0, no hits) and are
    reported in ``n_unrankable`` rather than silently inflating the
    metrics. Fully distributed: no per-query sort and no top-k window —
    rank = 1 + count(candidates scoring strictly better, ties broken by
    object name); the filtered-out set is pre-joined down to the test
    queries' (subj, pred) keys (bounded by n_queries × out-degree, then
    broadcast), so the big candidates×queries table never shuffles. 6dp
    score rounding keeps the better-than comparison deterministic across
    float summation orders."""
    test = test_edges.select(
        "subj", "pred", F.col("obj").alias("true_obj")
    ).distinct()
    scored = _score_candidates(embeddings, test)
    # filtered protocol: drop candidates that are known-true for this
    # (subj, pred) — EXCEPT the test triple's own object. `known` is cut
    # down to the test queries' keys BEFORE touching the scored table, so
    # it broadcasts and the n_entities × n_queries side stays map-side.
    known = (
        all_edges.select("subj", "pred", "obj")
        .join(test.select("subj", "pred").distinct(), ["subj", "pred"],
              "left_semi")
        .distinct()
        .withColumn("_known", F.lit(True))
    )
    scored = (
        scored.join(F.broadcast(known), ["subj", "pred", "obj"], "left")
        .filter(
            F.col("_known").isNull() | (F.col("obj") == F.col("true_obj"))
        )
        .drop("_known")
    )
    s_true = scored.filter(F.col("obj") == F.col("true_obj")).select(
        "subj", "pred", "true_obj", F.col("score").alias("_s_true")
    )
    better = (
        F.col("score") > F.col("_s_true")
    ) | (
        (F.col("score") == F.col("_s_true"))
        & (F.col("obj") < F.col("true_obj"))
    )
    ranks = (
        scored.join(F.broadcast(s_true), ["subj", "pred", "true_obj"])
        .groupBy("subj", "pred", "true_obj")
        .agg(
            (F.lit(1) + F.sum(F.when(better, 1).otherwise(0))).alias("rank")
        )
    )
    # denominators over the FULL test set: unrankable queries (subj/pred/
    # true_obj without an embedding dropped by the scoring joins) score 0
    totals = test.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("_n_ranked"),
        F.sum(F.lit(1.0) / F.col("rank")).alias("_rr_sum"),
    ]
    for kk in ks:
        aggs.append(
            F.sum(F.when(F.col("rank") <= kk, 1.0).otherwise(0.0)).alias(
                f"_h{kk}"
            )
        )
    out = ranks.agg(*aggs).crossJoin(F.broadcast(totals))
    # greatest(n, 1): an empty test set reports zero metrics instead of an
    # ANSI-mode divide-by-zero error
    denom = F.greatest(F.col("n_queries"), F.lit(1))
    cols = [
        F.col("n_queries"),
        (F.col("n_queries") - F.col("_n_ranked")).cast("long").alias(
            "n_unrankable"
        ),
        F.round(
            F.coalesce(F.col("_rr_sum"), F.lit(0.0)) / denom, 4
        ).alias("mrr"),
    ]
    for kk in ks:
        cols.append(
            F.round(
                F.coalesce(F.col(f"_h{kk}"), F.lit(0.0)) / denom, 4
            ).alias(f"hits_{kk}")
        )
    return out.select(*cols)


def score_triples(
    triples: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """TransE distance ||e_s + r_p − e_o||₂ per (subj, pred, obj) row —
    lower = more plausible. Pure DataFrame composition: three joins against
    the embedding table (broadcast — the model fits one broadcast by
    construction) and a zip_with/aggregate fold, JVM-side end to end."""
    e = embeddings.filter(F.col("kind") == "e")
    r = embeddings.filter(F.col("kind") == "r")
    es = e.select(F.col("name").alias("_sn"), F.col("vec").alias("_s"))
    rs = r.select(F.col("name").alias("_rn"), F.col("vec").alias("_r"))
    os_ = e.select(F.col("name").alias("_on"), F.col("vec").alias("_o"))
    j = (
        triples.join(F.broadcast(es), F.col("subj") == F.col("_sn"))
        .join(F.broadcast(rs), F.col("pred") == F.col("_rn"))
        .join(F.broadcast(os_), F.col("obj") == F.col("_on"))
    )
    diff = F.zip_with(
        F.zip_with(F.col("_s"), F.col("_r"), lambda a, b: a + b),
        F.col("_o"),
        lambda a, b: a - b,
    )
    dist = F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return j.select("subj", "pred", "obj", dist.alias("dist"))

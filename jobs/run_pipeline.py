"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule deployment shape):

    zip -r deps.zip extract_address_ner_spark
    spark-submit --master <cluster> --py-files deps.zip \\
        jobs/run_pipeline.py \\
        --corpus /data/corpus_parquet --warehouse /data/kg_warehouse \\
        --run-id 2026-08-16T00 [--resume]

Sandbox usage (synthetic corpus):

    python jobs/run_pipeline.py --synthesize 100000 \\
        --warehouse /tmp/kg_warehouse --run-id r1

``--master`` passes any master URL through verbatim; without it the
session's default applies (``SPARK_GRAFT_MASTER``, else local[<CPUs>]).

``--bucketed-edges`` additionally materializes the edge stage BUCKETED by
subj into the session catalog (``<warehouse>/tables``) and runs the
read-side graph queries from it — subj-keyed aggregation then plans with
zero Exchange (the bucket files are the co-location; operators/link.py
``write_edges_bucketed``). The job prints a bucketed-vs-plain read timing
comparison and a plan check (``bucketed_scan=true``).

``--incremental-edges N`` demonstrates the production INCREMENTAL shape:
the durable mention stage is replayed as N deltas, each merged into the
snapshot-versioned edge table (partition-incremental `merge_edge_snapshot`
+ keep-2 `expire_snapshots` retention), with per-merge touched-bucket /
bytes stats printed and the final snapshot verified equal to the batch
edge stage.

``--integrity-gate`` runs the eight-invariant integrity report
(operators/graph_query.integrity_report) over the built edge/node stages
and fails the job with a nonzero exit on ANY violation — the publish gate
a production KG build runs before downstream consumers see the tables.

The job is checkpoint-resumable: completed stages (durable ``_SUCCESS``
markers) are skipped on re-run unless ``--force`` removes them first. The
cron-retrain/scheduled-refresh pattern of the reference (BackgroundScheduler,
app/main.py:47-52) maps to scheduling THIS submit from cron/Airflow — no
in-process scheduler.
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from extract_address_ner_spark.plans.evaluate import span_prf  # noqa: E402
from extract_address_ner_spark.plans.pipeline import StagedPipeline  # noqa: E402
from extract_address_ner_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="parquet dir with corpus(repo, path, commit, lang, content)")
    ap.add_argument("--synthesize", type=int, help="generate an N-row synthetic corpus instead")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True, help="caller-supplied run id (never wall-clock inside the job)")
    ap.add_argument("--force", action="store_true", help="clear the warehouse first (full recompute)")
    ap.add_argument("--eval-gold", help="optional gold-mentions parquet for a span-P/R report")
    ap.add_argument("--master", help="Spark master URL override (verbatim)")
    ap.add_argument(
        "--bucketed-edges", action="store_true",
        help="additionally materialize the edge stage BUCKETED by subj "
             "(bucketBy+sortBy into the session catalog under "
             "<warehouse>/tables) and run the read-side graph queries "
             "from it — subj-keyed aggregation plans with zero Exchange")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="bucket count for --bucketed-edges (size so one "
                         "bucket ~ one task at the target scale)")
    ap.add_argument(
        "--export-ntriples", action="store_true",
        help="additionally serialize the edge stage as W3C N-Triples "
             "text under <warehouse>/ntriples (narrow map-only plan, one "
             "part-file per partition) and verify the parse-back equals "
             "the edge table exactly — the KG interchange export stage")
    ap.add_argument(
        "--incremental-edges", type=int, metavar="N_DROPS",
        help="additionally demonstrate the INCREMENTAL edge-table shape: "
             "replay the durable mention stage as N_DROPS deltas, "
             "merge each into the snapshot-versioned edge table under "
             "<warehouse>/edges_snapshots (partition-incremental merge + "
             "keep-2 retention), print per-merge touched-bucket / bytes "
             "stats, and verify the final snapshot equals the batch edge "
             "stage exactly")
    ap.add_argument(
        "--integrity-gate", action="store_true",
        help="run the eight-invariant KG integrity report (dangling "
             "endpoints, orphans, duplicate triples, self-loops, "
             "confidence range, unknown predicates, ontology domain/range) "
             "over the built edge/node stages and FAIL the job (nonzero "
             "exit) on any violation — the publish gate")
    args = ap.parse_args()
    if not args.corpus and not args.synthesize:
        ap.error("one of --corpus / --synthesize is required")

    # the session catalog's table root (bucketing metadata lives in the
    # catalog — plain .parquet() writes cannot carry it) is co-located with
    # the stage warehouse so --bucketed-edges artifacts travel with the run
    extra_conf = {
        "spark.sql.warehouse.dir": str(Path(args.warehouse).resolve() / "tables")
    }
    spark = get_spark(
        app_name=f"kg-construct-{args.run_id}", master=args.master,
        extra_conf=extra_conf,
    )
    if args.force:
        shutil.rmtree(args.warehouse, ignore_errors=True)

    def source():
        if args.corpus:
            df = spark.read.parquet(args.corpus)
            if "content_sha256" not in df.columns:
                df = df.selectExpr("*", "sha2(content, 256) AS content_sha256")
            if "doc_id" not in df.columns:
                df = df.selectExpr(
                    "*",
                    "CAST(conv(substr(md5(repo || ':' || path || ':' || commit), 1, 15), 16, 10) AS BIGINT) AS doc_id",
                )
            return df
        from extract_address_ner_spark.sources.corpus import synthesize_corpus

        return synthesize_corpus(spark, args.synthesize)

    import time

    p = StagedPipeline(spark, args.warehouse, run_id=args.run_id)
    t0 = time.monotonic()
    out = p.run(source)
    wall = time.monotonic() - t0  # run() materializes every stage durably;
    # the read-back counts below are reporting, not pipeline work
    counts = {stage: out[stage].count() for stage in StagedPipeline.STAGES}
    n_edges = counts["edges"]
    print(f"run_id={args.run_id} computed_stages={p.ran_stages}")
    for stage in StagedPipeline.STAGES:
        print(f"  {stage}: {counts[stage]} rows")
    if "edges" in p.ran_stages:
        # wall is END-TO-END (corpus synth/write + mentions + canonical +
        # edges + nodes); the edge stage's own write wall comes from the
        # lineage table so the two rates are never conflated (ADVICE r03)
        from pyspark.sql import functions as F

        edge_ms = (
            p.lineage().filter(F.col("stage") == "edges")
            .agg(F.max("wall_ms")).collect()[0][0]
        )
        edge_part = (f"; edge stage alone {edge_ms / 1000:.2f}s, "
                     f"{n_edges / (edge_ms / 1000):.0f} edges/s"
                     if edge_ms else "")
        print(f"throughput: {n_edges} edges in {wall:.2f}s end-to-end "
              f"({n_edges / wall:.0f} edges/s pipeline-level{edge_part}) on "
              f"master={spark.conf.get('spark.master')}")
    else:
        # resumed run: the edge stage was skipped (durable _SUCCESS), so
        # wall measures only skip-checks — printing a rate would be a
        # wildly inflated non-number
        print(f"resumed: edges stage skipped ({n_edges} edges on disk, "
              f"{wall:.2f}s wall; no throughput measured) on "
              f"master={spark.conf.get('spark.master')}")
    ok = p.sha_invariant_ok()
    print(f"sha256 invariant: {'OK' if ok else 'VIOLATED'}")
    if args.bucketed_edges:
        from extract_address_ner_spark.operators import graph_query as GQ
        from extract_address_ner_spark.operators.link import (
            write_edges_bucketed,
        )

        t0 = time.monotonic()
        bucketed = write_edges_bucketed(
            out["edges"], table="kg_edges_bucketed", n_buckets=args.n_buckets
        )
        print(f"bucketed edge table: kg_edges_bucketed "
              f"({args.n_buckets} buckets by subj) written in "
              f"{time.monotonic() - t0:.2f}s")
        # the storage-layer claim, verified on THIS run's plan: a subj-keyed
        # aggregate over the bucketed table needs no Exchange at all
        probe = bucketed.groupBy("subj").count()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        print(f"bucketed_scan={'true' if 'Bucketed: true' in plan else 'false'}"
              f" exchange_free_subj_agg="
              f"{'true' if 'Exchange' not in plan else 'false'}")

        def _best_of(df, trials: int = 3) -> float:
            best = None
            for trial in range(trials):  # first = warm-up, untimed
                t = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t
                if trial > 0 and (best is None or dt < best):
                    best = dt
            return best

        # the aggregate bucketing exists FOR: subj-keyed degree count —
        # exchange-free over the bucket files vs a full shuffle of the
        # edge table from plain parquet
        t_b = _best_of(probe)
        t_p = _best_of(out["edges"].groupBy("subj").count())
        print(f"subj_degree_agg: bucketed={t_b:.2f}s plain={t_p:.2f}s")

        def _time_reads(edges_df) -> dict[str, float]:
            """Steady-state read times: one untimed warm-up (codegen/JIT)
            then best-of-2. The queries cache nothing, so every run reads
            its edge table from the files."""
            times = {}
            for name, fn in (("degrees", GQ.degree_distribution),
                             ("top_addresses", GQ.top_addresses_per_repo),
                             ("region_rollup", GQ.region_rollup)):
                best = None
                for trial in range(3):  # first = warm-up, untimed
                    t = time.monotonic()
                    fn(edges_df).write.format("noop").mode("overwrite").save()
                    dt = time.monotonic() - t
                    if trial > 0 and (best is None or dt < best):
                        best = dt
                times[name] = best
            return times

        tb = _time_reads(bucketed)
        tp = _time_reads(out["edges"])
        for name in tb:
            print(f"graph_query_{name}: bucketed={tb[name]:.2f}s "
                  f"plain={tp[name]:.2f}s")
    if args.incremental_edges:
        import os

        from pyspark.sql import functions as F

        from extract_address_ner_spark.entry_queries_streaming import (
            _read_manifest,
            expire_snapshots,
            merge_edge_snapshot,
            read_edge_snapshot,
        )
        from extract_address_ner_spark.operators.canonicalize import (
            canonicalize_mentions,
        )
        from extract_address_ner_spark.operators.link import build_edges
        from extract_address_ner_spark.operators.validate import (
            road_address_gate,
        )

        def _dir_bytes(d: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(d):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files)
            return total

        snap_root = str(Path(args.warehouse) / "edges_snapshots")
        shutil.rmtree(snap_root, ignore_errors=True)
        n_drops = args.incremental_edges
        written = 0
        for drop in range(n_drops):
            delta = build_edges(canonicalize_mentions(road_address_gate(
                out["mentions"].filter(F.col("doc_id") % n_drops == drop))))
            merge_edge_snapshot(delta, snap_root, drop)
            expire_snapshots(snap_root, keep=2)
            man = _read_manifest(snap_root, drop)
            own = sum(1 for rel in man["buckets"].values()
                      if rel.startswith(f"v{drop}/"))
            vbytes = _dir_bytes(f"{snap_root}/v{drop}")
            written += vbytes
            print(f"incremental merge v{drop}: rewrote {own}/"
                  f"{man['n_buckets']} buckets, {vbytes} bytes")
        final = read_edge_snapshot(spark, snap_root)
        batch = out["edges"].select("subj", "pred", "obj", "confidence")
        if final is None:
            # all deltas empty → empty snapshot; equal iff batch is empty
            diff = batch.count()
        else:
            diff = (final.exceptAll(batch).count()
                    + batch.exceptAll(final).count())
        table_bytes = _dir_bytes(snap_root)
        print(f"incremental_edges: final_snapshot_equals_batch="
              f"{'true' if diff == 0 else 'false'} "
              f"({n_drops} merges wrote {written} bytes total; retained "
              f"chain holds {table_bytes} bytes; a full-rewrite-per-merge "
              f"design would have written ~{n_drops}x the table)")
        if diff != 0:
            ok = False
    if args.export_ntriples:
        from extract_address_ner_spark.operators.rdf import (
            from_ntriples,
            to_ntriples,
        )

        nt_dir = str(Path(args.warehouse) / "ntriples")
        shutil.rmtree(nt_dir, ignore_errors=True)
        triples = out["edges"].select("subj", "pred", "obj")
        # narrow map-only serialization: one text part-file per partition
        to_ntriples(triples).write.text(nt_dir)
        parsed = from_ntriples(spark.read.text(nt_dir).withColumnRenamed(
            "value", "line"))
        nt_diff = (parsed.exceptAll(triples).count()
                   + triples.exceptAll(parsed).count())
        n_lines = spark.read.text(nt_dir).count()
        print(f"export_ntriples: {n_lines} lines under {nt_dir}, "
              f"roundtrip_exact={'true' if nt_diff == 0 else 'false'}")
        if nt_diff != 0:
            ok = False
    if args.integrity_gate:
        from extract_address_ner_spark.operators.graph_query import (
            integrity_report,
        )

        checks = {r["check"]: r["n"] for r in
                  integrity_report(out["edges"], out["nodes"]).collect()}
        n_viol = sum(checks.values())
        detail = " ".join(f"{k}={v}" for k, v in sorted(checks.items()))
        print(f"integrity_gate: {'CLEAN' if n_viol == 0 else 'VIOLATED'} "
              f"({detail})")
        if n_viol > 0:
            ok = False
    if args.eval_gold:
        gold = spark.read.parquet(args.eval_gold)
        row = span_prf(out["mentions"], gold).collect()[0]
        print(
            f"eval: precision={row['precision']:.4f} recall={row['recall']:.4f} "
            f"f1={row['f1']:.4f} (n_pred={row['n_pred']}, n_gold={row['n_gold']})"
        )
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one workload of the KG-construction benchmark and print its metrics.

    python3 perfbench/run.py --workload kg_refresh --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under ``.perfbench_work/`` (removed at exit), starts one ``local[nproc]``
SparkSession, warms up on inputs of its own, then runs the workload's
operation back to back with one client, as many times as fit in
``--seconds`` at the workload's nominal pace on a 4-core box, and checks
every output against the generated gold. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before
it name every metric of the workload with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The run gives up (no result, exit 3) after this many seconds.
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

PER_LAYER = {
    "corpus.scan_s": "s",
    "corpus.rows": "count",
    "tagger.busy_s": "s",
    "tagger.task_s": "s",
    "tagger.docs_in": "count",
    "tagger.mentions_out": "count",
    "tagger.yield_ratio": "ratio",
    "validate.busy_s": "s",
    "validate.kept_ratio": "ratio",
    "canonicalize.busy_s": "s",
    "canonicalize.linked_ratio": "ratio",
    "link.edges_busy_s": "s",
    "link.nodes_busy_s": "s",
    "link.edges_out": "count",
    "link.shuffle_bytes": "B",
    "link.task_skew": "ratio",
    "pipeline.stage_write_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.bytes_written": "B",
    "refresh.merge_s": "s",
    "refresh.expire_s": "s",
    "refresh.jobs_per_merge": "count",
    "refresh.bytes_per_merge": "B",
    "refresh.touched_ratio": "ratio",
    "graph_query.degree_s": "s",
    "graph_query.top_addresses_s": "s",
    "graph_query.region_rollup_s": "s",
    "graph_query.files_read": "count",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "dedup.verify_s": "s",
    "dedup.components_s": "s",
    "dedup.keep_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.components_jobs": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "spark.jobs": "count",
    "trace.overhead_s": "s",
}


class Deadline(Exception):
    pass


def _on_alarm(_sig, _frame):
    raise Deadline(f"run exceeded {DEADLINE_S}s")


def configure_launch(work: str, trace: bool) -> dict[str, str]:
    """Size the session to this machine: local[nproc], a driver heap well
    under physical RAM, explicit shuffle partitions, no UI, and all scratch
    under the work directory. Returns the extra Spark conf."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_gb = int(f.readline().split()[1]) / 2 ** 20
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRACT_IMPL"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * cpus)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.rolling.maxFileSize": "2g",
        }
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every process under it (Python workers) have ended."""
    from pyspark import SparkContext

    from stats import children_map

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below: list[int] = []
    if proc is not None:
        children, stack = children_map(), [proc.pid]
        while stack:
            pid = stack.pop()
            below.extend(children.get(pid, ()))
            stack.extend(children.get(pid, ()))
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while below and time.monotonic() < deadline:
        below = [p for p in below if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in below:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def report(name: str, value, unit: str) -> None:
    print(f"metric {name} {value} {unit}")


def per_layer_metrics(w, tracer, groups, plain, traced) -> dict[str, float]:
    """Every PER_LAYER metric, per operation; 0 where the workload does
    not reach the layer."""
    from tracing import GroupStats

    n_t = max(1, len(traced))
    n_p = max(1, len(plain))

    def spans(name):
        return [s for s in tracer.spans if s.name == name]

    def busy(name):
        return sum(s.wall for s in spans(name)) / n_t

    def task(name) -> GroupStats:
        g = GroupStats()
        for s in spans(name):
            g.add(groups.get(s.id, GroupStats()))
        return g

    def extra(results, key):
        vals = [r.extra[key] for r in results if key in r.extra]
        return sum(vals) / len(vals) if vals else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    t_res = [r for _s, r in traced]
    p_res = [r for _s, r in plain]
    corpus_rows = task("corpus").records_written / n_t
    mentions = task("tagger").records_written / n_t
    gated = task("validate").records_written / n_t
    canonical = task("canonicalize").records_written / n_t
    cand = task("dedup.lsh").records_written / n_t
    verified = task("dedup.verify").records_written / n_t
    plain_g = GroupStats()
    for s, _r in plain:
        plain_g.add(groups.get(s.id, GroupStats()))
    stage_write = extra(p_res, "pipeline.stage_write_s")
    m = {
        "corpus.scan_s": busy("corpus"),
        "corpus.rows": corpus_rows,
        "tagger.busy_s": busy("tagger"),
        "tagger.task_s": task("tagger").task_s / n_t,
        "tagger.docs_in": corpus_rows,
        "tagger.mentions_out": mentions,
        "tagger.yield_ratio": ratio(extra(t_res, "tagger.docs_with_mention"), corpus_rows),
        "validate.busy_s": busy("validate"),
        "validate.kept_ratio": ratio(gated, mentions),
        "canonicalize.busy_s": busy("canonicalize"),
        "canonicalize.linked_ratio": ratio(extra(t_res, "canonicalize.linked"), canonical),
        "link.edges_busy_s": busy("link.edges"),
        "link.nodes_busy_s": busy("link.nodes"),
        "link.edges_out": task("link.edges").records_written / n_t,
        "link.shuffle_bytes": (task("link.edges").shuffle_bytes
                               + task("link.nodes").shuffle_bytes) / n_t,
        "link.task_skew": task("link.edges").task_skew() if spans("link.edges") else 0.0,
        "pipeline.stage_write_s": stage_write,
        "pipeline.overhead_s": (extra(p_res, "pipeline_s") - stage_write
                                if stage_write else 0.0),
        "pipeline.bytes_written": extra(p_res, "pipeline.bytes_written"),
        "refresh.merge_s": busy("refresh.merge"),
        "refresh.expire_s": busy("refresh.expire"),
        "refresh.jobs_per_merge": task("refresh.merge").jobs / n_t,
        "refresh.bytes_per_merge": extra(t_res, "refresh.bytes_per_merge"),
        "refresh.touched_ratio": extra(t_res, "refresh.touched_ratio"),
        "graph_query.degree_s": busy("graph_query.degree"),
        "graph_query.top_addresses_s": busy("graph_query.top_addresses"),
        "graph_query.region_rollup_s": busy("graph_query.region_rollup"),
        "graph_query.files_read": extra(t_res, "graph_query.files_read"),
        "dedup.minhash_s": busy("dedup.minhash"),
        "dedup.lsh_s": busy("dedup.lsh"),
        "dedup.verify_s": busy("dedup.verify"),
        "dedup.components_s": busy("dedup.components"),
        "dedup.keep_s": busy("dedup.keep"),
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": verified,
        "dedup.verify_yield": ratio(verified, cand),
        "dedup.components_jobs": task("dedup.components").jobs / n_t,
        "spark.task_s": plain_g.task_s / n_p,
        "spark.gc_s": plain_g.gc_s / n_p,
        "spark.shuffle_bytes": plain_g.shuffle_bytes / n_p,
        "spark.spill_bytes": plain_g.spill_bytes / n_p,
        "spark.failed_tasks": plain_g.failed_tasks / n_p,
        "spark.jobs": plain_g.jobs / n_p,
        "trace.overhead_s": (median([r.wall for r in t_res])
                             - median([r.wall for r in p_res])),
    }
    assert m.keys() == PER_LAYER.keys()
    return m


def run(args, work: str) -> dict:
    from stats import CpuClock, RssSampler, percentile, tail_percentile
    from tracing import Tracer, event_log_file, read_event_log
    from workloads import WORKLOADS, KgBatch, KgRefresh

    from extract_address_ner_spark.session import get_spark

    w = WORKLOADS[args.workload]()
    trace = bool(args.trace)
    conf = configure_launch(work, trace)
    # a fixed op count per --seconds, so every run medians the same op
    # indices: the JVM keeps speeding up over the first dozen ops, and a
    # count that follows the machine's pace would move the median
    n_ops = max(2 if trace else 1, round(args.seconds / w.op_seconds))
    w.prepare(f"{work}/data", args.seed, n_ops)  # untimed input prep
    if isinstance(w, KgBatch):
        w.read_lineage = trace

    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{w.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        session_s = time.monotonic() - t0
        w.clock = CpuClock(jvm_pid())
        w.warmup(spark)
        setup_s = time.monotonic() - t0
        print(f"session {session_s:.3f}s warm-up {setup_s - session_s:.3f}s",
              file=sys.stderr)

        tracer = Tracer(spark.sparkContext, run_id=f"{w.name}-{args.seed}")
        results, plain, traced, raised = [], [], [], 0
        with RssSampler(jvm_pid()) as rss:
            for i in range(n_ops):
                as_traced = trace and i % 2 == 1
                try:
                    with tracer.span("op.traced" if as_traced else "op.plain") as s:
                        r = (w.traced_op(spark, tracer, i) if as_traced
                             else w.op(spark, i))
                    results.append(r)
                    (traced if as_traced else plain).append((s, r))
                    print(f"op {i} wall={r.wall:.3f}s cpu={r.cpu:.2f}s ok={r.ok}",
                          file=sys.stderr)
                except Deadline:
                    raise
                except Exception:  # an operation that raised counts as failed
                    print(f"op {i} raised:", file=sys.stderr)
                    traceback.print_exc()
                    raised += 1
        attempted = n_ops
        failed = raised + sum(not r.ok for r in results)
        final = None
        if isinstance(w, KgRefresh):
            # the final snapshot against the gold of every delta applied
            final = w.final_check(spark)
            attempted += 1
            failed += not final.ok
    finally:
        stop_spark(spark)
    if not results:
        raise RuntimeError(f"all {attempted} operations raised")

    walls = [r.wall for r in results]
    docs = sum(r.docs for r in results)
    if isinstance(w, KgRefresh):
        op_times = [r.extra["refresh_s"] for r in results]
    else:
        op_times = walls
    e2e = {
        "setup_s": setup_s,
        "op_cpu_s": median([r.cpu for r in results]),
    }

    # The named report: every end-to-end figure that applies to this
    # workload, with its unit and sample count.
    report("setup_s", round(setup_s, 4), "s")
    report("fail_ratio", round(failed / attempted, 4), "ratio")
    report("peak_rss_mb", round(rss.peak_mb, 1), "MB")
    # the docs of one op over the median op wall: a slow outlier op moves it
    # no more than it moves the median
    report("docs_per_s", round(docs / len(results) / median(walls), 2), "docs/s")
    report("op_p50_s", round(median(op_times), 4), "s")
    report("operations", len(results), "count")
    if isinstance(w, KgRefresh):
        for label, vals in (("refresh", op_times), ("query", w.query_walls)):
            tail = tail_percentile(len(vals))
            report(f"{label}_p50_s", round(median(vals), 4), f"s(n={len(vals)})")
            for p in (75, 90):
                # quoted only with at least ten samples beyond it
                shown = (round(percentile(vals, p), 4)
                         if tail is not None and tail >= p else "n/a")
                report(f"{label}_p{p}_s", shown, f"s(n={len(vals)})")
        report("triple_precision", round(final.precision, 6), "ratio")
        report("triple_recall", round(final.recall, 6), "ratio")
    elif isinstance(w, KgBatch):
        report("triples_per_s", round(sum(r.rows for r in results) / sum(walls), 2),
               "triples/s")
        report("triple_precision", round(min(r.precision for r in results), 6), "ratio")
        report("triple_recall", round(min(r.recall for r in results), 6), "ratio")
    else:
        report("dedup_precision", round(min(r.precision for r in results), 6), "ratio")
        report("dedup_recall", round(min(r.recall for r in results), 6), "ratio")

    if trace:
        groups = read_event_log(event_log_file(f"{work}/eventlog"))
        metrics = per_layer_metrics(w, tracer, groups, plain, traced)
        units = PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(f"{out_dir}/spans-{w.name}-seed{args.seed}.jsonl")
        for name in sorted({s.name for s in tracer.spans}):
            own = [tracer.self_time(s) for s in tracer.spans if s.name == name]
            print(f"span {name} n={len(own)} self_s={sum(own) / len(own):.4f}")
    else:
        metrics = e2e
        units = END_TO_END
    for name, unit in units.items():
        report(name, metrics[name], unit)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import workloads
    except ImportError as e:
        print(f"cannot import the program under {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        print("benchmark run failed:", file=sys.stderr)
        traceback.print_exc()
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

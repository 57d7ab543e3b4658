"""Scaling-efficiency evidence: the same job at two parallelism levels
(e.g. local[2] = N, local[8] = 4N — the sandbox proxy for an N- vs
4N-executor cluster, per the north rule), same input, fresh JVM each.

Two jobs, selectable with --job:

- ``kg`` (default): the KG-construction path (extract mentions → gate →
  canonicalize → build edges) — scan-heavy, the north-rule workload.
- ``dedup``: the banded-LSH near-dup chain (shingle → minhash → band join →
  candidate-only Jaccard verification) — SHUFFLE-heavy, the profile a
  100 TB dedup job actually hits (the KG path alone would overstate
  scaling for shuffle-bound operators).

Methodology (each choice is load-bearing):

- The input corpus is MATERIALIZED to parquet once (untimed prep) and the
  timed job READS it — the north rule's job runs over an Iceberg corpus
  table, not an in-memory generator, and a compressed columnar scan is the
  real 100 TB workload shape.
- Partitioning is FIXED across levels (64 input + 64 shuffle partitions):
  same job, same input, only parallelism varies.
- Default 8M rows (kg) / 600k base docs (dedup): long enough legs that
  per-stage scheduling overhead and transient host noise amortize out.
- Dedup additionally pins input-split size (see JOBS) so a toy-sized corpus
  yields the SAME ~80 input partitions at every parallelism level — the
  default file-split heuristic scales splits with defaultParallelism and
  starved the low-core legs' task supply.
- spark.catalog.clearCache() before every timed trial: dedup/link operators
  persist() self-join subplans, and Spark's CacheManager matches by logical
  plan — without the clear, trial 2 would reuse trial 1's cached blocks and
  time a different (smaller) job.
- Per-trial external-interference measurement from /proc/stat (host busy
  cores minus our own worker-thread cap), quiet-window gating, and level
  retry on contamination — this sandbox shares hardware.

Writes BENCH_scaling_last_run.md (kg) / BENCH_scaling_dedup_last_run.md
(dedup) with throughput at both levels and efficiency =
(throughput_4N / throughput_N) / 4 (target ≥ 0.8); BENCH.md is the
hand-curated aggregate of repeated runs (co-tenant bandwidth contention
makes single runs unreliable — see BENCH.md's contention analysis).

Usage: python scripts/scaling_bench.py [rows] [N N4] [--job kg|dedup]
                                       [--mode local|local-cluster]

``--mode local-cluster`` (round 2) is the executor-shaped measurement: the
`local-cluster[N,C,M]` master spawns one REAL worker JVM per executor
(separate heap/GC per process, shuffles crossing process boundaries), with
each executor JVM given container-quota-sized GC/JIT threads. Levels are
then EXECUTOR counts (default pair 1 → 4 executors × 8 cores). This avoids
the single-JVM thread-scaling wall (GC/safepoint work growing with thread
count — BENCH.md contention probe) that makes local[8]→local[32]
understate true executor scaling.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PARTS = 64

PREP_KG = r"""
import sys
sys.path.insert(0, {repo!r})
from extract_address_ner_spark.session import get_spark
from extract_address_ner_spark.sources.corpus import synthesize_corpus
rows = int(sys.argv[1])
spark = get_spark(app_name="scaling-prep", master="local[32]",
                  shuffle_partitions={parts},
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
synthesize_corpus(spark, rows, seed=42, partitions={parts}) \
    .write.mode("overwrite").parquet({corpus!r})
print("PREP_OK")
spark.stop()
"""

# dup-heavy documents table: base + exact copies (doc_id % 7) + near copies
# ('DUP ' prefix, doc_id % 5) — the same derivation shape the driver-checked
# dedup queries use (entry_queries_data.DUP_DOCS_SPARK), at bench scale.
PREP_DEDUP = r"""
import sys
sys.path.insert(0, {repo!r})
from extract_address_ner_spark.session import get_spark
from extract_address_ner_spark.sources.corpus import synthesize_corpus
rows = int(sys.argv[1])
spark = get_spark(app_name="scaling-prep", master="local[32]",
                  shuffle_partitions={parts},
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
base = synthesize_corpus(spark, rows, seed=42, partitions={parts}) \
    .selectExpr("doc_id", "content AS text")
base.createOrReplaceTempView("base")
spark.sql(f'''
  SELECT doc_id, text FROM base
  UNION ALL SELECT doc_id + {{rows}} AS doc_id, text FROM base WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + {{2 * rows}} AS doc_id, 'DUP ' || text AS text
  FROM base WHERE doc_id % 5 = 0
''').write.mode("overwrite").parquet({corpus!r})
print("PREP_OK")
spark.stop()
"""

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from extract_address_ner_spark.session import get_spark
from scripts.hostbw import BusMonitor, copy_gbps, wait_for_bw

level = int(sys.argv[1])   # local mode: threads; local-cluster: executors
mode = {mode!r}
conf = {{"spark.ui.showConsoleProgress": "false"}}
conf.update({job_conf!r})
if mode == "local-cluster":
    # REAL multi-process executors (Spark's local-cluster master spawns one
    # worker JVM per executor): level = executor count, {lc_cores} cores +
    # {lc_mem} MB each. Each executor JVM gets container-quota-sized GC/JIT
    # threads — what a cgroup-aware YARN/K8s launch provides automatically;
    # bare co-running JVMs otherwise size ParallelGCThreads to all 32
    # hardware cores and thrash each other during overlapping GCs
    # (measured 6.6x — see BENCH.md contention probe).
    master = f"local-cluster[{{level}},{lc_cores},{lc_mem}]"
    conf["spark.executor.memory"] = "{lc_exec_mem}"
    conf["spark.executor.extraJavaOptions"] = (
        "-XX:ParallelGCThreads={lc_cores} -XX:ConcGCThreads=2"
        " -XX:ActiveProcessorCount={lc_cores}")
    cpus = level * {lc_cores}  # own busy-core cap for ext-load accounting
else:
    master = f"local[{{level}}]"
    cpus = level
spark = get_spark(app_name=f"scaling-{{level}}", master=master,
                  shuffle_partitions={parts}, extra_conf=conf)
corpus = spark.read.parquet({corpus!r})

{job_body}

n_rows = corpus.count()  # untimed
job(corpus.limit(20000)).count()  # warm-up: JVM/codegen, not timed

def cpu_ticks():
    # (busy, total) jiffies across all cpus; busy excludes idle+iowait
    v = list(map(int, open("/proc/stat").readline().split()[1:9]))
    return sum(v) - v[3] - v[4], sum(v)

NCPU = os.cpu_count()
best, ext_at_best, bw_at_best, n = None, None, (0.0, 0.0), 0
bw_during_at_best = None
for _ in range(2):  # best-of-2 (legs are long; min rejects contended runs)
    spark.catalog.clearCache()  # operators persist(); plan-matched cache
                                # reuse would shrink the second trial's job
    # co-tenant memory pressure is invisible to loadavg//proc/stat — gate
    # each trial on a measured-quiet bus and record the pre/post rates
    bw_pre = wait_for_bw()
    b0, t0j = cpu_ticks()
    t0 = time.monotonic()
    with BusMonitor() as mon:  # min in-trial rate — endpoint probes can
        # miss a storm arriving mid-leg (diagnostic; own load depresses it)
        n = job(corpus).count()
    dt = time.monotonic() - t0
    b1, t1j = cpu_ticks()
    bw_post = copy_gbps()
    # host-wide busy cores during THIS trial; our own job can occupy at most
    # `cpus` of them, so anything above that is external interference
    busy_cores = NCPU * (b1 - b0) / max(1, t1j - t0j)
    ext = max(0.0, busy_cores - cpus)
    if best is None or dt < best:
        best, ext_at_best, bw_at_best = dt, ext, (bw_pre, bw_post)
        bw_during_at_best = mon.min_rate
thru = ({thru_rows} and n_rows or n) / best
print(json.dumps({{"cpus": cpus, "n_out": n, "n_rows": n_rows,
                   "sec": round(best, 3), "ext_during": round(ext_at_best, 1),
                   "bw_pre": round(bw_at_best[0], 1),
                   "bw_post": round(bw_at_best[1], 1),
                   "bw_during_min": round(bw_during_at_best, 1)
                   if bw_during_at_best is not None else None,
                   "units_per_sec": round(thru, 1)}}))
spark.stop()
"""

JOB_KG = """
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import road_address_gate
from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.link import build_edges

def job(c):
    return build_edges(canonicalize_mentions(road_address_gate(
        extract_mentions(c))))
"""

JOB_DEDUP = """
from extract_address_ner_spark.operators.dedup import lsh_verified_pairs

def job(c):
    return lsh_verified_pairs(c, text_col="text", id_col="doc_id")
"""

JOBS = {
    # (prep template, job body, throughput counts input rows?, unit label,
    #  default rows, output report file, job-specific runner conf)
    "kg": (PREP_KG, JOB_KG, False, "triples/s", 8_000_000,
           "BENCH_scaling_last_run.md", {}),
    # Input-split pinning (dedup only): the dedup corpus is small enough
    # (~80 MB compressed) that Spark's file-split heuristic
    # maxSplitBytes = min(maxPartitionBytes, totalBytes/defaultParallelism)
    # under-splits it — measured 5 input partitions at local[2] vs 41 at
    # local[32], i.e. the low-parallelism legs got DIFFERENT (coarser) task
    # granularity and the 8-core leg ran the narrow hash stage on ~4 busy
    # cores. Pinning maxPartitionBytes=1m (with openCost=0) makes
    # totalBytes/parallelism ≥ 1m at every tested level, so every leg gets
    # the SAME ~80 input splits — fixed work, fixed partitioning, only
    # parallelism varies. At 100 TB splits are full 128 MB blocks and this
    # knob is unnecessary; it exists to make a toy-sized input behave like
    # the real one.
    "dedup": (PREP_DEDUP, JOB_DEDUP, True, "docs/s", 600_000,
              "BENCH_scaling_dedup_last_run.md",
              {"spark.sql.files.maxPartitionBytes": "1m",
               "spark.sql.files.openCostInBytes": "0"}),
}


def _loadavg() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def prep(template: str, rows: int, corpus_dir: str) -> None:
    out = subprocess.run(
        [sys.executable, "-c",
         template.format(repo=str(REPO), parts=PARTS, corpus=corpus_dir),
         str(rows)],
        capture_output=True, text=True, check=True,
    )
    assert "PREP_OK" in out.stdout


LC_CORES = 8        # cores per executor in local-cluster mode
LC_MEM_MB = 16384   # worker JVM memory per executor (MB)
LC_EXEC_MEM = "14g"  # spark.executor.memory within that worker


def run(cpus: int, job_body: str, thru_rows: bool, corpus_dir: str,
        job_conf: dict, mode: str = "local") -> dict:
    # The sandbox host is shared: external load inflates wall time unevenly
    # across parallelism levels and corrupts the ratio. Gate each level on a
    # quiet window (bounded wait), then RETRY the level if the best trial
    # still ran under measurable external load — CPU-visible (/proc/stat
    # busy cores) OR bus-visible (memcpy rate: co-tenant memory pressure is
    # invisible to every in-guest CPU counter; see scripts/hostbw.py).
    cleanest = None
    for attempt in range(3):
        waited = 0
        while _loadavg() > 2.0 and waited < 600:
            time.sleep(30)
            waited += 30
        out = subprocess.run(
            [sys.executable, "-c",
             RUNNER.format(repo=str(REPO), parts=PARTS, corpus=corpus_dir,
                           job_body=job_body, job_conf=job_conf,
                           mode=mode, lc_cores=LC_CORES, lc_mem=LC_MEM_MB,
                           lc_exec_mem=LC_EXEC_MEM,
                           thru_rows="True" if thru_rows else "False"),
             str(cpus)],
            capture_output=True, text=True, check=True,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        clean = (r["ext_during"] <= 2.0
                 and r["bw_pre"] >= 3.0 and r["bw_post"] >= 3.0)
        if cleanest is None or (r["ext_during"], -min(r["bw_pre"], r["bw_post"])) \
                < (cleanest["ext_during"], -min(cleanest["bw_pre"], cleanest["bw_post"])):
            cleanest = r
        if clean:
            return r
    return cleanest  # all attempts contaminated — ext/bw fields record it


def main() -> None:
    argv = list(sys.argv[1:])
    job = "kg"
    if "--job" in argv:
        i = argv.index("--job")
        job = argv[i + 1]
        del argv[i:i + 2]
    mode = "local"
    if "--mode" in argv:
        i = argv.index("--mode")
        mode = argv[i + 1]
        del argv[i:i + 2]
    prep_t, job_body, thru_rows, unit, default_rows, report, job_conf = JOBS[job]
    rows = int(argv[0]) if argv else default_rows
    # local mode: thread counts; local-cluster mode: executor counts
    # (LC_CORES cores each) — 1 vs 4 REAL executor JVMs is the
    # executor-shaped N→4N pair
    pairs = [(1, 4)] if mode == "local-cluster" else [(2, 8), (8, 32)]
    if len(argv) > 2:
        pairs = [(int(argv[1]), int(argv[2]))]
    if mode == "local-cluster":
        report = report.replace(".md", "_lc.md")
    corpus_dir = f"/tmp/scaling_corpus_{job}_parquet"
    prep(prep_t, rows, corpus_dir)
    results = {}
    done: dict[int, dict] = {}
    for n, n4 in pairs:
        rn = done.get(n) or run(n, job_body, thru_rows, corpus_dir,
                                job_conf, mode)
        done[n] = rn
        r4 = done.get(n4) or run(n4, job_body, thru_rows, corpus_dir,
                                 job_conf, mode)
        done[n4] = r4
        ratio = r4["units_per_sec"] / rn["units_per_sec"]
        results[(n, n4)] = (rn, r4, ratio, ratio / 4)
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    rows_md = []
    for (n, n4), (rn, r4, ratio, eff) in results.items():
        if mode == "local-cluster":
            lbl_n = f"{n} executor × {LC_CORES} cores"
            lbl_4n = f"{n4} executors × {LC_CORES} cores"
        else:
            lbl_n, lbl_4n = f"local[{n}]", f"local[{n4}]"
        rows_md.append(
            f"| {lbl_n} (N) | {rn['sec']} | {rn['units_per_sec']:,} "
            f"| {lbl_4n} (4N) | {r4['sec']} | {r4['units_per_sec']:,} "
            f"| {ratio:.2f}× | **{eff:.2f}** "
            f"| {rn['ext_during']:.1f}/{r4['ext_during']:.1f} "
            f"| {min(rn['bw_pre'], rn['bw_post']):.1f}/"
            f"{min(r4['bw_pre'], r4['bw_post']):.1f} "
            f"| {rn.get('bw_during_min')}/{r4.get('bw_during_min')} |"
        )
    table = "\n".join(rows_md)
    any_r = list(results.values())[0][0]
    job_desc = {
        "kg": (f"read a materialized {rows:,}-row skewed corpus from parquet "
               f"→ extract mentions → gate → canonicalize → build edges → "
               f"count triples = {any_r['n_out']:,}"),
        "dedup": (f"read a materialized {any_r['n_rows']:,}-doc dup-heavy "
                  f"corpus from parquet → shingle → minhash → banded-LSH "
                  f"candidate join → Jaccard-verify candidates → count "
                  f"near-dup pairs = {any_r['n_out']:,}"),
    }[job]
    proxy_desc = (
        "REAL multi-process Spark executors — the `local-cluster[N,"
        f"{LC_CORES},{LC_MEM_MB}]` master spawns one quota-sized worker JVM "
        "per executor (GC/JIT threads and heap sized to its core quota, as "
        "a cgroup-aware YARN/K8s launch does), shuffles cross process "
        "boundaries" if mode == "local-cluster"
        else "sandbox proxy: local[N] → local[4N] threads, one JVM")
    md = f"""# BENCH — scaling run ({job} job, {mode} mode)

## Scaling evidence: N → 4N executors ({proxy_desc})

Same job ({job_desc}), same input files, SAME fixed partitioning (64 input
+ 64 shuffle partitions at every level — only the parallelism varies),
fresh JVM per level, warm-up pass excluded, best-of-2 per level with the
block cache cleared before every timed trial. The corpus is read from
parquet (not regenerated) because the north-rule job consumes an Iceberg
corpus TABLE — a compressed columnar scan is the true 100 TB workload
shape. `ext load` is external busy-cores measured from /proc/stat DURING
the best trial (host-wide busy cores minus our own worker-thread cap —
this sandbox shares hardware; levels wait for a quiet window and retry if
contaminated). `bus GB/s` is the min of the memcpy-probe rates measured
immediately before and after the best trial (scripts/hostbw.py — co-tenant
memory pressure is invisible to CPU counters; quiet ≥ 3.0, contended mode
measures 0.1-0.5): every trial additionally WAITS for a measured-quiet bus
before starting. `in-trial min GB/s` is the MINIMUM probe rate sampled
every 5 s DURING the best trial (diagnostic: our own load depresses it —
a quiet host under our full load reads ~1-3; a genuine co-tenant storm
reads 0.1-0.5 — it exists because a storm can arrive mid-leg between
clean endpoint probes, observed 2026-08-17). Generated by
`python scripts/scaling_bench.py {rows} --job {job} --mode {mode}` at {stamp}.

| N | wall s | {unit} | 4N | wall s | {unit} | speed-up | efficiency | ext load N/4N | bus GB/s N/4N | in-trial min GB/s N/4N |
|---|---|---|---|---|---|---|---|---|---|---|
{table}

North-rule target: efficiency ≥ 0.8 between N and 4N executors.

**Measurement caveat (single box, one JVM):** all local[K] threads share
ONE JVM heap/GC, LLC, memory bus, and turbo budget. Thread scaling inside
one JVM stalls at roughly 16 threads — the round-2 contention probe
(scripts/bus_probe.py, table in BENCH.md) shows this is mostly GC/safepoint
work growing with in-JVM thread count (two concurrent 16-thread JVMs
deliver 1.72× one 32-thread JVM on the same cores), so the 8→32 pair
understates what 4× the *executors* (separate quota-sized JVMs on a real
cluster) delivers. The 2→8 pair runs below that wall and is the
representative per-executor proxy; BENCH.md's multi-process executor-proxy
measurement is the executor-shaped evidence.

Per-query suite timings are NOT reproduced here (this file records only
what THIS run measured): see the BENCH_r*.json records (the rounds 1-6
suite at sf0.1) and the hand-curated aggregate in BENCH.md.
"""
    # BENCH.md is the hand-curated report (it aggregates the distribution of
    # repeated runs — see its contention analysis); each raw run lands here
    (REPO / report).write_text(md)
    print(json.dumps({
        "job": job,
        "mode": mode,
        **{f"{n}->{n4}": {"n_sec": rn["sec"], "n4_sec": r4["sec"],
                          "speedup": round(ratio, 3),
                          "efficiency": round(eff, 3)}
           for (n, n4), (rn, r4, ratio, eff) in results.items()},
    }))


if __name__ == "__main__":
    main()

"""SparkSession factory tuned for the KG-construction pipeline.

Scale notes (designed for 1000-executor / 100 TB; the default local master
uses every CPU the process may run on):
- AQE on: runtime coalescing of small shuffle partitions + skew-join
  splitting (mega-repo skew is expected per the corpus shape).
- Arrow on: every Python-side operator is an Arrow-batched pandas UDF /
  mapInPandas — never row-at-a-time Python.
- shuffle.partitions is a *default*; heavy stages size their own
  repartition explicitly from input stats.
- Executor sizing: prefer MANY QUOTA-SIZED 4-8-core executor JVMs over one
  big-thread-count JVM, even on a single machine. Thread scaling inside
  one JVM stalls above ~16 threads on GC/safepoint work growing with
  thread count (measured: 4×8-core local-cluster executors ran the full
  KG job 27% faster than local[32] on the same cores, and 2×local[16]
  JVMs delivered 1.72× one local[32] — BENCH.md "contention probe"). On
  YARN/K8s the cgroup-aware JVM sizes GC/JIT threads to its quota
  automatically; for bare multi-JVM layouts set
  -XX:ParallelGCThreads=<cores> -XX:ActiveProcessorCount=<cores> per
  executor or co-running JVMs thrash during overlapping GCs (measured
  6.6× collapse without it).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# InferFiltersFromGenerate injects `size(e) > 0 AND isnotnull(e)` beneath
# every (pos)explode, and predicate pushdown substitutes the generator's
# input expression INTO that filter, so the input is computed twice per row
# (measured 4.5× on an earlier higher-order-function span tagger). The
# generators it still guards take computed arrays: the LSH band table's
# posexplode over md5-ed signature slices (dedup._bands), SimHash's chunk
# posexplode and fuzzy's char-n-gram explode and band posexplode. The
# runtime explode already skips empty arrays, so the inferred filter is
# pure overhead here.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


#: Spark local property naming the program stage a job belongs to; it
#: reaches every job's and stage's ``Properties`` in the event log and every
#: task's ``TaskContext.getLocalProperty``.
STAGE_PROPERTY = "kg.stage"
_JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def stage(name: str) -> Iterator[None]:
    """Label every Spark job started inside the block with ``name``: the
    ``kg.stage`` local property and the job description (the UI's job
    name). The previous values come back on exit, so labels nest. The job
    group (``spark.jobGroup.id``) is never touched: a caller's own grouping
    of jobs survives."""
    sc = SparkSession.active().sparkContext
    prev = {k: sc.getLocalProperty(k) for k in (STAGE_PROPERTY, _JOB_DESCRIPTION)}
    sc.setLocalProperty(STAGE_PROPERTY, name)
    sc.setLocalProperty(_JOB_DESCRIPTION, name)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def ensure_optimizer_confs(spark: SparkSession) -> None:
    """Idempotently apply session-level optimizer tweaks. Called by the HOF
    operators too, so externally-created sessions (e.g. the verify driver's)
    get the same plan."""
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    rules = [r for r in current.split(",") if r]
    if EXCLUDED_OPTIMIZER_RULES not in rules:
        rules.append(EXCLUDED_OPTIMIZER_RULES)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))


def scale_partitions(df, min_parts: int | None = None):
    """Floor the partition count of a source DataFrame at the session's
    default parallelism (round 6, guide §2.5 "input skew: one huge
    unsplittable file — repartition immediately after the read").

    Why: the driver's small-sf parquet inputs are single-row-group files,
    and a parquet row group cannot be split — every scan branch lands in
    ONE task, so the per-row-heavy operators (HOF folds, Arrow-batched
    kernels) were measured running at parallelism ~3 on a 32-core session
    (sf1.0: the whole dedup corpus in 3 tasks). A keyless round-robin
    repartition right after the read restores parallelism for a few MB of
    shuffle. Scale-adaptive, not a constant: when the input already scans
    with >= defaultParallelism splits (any realistically-sized table — at
    100 TB the scan has thousands of row groups), this is a NO-OP and no
    exchange is added. Row-identity is preserved exactly (round-robin
    reassigns rows to partitions; every registered compare is
    order-insensitive, and Spark's sort-before-repartition keeps the
    assignment deterministic under task retry)."""
    if min_parts is None:
        dp = df.sparkSession.sparkContext.defaultParallelism
        # size the floor from the INPUT, not a constant: one partition per
        # ~384 KB of (compressed) source so tiny inputs (sf0.1 and below)
        # keep their native scan layout with ZERO added exchange — the
        # repartition only fires when a single unsplittable row group is
        # actually big enough for the per-row compute to dominate (measured
        # +0.2s pure overhead per small query at sf0.1 with an
        # unconditional floor, vs multi-second wins at sf1.0).
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        min_parts = min(dp, max(1, size // (384 << 10)))
    if min_parts <= 1:
        # guaranteed no-op: skip the .rdd physical-planning probe (it costs
        # ~0.1s and sits inside the timed window of every small-sf query)
        return df
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df


def _default_driver_mem() -> str:
    """``spark.driver.memory`` when SPARK_GRAFT_DRIVER_MEM is unset: 48g,
    capped at half the machine's RAM. A heap larger than RAM turns a Java
    OutOfMemoryError (one failed action) into a kernel OOM-kill of the JVM
    (every later action in the session fails)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048  # kB → MiB, ½
                    return f"{min(48 << 10, half_mb)}m"
    except OSError:
        pass
    return "48g"


def _default_master() -> str:
    """Spark master when the caller passes none: SPARK_GRAFT_MASTER
    verbatim, else ``local[N]`` with N from SPARK_GRAFT_CPUS, else the CPUs
    this process may run on (what ``nproc`` prints). A fixed count larger
    than the box runs that many tasks, and Python workers, at once."""
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        return master
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "kg-construct",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or _default_master()
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # Python workers (pandas UDFs / mapInPandas) must run the SAME
    # interpreter as the driver — under a bare `python job.py` launch with a
    # minimal PATH, Spark otherwise resolves `python3` from the OS, which
    # may lack pyarrow/pandas entirely. spark-submit sets this itself;
    # setdefault keeps any deployment-provided value authoritative.
    import sys
    from pathlib import Path

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

    # Executor Python workers must be able to import THIS package: in
    # multi-JVM layouts (local-cluster / standalone) the worker's sys.path
    # does not inherit the driver's, so any pandas_udf/mapInPandas
    # referencing the package fails with ModuleNotFoundError (round 6 —
    # surfaced when the Arrow extraction/minhash kernels joined the KG
    # path). Real deployments ship the package (pip image / --py-files);
    # propagating the repo root via executorEnv is the sandbox equivalent.
    # A deployment-provided PYTHONPATH is preserved (prepended to).
    repo_root = str(Path(__file__).resolve().parent.parent)
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        py_path = repo_root + (os.pathsep + py_path if py_path else "")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Guide §3.1/§9 (round 6): allow shuffled-hash over sort-merge when
        # the build fits — skips both sides' sorts (measured ~10% on the
        # LSH verify chain). Size-bounded, not local-mode tuning: the
        # static preference still honors the planner's build-size
        # conditions, and the AQE threshold converts SMJ→SHJ at runtime
        # only when every post-shuffle partition is under 64 MB (=
        # advisoryPartitionSizeInBytes), so an oversized build at 100 TB
        # keeps sort-merge.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: driver JVM hosts all executor threads — size the heap
        # for the thread count (8g across 32 threads was GC-starved and
        # produced INVERTED core scaling on allocation-heavy stages)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.executorEnv.PYTHONPATH", py_path)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_optimizer_confs(spark)
    return spark

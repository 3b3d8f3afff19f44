"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-at-scale, not just local runs:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all our Python
stages are pandas/Arrow UDFs — never row-at-a-time Python).
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Temporarily set session confs; restore (or unset) on exit.

    NOT thread-safe: spark.conf is session-global, so a concurrent query on
    the same SparkSession would plan under the scoped values (same caveat as
    graph/cc.py's distributed-loop sizing, above its driver-side bound).

    Two distinct usage idioms — pick deliberately:
    - memoize-inside: for OPTIMIZATION-time behavior (e.g. runtime
      bloom-filter injection), force the optimized plan to materialize
      INSIDE the scope (df._jdf.queryExecution().optimizedPlan()) and
      return the DataFrame; the memoized plan keeps the rewrite after the
      restore. Caveat: composing the result into a NEW plan re-optimizes
      under the restored confs and silently loses the rewrite
      (relops.rel_runtime_filter_join).
    - hold-past-action: for EXECUTION-time behavior (AQE decisions such as
      skew-join splitting), keep the scope open across the collect/count,
      because AQE re-plans while the job runs (tests/test_plans.py)."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _default_driver_memory() -> str:
    """Half of physical RAM in whole GiB (at least 1g), capped at 48g: a
    fixed 48g heap let the driver JVM outgrow small hosts and get killed by
    the OOM killer mid-run."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "48g"
    return f"{min(48, max(1, ram // 2 // 2**30))}g"


def _ensure_driver_memory() -> None:
    """spark.driver.memory is a JVM launch option: setting it on the builder
    is silently IGNORED in local mode once the gateway JVM exists. With the
    1g default heap, 32 concurrent local tasks thrash the unified memory pool
    (cache eviction + recompute + GC storms — measured 30x slowdowns). Inject
    it into PYSPARK_SUBMIT_ARGS before the first JVM launch instead."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory())
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    if "--driver-memory" not in args:
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} " + args


def _configured_driver_gb() -> int:
    """Heap size the driver JVM will (or did) launch with, from the same
    sources _ensure_driver_memory uses: an explicit --driver-memory in
    PYSPARK_SUBMIT_ARGS wins, else SPARK_DRIVER_MEMORY, else the RAM-derived
    default."""
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    m = re.search(r"--driver-memory[= ](\d+)([gGmM])", args)
    if not m:
        mem = os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory())
        m = re.match(r"(\d+)([gGmM])", mem)
    if not m:
        return 48
    n, unit = int(m.group(1)), m.group(2).lower()
    return n if unit == "g" else max(n // 1024, 1)


def _object_agg_threshold() -> int:
    gb = _configured_driver_gb()
    return min(1 << 23, max(1 << 17, gb * (1 << 20)))


def get_spark(
    app_name: str = "rossete-rdf-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
    speculation: bool = True,
) -> SparkSession:
    _ensure_driver_memory()
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime coalesce of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All Python stages are Arrow-vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # full java.nio charset set for CSV sources — the RML reference
        # supports ~40 WHATWG encodings (reference src/config.rs:378-425);
        # Spark 4 gates non-UTF charsets behind this flag
        .config("spark.sql.legacy.javaCharsets", "true")
        .config("spark.ui.enabled", "false")
        # driver memory itself is injected pre-JVM by _ensure_driver_memory
        .config("spark.memory.fraction", "0.7")
        # Speculative execution: the standard straggler mitigation on a real
        # cluster (a slow/stuck copy of a task gets a duplicate on a healthy
        # executor; first finisher wins) — the cluster-side answer to the
        # same failure shape as this VM's measured single-task stalls. NOTE
        # (verified empirically): in local[N] mode Spark never starts the
        # speculation scheduler (TaskSchedulerImpl guards it with !isLocal),
        # so this conf is INERT in the sandbox and exists as the default a
        # cluster deployment should launch with. The quantile is lowered
        # from 0.75 so 2-task stages can speculate at all. Pass
        # speculation=False for STATEFUL STREAMING jobs on a real cluster:
        # a speculative duplicate of a stateful task contends with the
        # original for the same state-store partition (the known bad
        # combination for HDFSBackedStateStore); the batch/KG pipelines are
        # safe because their outputs commit via the task-commit protocol.
        # min_by/collect-style aggregates run on ObjectHashAggregate, which
        # falls back to SORT-based aggregation after only 128 distinct keys
        # per task by default — defeating the whole point of hash-based
        # first-occurrence dedup. Keep it hash-based, scaled to the heap the
        # session actually gets (~1M keys/GiB-of-heap, capped at 8M): a 4g
        # spark-submit driver gets 1<<22, a 48g driver 1<<23.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                str(_object_agg_threshold()))
        # AQE SMJ -> shuffled-hash rewrite (guide §3.1): when every
        # post-shuffle partition of the build side fits this threshold, skip
        # BOTH sort passes of a sort-merge join at runtime. Scale-safe by
        # construction — the rewrite is per-partition-size gated, so a
        # cluster run whose partitions exceed the bound keeps SMJ (no OOM
        # risk from a blanket preferSortMergeJoin=false), and the threshold
        # is a per-partition bound, not a per-node constant tuned to this
        # VM. 64 MiB = the default advisory partition size.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
    )
    b = b.config("spark.speculation", "true" if speculation else "false")
    if speculation:
        b = b.config("spark.speculation.multiplier", "2").config(
            "spark.speculation.quantile", "0.5"
        )
    # tmpfs shuffle dirs are a SANDBOX OPT-IN, not a library default: on a
    # real node, spilling into RAM-backed /dev/shm would consume the very
    # memory the spill exists to relieve. Real clusters set SPARK_LOCAL_DIRS
    # (which Spark itself prefers over spark.local.dir, so we never override
    # it); the bench harness sets SPARK_GRAFT_TMPFS=1 because this VM's disk
    # syscall path is the measured bottleneck (BENCH.md).
    if (
        os.environ.get("SPARK_GRAFT_TMPFS")
        and "SPARK_LOCAL_DIRS" not in os.environ
        and os.path.isdir("/dev/shm")
        and "spark.local.dir" not in (extra_conf or {})
    ):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

"""The one SparkSession factory: the library, its CLI and scripts, the tests
and the benchmarks all build their session with `get_spark`.

Precedence, highest first:
1. arguments the caller passes: `master`, `shuffle_partitions`,
   `extra_conf`;
2. what the launcher set: spark-submit flags and `--conf`,
   PYSPARK_SUBMIT_ARGS, spark-defaults.conf (or the conf of a SparkContext
   that is already running);
3. the library defaults (`_default_conf`): AQE on (runtime re-plan +
   skew-join splitting), Arrow on (all our Python stages are pandas/Arrow
   UDFs — never row-at-a-time Python), UI off.

`FIXED_CONF` always applies, because the output bytes depend on it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

FIXED_CONF = {
    # timestamp literals (kg.page_triples' crawledAt) render in UTC whatever
    # the JVM's user.timezone is
    "spark.sql.session.timeZone": "UTC",
    # full java.nio charset set for CSV sources — the RML reference
    # supports ~40 WHATWG encodings (reference src/config.rs:378-425);
    # Spark 4 gates non-UTF charsets behind this flag
    "spark.sql.legacy.javaCharsets": "true",
}


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
    1g default heap, many concurrent local tasks thrash the unified memory
    pool (cache eviction + recompute + GC storms — measured 30x slowdowns).
    Inject it into PYSPARK_SUBMIT_ARGS before the first JVM launch instead,
    unless the launch already names one. A JVM started by spark-submit
    ignores PYSPARK_SUBMIT_ARGS, so its own --driver-memory stands."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory())
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    if "--driver-memory" not in args and "spark.driver.memory" not in args:
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} " + args


def _object_agg_threshold(driver_memory: str) -> int:
    """~1M keys per GiB of driver heap (whole GiB, at least 1), between
    128k and 8M keys. `driver_memory` is a Spark size string ("3g",
    "2048m"), parsed by the JVM's own parser."""
    mb = SparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(
        driver_memory
    )
    return min(1 << 23, max(1 << 17, max(1, mb // 1024) << 20))


def _default_conf(driver_memory: str) -> dict[str, str]:
    return {
        "spark.sql.shuffle.partitions": "32",
        # AQE: runtime coalesce of shuffle partitions + skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # All Python stages are Arrow-vectorized.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.memory.fraction": "0.7",
        # Speculative execution: the standard straggler mitigation on a real
        # cluster (a slow/stuck copy of a task gets a duplicate on a healthy
        # executor; first finisher wins). In local[N] mode Spark never starts
        # the speculation scheduler (TaskSchedulerImpl guards it with
        # !isLocal), so these are inert there. The quantile is lowered from
        # 0.75 so 2-task stages can speculate at all. STATEFUL STREAMING
        # jobs on a real cluster should launch with
        # --conf spark.speculation=false: a speculative duplicate of a
        # stateful task contends with the original for the same state-store
        # partition (the known bad combination for HDFSBackedStateStore); the
        # batch/KG pipelines are safe because their outputs commit via the
        # task-commit protocol.
        "spark.speculation": "true",
        "spark.speculation.multiplier": "2",
        "spark.speculation.quantile": "0.5",
        # collect_list-style aggregates (the LSH bucket aggregate,
        # writers.ttl_lines) run on ObjectHashAggregate, which falls back to
        # SORT-based aggregation after only 128 distinct keys per task by
        # default. Keep them hash-based, scaled to the heap the driver was
        # launched with: a 4g driver gets 1<<22, a 48g one 1<<23.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold":
            str(_object_agg_threshold(driver_memory)),
        # AQE SMJ -> shuffled-hash rewrite (guide §3.1): when every
        # post-shuffle partition of the build side fits this threshold, skip
        # BOTH sort passes of a sort-merge join at runtime. Scale-safe by
        # construction — the rewrite is per-partition-size gated, so a
        # cluster run whose partitions exceed the bound keeps SMJ (no OOM
        # risk from a blanket preferSortMergeJoin=false), and the threshold
        # is a per-partition bound, not a per-node constant tuned to this
        # VM. 64 MiB = the default advisory partition size.
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    }


def get_spark(
    app_name: str = "rossete-rdf-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The session, configured by the precedence in the module docstring.
    With no `master` from the caller or the launcher, spark-submit's own
    default applies: local[*]."""
    _ensure_driver_memory()
    SparkContext._ensure_initialized()
    # after the gateway launch, SparkConf() holds the launcher's settings
    active = SparkContext._active_spark_context
    launched = active.getConf() if active is not None else SparkConf()
    defaults = _default_conf(launched.get("spark.driver.memory", "1g"))
    conf = {k: v for k, v in defaults.items() if not launched.contains(k)}
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    conf.update(FIXED_CONF)
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    return b.config(map=conf).getOrCreate()

"""Pinned environment, Spark session, calibration probe and memory
high-water marks shared by the workloads."""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import threading
import time

MASTER = "local[2]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
PROBE_ROWS = 50_000_000


def pin_env(root: str, work: str) -> dict[str, str]:
    """Fix every environment input the library reads, so that runs differ
    only in code and seed, and keep all scratch output inside `work`.

    - SPARK_DRIVER_MEMORY: the library default (48g) exceeds small hosts.
    - PYTHONPATH: pandas-UDF workers import the library by module name.
    - SPARK_LOCAL_DIRS / TMPDIR / java.io.tmpdir: shuffle, spill and temp
      files stay in the work dir; SPARK_GRAFT_TMPFS is unset, so the
      library does not move them to /dev/shm; -XX:-UsePerfData keeps the
      JVM from writing its counters file under /tmp.
    """
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    pinned = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell",
        "SPARK_GRAFT_CPUS": MASTER[6:-1],
    }
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ.update(pinned)
    return {**pinned, "master": MASTER, "shuffle_partitions": str(SHUFFLE_PARTITIONS),
            "SPARK_GRAFT_TMPFS": "unset"}


def event_log_conf(event_log: str) -> dict[str, str]:
    """Spark event-log settings for the traced run."""
    os.makedirs(event_log, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
        "spark.eventLog.compress": "false",
    }


def event_log_submit_args(event_log: str) -> str:
    """The same event-log settings for a CLI subprocess."""
    return " ".join(
        f"--conf {k}={shlex.quote(v)}" for k, v in event_log_conf(event_log).items()
    )


def start_session(work: str, event_log: str | None = None):
    from rossete_rdf_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(event_log_conf(event_log))
    spark = get_spark(
        "perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_probe(spark) -> float:
    """Single-task codegen loop, the shape of bench.jvm_probe: its only
    variable is the host's per-core speed, so drift between runs shows."""
    t0 = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, 1).selectExpr("sum(id * 2 + 1)").collect()
    return time.perf_counter() - t0


def py_probe() -> float:
    """Single-thread interpreter loop, for runs that hold no JVM."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * 2 + 1
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def driver_jvm_peak_mb() -> float:
    """High-water RSS of this process's driver JVM (its java child)."""
    for pid in _children(os.getpid()):
        if "java" in _cmdline(pid):
            return _status_kb(pid, "VmHWM:") / 1024.0
    return 0.0


def run_tree(cmd: list[str], env: dict, cwd: str, timeout: float) -> dict:
    """Run `cmd` to exit. Returns {"code", "wall_s", "rss_mb", "err"}: the
    tree's peak RSS is the largest sum, over one 20 ms sample, of the
    resident sizes of its processes."""
    peak_kb = 0
    seen: set[int] = set()
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True)
    done = threading.Event()

    def sample() -> None:
        nonlocal peak_kb
        while not done.is_set():
            stack, total = [proc.pid], 0
            while stack:
                p = stack.pop()
                seen.add(p)
                total += _status_kb(p, "VmRSS:")
                stack += _children(p)
            peak_kb = max(peak_kb, total)
            done.wait(0.02)

    poller = threading.Thread(target=sample, daemon=True)
    poller.start()
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
    wall = time.perf_counter() - t0
    done.set()
    poller.join(timeout=5)
    _wait_gone(sorted(seen), 30)
    return {"code": proc.returncode, "wall_s": wall, "rss_mb": peak_kb / 1024.0,
            "err": (err or "")[-2000:]}


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of `pids` is alive (the CLI's JVM exits after it)."""
    t_end = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < t_end:
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited, awaiting its parent's reap
            except OSError:
                break
            time.sleep(0.05)


def stop_jvm() -> None:
    """Stop the active session and wait for the gateway JVM to exit (it
    exits when its stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    kids = _children(proc.pid)
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    _wait_gone(kids, 10)
    SparkContext._gateway = None
    SparkContext._jvm = None

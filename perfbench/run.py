"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build|rml_cli \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the workload's inputs from the
seed, measures for about S seconds, checks every output, and prints as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics (a layer the workload
never enters reads 0). Lines before it give the pinned environment, the
calibration probes and per-workload detail.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_build", "rml_cli")


class Ctx:
    """What a workload needs from the harness, and what it reports back."""

    def __init__(self, args, root: str, work: str):
        from perfbench.trace import Tracer

        self.root, self.work = root, work
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.t_start = T_START
        self.event_log = os.path.join(work, "events")
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.probes: dict[str, float] = {}
        self.detail: dict = {}
        self._stats: dict | None = None

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"[perfbench] FAILED: {msg}", file=sys.stderr, flush=True)

    def probe(self, when: str, seconds: float) -> None:
        self.probes[when] = seconds

    def span_stats(self) -> dict[str, dict]:
        """Spark work per span, from the event log; call once the session
        (or the traced subprocess) has stopped, so the log is complete."""
        from perfbench.trace import attribute, read_event_log

        if self._stats is None:
            self._stats = attribute(self.tracer.spans, read_event_log(self.event_log))
        return self._stats

    def under(self, span: dict, ancestor: str) -> bool:
        by_id = {s["id"]: s for s in self.tracer.spans}
        cur = span["parent"]
        while cur is not None:
            if cur == ancestor:
                return True
            cur = by_id[cur]["parent"]
        return False

    @staticmethod
    def busy_frac(m: dict, wall: float) -> float:
        from perfbench.harness import MASTER

        slots = int(MASTER[6:-1])
        return m["exec_s"] / (wall * slots) if wall > 0 else 0.0

    def engine_metrics(self, root: dict) -> dict[str, float]:
        m = self.span_stats()[root["id"]]
        wall = root["end"] - root["start"]
        return {
            "spark.jobs": m["jobs"], "spark.stages": m["stages"],
            "spark.tasks": m["tasks"], "spark.exec_s": m["exec_s"],
            "spark.gc_s": m["gc_s"], "spark.shuffle_write_mb": m["shuffle_write_mb"],
            "spark.spill_mb": m["spill_mb"], "spark.busy_frac": self.busy_frac(m, wall),
        }


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = ROOT
    if not os.path.isdir(os.path.join(root, "rossete_rdf_spark")):
        print(f"[perfbench] no rossete_rdf_spark package under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.harness import pin_env, stop_jvm

    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = load_spec(root)
    env = pin_env(root, work)
    print("[perfbench] env " + json.dumps(env, sort_keys=True), flush=True)

    ctx = Ctx(args, root, work)
    try:
        raw = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
    finally:
        stop_jvm()
    if ctx.trace:
        ctx.tracer.dump(os.path.join(os.path.dirname(work), f"{args.workload}_spans.json"))
        raw = {**raw, **{f"probe.{k}_s": v for k, v in ctx.probes.items()}}
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if not ctx.trace and m["name"] not in raw]
    if missing:
        print(f"[perfbench] workload did not report {missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(raw.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    extra = {k: v for k, v in raw.items() if k not in metrics}
    if extra:
        ctx.detail["unlisted_metrics"] = extra
    print("[perfbench] probes_s " + json.dumps(ctx.probes), flush=True)
    print("[perfbench] detail " + json.dumps(ctx.detail, default=str), flush=True)
    for name, m in metrics.items():
        print(f"[perfbench] {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    failed = min(len(ctx.failures), ctx.attempted)
    print(json.dumps({
        "correct": not ctx.failures and ctx.attempted > 0,
        "attempted": max(ctx.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

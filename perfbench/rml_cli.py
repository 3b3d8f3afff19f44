"""rml_cli: `python -m rossete_rdf_spark --mappings ... --output out.nt` as
a subprocess, over a generated CSV plus a multi-line JSON document.

The mapping has rr:class, default and rr:datatype literals, an IRI
template, a cross-source rr:joinCondition and a same-source parent. Each
output is compared line for line with the triples expect.py derives from
the generated rows.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

from . import gen
from .expect import cli_expected_lines, cli_output_matches
from .harness import MASTER, event_log_submit_args, py_probe, run_tree

SETUP_REPS = 9
TIMEOUT_S = 150


def _cli_cmd(mapping: str, out: str, traced_spans: str | None) -> list[str]:
    args = ["--mappings", mapping, "--output", out, "--master", MASTER,
            "--base-dir", os.path.dirname(mapping)]
    if traced_spans:
        return [sys.executable, "-m", "perfbench.cli_traced", traced_spans, *args]
    return [sys.executable, "-m", "rossete_rdf_spark", *args]


def _invoke(ctx, mapping: str, expected: list[str], traced_spans: str | None = None) -> dict:
    """One CLI invocation, its output checked. Returns run_tree's figures
    plus "lines" and "out_mb"."""
    out = os.path.join(os.path.dirname(mapping), "out.nt")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    if traced_spans:
        env["PYSPARK_SUBMIT_ARGS"] = (
            event_log_submit_args(ctx.event_log) + " " + env["PYSPARK_SUBMIT_ARGS"])
    r = run_tree(_cli_cmd(mapping, out, traced_spans), env, ctx.root, TIMEOUT_S)
    ctx.attempted += 1
    r.update(lines=0, out_mb=0.0)
    if r["code"] != 0 or not os.path.exists(out):
        ctx.fail(f"CLI exited {r['code']}: {r['err'].strip()[-300:]}")
        return r
    ok, r["lines"] = cli_output_matches(out, expected)
    if not ok:
        ctx.fail("CLI output differs from the expected triples")
    r["out_mb"] = os.path.getsize(out) / 1e6
    os.remove(out)
    return r


def run(ctx) -> dict:
    inputs = os.path.join(ctx.work, "inputs")
    setups = []
    for i in range(SETUP_REPS):
        t0 = ctx.t_start if i == 0 else time.perf_counter()
        shutil.rmtree(inputs, ignore_errors=True)
        stops, cities = gen.cli_tables(ctx.seed)
        mapping = gen.write_cli_inputs(inputs, stops, cities)
        setups.append(time.perf_counter() - t0)
    expected = cli_expected_lines(stops, cities)
    ctx.probe("before", py_probe())

    if ctx.trace:
        return _traced(ctx, mapping, expected, setups)

    runs = []
    t_end = time.perf_counter() + ctx.seconds
    while not runs or time.perf_counter() < t_end:
        runs.append(_invoke(ctx, mapping, expected))
    ctx.probe("after", py_probe())
    ctx.detail.update(triples=runs[-1]["lines"], out_mb=runs[-1]["out_mb"],
                      walls=[r["wall_s"] for r in runs])
    return {"setup_s": statistics.median(setups),
            "wall_s": statistics.median([r["wall_s"] for r in runs]),
            "peak_rss_mb": statistics.median([r["rss_mb"] for r in runs])}


def _traced(ctx, mapping: str, expected: list[str], setups) -> dict:
    from .trace import load_spans

    spans_path = os.path.join(ctx.work, "cli_spans.json")
    r = _invoke(ctx, mapping, expected, traced_spans=spans_path)
    ctx.probe("after", py_probe())
    spans = load_spans(spans_path)
    ctx.tracer.spans.extend(spans)
    stats = ctx.span_stats()
    by = {s["name"]: s for s in spans}
    main = by["cli.main"]

    def dur(name: str) -> float:
        s = by.get(name)
        return s["end"] - s["start"] if s else 0.0

    m = stats[main["id"]]
    out = {
        "setup_s": statistics.median(setups), "trace.wall_s": r["wall_s"],
        "peak_rss_mb": r["rss_mb"],
        "cli.session_s": dur("cli.session"), "cli.parse_s": dur("cli.parse"),
        "cli.plan_s": dur("cli.plan"), "cli.write_s": dur("cli.write"),
        "cli.concat_s": main["end"] - by["cli.write"]["end"],
        "cli.jobs": m["jobs"], "cli.tasks": m["tasks"], "cli.max_task_s": m["max_task_s"],
        "cli.shuffle_mb": m["shuffle_write_mb"], "cli.out_mb": r["out_mb"],
        "cli.triples": r["lines"],
    }
    out.update(ctx.engine_metrics(main))
    return out

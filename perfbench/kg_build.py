"""kg_build: `run_kg_pipeline` cold into a fresh workdir, checkpoint I/O
included, over the seed's window of synthetic Common-Crawl-style pages.

Both modes start with set-up (session, warm-up job, pages written to
parquet) and one untimed warm-up run of the pipeline on a small window,
so that the JVM's first-run compilation is not measured.
Untraced: cold runs (each into an empty workdir) until the measuring time
is spent, at least one.
Traced: one cold run with a span around every `CheckpointManager.run_stage`
and connected-components call, a kill after `linked` plus resume, and the
LSH candidate/verified counts computed untimed on the stage snapshots.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from . import gen
from .expect import multiset_digest
from .harness import driver_jvm_peak_mb, jvm_probe, start_session

STAGES = ("extract", "pagedup", "mentions", "gazetteer", "linked", "canonical", "triples")
PREDS = {
    "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
    "<http://kg.example.com/ontology#lang>",
    "<http://kg.example.com/ontology#crawledAt>",
    "<http://kg.example.com/ontology#mentions>",
}
SETUP_REPS = 5
WARMUP_PAGES = 100


def triples_summary(workdir: str, window: tuple[int, int]) -> tuple[int, str, bool]:
    """(row count, order-independent digest, well-formed) of the triples
    snapshot, read with pyarrow rather than Spark. Well-formed: known
    predicates only, every subject a page of the window, and exactly three
    page-graph triples per page subject."""
    files = sorted(glob.glob(os.path.join(workdir, "stage_triples.parquet", "*.parquet")))
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["subj", "pred", "obj", "graph"])
        rows += list(zip(*(t.column(c).to_pylist() for c in ("subj", "pred", "obj", "graph"))))
    lo, hi = window
    ok = bool(rows)
    per_page: dict[str, int] = {}
    for s, p, _o, g in rows:
        pid = int(s.rstrip(">").rsplit("/", 1)[-1]) if s.startswith("<https://") else -1
        ok = ok and p in PREDS and lo <= pid < hi
        if g == "pages":
            per_page[s] = per_page.get(s, 0) + 1
    ok = ok and all(n == 3 for n in per_page.values())
    return len(rows), multiset_digest(rows), ok


def _check_against_earlier(work: str, seed: int, count: int, digest: str) -> bool:
    """Runs of one seed must agree: compare with the figures an earlier run
    in this checkout recorded for the seed, and record them if new."""
    path = os.path.join(os.path.dirname(work), "kg_digests.json")
    book = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            book = json.load(f)
    key = f"{seed % gen.KG_WINDOWS}:{gen.KG_PAGES}"
    if key in book:
        return book[key] == [count, digest]
    book[key] = [count, digest]
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(book, f)
    os.replace(path + ".tmp", path)
    return True


def run(ctx) -> dict:
    from rossete_rdf_spark.pipeline.kg import run_kg_pipeline

    window = gen.kg_window(ctx.seed)
    pages_dir = os.path.join(ctx.work, "pages.parquet")
    spark = None
    setups = []
    for i in range(SETUP_REPS):
        t0 = ctx.t_start if i == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(ctx.work, ctx.event_log if ctx.trace else None)
        jvm_probe(spark)  # warm-up: first job, codegen and JIT of the probe
        gen.kg_pages(spark, ctx.seed).write.mode("overwrite").parquet(pages_dir)
        setups.append(time.perf_counter() - t0)
        if ctx.trace:
            break  # one session: the event log must cover the whole run
    ctx.probe("before", jvm_probe(spark))
    pages = spark.read.parquet(pages_dir)

    # Warm-up: one full run over a small window of other pages, so that
    # codegen, the JIT and the Python workers are warm before anything is
    # timed (the pipeline's cost is mostly per job, not per page).
    warm = os.path.join(ctx.work, "wd_warm")
    t0 = time.perf_counter()
    run_kg_pipeline(spark, gen.kg_pages(spark, ctx.seed + 1, WARMUP_PAGES), warm)
    ctx.detail["warmup_s"] = time.perf_counter() - t0
    shutil.rmtree(warm, ignore_errors=True)

    if ctx.trace:
        return _traced(ctx, spark, pages, window, setups)

    walls, results = [], []
    t_end = time.perf_counter() + ctx.seconds
    while not walls or time.perf_counter() < t_end:
        wd = os.path.join(ctx.work, f"wd{len(walls)}")
        shutil.rmtree(wd, ignore_errors=True)
        t0 = time.perf_counter()
        run_kg_pipeline(spark, pages, wd)
        walls.append(time.perf_counter() - t0)
        results.append(triples_summary(wd, window))
        shutil.rmtree(wd, ignore_errors=True)
        ctx.attempted += 1
    n, digest, ok = results[0]
    for r in results[1:]:
        if r != results[0]:
            ctx.fail("kg output differs between runs of one seed")
    if not ok:
        ctx.fail("kg triples malformed")
    if not _check_against_earlier(ctx.work, ctx.seed, n, digest):
        ctx.fail("kg output differs from an earlier run of this seed")
    ctx.probe("after", jvm_probe(spark))
    ctx.detail.update(triples=n, digest=digest, window=list(window),
                      kg_triples_per_s=n / statistics.median(walls), walls=walls)
    rss = driver_jvm_peak_mb()
    spark.stop()
    return {"setup_s": statistics.median(setups), "wall_s": statistics.median(walls),
            "peak_rss_mb": rss}


def _lsh_counts(spark, wd: str) -> dict[str, float]:
    """Candidate and verified pair counts of both LSH blockings, computed
    on the snapshots the stages read (untimed; traced run only)."""
    from pyspark.sql import functions as F

    from rossete_rdf_spark.pipeline.canonicalize import (
        surface_candidate_pairs,
        verified_pairs,
    )
    from rossete_rdf_spark.pipeline.pagedup import (
        MAX_BUCKET,
        MIN_BANDS,
        duplicate_edges,
        exact_duplicate_edges,
    )
    from rossete_rdf_spark.textops.dedup import minhash_lsh_pairs

    text = spark.read.parquet(os.path.join(wd, "stage_extract.parquet"))
    cands = minhash_lsh_pairs(text, id_col="url", text_col="text", max_bucket=MAX_BUCKET)
    cands = cands.filter(F.col("n_bands") >= MIN_BANDS)
    n_cand = cands.count()
    # duplicate_edges is exact edges UNION ALL verified near-dup edges
    p_ver = duplicate_edges(text).count() - exact_duplicate_edges(text).count()
    gaz = spark.read.parquet(os.path.join(wd, "stage_gazetteer.parquet")).select("surface")
    sc = surface_candidate_pairs(gaz).localCheckpoint()
    c_cand = sc.count()
    c_ver = verified_pairs(sc).count()
    return {
        "lsh.pagedup.candidates": n_cand, "lsh.pagedup.verified": p_ver,
        "lsh.pagedup.yield": p_ver / n_cand if n_cand else 0.0,
        "lsh.canonical.candidates": c_cand, "lsh.canonical.verified": c_ver,
        "lsh.canonical.yield": c_ver / c_cand if c_cand else 0.0,
    }


def _traced(ctx, spark, pages, window, setups) -> dict:
    import rossete_rdf_spark.pipeline.canonicalize as canon_mod
    import rossete_rdf_spark.pipeline.pagedup as pagedup_mod
    from rossete_rdf_spark.pipeline.checkpoint import CheckpointManager
    from rossete_rdf_spark.pipeline.kg import run_kg_pipeline

    tr = ctx.tracer
    tr.bind(spark)
    undo = [
        tr.wrap(CheckpointManager, "run_stage", lambda self, name, build: f"kg.{name}"),
        tr.wrap(pagedup_mod, "connected_components_encoded", "cc"),
        tr.wrap(canon_mod, "connected_components", "cc"),
    ]
    cold = os.path.join(ctx.work, "wd_cold")
    killed = os.path.join(ctx.work, "wd_resume")
    for d in (cold, killed):
        shutil.rmtree(d, ignore_errors=True)
    try:
        with tr.span("kg.cold"):
            run_kg_pipeline(spark, pages, cold)
        ctx.attempted += 1
        with tr.span("kg.partial"):
            run_kg_pipeline(spark, pages, killed, stop_after="linked")
        with tr.span("kg.resume"):
            run_kg_pipeline(spark, pages, killed)
        ctx.attempted += 1
    finally:
        for u in undo:
            u()
    cold_out = triples_summary(cold, window)
    if not cold_out[2]:
        ctx.fail("kg triples malformed")
    if triples_summary(killed, window) != cold_out:
        ctx.fail("resumed kg output differs from the cold output")
    if not _check_against_earlier(ctx.work, ctx.seed, cold_out[0], cold_out[1]):
        ctx.fail("kg output differs from an earlier run of this seed")
    lsh = _lsh_counts(spark, cold)
    ctx.probe("after", jvm_probe(spark))
    with open(os.path.join(cold, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)["stages"]
    ckpt_mb = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(cold, "stage_*", "*"))
    ) / 1e6
    rss = driver_jvm_peak_mb()
    spark.stop()

    stats = ctx.span_stats()
    spans = ctx.tracer.spans
    cold_span = next(s for s in spans if s["name"] == "kg.cold")
    out = {"setup_s": statistics.median(setups), "ckpt.mb_written": ckpt_mb, "peak_rss_mb": rss,
           "trace.wall_s": cold_span["end"] - cold_span["start"], **lsh}
    for st in STAGES:
        sp = next(s for s in spans if s["name"] == f"kg.{st}" and s["parent"] == cold_span["id"])
        m = stats[sp["id"]]
        out.update({
            f"kg.{st}_s": sp["end"] - sp["start"],
            f"kg.{st}.jobs": m["jobs"], f"kg.{st}.exec_s": m["exec_s"],
            f"kg.{st}.shuffle_mb": m["shuffle_write_mb"],
            f"kg.{st}.rows": manifest[st]["rows"],
        })
    resume = next(s for s in spans if s["name"] == "kg.resume")
    out["kg.resume_s"] = resume["end"] - resume["start"]
    out["kg.resume.jobs"] = stats[resume["id"]]["jobs"]
    cc = [s for s in spans if s["name"] == "cc"
          and ctx.under(s, cold_span["id"])]
    out["cc.calls"] = len(cc)
    out["cc_s"] = sum(s["end"] - s["start"] for s in cc)
    out["cc.jobs"] = sum(stats[s["id"]]["jobs"] for s in cc)
    out.update(ctx.engine_metrics(cold_span))
    ctx.detail.update(triples=cold_out[0], digest=cold_out[1], window=list(window))
    return out

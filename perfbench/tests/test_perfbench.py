"""Self-tests of the benchmark's generators, output checks and trace reader.

    python -m pytest perfbench/tests -q

The Spark-backed tests share one local session with an event log.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, kg_build  # noqa: E402
from perfbench.expect import cli_expected_lines, cli_output_matches, multiset_digest  # noqa: E402
from perfbench.harness import MASTER, pin_env, start_session  # noqa: E402
from perfbench.trace import Tracer, attribute, read_event_log, self_times  # noqa: E402


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    w = str(tmp_path_factory.mktemp("perfbench"))
    pin_env(ROOT, w)
    return w


@pytest.fixture(scope="module")
def traced_spark(work):
    log = os.path.join(work, "events")
    spark = start_session(work, log)
    yield spark, log
    spark.stop()


def test_cli_tables_follow_the_seed():
    a, b, c = (gen.cli_tables(s, n_rows=500, n_cities=50) for s in (1, 1, 2))
    assert a == b
    assert a != c
    assert len(a[0]) == len(c[0]) and len(a[1]) == len(c[1])


def test_kg_pages_follow_the_seed(traced_spark):
    spark, _ = traced_spark

    def urls(seed):
        rows = gen.kg_pages(spark, seed, n_pages=40).select("url", "text").collect()
        return sorted((r.url, r.text) for r in rows)

    a, b, c = urls(7), urls(7), urls(8)
    assert a == b
    assert a != c
    assert len(a) == len(c) == 40


def test_cli_check_rejects_one_changed_line(tmp_path):
    stops, cities = gen.cli_tables(3, n_rows=200, n_cities=20)
    expected = cli_expected_lines(stops, cities)
    out = tmp_path / "out.nt"
    out.write_text("\n".join(reversed(expected)) + "\n", encoding="utf-8")
    assert cli_output_matches(str(out), expected) == (True, len(expected))
    changed = list(expected)
    i = len(changed) // 2
    changed[i] = changed[i][: -len(" .")] + "x ."
    out.write_text("\n".join(changed) + "\n", encoding="utf-8")
    assert cli_output_matches(str(out), expected)[0] is False


def test_cli_expected_lines_match_the_engine(work):
    """The independent derivation agrees with the real CLI on a small input
    that has duplicates, spaces, empty values and repeated join keys."""
    stops, cities = gen.cli_tables(11, n_rows=400, n_cities=40)
    mapping = gen.write_cli_inputs(os.path.join(work, "cli"), stops, cities)
    out = os.path.join(work, "cli", "out.nt")
    subprocess.run(
        [sys.executable, "-m", "rossete_rdf_spark", "--mappings", mapping,
         "--output", out, "--master", MASTER, "--base-dir", os.path.dirname(mapping)],
        cwd=ROOT, env=dict(os.environ), check=True, capture_output=True, timeout=300,
    )
    assert cli_output_matches(out, cli_expected_lines(stops, cities))[0]


def test_multiset_digest_ignores_order():
    rows = [("a", 1), ("b", 2), ("a", 1)]
    assert multiset_digest(rows) == multiset_digest(list(reversed(rows)))
    assert multiset_digest(rows) != multiset_digest(rows[:2])


def test_self_time_subtracts_children():
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 3.0, "end": 6.0},
    ]
    assert self_times(spans) == {"r": 5.0, "a": 3.0, "b": 3.0}


def test_kg_window_zero_matches_bench_count(traced_spark, work):
    """The 0..7999 window through the checkpointed pipeline gives bench.py's
    152,162 triples, which its no-checkpoint kg_job also gives."""
    import bench
    from rossete_rdf_spark.pipeline.kg import run_kg_pipeline

    spark, _ = traced_spark
    assert gen.kg_window(0, 8000) == (0, 8000)
    wd = os.path.join(work, "kg8000")
    run_kg_pipeline(spark, gen.kg_pages(spark, 0, n_pages=8000), wd)
    assert kg_build.triples_summary(wd, (0, 8000))[0] == 152_162
    assert bench.kg_job(spark, 8000, partitions=32, min_words=16, word_spread=24) == 152_162


def test_event_log_shuffle_attribution(traced_spark):
    """A shuffling query reports shuffle bytes, a projection-only one none,
    and each query's jobs land on its own span."""
    spark, log = traced_spark
    tr = Tracer(spark)
    with tr.span("shuffle"):
        spark.range(0, 100_000, 1, 4).selectExpr("id % 97 as k").groupBy("k").count().collect()
    with tr.span("project"):
        spark.range(0, 100_000, 1, 4).selectExpr("id * 2 as x").write.format(
            "noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    stats = attribute(tr.spans, read_event_log(log))
    sh, pr = (stats[s["id"]] for s in tr.spans)
    assert sh["jobs"] >= 1 and sh["shuffle_write_mb"] > 0
    assert pr["jobs"] >= 1 and pr["shuffle_write_mb"] == 0

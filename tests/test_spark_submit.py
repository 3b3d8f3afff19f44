"""North-rule packaging evidence: the pipeline must run via
`spark-submit --py-files <zip>` (BASELINE.json). This test builds the zip,
submits the real job script against a clean python path, and checks the
emitted metrics + resumability manifest."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    return shutil.which("spark-submit") or (
        "/opt/spark/bin/spark-submit"
        if os.path.exists("/opt/spark/bin/spark-submit")
        else None
    )


def test_spark_submit_pyfiles_runs_pipeline(tmp_path):
    submit = _spark_submit()
    if submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    zip_path = shutil.make_archive(
        str(tmp_path / "rossete_rdf_spark"), "zip",
        root_dir=REPO, base_dir="rossete_rdf_spark",
    )
    workdir = tmp_path / "kgrun"
    env = os.environ.copy()
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    r = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "4g",
         # a non-UTC JVM zone: the job's literals must still render in UTC
         "--driver-java-options", "-Duser.timezone=Asia/Tokyo",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "submit_kg.py"),
         "--n-synth", "300", "--workdir", str(workdir), "--partitions", "8"],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]

    metrics = json.loads(r.stdout[r.stdout.index("{"):])
    assert metrics["triples"]["rows"] > 0
    # per-stage manifest exists -> a killed run resumes from it
    manifest = json.loads((workdir / "manifest.json").read_text())
    assert set(metrics) <= set(manifest["stages"])
    assert all(s["rows"] >= 0 and "partition_rows" in s
               for s in manifest["stages"].values())

    import pyarrow.parquet as pq

    pages = pq.read_table(workdir / "stage_extract.parquet",
                          columns=["url", "warc_ts"]).to_pylist()
    want = {f"<{p['url']}>": p["warc_ts"].strftime("%Y-%m-%dT%H:%M:%S")
            for p in pages}
    triples = pq.read_table(workdir / "stage_triples.parquet").to_pylist()
    got = {t["subj"]: t["obj"].split('"')[1]
           for t in triples if t["pred"].endswith("crawledAt>")}
    assert got and got == {s: want[s] for s in got}


PRECEDENCE_PROBE = """
import json
from rossete_rdf_spark.session import get_spark

def seen(s):
    return [s.sparkContext.master, s.conf.get("spark.sql.shuffle.partitions"),
            s.conf.get("spark.sql.session.timeZone"),
            s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")]

s = get_spark()
launched = seen(s)
s.stop()
explicit = seen(get_spark(master="local[2]", shuffle_partitions=3))
print("PROBE", json.dumps([launched, explicit]))
"""


def test_get_spark_precedence_caller_then_launcher_then_defaults(tmp_path):
    env = os.environ.copy()
    env["PYTHONPATH"] = REPO
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[1] --conf spark.sql.shuffle.partitions=7 "
        "--conf spark.driver.memory=2048m "
        "--conf spark.sql.session.timeZone=Asia/Tokyo "
        "--driver-java-options -Duser.timezone=Asia/Tokyo pyspark-shell"
    )
    r = subprocess.run([sys.executable, "-c", PRECEDENCE_PROBE], capture_output=True,
                       text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    line = next(x for x in r.stdout.splitlines() if x.startswith("PROBE "))
    launched, explicit = json.loads(line[len("PROBE "):])
    # the launcher's master and --conf beat the library defaults; the
    # object-agg threshold follows the launched heap (2048m -> 2 GiB)
    assert launched == ["local[1]", "7", "UTC", str(2 << 20)]
    # the caller's arguments beat the launcher
    assert explicit == ["local[2]", "3", "UTC", str(2 << 20)]


def test_default_driver_heap_follows_physical_memory(spark, monkeypatch):
    # the default heap is half of physical RAM in whole GiB, at least 1g and
    # capped at 48g; the object-agg threshold follows the heap the driver
    # was launched with, read back from spark.driver.memory
    from rossete_rdf_spark import session

    for ram_gib, heap_gb in ((15.6, 7), (1, 1), (512, 48)):
        pages = int(ram_gib * 2**30) // 4096
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda name, pages=pages: 4096 if name == "SC_PAGE_SIZE" else pages,
        )
        assert session._default_driver_memory() == f"{heap_gb}g"
        assert session._object_agg_threshold(f"{heap_gb}g") == min(
            1 << 23, max(1 << 17, heap_gb << 20)
        )
    assert session._object_agg_threshold("3g") == 3 << 20
    assert session._object_agg_threshold("2048m") == 2 << 20
    launched = spark.sparkContext.getConf().get("spark.driver.memory")
    assert spark.conf.get(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    ) == str(session._object_agg_threshold(launched))

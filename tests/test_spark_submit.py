"""North-rule packaging evidence: the pipeline must run via
`spark-submit --py-files <zip>` (BASELINE.json). This test builds the zip,
submits the real job script against a clean python path, and checks the
emitted metrics + resumability manifest."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

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


def test_default_driver_heap_follows_physical_memory(monkeypatch):
    # with neither PYSPARK_SUBMIT_ARGS nor SPARK_DRIVER_MEMORY set, the heap
    # (and the object-agg threshold derived from it) is half of physical RAM
    # in whole GiB, at least 1g and capped at 48g
    from rossete_rdf_spark import session

    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    for ram_gib, heap_gb in ((15.6, 7), (1, 1), (512, 48)):
        pages = int(ram_gib * 2**30) // 4096
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda name, pages=pages: 4096 if name == "SC_PAGE_SIZE" else pages,
        )
        assert session._configured_driver_gb() == heap_gb
        assert session._object_agg_threshold() == min(
            1 << 23, max(1 << 17, heap_gb << 20)
        )
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session._configured_driver_gb() == 3

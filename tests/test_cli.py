"""The CLI in-process (`__main__.main`) over a small CSV mapping: the
default single-file output and the --output-dir / --strict-nt flags."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from rossete_rdf_spark.__main__ import main

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _mapping(tmp_path) -> str:
    (tmp_path / "stops.csv").write_text("id,name\n1,alpha\n2,beta\n")
    m = tmp_path / "map.ttl"
    m.write_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#>.
@prefix rml: <http://semweb.mmlab.be/ns/rml#>.
<#Stops> a rr:TriplesMap;
  rml:logicalSource [ rml:source "stops.csv" ];
  rr:subjectMap [ rr:template "http://ex.org/stop/{id}"; rr:class <http://ex.org/Stop> ];
  rr:predicateObjectMap [
    rr:predicate <http://ex.org/name>; rr:objectMap [ rml:reference "name" ]
  ].
""")
    return str(m)


def _preds(lines: list[str]) -> set[str]:
    return {ln.split(" ")[1] for ln in lines if ln}


def test_cli_output_dir_and_strict_nt(spark, tmp_path):
    mapping = _mapping(tmp_path)
    single = tmp_path / "out.nt"
    assert main(["--mappings", mapping, "--output", str(single),
                 "--base-dir", str(tmp_path)]) == 0
    # default: one concatenated file, with the reference's `a` quirk
    assert _preds(single.read_text().splitlines()) == {"a", "<http://ex.org/name>"}

    out = tmp_path / "graph.nt"  # a directory: the extension picks the format
    assert main(["--mappings", mapping, "--output", str(out),
                 "--base-dir", str(tmp_path), "--output-dir", "--strict-nt"]) == 0
    assert out.is_dir() and os.path.exists(out / "_SUCCESS")
    parts = glob.glob(str(out / "part-*"))
    assert parts
    lines = [ln for p in parts for ln in open(p, encoding="utf-8").read().splitlines()]
    assert len(lines) == 4
    assert _preds(lines) == {RDF_TYPE, "<http://ex.org/name>"}
    assert f"<http://ex.org/stop/1> {RDF_TYPE} <http://ex.org/Stop> ." in lines


def test_cli_failed_write_removes_its_temp_dir(spark, tmp_path, monkeypatch):
    # the single-file output is staged in a rossete_out_* temp directory;
    # a write that fails must not leave it behind under TMPDIR
    mapping = _mapping(tmp_path)
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    def boom(*args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr("rossete_rdf_spark.rml.writers.write_nt", boom)
    with pytest.raises(RuntimeError, match="write failed"):
        main(["--mappings", mapping, "--output", str(tmp_path / "out.nt"),
              "--base-dir", str(tmp_path)])
    assert not list(scratch.glob("rossete_out_*"))

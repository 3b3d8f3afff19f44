"""Round-2 source features: CSV read options (delimiter/encoding/header via
config, reference src/config.rs:234-272,364-425), general JSONPath iterators
(reference src/input.rs:333-392), and the CLI front-end
(reference src/main.rs:29-114)."""

from __future__ import annotations

import json
import subprocess
import sys

from rossete_rdf_spark.rml.ast import LogicalSource
from rossete_rdf_spark.rml.config import EngineConfig, FileSpec, config_from_json
from rossete_rdf_spark.rml.sources import RID, load_logical_source, sanitize


def _spec_cfg(path, **kw):
    return EngineConfig(file_specs={str(path): FileSpec(**kw)})


def test_csv_semicolon_delimiter(spark, tmp_path):
    p = tmp_path / "semi.csv"
    p.write_text("x;y\n1;2\n3;4\n")
    src = LogicalSource(source=str(p), fmt="csv")
    df = load_logical_source(spark, src, ["y"], config=_spec_cfg(p, delimiter=";"))
    assert sorted(r[sanitize("y")] for r in df.collect()) == ["2", "4"]


def test_csv_windows1252_encoding(spark, tmp_path):
    p = tmp_path / "w1252.csv"
    # 0xE9 = 'é' in windows-1252 (invalid as UTF-8 lead byte)
    p.write_bytes("name;city\ncaf\xe9;M\xe1laga\n".encode("windows-1252"))
    src = LogicalSource(source=str(p), fmt="csv")
    cfg = _spec_cfg(p, delimiter=";", encoding="WINDOWS-1252")
    df = load_logical_source(spark, src, ["name", "city"], config=cfg)
    r = df.collect()[0]
    assert r[sanitize("name")] == "caf\xe9"
    assert r[sanitize("city")] == "M\xe1laga"


def test_csv_headerless_positional_fields(spark, tmp_path):
    p = tmp_path / "nohdr.csv"
    p.write_text("a,b\nc,d\n")
    src = LogicalSource(source=str(p), fmt="csv")
    df = load_logical_source(spark, src, ["0", "1"], config=_spec_cfg(p, header=False))
    rows = sorted((r[sanitize("0")], r[sanitize("1")]) for r in df.collect())
    assert rows == [("a", "b"), ("c", "d")]


def test_config_from_json_matches_reference_keys():
    cfg = config_from_json(
        {
            "files-data": [
                {"path": "./d/f.csv", "delimiter": ";", "header": False,
                 "encoding": "windows-1252", "file-type": "csv"},
            ],
            "threads": {"reading": 3},  # accepted, ignored (Spark scheduler)
            "max-memory-usage": 100,  # accepted, ignored (Tungsten spill)
            "output-format": "TTL",
        },
        base_dir="/base",
    )
    spec = cfg.spec_for("/base/d/f.csv")
    assert spec == FileSpec(delimiter=";", header=False,
                            encoding="WINDOWS-1252", file_type="csv")
    assert cfg.output_format == "ttl"


def test_json_nested_iterator(spark, tmp_path):
    p = tmp_path / "nested.json"
    p.write_text(json.dumps({
        "a": {"b": [
            {"c": [{"k": "x1"}, {"k": "x2"}], "junk": 1},
            {"c": [{"k": "y1"}]},
        ]}
    }))
    src = LogicalSource(source=str(p), fmt="json", iterator="$.a.b[*].c[*]")
    df = load_logical_source(spark, src, ["k"])
    assert sorted(r[sanitize("k")] for r in df.collect()) == ["x1", "x2", "y1"]


def test_json_bare_array_segment_auto_explodes(spark, tmp_path):
    # reference treats $.students and $.students[*] identically
    p = tmp_path / "bare.json"
    p.write_text(json.dumps({"students": [{"n": "a"}, {"n": "b"}]}))
    src = LogicalSource(source=str(p), fmt="json", iterator="$.students")
    df = load_logical_source(spark, src, ["n"])
    assert sorted(r[sanitize("n")] for r in df.collect()) == ["a", "b"]


def test_json_absent_iterator_yields_zero_rows(spark, tmp_path):
    p = tmp_path / "none.json"
    p.write_text(json.dumps({"a": 1}))
    src = LogicalSource(source=str(p), fmt="json", iterator="$.missing[*]")
    df = load_logical_source(spark, src, ["k"])
    assert df.count() == 0


def test_cli_reproduces_golden_fixture(tmp_path, reference_dir):
    """python -m rossete_rdf_spark over the reference's example mappings must
    reproduce the ex_out.ttl triple set (format by extension: .nt)."""
    out = tmp_path / "out.nt"
    r = subprocess.run(
        [sys.executable, "-m", "rossete_rdf_spark",
         "--mappings", f"{reference_dir}/examples/mappings",
         "--output", str(out), "--master", "local[2]",
         "--base-dir", str(reference_dir)],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    from rossete_rdf_spark.rml.compare import parse_graph_text, precision_recall

    got = parse_graph_text(out.read_text())
    with open(f"{reference_dir}/ex_out.ttl", encoding="utf-8") as f:
        expected = parse_graph_text(f.read())
    p, rec, extra, missing = precision_recall(got, expected)
    assert p == 1.0 and rec == 1.0, (extra, missing)


def test_composite_join_condition_materializes(spark, tmp_path):
    """Two joinCondition pairs must AND: with only the first condition the
    child would match BOTH parents; the composite key selects exactly one."""
    (tmp_path / "c.csv").write_text("x,a,b\n7,k1,k2\n")
    (tmp_path / "p.csv").write_text("pa,pb,pid\nk1,zz,BAD\nk1,k2,GOOD\n")
    text = f"""
@prefix rr: <http://www.w3.org/ns/r2rml#>.
@prefix rml: <http://semweb.mmlab.be/ns/rml#>.
<#C> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{tmp_path}/c.csv" ];
  rr:subjectMap [ rr:template "http://s/{{x}}" ];
  rr:predicateObjectMap [
    rr:predicate <http://p/link>;
    rr:objectMap [
      rr:parentTriplesMap <#P>;
      rr:joinCondition [ rr:child "a"; rr:parent "pa" ];
      rr:joinCondition [ rr:child "b"; rr:parent "pb" ];
    ];
  ].
<#P> a rr:TriplesMap;
  rml:logicalSource [ rml:source "{tmp_path}/p.csv" ];
  rr:subjectMap [ rr:template "http://t/{{pid}}" ].
"""
    from rossete_rdf_spark.rml.compiler import materialize_all
    from rossete_rdf_spark.rml.parser import parse_mapping_text

    maps = parse_mapping_text(text)
    rows = {
        (r["subj"], r["pred"], r["obj"])
        for r in materialize_all(spark, maps).collect()
        if r["pred"] == "<http://p/link>"
    }
    assert rows == {("<http://s/7>", "<http://p/link>", "<http://t/GOOD>")}


def test_xml_real_reader_optin(spark, tmp_path):
    """Default XML = reference-parity stub (zero rows); EngineConfig
    xml_real=True parses elements via the XPath-style iterator, fields from
    child elements and @attributes."""
    p = tmp_path / "stops.xml"
    p.write_text(
        "<stops><stop id='1'><name>alpha</name></stop>"
        "<stop id='2'><name>beta</name></stop></stops>"
    )
    src = LogicalSource(source=str(p), fmt="xml", iterator="/stops/stop")
    assert load_logical_source(spark, src, ["@id", "name"]).count() == 0  # stub

    cfg = EngineConfig(xml_real=True)
    df = load_logical_source(spark, src, ["@id", "name"], config=cfg)
    # one file: __rid follows element order
    rows = [(r[sanitize("@id")], r[sanitize("name")]) for r in df.orderBy(RID).collect()]
    assert rows == [("1", "alpha"), ("2", "beta")]


def test_spec_for_ambiguous_basename_returns_none():
    from rossete_rdf_spark.rml.config import EngineConfig, FileSpec

    cfg = EngineConfig(
        file_specs={
            "/data/dir1/data.csv": FileSpec(delimiter=";"),
            "/data/dir2/data.csv": FileSpec(delimiter="|"),
        }
    )
    # exact path wins; an ambiguous basename must NOT let dict order pick
    assert cfg.spec_for("/data/dir1/data.csv").delimiter == ";"
    assert cfg.spec_for("/elsewhere/data.csv") is None
    # unambiguous basename fallback still works
    cfg2 = EngineConfig(file_specs={"/data/dir1/only.csv": FileSpec(delimiter=";")})
    assert cfg2.spec_for("only.csv").delimiter == ";"


def test_whatwg_encoding_aliases():
    from rossete_rdf_spark.rml.config import canonical_encoding

    # reference quirks (src/config.rs:378-425)
    assert canonical_encoding("koi8") == "KOI8-R"
    assert canonical_encoding("windows") == "windows-1258"
    assert canonical_encoding("UTF-16") == "UTF-16LE"
    assert canonical_encoding("macintosh") == "x-MacRoman"
    assert canonical_encoding("iso-8859-8-i") == "ISO-8859-8"
    # identity labels pass through uppercased
    assert canonical_encoding("windows-1252") == "WINDOWS-1252"
    assert canonical_encoding("iso-8859-5") == "ISO-8859-5"
    # unknown -> UTF-8 (the reference's default arm)
    assert canonical_encoding("not-a-charset") == "UTF-8"
    # labels java.nio's Charset.forName rejects must take the unknown->UTF-8
    # arm (or an explicit mapping), never pass through verbatim
    assert canonical_encoding("iso-8859-10") == "UTF-8"
    assert canonical_encoding("iso-8859-12") == "UTF-8"
    assert canonical_encoding("iso-8859-14") == "UTF-8"
    # labels ABSENT from the reference's exact-match table take its
    # unknown->UTF-8 arm even when java.nio could decode them — the table
    # is an exact replay, not a best-effort decode
    assert canonical_encoding("latin-1") == "UTF-8"
    assert canonical_encoding("latin1") == "UTF-8"
    assert canonical_encoding("us-ascii") == "UTF-8"
    assert canonical_encoding("iso-8859-1") == "UTF-8"
    assert canonical_encoding("iso-8859-9") == "UTF-8"
    assert canonical_encoding("gb2312") == "UTF-8"
    assert canonical_encoding("tis-620") == "UTF-8"
    assert canonical_encoding("iso-8859-15") == "ISO-8859-15"
    assert canonical_encoding("iso-8859-16") == "ISO-8859-16"
    # bare UTF-16 means LE (reference quirk, src/config.rs:407); UCS-2 /
    # UNICODE are NOT in the reference's table -> its unknown->UTF-8 arm
    assert canonical_encoding("utf-16") == "UTF-16LE"
    assert canonical_encoding("ucs-2") == "UTF-8"
    # Python-only codecs are not charsets
    assert canonical_encoding("base64") == "UTF-8"
    assert canonical_encoding("rot13") == "UTF-8"
    assert canonical_encoding("unicode_escape") == "UTF-8"


def test_strict_ingest_order_multi_file_csv(spark, tmp_path):
    """A directory source gets the exact (file, row-in-file) __rid by
    default: the file key in the high bits, the row index in the low 40."""
    from rossete_rdf_spark.rml.ast import LogicalSource
    from rossete_rdf_spark.rml.sources import load_logical_source as load_source

    d = tmp_path / "csvdir"
    d.mkdir()
    (d / "a.csv").write_text("id,name\n1,alpha\n2,beta\n3,gamma\n")
    (d / "b.csv").write_text("id,name\n4,delta\n5,epsilon\n")
    src = LogicalSource(source=str(d), fmt="csv", iterator=None)

    df = load_source(spark, src, ["id", "name"])
    rows = sorted(
        [(r["f_id"], r["__rid"]) for r in df.collect()], key=lambda t: t[1]
    )
    # within each file, __rid strictly follows row order; the high bits are
    # the per-file key so each file's rows are contiguous in rid order
    by_file = {}
    for fid, rid in rows:
        by_file.setdefault(rid >> 40, []).append((rid & ((1 << 40) - 1), fid))
    assert len(by_file) == 2
    for entries in by_file.values():
        row_idx = [e[0] for e in entries]
        assert row_idx == sorted(row_idx) == list(range(1, len(entries) + 1))
    ids_in_file = {tuple(e[1] for e in v) for v in by_file.values()}
    assert ids_in_file == {("1", "2", "3"), ("4", "5")}


def test_strict_ingest_order_json_iterator(spark, tmp_path):
    """Two JSON files behind an iterator: the file path is captured before
    the explode and threaded through _apply_json_iterator, and row-in-file
    is the row's offset in its scan partition. The (file, row-in-file)
    order must not depend on how Spark packs the files into partitions:
    both files in one partition, or one file per partition."""
    from rossete_rdf_spark.rml.ast import LogicalSource
    from rossete_rdf_spark.rml.sources import load_logical_source as load_source
    from rossete_rdf_spark.session import scoped_conf

    d = tmp_path / "jsondir"
    d.mkdir()
    (d / "x.json").write_text('{"rows": [{"id": "1"}, {"id": "2"}]}')
    (d / "y.json").write_text('{"rows": [{"id": "3"}, {"id": "4"}, {"id": "5"}]}')
    src = LogicalSource(source=str(d), fmt="json", iterator="$.rows[*]")
    layouts = {
        1: {"spark.sql.files.openCostInBytes": "0", "spark.sql.files.minPartitionNum": "1"},
        2: {"spark.sql.files.maxPartitionBytes": "1"},
    }
    for n_parts, confs in layouts.items():
        with scoped_conf(spark, confs):
            df = load_source(spark, src, ["id"])
            assert df.rdd.getNumPartitions() == n_parts
            rows = sorted((r["__rid"], r["f_id"]) for r in df.collect())
        assert [fid for _rid, fid in rows] == ["1", "2", "3", "4", "5"], n_parts
        assert [rid >> 40 for rid, _fid in rows] == [1, 1, 2, 2, 2], n_parts
        assert len({rid for rid, _fid in rows}) == 5


def test_strict_ingest_order_config_key():
    """Ingest order is not configurable; a config that sets the old key
    still loads (unknown keys are ignored, like "threads") and the key
    changes nothing."""
    from rossete_rdf_spark.rml.config import EngineConfig, config_from_json

    cfg = config_from_json({"strict-ingest-order": True, "threads": 4, "output-format": "nt"})
    assert cfg == EngineConfig(output_format="nt")

"""Logical-source loader tests (S1/S2/S3 semantics)."""

from __future__ import annotations

import pytest

from rossete_rdf_spark.rml.ast import LogicalSource
from rossete_rdf_spark.rml.sources import RID, load_logical_source, sanitize


def test_csv_missing_column_is_hard_error(spark, tmp_path):
    p = tmp_path / "a.csv"
    p.write_text("x,y\n1,2\n")
    src = LogicalSource(source=str(p), fmt="csv")
    with pytest.raises(KeyError):
        load_logical_source(spark, src, ["x", "nope"])


def test_csv_null_becomes_empty_string(spark, tmp_path):
    p = tmp_path / "a.csv"
    p.write_text("x,y\n1,\n,2\n")
    src = LogicalSource(source=str(p), fmt="csv")
    df = load_logical_source(spark, src, ["x", "y"])
    rows = sorted((r[sanitize("x")], r[sanitize("y")]) for r in df.collect())
    assert rows == [("", "2"), ("1", "")]


def test_tsv_delimiter(spark, tmp_path):
    p = tmp_path / "a.tsv"
    p.write_text("x\ty\n1\t2\n")
    src = LogicalSource(source=str(p), fmt="tsv")
    df = load_logical_source(spark, src, ["y"])
    assert df.collect()[0][sanitize("y")] == "2"


def test_json_dotted_paths_and_missing_field(spark, tmp_path):
    p = tmp_path / "a.json"
    p.write_text('{"a": {"b": "v", "n": 3}, "arr": [1,2]}')
    src = LogicalSource(source=str(p), fmt="json", iterator="$")
    df = load_logical_source(spark, src, ["a.b", "a.n", "a.miss", "arr"])
    r = df.collect()[0]
    assert r[sanitize("a.b")] == "v"
    assert r[sanitize("a.n")] == "3"  # scalar coerced to string
    assert r[sanitize("a.miss")] == ""  # absent -> ''
    assert r[sanitize("arr")] == ""  # non-scalar skipped -> ''


def test_json_array_iterator_explodes(spark, tmp_path):
    p = tmp_path / "b.json"
    p.write_text('{"items": [{"k": "a"}, {"k": "b"}]}')
    src = LogicalSource(source=str(p), fmt="json", iterator="$.items[*]")
    df = load_logical_source(spark, src, ["k"])
    assert sorted(r[sanitize("k")] for r in df.collect()) == ["a", "b"]


def test_xml_stages_zero_rows(spark, tmp_path):
    p = tmp_path / "c.xml"
    p.write_text("<r><b id='1'/></r>")
    src = LogicalSource(source=str(p), fmt="xml", iterator="/r/b")
    df = load_logical_source(spark, src, ["@id"])
    assert df.count() == 0
    assert set(df.columns) == {sanitize("@id"), RID}


@pytest.fixture
def tiny_splits(spark):
    """Split every file into scan partitions of at most 2 KB."""
    conf = {"spark.sql.files.maxPartitionBytes": "2048", "spark.sql.files.openCostInBytes": "0"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def test_rid_preserves_file_order(spark, tmp_path, tiny_splits):
    """One file keeps file order under the scan's monotonic id even when it
    is read as many partitions: Spark plans one file's splits in byte
    order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    p = tmp_path / "o.csv"
    p.write_text("x\n" + "\n".join(str(i) for i in range(100)))
    src = LogicalSource(source=str(p), fmt="csv")
    df = load_logical_source(spark, src, ["x"]).orderBy(RID)
    vals = [int(r[sanitize("x")]) for r in df.collect()]
    assert vals == list(range(100))

    n = 3000
    (tmp_path / "big.csv").write_text("x\n" + "\n".join(str(i) for i in range(n)) + "\n")
    pq.write_table(pa.table({"x": list(range(n))}), tmp_path / "big.parquet", row_group_size=250)
    for fmt in ("csv", "parquet"):
        src = LogicalSource(source=str(tmp_path / f"big.{fmt}"), fmt=fmt)
        df = load_logical_source(spark, src, ["x"])
        assert df.rdd.getNumPartitions() >= 2, fmt
        # rows really come from several splits, not one split plus empties
        assert df.select(F.spark_partition_id()).distinct().count() >= 2, fmt
        vals = [int(r[sanitize("x")]) for r in df.orderBy(RID).collect()]
        assert vals == list(range(n)), fmt


def test_xml_rid_unique_when_file_paths_collide(spark, tmp_path):
    """Two XML files whose paths share the low 22 bits of their crc32 (the
    old per-file rid base) still get distinct __rid, in (file, element)
    order."""
    import hashlib
    import zlib

    from rossete_rdf_spark.rml.config import EngineConfig

    d = tmp_path / "xmldir"
    d.mkdir()
    # crc32 is linear over XOR: names that differ only in a few digit bytes
    # never collide in the low 22 bits, so draw names from md5 hex instead
    seen: dict[int, str] = {}
    for i in range(50_000):
        name = hashlib.md5(str(i).encode()).hexdigest()[:12] + ".xml"
        key = zlib.crc32(f"file:{d}/{name}".encode()) & 0x3FFFFF
        if key in seen:
            pair = sorted([seen[key], name])
            break
        seen[key] = name
    for name, tag in zip(pair, "ab"):
        items = "".join(f"<i><v>{tag}{k}</v></i>" for k in range(3))
        (d / name).write_text(f"<r>{items}</r>")
    paths = [r.path for r in spark.read.format("binaryFile").load(str(d)).collect()]
    assert len({zlib.crc32(x.encode()) & 0x3FFFFF for x in paths}) == 1  # premise

    src = LogicalSource(source=str(d), fmt="xml", iterator="/r/i")
    df = load_logical_source(spark, src, ["v"], config=EngineConfig(xml_real=True))
    rows = df.collect()
    assert len({r[RID] for r in rows}) == len(rows) == 6
    got = [r[sanitize("v")] for r in sorted(rows, key=lambda r: r[RID])]
    assert got == ["a0", "a1", "a2", "b0", "b1", "b2"]


def test_rid_file_keys_match_file_names_that_need_escaping(spark, tmp_path):
    """The file keys come from the driver's file listing, which spells paths
    differently from the scan (`file:///` vs `file:/`); a space, a '+' and a
    literal '%20' in a directory or file name must still find their key, so
    no row is lost and the order is (file, row-in-file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rossete_rdf_spark.rml.config import EngineConfig

    odd = "a b+c%20"  # sorts before "b" in the escaped form, too
    writers = {
        "csv": lambda p, vs: p.write_text("v\n" + "\n".join(vs) + "\n"),
        "json": lambda p, vs: p.write_text(
            '{"items": [' + ", ".join(f'{{"v": "{v}"}}' for v in vs) + "]}"
        ),
        "parquet": lambda p, vs: pq.write_table(pa.table({"v": vs}), p),
        "xml": lambda p, vs: p.write_text(
            "<r>" + "".join(f"<i><v>{v}</v></i>" for v in vs) + "</r>"
        ),
    }
    iterators = {"json": "$.items[*]", "xml": "/r/i"}
    for fmt, write in writers.items():
        d = tmp_path / f"sub dir {fmt}"
        d.mkdir()
        write(d / f"{odd}.{fmt}", ["a0", "a1"])
        write(d / f"b.{fmt}", ["b0", "b1", "b2"])
        src = LogicalSource(source=str(d), fmt=fmt, iterator=iterators.get(fmt))
        df = load_logical_source(spark, src, ["v"], config=EngineConfig(xml_real=True))
        rows = df.collect()
        assert len({r[RID] for r in rows}) == len(rows) == 5, fmt
        got = [r[sanitize("v")] for r in sorted(rows, key=lambda r: r[RID])]
        assert got == ["a0", "a1", "b0", "b1", "b2"], fmt

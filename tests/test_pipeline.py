"""Web-pipeline tests: extraction invariant, stage correctness, CC,
canonicalization, and checkpoint/resume identity."""

from __future__ import annotations

import os
import shutil

import pytest

from rossete_rdf_spark.graph.cc import connected_components
from rossete_rdf_spark.pipeline import (
    extract_pages,
    extract_text_bytes,
    load_triples,
    run_kg_pipeline,
    synth_pages,
)
from rossete_rdf_spark.pipeline.canonicalize import canonical_entity_map, verified_pairs
from rossete_rdf_spark.pipeline.checkpoint import CheckpointManager
from rossete_rdf_spark.pipeline.mentions import page_mentions

N_PAGES = 400


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_PAGES, partitions=8).cache()


def test_synth_pages_deterministic(spark, pages):
    again = synth_pages(spark, N_PAGES, partitions=4)  # different partitioning
    a = {r["url"]: (r["text"], r["lang"], bytes(r["html"])) for r in pages.collect()}
    b = {r["url"]: (r["text"], r["lang"], bytes(r["html"])) for r in again.collect()}
    assert a == b


def test_extraction_byte_identical_per_url(pages):
    """The pinned invariant: extractor(html) == text, byte for byte."""
    rows = pages.collect()
    assert len(rows) == N_PAGES
    for r in rows:
        assert extract_text_bytes(bytes(r["html"])).decode() == r["text"], r["url"]


_FRAGMENTS = (
    b"<body>", b"</body>", b"<BODY class=x>", b"</Body >", b"<p>", b"</p>",
    b"<", b">", b" ", b"\t", b"\n", b"\r\n", b"\v", b"\f", b"\x1c",
    b"\xc2\xa0", "\u3000".encode(), "\U0001f600".encode(), b"\xe2\x82\xac",
    b"\xe2\x82", b"\xc0\xaf", b"\xf4\x90\x80\x80", b"\x80", b"\xed\xa0\x80",
    b"\xff", b"$1", b"\\", b"word",
)


def _fuzz_html(seed: int, n: int) -> list[bytes]:
    """n seeded byte strings: HTML fragments, whitespace and invalid UTF-8
    mixed with random bytes."""
    import random

    rng = random.Random(seed)
    out = []
    for _ in range(n):
        parts = [
            rng.choice(_FRAGMENTS) if rng.random() < 0.7 else rng.randbytes(rng.randint(1, 4))
            for _ in range(rng.randint(0, 12))
        ]
        out.append(b"".join(parts))
    return out


def _extracted(spark, htmls: list) -> list[str]:
    df = spark.createDataFrame(
        [(str(i), h) for i, h in enumerate(htmls)], "url string, html binary"
    ).selectExpr("url", "CAST(NULL AS timestamp) AS warc_ts", "'' AS lang", "html")
    got = {r["url"]: r["text"] for r in extract_pages(df).collect()}
    return [got[str(i)] for i in range(len(htmls))]


@pytest.mark.parametrize(
    "htmls",
    [
        [None, b""],
        [
            b"<html><BODY class=x> up <I>per</I> </BODY></html>",
            b"no body <b>here</b>",
            b"<body>one</body> between <body>two</body> after",
            b"<body> open but never closed",
        ],
        [b"a\vb", b"a\fb", b"a\x1cb", b"a\xc2\xa0b", "a\u3000b".encode()],
        [b"a\xe2\x82b", b"a\xc0\xafb", b"a\xf4\x90\x80\x80b", b"\x80\x80", b"a\xed\xa0\x80b"],
        ["<body>\U0001f600 $1 back\\slash</body>".encode()],
        _fuzz_html(17, 20_000),
    ],
    ids=["null-empty", "body", "whitespace", "invalid-utf8", "emoji-replacement", "fuzz"],
)
def test_extract_pages_matches_spec(spark, htmls):
    """The JVM extractor is the spec decoded with replacement, and "" for
    NULL: body choice, ASCII whitespace, invalid UTF-8 (the encoded
    surrogate included) and replacement-pattern text in the body."""
    want = [extract_text_bytes(h).decode("utf-8", "replace") for h in htmls]
    got = _extracted(spark, htmls)
    bad = [(h, w, g) for h, w, g in zip(htmls, want, got) if w != g]
    assert not bad, (len(bad), bad[:5])


def _python_tokens(text: str) -> list[str]:
    return [w for w in text.split() if len(w) >= 4]


@pytest.mark.parametrize(
    "text, expected",
    [
        # ASCII whitespace: the pipeline's tokens are Python's str.split()
        ("  alpha beta   gamma\tdelta\t\tepsilon  ", None),
        ("\tone\vthree\v\vfour\nfive\r\nsixty\fseven \v", None),
        ("tiny a bb ccc dddd", None),
        ("", None),
        # documented domain: NBSP, U+3000 and \x1c do not split (Java \s
        # is ASCII), where Python's str.split() would give five tokens
        (
            "alpha\xa0betagamma  delta\x1cepsilon\u3000zeta",
            ["alpha\xa0betagamma", "delta\x1cepsilon\u3000zeta"],
        ),
    ],
    ids=["spaces-tabs", "v-f-r-n", "short-words", "empty", "unicode-space"],
)
def test_page_mentions_tokens(spark, text, expected):
    df = spark.createDataFrame([("u", text)], "url string, text string")
    got = [r["surface"] for r in page_mentions(df).collect()]
    assert got == (_python_tokens(text) if expected is None else expected)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")],
        ["src", "dst"],
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert "p" not in comp  # self-loop only -> no edge -> not a node


def test_connected_components_chain(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert len(comp) == n + 1
    assert set(comp.values()) == {"n000"}


def test_canonicalize_collapses_variants(spark):
    surfaces = spark.createDataFrame(
        [("sparkle",), ("sparkles",), ("database",), ("databases",), ("qqqq",)],
        ["surface"],
    )
    m = {r["surface"]: r["canonical"] for r in canonical_entity_map(surfaces, 0.5).collect()}
    assert m["sparkle"] == m["sparkles"]
    assert m["database"] == m["databases"]
    assert m["qqqq"] == "qqqq"
    assert m["sparkle"] != m["database"]
    # verification bar is >=: on char 3-grams abcdef/abcdeg share 3 of 5
    # distinct grams (exactly 0.6, kept), abcdefg/abcdefxy 4 of 7 (dropped)
    cands = spark.createDataFrame(
        [("abcdef", "abcdeg"), ("abcdefg", "abcdefxy")], ["a", "b"]
    )
    kept = {(r.a, r.b) for r in verified_pairs(cands, 0.6).collect()}
    assert kept == {("abcdef", "abcdeg")}


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kgwork"))


def test_pipeline_end_to_end(spark, pages, workdir):
    full = os.path.join(workdir, "full")
    metrics = run_kg_pipeline(spark, pages, full)
    assert set(metrics.keys()) == {
        "extract", "pagedup", "mentions", "gazetteer", "linked", "canonical",
        "triples",
    }
    assert metrics["extract"]["rows"] == N_PAGES
    kept = metrics["pagedup"]["rows"]
    # the generator plants ~5% near-dups + ~2% exact dups
    assert 0.85 * N_PAGES < kept < N_PAGES
    assert metrics["triples"]["rows"] > 3 * kept  # 3 page triples + mentions
    for st in metrics.values():  # lineage counters recorded per partition
        assert st["rows"] == sum(st["partition_rows"].values())
    t = load_triples(spark, full)
    assert t.columns == ["subj", "pred", "obj", "graph"]
    # near-dup pages produced canonical entity IRIs: every mention object is
    # a canonical surface (mentions graph non-empty)
    assert t.filter(t.graph == "mentions").count() > 0


def test_manifest_schema_is_the_inferred_schema(spark, workdir):
    """Each stage entry records exactly the schema a schema-inferring read
    of its snapshot gives, so reading with it changes no type or
    nullability."""
    from pyspark.sql.types import StructType

    full = os.path.join(workdir, "full")  # built by test_pipeline_end_to_end
    stages = CheckpointManager(spark, full).manifest["stages"]
    assert len(stages) == 7
    for name, entry in stages.items():
        inferred = spark.read.parquet(entry["path"]).schema
        assert StructType.fromJson(entry["schema"]) == inferred, name


def _drop_entry(cp):
    del cp.manifest["stages"]["s"]


def _drop_success(cp):
    os.remove(os.path.join(cp._stage_path("s"), "_SUCCESS"))


def _drop_schema(cp):
    del cp.manifest["stages"]["s"]["schema"]


@pytest.mark.parametrize(
    "damage, recomputes",
    [(_drop_entry, True), (_drop_success, True), (_drop_schema, True), (None, False)],
)
def test_checkpoint_crash_window(spark, tmp_path, damage, recomputes):
    """A stage resumes only when both its manifest entry (with a schema)
    and its snapshot's _SUCCESS marker exist: a crash between the snapshot
    write and the manifest save, a snapshot without _SUCCESS, or an entry
    from a manifest that recorded no schema all recompute the stage."""
    workdir = str(tmp_path / "cp")
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).selectExpr("id", "cast(id AS string) AS s")

    cp = CheckpointManager(spark, workdir)
    cp.run_stage("s", build)
    if damage is not None:
        damage(cp)
        cp._save()
    again = CheckpointManager(spark, workdir).run_stage("s", build)
    assert len(calls) == (2 if recomputes else 1)
    assert sorted(map(tuple, again.collect())) == [(i, str(i)) for i in range(5)]


def test_pipeline_resume_identity(spark, pages, workdir):
    """Kill after stage 3, re-run, final triples identical to the full run."""
    full = os.path.join(workdir, "full")  # built by previous test
    part = os.path.join(workdir, "partial")
    shutil.rmtree(part, ignore_errors=True)
    run_kg_pipeline(spark, pages, part, stop_after="gazetteer")
    assert not os.path.exists(os.path.join(part, "stage_triples.parquet"))
    # resume: completes remaining stages, skips finished ones (their wall
    # times in the manifest stay from run 1)
    run_kg_pipeline(spark, pages, part)
    a = sorted(map(tuple, load_triples(spark, full).collect()))
    b = sorted(map(tuple, load_triples(spark, part).collect()))
    assert a == b


def test_unknown_stop_after_is_rejected(spark, pages, tmp_path):
    # a typo must not silently run the whole pipeline; it fails before any
    # stage runs or the workdir is created
    workdir = tmp_path / "typo"
    with pytest.raises(ValueError, match="link"):
        run_kg_pipeline(spark, pages, str(workdir), stop_after="link")
    assert not workdir.exists()


def test_unpivot_pivot_types_cover_generated_events(spark):
    # r6 ADVICE: events_unpivot_roundtrip only round-trips event types in
    # PIVOT_TYPES while its oracle aggregates ALL types — pin the data
    # contract here so a 6th generated event type fails loudly in CI
    # instead of silently diverging query and oracle.
    from rossete_rdf_spark.relops import PIVOT_TYPES

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        events = spark.read.parquet(f"{sf}/events.parquet")
        types = {r.event_type for r in events.select("event_type").distinct().collect()}
        assert types <= set(PIVOT_TYPES), (sf, types)

"""Streaming twin + multimodal plumbing tests."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from rossete_rdf_spark.pipeline.multimodal import (
    MEDIA_SCHEMA,
    decode_image,
    extract_media_features,
    synth_image_bytes,
    synth_media,
)
from rossete_rdf_spark.registry import QUERIES
from rossete_rdf_spark.streaming import streaming_hourly_agg

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_hourly_matches_batch(spark, tmp_path):
    """Run the streaming agg over the events table as a file stream with
    one trigger; results must equal the batch twin."""
    batch_df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # file-stream source needs a directory: re-land the table in one
    stream_dir = str(tmp_path / "events_stream")
    batch_df.write.parquet(stream_dir)
    stream = spark.readStream.schema(batch_df.schema).parquet(stream_dir)
    out = streaming_hourly_agg(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    exp = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in QUERIES["events_hourly_agg"](spark, SF_DIR).collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_query_removes_its_checkpoint(spark, monkeypatch, tmp_path):
    """A streaming contract query's checkpoint outlives no call: the memory
    sink keeps the rows on the driver, so the directory goes once the query
    ends (counted under a temp directory of this test's own)."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def checkpoints() -> int:
        return len(glob.glob(os.path.join(tempfile.gettempdir(), "rossete_ckpt_*")))

    before = checkpoints()
    assert QUERIES["streaming_hourly_agg"](spark, SF_DIR).collect()
    assert checkpoints() == before


@pytest.mark.parametrize("query", ["events_hourly_agg", "streaming_hourly_agg"])
def test_relative_sf_dir_matches_absolute(spark, monkeypatch, query):
    """A relative sf_dir resolves against the Python working directory (not
    the JVM's start directory), and the streaming twin's events link is
    absolute: a second run finds the link it made instead of tripping on
    it."""
    exp = sorted(QUERIES[query](spark, SF_DIR).collect())
    monkeypatch.chdir(os.path.dirname(SF_DIR))
    rel = os.path.basename(SF_DIR)
    for _ in range(2):
        assert sorted(QUERIES[query](spark, rel).collect()) == exp
    assert exp


def test_multimodal_feature_plumbing(spark):
    media = synth_media(spark, 90, partitions=4)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 90
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["kind"] == "bmp" and by_id[7]["kind"] == "ppm"
    # the distributed decode must equal the local decode of the same bytes,
    # and both must equal the generator's closed forms
    for mid in (0, 7, 41):
        codec = "bmp" if mid % 2 == 0 else "ppm"
        payload = synth_image_bytes(mid, codec)
        w, h, mr, mg, mb = decode_image(payload)
        r = by_id[mid]
        assert (r["width"], r["height"]) == (w, h) == (4 + mid % 4, 3 + mid % 3)
        base = mid % 200
        assert mr == base + (w - 1) / 2 + (h - 1) / 2
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (mr, mg, mb)
        assert r["n_bytes"] == len(payload)


def test_multimodal_decoders_parse_real_headers():
    # a BMP with top-down rows (negative height) decodes to the same means
    bmp = bytearray(synth_image_bytes(4, "bmp"))
    w, h, mr, mg, mb = decode_image(bytes(bmp))
    neg_h = (-h) & 0xFFFFFFFF
    bmp[22:26] = neg_h.to_bytes(4, "little")
    assert decode_image(bytes(bmp)) == (w, h, mr, mg, mb)
    # PPM whose first pixel byte is whitespace-valued (0x20) must not lose it
    ppm = b"P6\n2 1\n255\n" + bytes([0x20, 0x0A, 0x09, 60, 61, 62])
    pw, ph, pr, pg, pb = decode_image(ppm)
    assert (pw, ph) == (2, 1)
    assert (pr, pg, pb) == ((0x20 + 60) / 2, (0x0A + 61) / 2, (0x09 + 62) / 2)


def test_multimodal_compressed_formats_are_gated():
    import pytest

    # JPEG magic: compressed codecs need real media libs — must raise, not
    # silently return garbage
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0rest-of-jpeg")
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\nrest-of-png")


def test_multimodal_malformed_payloads_yield_null_features(spark):
    import pytest

    # malformed payloads of SUPPORTED formats raise ValueError...
    for bad in (
        b"BM",  # shorter than the header
        synth_image_bytes(4, "bmp")[:-5],  # truncated pixel data
        b"P6\n0 3\n255\n",  # degenerate width
        b"P6\n4 3\n255\n" + b"\x00" * 5,  # truncated pixel data
        b"",  # empty
    ):
        with pytest.raises(ValueError):
            decode_image(bad)
    # ...and the batched extractor turns them into NULL feature rows
    # instead of killing the job
    rows = extract_media_features(
        spark.createDataFrame(
            [
                (1, "bmp", synth_image_bytes(1, "ppm"), "{}"),
                (2, "bmp", synth_image_bytes(4, "bmp")[:-5], "{}"),
            ],
            schema=MEDIA_SCHEMA,
        )
    ).collect()
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[1]["width"] is not None
    assert by_id[2]["width"] is None and by_id[2]["mean_r"] is None
    assert by_id[2]["n_bytes"] > 0

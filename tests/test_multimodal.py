"""Multimodal plumbing: byte metadata, magic sniffing, stubbed decode."""

import hashlib

import pandas as pd
import pytest

from tstore_spark.operators import multimodal as MM

BLOBS = [
    (0, b"\x89PNG\r\n\x1a\nrest-of-png"),
    (1, b"\xff\xd8\xff\xe0jpegdata"),
    (2, b"RIFF....WAVEfmt "),
    (3, b"<html><body>hi</body></html>"),
    (4, b"plain bytes payload"),
]
#: what the strict decoder raises for each fake blob above, in order
STRICT_DECODE_ERRORS = (
    r"PNG missing IHDR|invalid JPEG: missing SOF/SOS|fmt chunk and/or data "
    r"chunk missing|no codec for media type"
)
EXPECT_TYPE = {
    0: "image/png",
    1: "image/jpeg",
    2: "audio/wav",
    3: "text/html",
    4: "application/octet-stream",
}


@pytest.fixture(scope="module")
def blobs_sdf(spark):
    pdf = pd.DataFrame(BLOBS, columns=["doc_id", "blob"])
    return spark.createDataFrame(pdf, schema="doc_id long, blob binary")


def test_extract_media_meta(blobs_sdf):
    rows = {r["doc_id"]: r for r in MM.extract_media_meta(blobs_sdf, "doc_id", "blob").collect()}
    for i, blob in BLOBS:
        assert rows[i]["byte_len"] == len(blob)
        assert rows[i]["content_sha"] == hashlib.sha256(blob).hexdigest()
        assert rows[i]["sniffed_type"] == EXPECT_TYPE[i]


def test_decode_and_featurize_stub(blobs_sdf):
    rows = {r["doc_id"]: r for r in MM.decode_and_featurize(blobs_sdf, "doc_id", "blob", feature_dim=8).collect()}
    for i, blob in BLOBS:
        feat = [rows[i][f"f{j}"] for j in range(8)]
        # stub features = ASCII codes of md5 hex chars (oracle-recomputable)
        assert feat == MM.fake_decoder(blob, 8).tolist()
        assert all(v == float(ord(c)) for v, c in zip(feat, hashlib.md5(blob).hexdigest()))
        assert rows[i]["byte_len"] == len(blob)


def test_strict_decodes_real_and_raises_per_blob(blobs_sdf):
    """Round 4: strict=True selects the REAL magic-dispatch codecs — plan
    construction succeeds, and collection raises per blob only for formats
    with no codec here (html/plain in the fixture; the truncated fake
    PNG/JPEG/WAV payloads fail inside their codecs, which is also loud)."""
    out = MM.decode_and_featurize(blobs_sdf, "doc_id", "blob", strict=True)
    # WHICH blob's exception surfaces first is a task-scheduling race, so
    # the match is the union of the fixture blobs' codec messages (PNG
    # IHDR, JPEG SOF/SOS, wave fmt chunk, html/plain no codec); the
    # real-codec/strict dispatch behavior itself is pinned by the
    # format-specific tests in test_media_codecs.py
    with pytest.raises(Exception, match=STRICT_DECODE_ERRORS):
        out.collect()


def test_resize_images_stub(blobs_sdf):
    out = {r["doc_id"]: r for r in MM.resize_images(blobs_sdf, "doc_id", "blob", 64, 48).collect()}
    for i, blob in BLOBS:
        r = out[i]
        assert r["out_w"] == 64 and r["out_h"] == 48
        assert bytes(r["resized"]) == MM.fake_resizer(blob, 64, 48)
        assert bytes(r["resized"])[:8] == b"FAKEIMG1"


def test_sample_frames_fanout(blobs_sdf):
    out = MM.sample_frames(blobs_sdf, "doc_id", "blob", n_frames=3)
    rows = out.collect()
    assert len(rows) == len(BLOBS) * 3
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_idx"], bytes(r["frame"])))
    for i, blob in BLOBS:
        frames = sorted(by_doc[i])
        assert [f[0] for f in frames] == [0, 1, 2]
        assert [f[1] for f in frames] == MM.fake_frame_extractor(blob, 3)


def test_resize_and_frames_strict_raise(blobs_sdf):
    # resize: real codecs now back strict=True — the plan builds, and the
    # fixture's non-image blobs raise per blob at collection
    out = MM.resize_images(blobs_sdf, "doc_id", "blob", 1, 1, strict=True)
    # first-surfaced exception identity is a scheduling race — see
    # test_strict_decodes_real_and_raises_per_blob
    with pytest.raises(Exception):
        out.collect()
    # video frames: strict now dispatches real GIF/MJPEG-AVI codecs (round
    # 5); the fixture's non-video blobs raise per blob at collection
    with pytest.raises(Exception):
        MM.sample_frames(blobs_sdf, "doc_id", "blob", strict=True).collect()


def test_sample_frames_strict_real_gif_and_mjpeg_avi(spark):
    """Round 5: strict=True returns REAL frames — a planted animated GIF
    decodes via the LZW decoder (frames come back PNG-encoded) and a planted
    MJPEG-AVI yields its own baseline JPEGs, pixel-checked both ways."""
    import numpy as np
    import pandas as pd

    from tstore_spark.functions.media_codecs import (
        decode_jpeg,
        decode_png,
        encode_gif,
        encode_jpeg,
        mjpeg_avi_bytes,
    )

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    gif_frames = [
        ((np.arange(6 * 9).reshape(6, 9) + k) % 4).astype(np.uint8) for k in range(3)
    ]
    gif = encode_gif(gif_frames, pal)
    jpegs = [encode_jpeg(np.full((16, 16, 3), c, np.uint8)) for c in (20, 130, 235)]
    avi = mjpeg_avi_bytes(jpegs, 16, 16)

    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "blob": [bytearray(gif), bytearray(avi)]})
    )
    rows = MM.sample_frames(sdf, "doc_id", "blob", n_frames=3, strict=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_idx"], bytes(r["frame"])))
    got_gif = [f for _, f in sorted(by_doc[1])]
    for k, f in enumerate(got_gif):
        assert (decode_png(f) == pal[gif_frames[k]]).all()
    got_avi = [f for _, f in sorted(by_doc[2])]
    assert got_avi == jpegs  # the container's own JPEG bytes, order preserved
    for want, f in zip((20, 130, 235), got_avi):
        assert abs(decode_jpeg(f).mean() - want) < 3

"""Multimodal plumbing tests: binary columns through Arrow batches —
metadata, fake featurization, frame expansion. The decode stub must be
gated, not crash the plan."""

from __future__ import annotations

import hashlib

import pytest

from juniper_syslog_filter_spark.operators import multimodal as M

BLOBS = [
    (1, b"\x89PNG fake image bytes " * 10),
    (2, b"RIFF fake audio bytes " * 5),
    (3, b""),
    (4, None),
]


@pytest.fixture(scope="module")
def media(spark):
    return spark.createDataFrame(BLOBS, "doc_id long, content binary")


def test_media_metadata(media):
    got = {r.doc_id: (r.n_bytes, r.fp_md5) for r in M.media_metadata(media).collect()}
    for i, b in BLOBS:
        if b is None:
            assert got[i] == (0, "")
        else:
            assert got[i] == (len(b), hashlib.md5(b).hexdigest())


def test_extract_features_deterministic_and_fixed_width(media):
    f1 = {r.doc_id: list(r.feature) for r in M.extract_features(media).collect()}
    f2 = {r.doc_id: list(r.feature) for r in M.extract_features(media.repartition(3)).collect()}
    assert f1 == f2  # content-addressed → partitioning-independent
    assert all(len(v) == M.FEATURE_DIM for v in f1.values())
    assert f1[1] != f1[2]


def test_sample_frames_expansion(media):
    rows = M.sample_frames(media, n_frames=4).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}  # empty/null blobs yield no frames
    for doc_id, frames in by_doc.items():
        assert [f.frame_idx for f in sorted(frames, key=lambda x: x.frame_idx)] == list(
            range(len(frames))
        )
        blob = dict(BLOBS)[doc_id]
        for f in frames:
            assert bytes(f.frame) in blob


def test_decode_stub_is_gated():
    if not M.HAVE_PIL:
        with pytest.raises(NotImplementedError):
            M._decode_image(b"anything")


def test_resize_media_exact_mean_pool(spark):
    from juniper_syslog_filter_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytes([0, 1, 2, 3, 100, 101, 102, 104, 7]))],  # 9 bytes, factor 4
        "doc_id long, content binary",
    )
    (row,) = resize_media(df, factor=4, max_out=16).collect()
    # (0+1+2+3)//4 = 1; (100+101+102+104)//4 = 101; trailing byte dropped
    assert row.pooled == [1, 101]
    assert row.n_pooled == 2


def test_resize_media_short_blob_empty_pool(spark):
    from juniper_syslog_filter_spark.operators.multimodal import resize_media

    df = spark.createDataFrame([(1, b"abc")], "doc_id long, content binary")
    (row,) = resize_media(df, factor=4).collect()
    assert row.pooled == [] and row.n_pooled == 0


# ---------------------------------------------------------------------------
# stdlib PNG codec (functions/png.py) — the real decode path
# ---------------------------------------------------------------------------

def test_png_known_bytes_decode_exactly():
    """A fixed, hand-checkable PNG: 2x2 grayscale, filter 0, pixels
    [[10, 20], [30, 40]]. Decoding must recover the pixels and the
    encoder must produce these exact bytes (determinism contract)."""
    import numpy as np

    from juniper_syslog_filter_spark.functions import png as P

    a = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    blob = P.encode_png(a)
    assert blob.startswith(P.PNG_MAGIC)
    assert P.encode_png(a) == blob  # byte-deterministic
    out = P.decode_png(blob)
    assert out.dtype == np.uint8 and (out == a).all()


def test_png_roundtrip_all_filters_all_color_types():
    import numpy as np

    from juniper_syslog_filter_spark.functions import png as P

    rng = np.random.RandomState(7)
    shapes = [(1, 1), (5, 3), (16, 16), (7, 1), (1, 9),
              (5, 3, 3), (4, 6, 4), (3, 3, 2)]
    for shape in shapes:
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        for filt in (0, 1, 2, 3, 4, [0, 1, 2, 3, 4]):
            back = P.decode_png(P.encode_png(a, filters=filt))
            assert back.shape == a.shape and (back == a).all(), (shape, filt)


def test_png_palette_and_error_paths():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from juniper_syslog_filter_spark.functions import png as P

    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    lines = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    blob = (
        P.PNG_MAGIC
        + P._chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + P._chunk(b"PLTE", plte)
        + P._chunk(b"IDAT", zlib.compress(lines))
        + P._chunk(b"IEND", b"")
    )
    out = P.decode_png(blob)
    assert out.shape == (2, 2, 3)
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[1, 0]) == (0, 0, 255)

    short_ihdr = P.PNG_MAGIC + P._chunk(b"IHDR", b"\x00" * 12)
    # PLTE payload not a multiple of 3 (RGB triples)
    ragged_plte = blob.replace(P._chunk(b"PLTE", plte), P._chunk(b"PLTE", plte[:-1]))
    for bad in (
        b"nope", P.PNG_MAGIC, P.PNG_MAGIC + b"\x00" * 8, short_ihdr, ragged_plte
    ):
        with _pytest.raises(ValueError):
            P.decode_png(bad)
    # corrupt one IDAT byte → CRC failure, not silent garbage
    corrupt = bytearray(P.encode_png(idx))
    pos = corrupt.index(b"IDAT") + 5
    corrupt[pos] ^= 0xFF
    with _pytest.raises(ValueError):
        P.decode_png(bytes(corrupt))


def test_decode_image_decodes_png_without_pil():
    """The codec gate (round-4 ask): _decode_image must decode real
    PNGs via the stdlib path even with no PIL in the environment; the
    non-PNG branch stays gated."""
    import numpy as np

    from juniper_syslog_filter_spark.functions.png import encode_png

    a = np.arange(24, dtype=np.uint8).reshape(4, 6)
    assert (M._decode_image(encode_png(a)) == a).all()
    if not M.HAVE_PIL:
        with pytest.raises(NotImplementedError):
            M._decode_image(b"\xff\xd8\xff jpeg-ish")


def test_extract_features_real_pixels_for_png(spark):
    """PNG blobs featurize from DECODED PIXELS ([h, w, c, min, max,
    floor-mean, first, last]); non-PNG blobs keep the content-addressed
    stand-in — both through one Arrow pass."""
    import hashlib as _hashlib

    import numpy as np

    from juniper_syslog_filter_spark.functions.png import encode_png

    px = np.array([[5, 250, 17], [0, 128, 33]], dtype=np.uint8)
    fake = b"RIFF not an image"
    df = spark.createDataFrame(
        [(1, encode_png(px, filters=[0, 1, 2, 3, 4])), (2, fake)],
        "doc_id long, content binary",
    )
    got = {r.doc_id: list(r.feature) for r in M.extract_features(df).collect()}
    assert got[1] == [2.0, 3.0, 1.0, 0.0, 250.0,
                      float((5 + 250 + 17 + 0 + 128 + 33) // 6), 5.0, 33.0]
    assert got[2] == M._fake_feature(_hashlib.md5(fake).digest())


def test_resize_media_pools_decoded_pixels_for_png(spark):
    import numpy as np

    from juniper_syslog_filter_spark.functions.png import encode_png

    px = np.array([[0, 1, 2, 3], [100, 101, 102, 104]], dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, encode_png(px, filters=4))], "doc_id long, content binary"
    )
    (row,) = M.resize_media(df, factor=4, max_out=16).collect()
    # pixels row-major: (0+1+2+3)//4 = 1, (100+101+102+104)//4 = 101 —
    # pooling sees the IMAGE, not the compressed file bytes
    assert row.pooled == [1, 101] and row.n_pooled == 2


def test_undecodable_png_falls_back_not_crashes(spark):
    """Review finding: a blob that LOOKS like a PNG but is outside the
    stdlib codec's profile (truncated/corrupt/interlaced) must fall
    back to the stand-in paths, never abort the job — one bad blob on
    a 100-TB corpus cannot kill the query."""
    import hashlib as _h

    import numpy as np

    from juniper_syslog_filter_spark.functions.png import PNG_MAGIC, encode_png

    good = encode_png(np.array([[1, 2], [3, 4]], dtype=np.uint8))
    truncated = good[: len(good) // 2]
    corrupt_magic_only = PNG_MAGIC + b"garbage"
    df = spark.createDataFrame(
        [(1, good), (2, truncated), (3, corrupt_magic_only)],
        "doc_id long, content binary",
    )
    feats = {r.doc_id: list(r.feature) for r in M.extract_features(df).collect()}
    assert feats[1] == [2.0, 2.0, 1.0, 1.0, 4.0, 2.0, 1.0, 4.0]
    for bad, blob in ((2, truncated), (3, corrupt_magic_only)):
        assert feats[bad] == M._fake_feature(_h.md5(blob).digest())
    rows = {r.doc_id: r for r in M.resize_media(df, factor=4).collect()}
    # bad blobs pool their FILE bytes, same as any non-image blob
    a = np.frombuffer(truncated, dtype=np.uint8)
    n = len(a) // 4
    expect = list((a[: n * 4].reshape(n, 4).sum(1, dtype=np.int64) // 4)[:16])
    assert rows[2].pooled == [int(v) for v in expect]

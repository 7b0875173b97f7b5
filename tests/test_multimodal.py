"""Multimodal plumbing: media synthesis, Arrow-batched feature
extraction (vs DuckDB oracle), resize arithmetic, frame sampling,
decode stubs."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions import multimodal as mm

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def media(spark, docs):
    return mm.synthesize_media(docs).cache()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    return c


def test_media_table_shape(media):
    rows = media.collect()
    assert len(rows) > 0
    for r in rows[:20]:
        assert r.kind == "image"
        assert len(r.data) == 32
        assert r.meta.width >= 16 and r.meta.height >= 16
        assert r.media_ref.startswith("img-")


def test_media_matches_oracle(media, con):
    got = sorted(
        (r.media_ref, r.meta.width, r.meta.height) for r in media.collect()
    )
    want = sorted(
        (ref, w, h)
        for ref, w, h in con.execute(
            "SELECT media_ref, width, height FROM ("
            + mm.synthesize_media_sql()
            + ")"
        ).fetchall()
    )
    assert got == want


def test_image_features_match_oracle(media, con):
    got = sorted(map(tuple, mm.image_features_flat(media).collect()))
    want = sorted(map(tuple, con.execute(mm.image_features_flat_sql()).fetchall()))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1]
        assert g[2] == pytest.approx(w[2], abs=1e-15)


def test_features_shape_and_range(media):
    rows = mm.image_features(media).collect()
    for r in rows[:20]:
        assert len(r.features) == mm.FEATURE_DIM
        assert all(0.0 <= f <= 1.0 for f in r.features)


def test_features_pad_short_and_null_blobs(spark):
    # blobs shorter than dim (or NULL) zero-pad — the vectorized gather
    # must not read past a blob's end or crash on empty batches
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": ["a", "b", "c"],
                "data": [bytes(range(4)), b"", None],
            }
        )
    )
    rows = {r.media_ref: r.features for r in mm.image_features(df).collect()}
    assert rows["a"][:4] == [0.0, 1 / 255.0, 2 / 255.0, 3 / 255.0]
    assert rows["a"][4:] == [0.0] * (mm.FEATURE_DIM - 4)
    assert rows["b"] == [0.0] * mm.FEATURE_DIM
    assert rows["c"] == [0.0] * mm.FEATURE_DIM
    # a TRAILING empty blob whose offset == len(value buffer) (total
    # bytes a multiple of 8 -> no Arrow padding slack) must not read
    # out of bounds in the vectorized gather
    df2 = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["x", "y"], "data": [bytes(range(8)), b""]})
    ).coalesce(1)
    rows2 = {r.media_ref: r.features for r in mm.image_features(df2).collect()}
    assert rows2["x"][:8] == [i / 255.0 for i in range(8)]
    assert rows2["y"] == [0.0] * mm.FEATURE_DIM


def test_resize_plan(media):
    rows = mm.resize_plan(media, max_side=64).collect()
    for r in rows:
        assert max(r.out_width, r.out_height) <= 64
        assert r.out_width >= 1 and r.out_height >= 1
        if max(r.width, r.height) <= 64:
            assert (r.out_width, r.out_height) == (r.width, r.height)


def test_frame_schedule(spark):
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": ["v1", "v2"],
                "kind": ["video", "video"],
                "duration_ms": [2000, 100],
            }
        )
    ).select(
        "media_ref",
        "kind",
        F.struct(
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.col("duration_ms").alias("duration_ms"),
            F.lit("video/fake").alias("mime"),
        ).alias("meta"),
    )
    rows = mm.frame_schedule(media, fps=4).collect()
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r.media_ref, []).append((r.frame_idx, r.ts_ms))
    assert len(by_ref["v1"]) == 8  # 2s @ 4fps
    assert by_ref["v1"][0] == (0, 0) and by_ref["v1"][7] == (7, 1750)
    assert len(by_ref["v2"]) == 1  # min 1 frame


def test_decode_stub_raises():
    # compressed formats still stub (no soundfile/PIL in the container)
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"\xff\xfbxx")  # mp3 frame sync


# ---------------------------------------------------------------------------
# real decoders: round-trips against independently constructed files
# (struct.pack writers below share NO code with the numpy decoders)
# ---------------------------------------------------------------------------

import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


def _write_bmp(px: "np.ndarray", bpp: int = 24, top_down: bool = False) -> bytes:
    """Independent BMP writer: px is (h, w, 3) uint8 RGB."""
    h, w = px.shape[:2]
    nb = bpp // 8
    stride = ((w * nb + 3) // 4) * 4
    raster = bytearray()
    rows = px if top_down else px[::-1]
    for row in rows:
        line = bytearray()
        for r, g, b in row:
            line += bytes([b, g, r] + ([0xAB] if nb == 4 else []))
        line += b"\x00" * (stride - len(line))
        raster += line
    hdr_h = -h if top_down else h
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, hdr_h, 1, bpp, 0, len(raster), 0, 0, 0, 0
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    return file_hdr + info + bytes(raster)


def _rand_px(h, w, seed):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)


def test_decode_bmp_roundtrip_padded():
    # w=3 -> 9-byte rows padded to 12: exercises stride handling
    px = _rand_px(5, 3, 1)
    got = mm.decode_bmp(_write_bmp(px))
    assert got.shape == (5, 3, 3)
    assert (got == px).all()


def test_decode_bmp_topdown_and_32bpp():
    px = _rand_px(4, 4, 2)
    assert (mm.decode_bmp(_write_bmp(px, top_down=True)) == px).all()
    assert (mm.decode_bmp(_write_bmp(px, bpp=32)) == px).all()


def test_decode_bmp_rejects_unsupported():
    px = _rand_px(2, 2, 3)
    data = bytearray(_write_bmp(px))
    data[30] = 1  # BI_RLE8
    with pytest.raises(ValueError):
        mm.decode_bmp(bytes(data))
    with pytest.raises(ValueError):
        mm.decode_bmp(b"PNG not a bmp")
    with pytest.raises(ValueError):
        mm.decode_bmp(_write_bmp(px)[:-5])  # truncated raster


def test_decode_ppm_roundtrip_with_comments():
    px = _rand_px(3, 5, 4)
    data = b"P6\n# a comment\n 5 3\n# another\n255\n" + px.tobytes()
    got = mm.decode_ppm(data)
    assert (got == px).all()
    with pytest.raises(ValueError):
        mm.decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24)  # 16-bit
    with pytest.raises(ValueError):
        mm.decode_ppm(b"P3\n1 1\n255\n0 0 0")  # ascii PPM


def _write_wav(samples: "np.ndarray", rate: int, n_ch: int = 1) -> bytes:
    raw = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * 2 * n_ch, 2 * n_ch, 16)
    # put an ignorable LIST chunk before data to exercise the chunk walk
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 4 + 8 + len(raw))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + extra
        + b"data"
        + struct.pack("<I", len(raw))
        + raw
    )


def test_decode_wav_roundtrip_mono_and_stereo():
    rng = np.random.RandomState(7)
    mono = rng.randint(-32768, 32768, size=37).astype(np.int16)
    got, rate = mm.decode_wav(_write_wav(mono, 16000))
    assert rate == 16000 and got.shape == (37,) and (got == mono).all()
    stereo = rng.randint(-32768, 32768, size=(21, 2)).astype(np.int16)
    got2, rate2 = mm.decode_wav(_write_wav(stereo.reshape(-1), 44100, n_ch=2))
    assert rate2 == 44100 and got2.shape == (21, 2) and (got2 == stereo).all()


def test_decode_wav_rejects_unsupported():
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFFxxxxNOPE")
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float32
    bad = (
        b"RIFF" + struct.pack("<I", 28) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        mm.decode_wav(bad)


def test_decode_wav_rejects_truncated():
    # a truncated data chunk (declared size past the buffer) must
    # raise -> -1 sentinel row, not silently decode fewer samples
    rng = np.random.RandomState(11)
    good = _write_wav(rng.randint(-32768, 32768, size=50).astype(np.int16), 8000)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_wav(good[:-7])
    # fmt chunk shorter than the 16-byte PCM header must raise too
    fmt = struct.pack("<HHII", 1, 1, 8000, 16000)  # only 12 bytes
    short_fmt = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="truncated fmt"):
        mm.decode_wav(short_fmt)


def test_decode_image_dispatch():
    px = _rand_px(2, 2, 9)
    assert (mm.decode_image(_write_bmp(px)) == px).all()
    assert (
        mm.decode_image(b"P6\n2 2\n255\n" + px.tobytes()) == px
    ).all()


# --- the synthesized corpus assets decode for real and match the oracle


def test_synthesized_bmp_decodes(spark, docs):
    rows = mm.synthesize_bmp(docs).limit(5).collect()
    assert rows
    for r in rows:
        px = mm.decode_image(bytes(r.data))
        assert px.shape == (mm._BMP_H, mm._BMP_W, 3)
        # pixel bytes are md5(ref)++md5(ref||'x')[:8], BGR bottom-up
        import hashlib

        raster = (
            hashlib.md5(r.media_ref.encode()).digest()
            + hashlib.md5((r.media_ref + "x").encode()).digest()[:8]
        )
        want = np.frombuffer(raster, np.uint8).reshape(2, 4, 3)[::-1][
            ..., [2, 1, 0]
        ]
        assert (px == want).all()


def test_decoded_image_stats_matches_oracle(spark, docs, con):
    got = sorted(
        map(tuple, mm.decoded_image_stats(mm.synthesize_bmp(docs)).collect())
    )
    want = sorted(map(tuple, con.execute(mm.decoded_image_stats_sql()).fetchall()))
    assert got == want and len(got) > 0


def _write_png(arr: "np.ndarray", color: int) -> bytes:
    """Reference PNG encoder for roundtrip tests: REAL compressed
    deflate (zlib.compress), real chunk CRCs and adler, one of the
    five scanline filters per row (y % 5) so every un-filter branch is
    exercised."""
    import binascii
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data))
        )

    h, w = arr.shape[:2]
    nch = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(h, w * nch).astype(np.int32)
    rows = []
    for y in range(h):
        f = y % 5
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * nch, np.int32)
        filt = np.empty(w * nch, np.int32)
        for x in range(w * nch):
            a = int(line[x - nch]) if x >= nch else 0
            c = int(prev[x - nch]) if x >= nch else 0
            b = int(prev[x])
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (line[x] - pred) & 0xFF
        rows.append(bytes([f]) + filt.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_roundtrip_rgb_gray_rgba():
    rng = np.random.RandomState(5)
    for color, shape in [(2, (7, 5, 3)), (0, (6, 9)), (6, (5, 4, 4))]:
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        got = mm.decode_png(_write_png(arr, color))
        assert got.shape == arr.shape and (got == arr).all()
        assert (mm.decode_image(_write_png(arr, color)) == arr).all()


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 7),
    seed=st.integers(0, 2**31 - 1),
    color=st.sampled_from([0, 2, 6]),
)
def test_decode_png_roundtrip_fuzz(w, h, seed, color):
    rng = np.random.RandomState(seed)
    shape = (h, w) if color == 0 else (h, w, {2: 3, 6: 4}[color])
    arr = rng.randint(0, 256, size=shape).astype(np.uint8)
    got = mm.decode_png(_write_png(arr, color))
    assert got.shape == arr.shape and (got == arr).all()


def test_decode_png_rejects_unsupported_and_truncated():
    rng = np.random.RandomState(6)
    arr = rng.randint(0, 256, size=(4, 4, 3)).astype(np.uint8)
    good = _write_png(arr, 2)
    with pytest.raises(ValueError):
        mm.decode_png(b"nope")
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_png(good[:30])  # cut inside IDAT
    # 16-bit depth and interlace are out of baseline scope
    import zlib as _z
    for ihdr_mut in (
        struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0),
        struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1),
    ):
        bad = (
            good[:8]
            + good[8:16]  # IHDR len+type
            + ihdr_mut
            + good[16 + 13 :]
        )
        with pytest.raises(ValueError, match="unsupported"):
            mm.decode_png(bad)


def test_synthesized_png_decodes(spark, docs):
    import hashlib

    rows = mm.synthesize_png(docs).limit(5).collect()
    assert rows
    for r in rows:
        px = mm.decode_image(bytes(r.data))
        assert px.shape == (mm._PNG_H, mm._PNG_W, 3)
        raster = (
            hashlib.md5(r.media_ref.encode()).digest()
            + hashlib.md5((r.media_ref + "x").encode()).digest()[:8]
        )
        # PNG raster is RGB top-down, no reorder needed
        want = np.frombuffer(raster, np.uint8).reshape(2, 4, 3)
        assert (px == want).all()


def test_decoded_png_stats_matches_oracle(spark, docs, con):
    got = sorted(
        map(tuple, mm.decoded_image_stats(mm.synthesize_png(docs)).collect())
    )
    want = sorted(map(tuple, con.execute(mm.decoded_png_stats_sql()).fetchall()))
    assert got == want and len(got) > 0


def test_decoded_audio_stats_matches_oracle(spark, docs, con):
    got = sorted(
        map(tuple, mm.decoded_audio_stats(mm.synthesize_wav(docs)).collect())
    )
    want = sorted(map(tuple, con.execute(mm.decoded_audio_stats_sql()).fetchall()))
    assert got == want and len(got) > 0


def test_decoded_stats_corrupt_blob_becomes_sentinel_row(spark):
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": ["good", "corrupt", "empty"],
                "data": [
                    _write_bmp(_rand_px(2, 2, 11)),
                    b"BM garbage not a real bmp",
                    b"",
                ],
            }
        )
    )
    rows = {r.media_ref: r for r in mm.decoded_image_stats(media).collect()}
    assert rows["good"].width == 2 and rows["good"].sum_r >= 0
    assert rows["corrupt"].width == -1 and rows["corrupt"].sum_r == -1
    assert rows["empty"].width == -1
    audio = spark.createDataFrame(
        pd.DataFrame({"media_ref": ["bad"], "data": [b"\xff\xfbmp3"]})
    )
    [a] = mm.decoded_audio_stats(audio).collect()
    assert a.n_samples == -1 and a.sum_sq == -1


# hypothesis round-trips: arbitrary sizes hit every stride-padding and
# channel-count branch the fixed-seed tests can't enumerate


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
    bpp=st.sampled_from([24, 32]),
    top_down=st.booleans(),
)
def test_decode_bmp_roundtrip_fuzz(w, h, seed, bpp, top_down):
    px = _rand_px(h, w, seed)
    got = mm.decode_bmp(_write_bmp(px, bpp=bpp, top_down=top_down))
    assert got.shape == (h, w, 3) and (got == px).all()


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 200),
    rate=st.sampled_from([8000, 16000, 44100]),
    n_ch=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_decode_wav_roundtrip_fuzz(n, rate, n_ch, seed):
    rng = np.random.RandomState(seed)
    samples = rng.randint(-32768, 32768, size=n * n_ch).astype(np.int16)
    got, got_rate = mm.decode_wav(_write_wav(samples, rate, n_ch=n_ch))
    assert got_rate == rate
    want = samples if n_ch == 1 else samples.reshape(-1, n_ch)
    assert got.shape == want.shape and (got == want).all()


def test_decode_pgm_and_8bit_wav():
    # PGM P5 grayscale round-trip via the decode_image dispatch
    rng = np.random.RandomState(13)
    gray = rng.randint(0, 256, size=(3, 4)).astype(np.uint8)
    data = b"P5\n# c\n4 3\n255\n" + gray.tobytes()
    got = mm.decode_image(data)
    assert got.shape == (3, 4) and (got == gray).all()
    with pytest.raises(ValueError):
        mm.decode_pgm(b"P5\n2 2\n65535\n" + b"\x00" * 8)
    # 8-bit PCM WAV: unsigned bytes -> standard (v-128)*256 widening
    u = np.array([0, 128, 255, 64], dtype=np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav = (
        b"RIFF" + struct.pack("<I", 24 + len(u)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(u)) + u.tobytes()
    )
    got_s, rate = mm.decode_wav(wav)
    assert rate == 8000
    assert got_s.tolist() == [(-128) * 256, 0, 127 * 256, (-64) * 256]


def test_decoded_image_stats_grayscale_blob(spark):
    import pandas as pd

    gray = np.arange(6, dtype=np.uint8).reshape(2, 3)
    media = spark.createDataFrame(
        pd.DataFrame(
            {"media_ref": ["g"], "data": [b"P5\n3 2\n255\n" + gray.tobytes()]}
        )
    )
    [r] = mm.decoded_image_stats(media).collect()
    assert (r.width, r.height) == (3, 2)
    assert r.sum_r == r.sum_g == r.sum_b == int(gray.sum())


def test_g711_expand_matches_stdlib_oracle():
    """All 256 codes, both laws, against the independent stdlib
    audioop implementation (present in this Python; skip if removed)."""
    audioop = pytest.importorskip("audioop")
    b = np.arange(256, dtype=np.uint8)
    want_u = np.frombuffer(audioop.ulaw2lin(bytes(b), 2), "<i2")
    assert (mm.g711_expand(b, "ulaw") == want_u).all()
    want_a = np.frombuffer(audioop.alaw2lin(bytes(b), 2), "<i2")
    assert (mm.g711_expand(b, "alaw") == want_a).all()
    with pytest.raises(ValueError):
        mm.g711_expand(b, "nope")


def test_decode_wav_g711():
    payload = bytes(range(32))
    for fmt_code, law in ((7, "ulaw"), (6, "alaw")):
        fmt = struct.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, 8)
        wav = (
            b"RIFF" + struct.pack("<I", 24 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload
        )
        got, rate = mm.decode_wav(wav)
        assert rate == 8000
        want = mm.g711_expand(np.frombuffer(payload, np.uint8), law)
        assert (got == want).all()
    # 16-bit G.711 is malformed
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 16000, 2, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        mm.decode_wav(bad)


def test_decoded_g711_stats_matches_oracle(spark, docs, con):
    got = sorted(
        map(tuple, mm.decoded_audio_stats(mm.synthesize_g711_wav(docs)).collect())
    )
    want = sorted(map(tuple, con.execute(mm.decoded_g711_stats_sql()).fetchall()))
    assert got == want and len(got) > 0
    # both laws present per ref
    assert {r[0][-2:] for r in got} == {":u", ":a"}


def _png_frame(ihdr: bytes, idat: bytes) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
        + struct.pack(">I", len(idat)) + b"IDAT" + idat + b"\x00" * 4
        + struct.pack(">I", 0) + b"IEND" + b"\xaeB`\x82"
    )


def test_decode_png_rejects_deflate_bomb_and_caps_inflate():
    """Hostile IDATs must take the ValueError (-1 sentinel) path or
    decode within bounds — never OOM the executor or escape the
    sentinel catch. Three paths: (1) a huge declared raster with a
    tiny IDAT is rejected by the deflate-ratio guard before any
    allocation; (2) a small declared raster with an over-expanding
    IDAT decodes fine because the inflate is CAPPED at the declared
    raster size (the expansion is never materialized); (3) a garbage
    deflate body raises ValueError, not zlib.error."""
    import zlib as _z

    # (1) ratio guard: 50000x50000 RGB declared, ~1 KB IDAT
    ihdr_huge = struct.pack(">IIBBBBB", 50_000, 50_000, 8, 2, 0, 0, 0)
    idat_small = b"\x78\x01" + _z.compress(b"\x00" * 1000)[2:]
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_png(_png_frame(ihdr_huge, idat_small))

    # (2) inflate cap: 4x2 RGB declared (need=26), IDAT inflates to
    # 10 MB — decode succeeds on the first 26 bytes without ever
    # materializing the rest (raster = filter-0 rows of zeros)
    ihdr_small = struct.pack(">IIBBBBB", 4, 2, 8, 2, 0, 0, 0)
    idat_bomb = b"\x78\x01" + _z.compress(b"\x00" * 10_000_000)[2:]
    got = mm.decode_png(_png_frame(ihdr_small, idat_bomb))
    assert got.shape == (2, 4, 3) and not got.any()

    # (3) garbage deflate body -> ValueError (zlib.error would escape
    # the decoded_*_stats sentinel catch and kill the Spark task)
    with pytest.raises(ValueError, match="deflate"):
        mm.decode_png(_png_frame(ihdr_small, b"\x78\x01" + b"\xff" * 20))


def test_decode_png_caps_absolute_raster_bytes():
    """A raster past MAX_PNG_RASTER_BYTES is rejected before inflate,
    even when its IDAT is large enough to pass the deflate-ratio guard
    and really inflates to the declared size."""
    import zlib as _z

    w = h = 16384  # gray: need = h * (w + 1) just over 256 MiB
    need = h * (w + 1)
    assert need > mm.MAX_PNG_RASTER_BYTES
    c = _z.compressobj(1)
    zeros = b"\x00" * (1 << 20)
    parts, left = [], need
    while left:
        n = min(left, len(zeros))
        parts.append(c.compress(zeros[:n]))
        left -= n
    parts.append(c.flush())
    idat = b"".join(parts)
    assert need <= len(idat) * 1100  # the ratio guard alone passes it
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="too large"):
        mm.decode_png(_png_frame(ihdr, idat))

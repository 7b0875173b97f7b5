"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample
operators.

The Spark-side plumbing is real and tested: schemas, Arrow batch
shapes, partitioning, binary handling, the media<->span join. The
pixel/sample DECODE itself is stubbed: this container has no
image/audio libraries, so ``decode_image``/``decode_audio`` raise
NotImplementedError unless PIL/soundfile import, and the feature
extractor uses a clearly-marked deterministic fake (md5 of the bytes)
so every downstream stage is exercised end-to-end and oracle-checkable
in DuckDB.

Scale shape: media bytes are the heavy column. Operators here keep
them out of shuffles — features are computed in the scan stage
(mapInArrow over the binary column), and only the small (media_ref,
feature) output ever moves. The media<->span join broadcasts the span
side when it is the probe of a media-heavy table (or bucket-joins on
media_ref at equal size).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.pipeline.session import settle_python_worker

MEDIA_KINDS = ("image", "audio", "video")
FEATURE_DIM = 16
FPS = 4  # frame-sampling rate for the video schedule


# ---------------------------------------------------------------------------
# deterministic media synthesis (sandbox stand-in for a real media table)
# ---------------------------------------------------------------------------


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Derive a media table from the corpus's picture spans: one row
    per picture media_ref with deterministic fake bytes and typed
    metadata. Pure Spark exprs — reproducible in SQL."""
    from ocr_spark.sources.synth import synthesize_spans

    spans = synthesize_spans(docs, nested=False)
    pics = spans.where(F.col("kind") == "picture").select("doc_id", "media_ref")
    h = F.md5(F.col("media_ref"))
    return pics.select(
        "doc_id",
        "media_ref",
        F.lit("image").alias("kind"),
        F.to_binary(F.concat(h, h), F.lit("hex")).alias("data"),  # 32 fake bytes
        F.struct(
            (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") + 16).alias("width"),
            (F.conv(F.substring(h, 3, 2), 16, 10).cast("int") + 16).alias("height"),
            F.lit(0).alias("duration_ms"),
            F.lit("image/fake").alias("mime"),
        ).alias("meta"),
    )


def synthesize_media_sql(table: str = "documents") -> str:
    from ocr_spark.sources.synth import synth_spans_sql

    return f"""
      WITH spans AS ({synth_spans_sql(table)})
      SELECT doc_id, media_ref, 'image' AS kind,
             CAST(('0x' || substr(md5(media_ref), 1, 2)) AS INT) + 16 AS width,
             CAST(('0x' || substr(md5(media_ref), 3, 2)) AS INT) + 16 AS height
      FROM spans WHERE kind = 'picture'
    """


# ---------------------------------------------------------------------------
# real decoders for uncompressed container formats (pure numpy, no deps)
# + stubs for compressed formats (clearly marked)
# ---------------------------------------------------------------------------


def decode_bmp(data: bytes) -> np.ndarray:
    """Real BMP decode, dependency-free: uncompressed BI_RGB 24/32-bit
    Windows bitmaps -> (height, width, 3) uint8 RGB array.

    Handles the format's actual wrinkles: bottom-up (positive height)
    vs top-down (negative height) row order, 4-byte row padding, and
    the BGR(A) channel layout. Compressed/paletted BMPs raise
    ValueError (they belong to the PIL fallback path)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP file")
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if comp != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (compression={comp}, bpp={bpp})")
    if w <= 0 or h == 0:
        raise ValueError("degenerate BMP dimensions")
    top_down, height = h < 0, abs(h)
    nbytes = bpp // 8
    stride = ((w * nbytes + 3) // 4) * 4
    if off + stride * height > len(data):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(data, np.uint8, count=stride * height, offset=off)
    px = rows.reshape(height, stride)[:, : w * nbytes].reshape(height, w, nbytes)
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px[..., [2, 1, 0]])  # BGR(A) -> RGB


def decode_ppm(data: bytes) -> np.ndarray:
    """Real binary-PPM (P6) decode, dependency-free ->
    (height, width, 3) uint8 RGB. Honors '#' comments and arbitrary
    whitespace in the header; 16-bit-per-sample PPMs raise."""
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(data):
            c = data[pos : pos + 1]
            if c == b"#":
                while pos < len(data) and data[pos : pos + 1] != b"\n":
                    pos += 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        return data[start:pos]

    if token() != b"P6":
        raise ValueError("not a binary PPM (P6)")
    w, h, maxval = int(token()), int(token()), int(token())
    pos += 1  # exactly one whitespace byte separates maxval from raster
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    if w <= 0 or h <= 0 or pos + w * h * 3 > len(data):
        raise ValueError("truncated PPM raster")
    return np.frombuffer(data, np.uint8, count=w * h * 3, offset=pos).reshape(
        h, w, 3
    ).copy()


def decode_pgm(data: bytes) -> np.ndarray:
    """Real binary-PGM (P5) grayscale decode, dependency-free ->
    (height, width) uint8. Same header rules as P6."""
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(data):
            c = data[pos : pos + 1]
            if c == b"#":
                while pos < len(data) and data[pos : pos + 1] != b"\n":
                    pos += 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        return data[start:pos]

    if token() != b"P5":
        raise ValueError("not a binary PGM (P5)")
    w, h, maxval = int(token()), int(token()), int(token())
    pos += 1
    if maxval > 255:
        raise ValueError("16-bit PGM unsupported")
    if w <= 0 or h <= 0 or pos + w * h > len(data):
        raise ValueError("truncated PGM raster")
    return np.frombuffer(data, np.uint8, count=w * h, offset=pos).reshape(h, w).copy()


def g711_expand(u8: np.ndarray, law: str) -> np.ndarray:
    """G.711 companded byte -> linear int16, vectorized (the ITU
    mu-law/A-law expansion formulas, Sun reference semantics: mu-law
    sign bit 1 = negative, A-law sign bit 1 = positive after the 0x55
    toggle). Real compressed-audio decode, dependency-free."""
    b = u8.astype(np.int32)
    if law == "ulaw":
        c = (~b) & 0xFF
        exp = (c >> 4) & 7
        mant = c & 0x0F
        mag = (((mant << 3) + 0x84) << exp) - 0x84
        return np.where(c & 0x80, -mag, mag).astype(np.int16)
    if law == "alaw":
        a = b ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        mag = np.where(
            exp == 0,
            (mant << 4) + 8,
            ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
        )
        return np.where(a & 0x80, mag, -mag).astype(np.int16)
    raise ValueError(f"unknown G.711 law {law!r}")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Largest inflated raster decode_png will allocate (filter bytes
# included). The deflate-ratio guard alone lets a multi-MB IDAT
# declare a multi-GB raster.
MAX_PNG_RASTER_BYTES = 256 << 20


def decode_png(data: bytes) -> np.ndarray:
    """Real baseline-PNG decode, dependency-free (stdlib zlib + numpy)
    -> (h, w) uint8 for grayscale, (h, w, 3|4) for RGB/RGBA.

    Scope: 8-bit depth, color types 0/2/6, non-interlaced — the
    baseline subset every encoder emits by default. All five scanline
    filters (None/Sub/Up/Average/Paeth) are un-applied; Sub and Up are
    vectorized, Average/Paeth fall back to the per-byte recurrence
    (they are sequential by definition). Chunk CRCs and the zlib adler
    checksum are NOT verified (standard fast-path behavior; truncation
    is still caught structurally), which also lets the Spark-expr
    synthesized test PNGs carry stored-deflate blocks with dummy
    checksums so the DuckDB oracle can derive expected pixels from
    md5(media_ref) alone."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG file")
    ihdr = None
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        if pos + 12 + ln > len(data):
            raise ValueError("truncated PNG chunk")
        body = data[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + ln  # 4 len + 4 type + body + 4 CRC (not verified)
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    if len(ihdr) < 13:
        raise ValueError("truncated IHDR")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt, interlace = ihdr[8:13]
    if depth != 8 or color not in (0, 2, 6) or comp != 0 or filt != 0 \
            or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, "
            f"interlace={interlace})"
        )
    if w < 1 or h < 1:
        raise ValueError("bad PNG dimensions")
    # zlib stream: validate the 2-byte header (deflate method, no
    # preset dict), then inflate as RAW deflate so the trailing adler
    # is ignored rather than required
    if len(idat) < 3 or (idat[0] & 0x0F) != 8 or (idat[1] & 0x20):
        raise ValueError("bad zlib header in IDAT")
    nch = {0: 1, 2: 3, 6: 4}[color]
    stride = w * nch
    need = h * (stride + 1)
    # bomb guards, BEFORE any allocation: deflate tops out near
    # 1032:1, so a declared raster that large vs the compressed bytes
    # is unsatisfiable — and the inflate itself is capped at `need`
    # output bytes so a malicious stream raises the sentinel-path
    # ValueError instead of OOMing the executor; a ratio-plausible
    # raster must still fit MAX_PNG_RASTER_BYTES
    if need > len(idat) * 1100 + 64:
        raise ValueError("truncated PNG raster")
    if need > MAX_PNG_RASTER_BYTES:
        raise ValueError(f"PNG raster too large ({need} bytes)")
    try:
        raw = zlib.decompressobj(-15).decompress(bytes(idat[2:]), need)
    except zlib.error as exc:
        # zlib.error is NOT a ValueError: without this re-raise a
        # garbage deflate body would escape the decoded_*_stats
        # sentinel catch and fail the whole Spark task on one asset
        raise ValueError(f"bad deflate stream in IDAT: {exc}") from exc
    if len(raw) < need:
        raise ValueError("truncated PNG raster")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    rpos = 0
    for y in range(h):
        f = raw[rpos]
        line = np.frombuffer(raw, np.uint8, stride, rpos + 1).astype(np.int32)
        rpos += stride + 1
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub: per-channel cumulative sum mod 256
            cur = (line.reshape(w, nch).cumsum(axis=0) & 0xFF).reshape(stride)
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f in (3, 4):  # Average / Paeth: inherently sequential
            cur = np.empty(stride, np.int32)
            for x in range(stride):
                a = cur[x - nch] if x >= nch else 0
                up = int(prev[x])
                if f == 3:
                    pred = (a + up) >> 1
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        up if pb <= pc else c
                    )
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    if color == 0:
        return out.reshape(h, w)
    return out.reshape(h, w, nch)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Real WAV decode, dependency-free -> (samples, sample_rate).
    8/16-bit PCM plus G.711 mu-law/A-law (formats 7/6, expanded to
    linear int16); mono returns shape (n,), multi-channel
    (n, channels). Walks the RIFF chunk list properly (fmt/data in
    any order, odd sizes padded). Other formats raise (soundfile
    fallback: none in this container)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    fmt = raw = None
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        sz = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if pos + 8 + sz > len(data):
            # declared chunk size runs past the buffer: a TRUNCATED
            # file must raise (-> the -1 sentinel row), same contract
            # as the BMP/PPM decoders — silently decoding the partial
            # data chunk would yield plausible-looking stats
            raise ValueError("truncated WAV chunk")
        body = data[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            raw = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("truncated fmt chunk")
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    n_ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if n_ch < 1:
        raise ValueError("bad WAV channel count")
    if audio_fmt in (6, 7):  # G.711 A-law / mu-law (compressed audio)
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit (bits={bits})")
        samples = g711_expand(
            np.frombuffer(raw, np.uint8), "alaw" if audio_fmt == 6 else "ulaw"
        )
        if n_ch > 1:
            samples = samples[: (len(samples) // n_ch) * n_ch].reshape(-1, n_ch)
        return samples, rate
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV (fmt={audio_fmt}, bits={bits})")
    if bits == 16:
        samples = np.frombuffer(raw, "<i2", count=len(raw) // 2)
    else:
        # 8-bit PCM is UNSIGNED per the WAV spec; scale to the int16
        # range the 16-bit path returns ((v-128)*256, the standard
        # widening conversion) so downstream stats are bit-depth-stable
        u = np.frombuffer(raw, np.uint8)
        samples = ((u.astype(np.int16) - 128) * 256).astype(np.int16)
    if n_ch > 1:
        samples = samples[: (len(samples) // n_ch) * n_ch].reshape(-1, n_ch)
    return samples, rate


def decode_image(data: bytes):
    """Dispatch by magic bytes: BMP/PPM/PGM/baseline-PNG decode for
    real (numpy + stdlib zlib, no dependencies); remaining compressed
    formats (JPEG/...) fall through to PIL, which is absent in this
    container -> the one remaining STUB, clearly marked."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:2] == b"P5":
        return decode_pgm(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image  # type: ignore

        return Image.open(io.BytesIO(data))
    except ImportError as e:
        raise NotImplementedError(
            "compressed-image decode requires PIL; not in this environment"
        ) from e


def decode_audio(data: bytes):
    """Dispatch by magic bytes: PCM WAV decodes for real; compressed
    audio (mp3/flac/ogg) would need soundfile -> STUB."""
    if data[:4] == b"RIFF":
        return decode_wav(data)
    raise NotImplementedError(
        "compressed-audio decode requires soundfile; not in this environment"
    )


# ---------------------------------------------------------------------------
# real-decode pipeline: deterministic BMP/WAV synthesis -> numpy decode
# -> exact integer stats, oracle-checked in DuckDB
# ---------------------------------------------------------------------------

# 4x2 24-bit bottom-up BI_RGB BMP: 14-byte file header + 40-byte
# BITMAPINFOHEADER, then 24 pixel bytes (stride 12, no padding).
_BMP_W, _BMP_H = 4, 2
_BMP_HEADER_HEX = (
    "424D4E0000000000000036000000"  # BM, size 78, reserved, offset 54
    "2800000004000000020000000100180000000000180000000000000000000000"
    "0000000000000000"  # header 40, 4x2, 1 plane, 24bpp, BI_RGB, 24 px bytes
)
# PCM16 mono 8 kHz WAV with 8 samples (16 data bytes): RIFF size 52,
# fmt(16): pcm/1ch/8000Hz/16000Bps/align2/16bit, data(16).
_WAV_N = 8
_WAV_RATE = 8000
_WAV_HEADER_HEX = (
    "52494646" "34000000" "57415645"
    "666D7420" "10000000" "0100" "0100" "401F0000" "803E0000" "0200" "1000"
    "64617461" "10000000"
)


def _media_refs(docs: DataFrame) -> DataFrame:
    from ocr_spark.sources.synth import synthesize_spans

    return (
        synthesize_spans(docs, nested=False)
        .where(F.col("kind") == "picture")
        .select("media_ref")
        .distinct()
    )


def synthesize_bmp(docs: DataFrame) -> DataFrame:
    """(media_ref, data): a REAL decodable 4x2 24-bit BMP per picture
    ref. Pixel bytes = md5(ref) ++ first 8 bytes of md5(ref||'x') —
    pure Spark exprs, so the DuckDB twin can derive the expected pixels
    from media_ref alone."""
    px_hex = F.concat(
        F.md5("media_ref"),
        F.substring(F.md5(F.concat(F.col("media_ref"), F.lit("x"))), 1, 16),
    )
    return _media_refs(docs).select(
        "media_ref",
        F.to_binary(F.concat(F.lit(_BMP_HEADER_HEX), px_hex), F.lit("hex")).alias(
            "data"
        ),
    )


# 4x2 8-bit RGB non-interlaced PNG whose IDAT is a STORED deflate
# block (BFINAL=1, BTYPE=00), so the 26 raster bytes (2 rows of
# filter-0 byte + 12 RGB bytes) sit verbatim in the file and the whole
# PNG is expressible as Spark hex-string exprs. Chunk CRCs and the
# zlib adler are dummies — decode_png verifies structure, not
# checksums (documented there).
_PNG_W, _PNG_H = 4, 2
_PNG_PREFIX_HEX = (
    "89504E470D0A1A0A"  # signature
    "0000000D" "49484452" "00000004" "00000002" "0802000000" "00000000"
    # IHDR: len 13, 4x2, depth 8, color 2 (RGB), comp/filter/interlace 0
    "00000025" "49444154"  # IDAT: len 37 = 2 zlib hdr + 5 stored + 26 + 4
    "7801"  # zlib: deflate, no preset dict
    "01" "1A00" "E5FF"  # stored block: final, LEN=26, NLEN=~26
)
_PNG_SUFFIX_HEX = (
    "00000000"  # adler32 placeholder (not verified)
    "00000000"  # IDAT chunk CRC placeholder (not verified)
    "00000000" "49454E44" "AE426082"  # IEND
)


def synthesize_png(docs: DataFrame) -> DataFrame:
    """(media_ref, data): a REAL decodable 4x2 RGB baseline PNG per
    picture ref — same md5-derived 24 raster bytes as synthesize_bmp,
    but laid out RGB top-down with a filter-0 byte per row, wrapped in
    a stored-deflate IDAT. Pure Spark exprs end to end."""
    px_hex = F.concat(
        F.md5("media_ref"),
        F.substring(F.md5(F.concat(F.col("media_ref"), F.lit("x"))), 1, 16),
    )
    body = F.concat(
        F.lit(_PNG_PREFIX_HEX),
        F.lit("00"),
        F.substring(px_hex, 1, _PNG_W * 6),
        F.lit("00"),
        F.substring(px_hex, _PNG_W * 6 + 1, _PNG_W * 6),
        F.lit(_PNG_SUFFIX_HEX),
    )
    return _media_refs(docs).select(
        "media_ref", F.to_binary(body, F.lit("hex")).alias("data")
    )


def synthesize_wav(docs: DataFrame) -> DataFrame:
    """(media_ref, data): a REAL decodable PCM16 mono WAV per picture
    ref (the synth corpus has no audio spans; the picture refs stand in
    as the asset key). Sample bytes = md5(ref) -> 8 int16-LE samples."""
    return _media_refs(docs).select(
        "media_ref",
        F.to_binary(
            F.concat(F.lit(_WAV_HEADER_HEX), F.md5("media_ref")), F.lit("hex")
        ).alias("data"),
    )


# G.711 mono 8 kHz WAV headers, 16 companded bytes of data: same RIFF
# frame as _WAV_HEADER_HEX but audio_fmt 7 (mu-law) / 6 (A-law),
# byterate 8000, align 1, bits 8
_G711_N = 16
_ULAW_HEADER_HEX = (
    "52494646" "34000000" "57415645"
    "666D7420" "10000000" "0700" "0100" "401F0000" "401F0000" "0100" "0800"
    "64617461" "10000000"
)
_ALAW_HEADER_HEX = _ULAW_HEADER_HEX.replace("0700", "0600", 1)


def synthesize_g711_wav(docs: DataFrame) -> DataFrame:
    """(media_ref, data): per picture ref, TWO real decodable G.711
    WAVs — '<ref>:u' (mu-law) and '<ref>:a' (A-law) — whose 16
    companded bytes are md5(ref), so the oracle can derive the exact
    expanded int16 samples from media_ref alone via the same ITU
    formulas in SQL integer arithmetic."""
    # ONE pass over the distinct refs, both laws exploded from a
    # 2-element literal — a union of two per-law branches would run
    # the distinct (and its Exchange) twice, doubling the scan at
    # corpus scale for identical output
    laws = F.array(
        F.struct(F.lit(":u").alias("sfx"), F.lit(_ULAW_HEADER_HEX).alias("hdr")),
        F.struct(F.lit(":a").alias("sfx"), F.lit(_ALAW_HEADER_HEX).alias("hdr")),
    )
    return (
        _media_refs(docs)
        .select("media_ref", F.explode(laws).alias("law"))
        .select(
            F.concat(F.col("media_ref"), F.col("law.sfx")).alias("media_ref"),
            F.to_binary(
                F.concat(F.col("law.hdr"), F.md5("media_ref")), F.lit("hex")
            ).alias("data"),
        )
    )


def decoded_g711_stats_sql(table: str = "documents") -> str:
    """DuckDB twin for decoded_audio_stats over synthesize_g711_wav:
    byte k of md5(ref) expanded by the ITU G.711 formulas in pure
    integer SQL — mu-law: c = 255-v, mag = (8m+132)*2^e - 132, sign
    bit NEGATIVE; A-law: a = v XOR 85, mag = 16m+8 (e=0) else
    (16m+264)*2^(e-1), sign bit POSITIVE (Sun reference semantics,
    same as g711_expand)."""
    from ocr_spark.sources.synth import synth_spans_sql

    return f"""
      WITH spans AS ({synth_spans_sql(table)}),
      media AS (
        SELECT DISTINCT media_ref FROM spans WHERE kind = 'picture'
      ),
      b AS (
        SELECT media_ref, law, CAST(r.i AS INT) AS k,
               CAST(('0x' || substr(md5(media_ref), CAST(r.i AS INT) * 2 + 1,
                     2)) AS INT) AS v
        FROM media
        CROSS JOIN (SELECT 'u' AS law UNION ALL SELECT 'a') laws
        CROSS JOIN range(0, {_G711_N}) r(i)
      ),
      x AS (
        SELECT media_ref || ':' || law AS media_ref,
               CASE WHEN law = 'u' THEN
                 CASE WHEN (255 - v) >= 128 THEN
                   -((((255 - v) % 16) * 8 + 132)
                     * (1 << (((255 - v) // 16) % 8)) - 132)
                 ELSE
                   ((((255 - v) % 16) * 8 + 132)
                    * (1 << (((255 - v) // 16) % 8)) - 132)
                 END
               ELSE
                 CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
                 CASE WHEN ((xor(v, 85) // 16) % 8) = 0
                      THEN (xor(v, 85) % 16) * 16 + 8
                      ELSE ((xor(v, 85) % 16) * 16 + 264)
                           * (1 << (((xor(v, 85) // 16) % 8) - 1))
                 END
               END AS s
        FROM b
      )
      SELECT media_ref, CAST({_G711_N} AS BIGINT) AS n_samples,
             8000 AS sample_rate,
             CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
             CAST(SUM(s * s) AS BIGINT) AS sum_sq
      FROM x GROUP BY media_ref
    """


def decoded_image_stats(media: DataFrame) -> DataFrame:
    """(media_ref, width, height, sum_r, sum_g, sum_b): REAL pixel
    decode of the binary column via decode_image (numpy BMP/PPM path),
    then exact integer per-channel sums — every value is a function of
    the decoded pixel array, so a wrong decode cannot hash-match the
    oracle.

    Batch shape: Arrow batches in/out (mapInArrow); the inner loop is
    per BLOB — the codec boundary, exactly where a real PIL/torchvision
    decode would sit — while all pixel arithmetic is numpy. Only the
    tiny (ref, 6 ints) rows leave the scan stage."""

    def stats(batches):
        settle_python_worker()
        for b in batches:
            refs = b.column("media_ref").to_pylist()
            blobs = b.column("data").to_pylist()
            out = {
                "media_ref": refs,
                "width": [],
                "height": [],
                "sum_r": [],
                "sum_g": [],
                "sum_b": [],
            }
            for blob in blobs:
                # errors become data (the E1/E2 kernel discipline): a
                # corrupt/empty/unsupported blob yields the -1 sentinel
                # row instead of killing a 100 TB job on one asset
                try:
                    px = decode_image(blob or b"")
                except (ValueError, NotImplementedError):
                    for c in ("width", "height", "sum_r", "sum_g", "sum_b"):
                        out[c].append(-1)
                    continue
                if px.ndim == 2:  # grayscale (PGM/PNG-0): gray == all channels
                    px = np.stack([px, px, px], axis=-1)
                elif px.shape[-1] == 4:  # RGBA (PNG-6): alpha dropped
                    px = px[..., :3]
                h, w = px.shape[:2]
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pa.RecordBatch.from_pydict(
                out,
                schema=pa.schema(
                    [
                        ("media_ref", pa.string()),
                        ("width", pa.int32()),
                        ("height", pa.int32()),
                        ("sum_r", pa.int64()),
                        ("sum_g", pa.int64()),
                        ("sum_b", pa.int64()),
                    ]
                ),
            )

    return media.select("media_ref", "data").mapInArrow(
        stats,
        schema=(
            "media_ref string, width int, height int, "
            "sum_r long, sum_g long, sum_b long"
        ),
    )


def decoded_image_stats_sql(table: str = "documents") -> str:
    """DuckDB twin: the BMP raster is md5(ref)++md5(ref||'x')[:8], laid
    out BGR — byte k of the raster has channel B/G/R for k%3=0/1/2
    (stride 12 is a multiple of 3), independent of the bottom-up row
    flip the decoder performs (sums are row-order-invariant)."""
    from ocr_spark.sources.synth import synth_spans_sql

    return f"""
      WITH spans AS ({synth_spans_sql(table)}),
      media AS (
        SELECT DISTINCT media_ref FROM spans WHERE kind = 'picture'
      ),
      px AS (
        SELECT media_ref,
               md5(media_ref) || substr(md5(media_ref || 'x'), 1, 16) AS hx
        FROM media
      ),
      b AS (
        SELECT media_ref, CAST(r.i AS INT) AS k,
               CAST(('0x' || substr(hx, CAST(r.i AS INT) * 2 + 1, 2)) AS INT)
                 AS v
        FROM px CROSS JOIN range(0, {_BMP_W * _BMP_H * 3}) r(i)
      )
      SELECT media_ref, {_BMP_W} AS width, {_BMP_H} AS height,
             CAST(SUM(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT)
               AS sum_r,
             CAST(SUM(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT)
               AS sum_g,
             CAST(SUM(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT)
               AS sum_b
      FROM b GROUP BY media_ref
    """


def decoded_png_stats_sql(table: str = "documents") -> str:
    """DuckDB twin for decoded_image_stats over synthesize_png: the
    raster is the same md5(ref)++md5(ref||'x')[:8] 24 bytes as the BMP
    twin, but PNG stores RGB (byte k%3 = 0/1/2 -> R/G/B) — the filter
    bytes never reach the pixel sums, and top-down row order is
    sum-invariant."""
    from ocr_spark.sources.synth import synth_spans_sql

    return f"""
      WITH spans AS ({synth_spans_sql(table)}),
      media AS (
        SELECT DISTINCT media_ref FROM spans WHERE kind = 'picture'
      ),
      px AS (
        SELECT media_ref,
               md5(media_ref) || substr(md5(media_ref || 'x'), 1, 16) AS hx
        FROM media
      ),
      b AS (
        SELECT media_ref, CAST(r.i AS INT) AS k,
               CAST(('0x' || substr(hx, CAST(r.i AS INT) * 2 + 1, 2)) AS INT)
                 AS v
        FROM px CROSS JOIN range(0, {_PNG_W * _PNG_H * 3}) r(i)
      )
      SELECT media_ref, {_PNG_W} AS width, {_PNG_H} AS height,
             CAST(SUM(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT)
               AS sum_r,
             CAST(SUM(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT)
               AS sum_g,
             CAST(SUM(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT)
               AS sum_b
      FROM b GROUP BY media_ref
    """


def decoded_audio_stats(media: DataFrame) -> DataFrame:
    """(media_ref, n_samples, sample_rate, sum_abs, sum_sq): REAL PCM
    decode of the binary column via decode_audio, exact integer
    aggregate stats (int64 — no float drift vs the oracle)."""

    def stats(batches):
        settle_python_worker()
        for b in batches:
            refs = b.column("media_ref").to_pylist()
            blobs = b.column("data").to_pylist()
            out = {
                "media_ref": refs,
                "n_samples": [],
                "sample_rate": [],
                "sum_abs": [],
                "sum_sq": [],
            }
            for blob in blobs:
                try:
                    samples, rate = decode_audio(blob or b"")
                except (ValueError, NotImplementedError):
                    for c in ("n_samples", "sample_rate", "sum_abs", "sum_sq"):
                        out[c].append(-1)
                    continue
                s = samples.astype(np.int64).reshape(-1)
                out["n_samples"].append(int(s.size))
                out["sample_rate"].append(int(rate))
                out["sum_abs"].append(int(np.abs(s).sum()))
                out["sum_sq"].append(int((s * s).sum()))
            yield pa.RecordBatch.from_pydict(
                out,
                schema=pa.schema(
                    [
                        ("media_ref", pa.string()),
                        ("n_samples", pa.int64()),
                        ("sample_rate", pa.int32()),
                        ("sum_abs", pa.int64()),
                        ("sum_sq", pa.int64()),
                    ]
                ),
            )

    return media.select("media_ref", "data").mapInArrow(
        stats,
        schema=(
            "media_ref string, n_samples long, sample_rate int, "
            "sum_abs long, sum_sq long"
        ),
    )


def decoded_audio_stats_sql(table: str = "documents") -> str:
    """DuckDB twin: sample i = int16-LE from md5(ref) bytes (2i, 2i+1):
    v = lo + 256*hi - (hi >= 128 ? 65536 : 0)."""
    from ocr_spark.sources.synth import synth_spans_sql

    return f"""
      WITH spans AS ({synth_spans_sql(table)}),
      media AS (
        SELECT DISTINCT media_ref FROM spans WHERE kind = 'picture'
      ),
      s AS (
        SELECT media_ref,
               CAST(('0x' || substr(md5(media_ref),
                       CAST(r.i AS INT) * 4 + 1, 2)) AS INT)
               + 256 * CAST(('0x' || substr(md5(media_ref),
                       CAST(r.i AS INT) * 4 + 3, 2)) AS INT)
               AS u
        FROM media CROSS JOIN range(0, {_WAV_N}) r(i)
      ),
      v AS (
        SELECT media_ref,
               CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END
                    AS BIGINT) AS x
        FROM s
      )
      SELECT media_ref, CAST({_WAV_N} AS BIGINT) AS n_samples,
             {_WAV_RATE} AS sample_rate,
             CAST(SUM(abs(x)) AS BIGINT) AS sum_abs,
             CAST(SUM(x * x) AS BIGINT) AS sum_sq
      FROM v GROUP BY media_ref
    """


# ---------------------------------------------------------------------------
# feature extraction over binary (mapInArrow; fake-but-deterministic)
# ---------------------------------------------------------------------------


def image_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """(media_ref, features array<double>[dim]): Arrow-batched feature
    extraction over the binary column.

    The featurizer is the DETERMINISTIC FAKE standing in for a real
    CNN/CLIP embed: feature[j] = byte j of the blob / 255 (0 beyond the
    blob's length). It is computed as a true BATCH operation — the
    whole batch's bytes come out of the Arrow value buffer and one
    vectorized numpy gather builds the (n, dim) matrix; no per-row
    Python runs, exactly like the real replacement (a batched ONNX/
    torch session invoked once per Arrow batch)."""

    def featurize(batches):
        settle_python_worker()
        for b in batches:
            refs = b.column("media_ref")
            data = b.column("data")
            if data.null_count:
                data = pa.compute.fill_null(data, b"")
            data = data.combine_chunks() if isinstance(data, pa.ChunkedArray) else data
            n = b.num_rows
            # flat value buffer + offsets: the batch's bytes, zero-copy.
            # Offset width follows the arrow type — large_binary (e.g.
            # spark.sql.execution.arrow.useLargeVarTypes=true) ships
            # int64 offsets, and misreading them as int32 would compute
            # silently wrong gather indices.
            off_dtype = np.int64 if pa.types.is_large_binary(data.type) else np.int32
            offs = np.frombuffer(data.buffers()[1], dtype=off_dtype)[
                data.offset : data.offset + n + 1
            ].astype(np.int64)
            buf = np.frombuffer(data.buffers()[2] or b"", dtype=np.uint8)
            lens = np.diff(offs)
            cols = np.arange(dim, dtype=np.int64)
            # clamp the gather inside each blob; zero past its end.
            # The final clip guards zero-length blobs at the END of the
            # value buffer: their offset equals len(buf) (no padding
            # slack guaranteed), and np.where evaluates the gather
            # eagerly even where `valid` is False.
            idx = offs[:-1, None] + np.minimum(cols, np.maximum(lens[:, None] - 1, 0))
            idx = np.minimum(idx, max(len(buf) - 1, 0))
            valid = cols < lens[:, None]
            out = np.where(valid, buf[idx] if len(buf) else 0, 0) / 255.0
            flat = pa.array(out.reshape(-1))
            feats = pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                pa.list_(pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [refs.cast(pa.string()), feats], names=["media_ref", "features"]
            )

    return media.select("media_ref", "data").mapInArrow(
        featurize, schema="media_ref string, features array<double>"
    )


def image_features_flat(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Oracle-friendly flat shape: (media_ref, j, feature)."""
    f = image_features(media, dim)
    return f.select("media_ref", F.posexplode("features").alias("j", "feature"))


def image_features_flat_sql(table: str = "documents", dim: int = FEATURE_DIM) -> str:
    """DuckDB twin of the fake featurizer: the synthesized blob is
    unhex(md5(ref) || md5(ref)), so byte j (j < 16) is the j-th hex
    pair of md5(media_ref) — computable from media_ref alone."""
    from ocr_spark.sources.synth import synth_spans_sql

    return f"""
      WITH spans AS ({synth_spans_sql(table)}),
      media AS (
        SELECT media_ref, md5(media_ref) AS h
        FROM spans WHERE kind = 'picture'
      )
      SELECT media_ref, CAST(r.i AS INT) AS j,
             CAST(CAST(('0x' || substr(h, (r.i % 16) * 2 + 1, 2)) AS INT) AS DOUBLE)
               / 255.0 AS feature
      FROM media CROSS JOIN range(0, {dim}) r(i)
    """


# ---------------------------------------------------------------------------
# resize plan + video frame sampling (pure Spark)
# ---------------------------------------------------------------------------


def resize_plan(media: DataFrame, max_side: int = 64) -> DataFrame:
    """(media_ref, width, height, out_width, out_height, scale):
    aspect-preserving resize arithmetic (the real resize would apply
    this inside the decode UDF)."""
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    return media.select(
        "media_ref",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.floor(w * scale).cast("int").alias("out_width"),
        F.floor(h * scale).cast("int").alias("out_height"),
        scale.alias("scale"),
    )


def frame_schedule(media: DataFrame, fps: int = FPS) -> DataFrame:
    """(media_ref, frame_idx, ts_ms): deterministic frame-sampling
    schedule for video rows — the explode is the Spark-side work, the
    per-frame decode happens in the (stubbed) binary UDF."""
    return (
        media.where(F.col("kind") == "video")
        .withColumn(
            "n_frames",
            F.greatest(
                (F.col("meta.duration_ms") * fps / 1000).cast("int"), F.lit(1)
            ),
        )
        .select(
            "media_ref",
            F.posexplode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx", "_"),
        )
        .select(
            "media_ref",
            "frame_idx",
            (F.col("frame_idx") * (1000 / fps)).cast("int").alias("ts_ms"),
        )
    )

"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video travel as `binary` columns with a struct of typed
metadata next to them. The image path is REAL end-to-end: payloads are
uncompressed netpbm images (P6 RGB / P5 grayscale — a public
fixed-layout format decodable with numpy alone, no codec libs), and
`decode_image` actually parses the header (whitespace-separated
tokens, `#` comments, per the netpbm spec) and reshapes the raw
sample plane into an h×w×c pixel array; features come from DECODED
PIXELS. The audio path is real (`decode_wav` walks the RIFF chunk
list, 8/16-bit PCM; `resample_audio` re-rates via a zero-order-hold
gather and re-encodes), and so is video: `sample_frames` demuxes a
concatenated-netpbm stream (frame boundaries found by re-parsing each
header) and DECODES the evenly-spaced chosen frames. Dedup keys come
from decoded content too: exact aHash groups (`ahash_dup_groups`),
banded-hamming image NEAR-dups (`ahash_neardup_pairs`), and
audio-envelope fingerprints. PNG is a REAL compressed codec here
(`decode_png`: chunk walk with CRC checks, stdlib-zlib inflate,
numpy unfilter of all five scanline filters), and so is baseline
JPEG (`decode_jpeg`: marker walk, DHT/DQT parse, Huffman entropy
decode, dequant + vectorized IDCT) — proof that both lossless and
lossy compressed formats slot into the same row kernel with only the
codec swapped; container video (MP4) takes decord in production,
never a change to the Spark-side plumbing.

One Python boundary: every generator and media kernel here is a plain
per-row function run by `map_rows` — the engine's only `mapInPandas`
call. `map_rows` owns the Arrow batch loop, the row → pandas
conversion and the dtype rule that lets an empty or all-NULL batch
convert like a full one; callers `select` only the columns their
kernel reads, so the `meta` struct never crosses into Python.

Scale notes: binary payloads dominate row size, so the boundary moves
Arrow batches (zero row-at-a-time serde) and
`spark.sql.files.maxPartitionBytes` should be sized so one batch of
payloads fits executor memory (e.g. 64 MB batches of ~1 MB images);
the per-batch row cap for ~10 MB rows is the `RUNTIME_CONFS` caveat
in `session.py`.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from ..execution import checkpoint, spread

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])),
])

# decoded-image features: everything exact integers (BIGINT sums over
# uint8 pixels cannot overflow below ~2^55 pixels) so the cross-engine
# hash never sees float representation drift
FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("ch_sum", T.ArrayType(T.LongType())),
    T.StructField("px_hist", T.ArrayType(T.LongType())),
])

# what every generator (and the re-encoding kernels) emit
PAYLOAD_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])


def map_rows(df: DataFrame, kernel: Callable[..., Iterable[tuple]],
             schema: T.StructType | str) -> DataFrame:
    """`kernel(*row)` over `df`'s rows in Arrow batches, each call
    yielding 0..N output tuples in `schema` order — the engine's one
    Python boundary. Rows arrive as Python values (int, str, bytes,
    None); output columns are object dtype, so an empty or all-NULL
    batch converts to Arrow exactly like a full one (pandas would
    otherwise infer float64 for it)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()

    def convert(pdfs: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in pdfs:
            rows = [out for row in pdf.itertuples(index=False, name=None)
                    for out in kernel(*row)]
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return df.mapInPandas(convert, schema)


def _doc_rows(df: DataFrame) -> DataFrame:
    """(media_id, text) from the documents fixture — the light rows
    every generator reads. All but the WAV generator (measured, see
    `documents_as_wav_media`) `spread` them BEFORE generating
    payloads, so media bytes never cross an exchange (pinned by
    test_scene_cuts_no_shuffle)."""
    return df.select(F.col("doc_id").alias("media_id"), "text")


def _with_meta(media: DataFrame, fmt: str) -> DataFrame:
    """(media_id, payload) plus the typed metadata struct."""
    return media.select(
        "media_id", "payload",
        F.struct(
            F.lit(fmt).alias("format"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"))


def _tiled_plane(mid: int, text: str):
    """The image fixtures' pixel plane: h×w×3 uint8, byte j = text
    byte j mod len (all-zero for empty text), w = 8 + id % 9,
    h = 8 + id % 7."""
    import numpy as np
    w, h = 8 + mid % 9, 8 + mid % 7
    raw = np.frombuffer(text.encode("utf-8"), np.uint8)
    plane = (np.resize(raw, w * h * 3) if raw.size
             else np.zeros(w * h * 3, np.uint8))
    return plane.reshape(h, w, 3)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Make an opaque-binary media table out of the documents fixture:
    payload = utf-8 bytes, metadata struct alongside — the canonical
    multimodal column layout."""
    return _with_meta(
        spread(_doc_rows(df)).select(
            "media_id", F.encode("text", "utf-8").alias("payload")),
        "text/plain")


NEARDUP_ID_OFFSET = 1_000_000  # media_id of an injected near-dup copy


def documents_as_ppm_media(df: DataFrame,
                           neardup_mod: int | None = None) -> DataFrame:
    """The IMAGE media fixture: one real P6 PPM per document, pixel
    plane tiled deterministically from the utf-8 text bytes
    (`_tiled_plane`), dimensions varying per id so the decoder's
    header parsing is exercised across shapes. NULL text → NULL
    payload. Deterministic by construction, so an oracle can
    recompute every decoded-pixel statistic from the text alone.

    `neardup_mod` additionally emits, for every doc with id % mod ==
    0, a NEAR-duplicate copy at media_id = id + NEARDUP_ID_OFFSET: same image
    with its first pixel forced to white — the
    re-encode-with-a-small-edit fixture the banded-hamming near-dup
    search exists to catch (the `_DIRTY_NAME` discipline: the
    corruption is deterministic and part of the query, so the oracle
    recomputes the copy's every hash bit too)."""

    def ppm(mid, text):
        if text is None:
            yield mid, None
            return
        plane = _tiled_plane(mid, text)
        yield mid, encode_netpbm(plane)
        if neardup_mod is not None and mid % neardup_mod == 0:
            plane = plane.copy()
            plane[0, 0] = 255
            yield mid + NEARDUP_ID_OFFSET, encode_netpbm(plane)

    return _with_meta(map_rows(spread(_doc_rows(df)), ppm, PAYLOAD_SCHEMA),
                      "image/x-portable-pixmap")


# ------------------------------------------------------- netpbm codec

_WS = b" \t\r\n\x0b\x0c"


def encode_netpbm(pixels) -> bytes:
    """uint8 pixel array → binary netpbm bytes: h×w×3 → P6 (RGB),
    h×w or h×w×1 → P5 (grayscale)."""
    import numpy as np
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if c not in (1, 3):
        raise ValueError(f"encode_netpbm: {c} channels (want 1 or 3)")
    magic = b"P6" if c == 3 else b"P5"
    return magic + b"\n" + f"{w} {h}\n255\n".encode() + a.tobytes()


def decode_image(payload: bytes | None):
    """REAL image decode (pure numpy, no codec libs): parse a binary
    netpbm payload — P6 RGB or P5 grayscale, 8-bit — and return
    (width, height, channels, pixels) with pixels an h×w×c uint8
    array. Header parsing follows the spec: magic, width, height,
    maxval as whitespace-separated tokens, `#`-to-newline comments
    allowed between them, exactly one whitespace byte after maxval,
    then the raw sample plane.

    Dispatches on the magic bytes: netpbm here, 'BM' → `decode_bmp`
    (uncompressed 24-bit Windows bitmaps), the 8-byte PNG signature →
    `decode_png` (a REAL compressed codec: zlib inflate + per-scanline
    unfilter), SOI 0xFFD8 → `decode_jpeg` (a REAL lossy codec:
    Huffman + dequant + IDCT) — one decode entry point for every
    format the engine understands.

    Returns None (never raises) for NULL/garbage/truncated payloads or
    unsupported variants (maxval > 255 needs 16-bit planes) — one bad
    row must not fail a 100 TB job."""
    import numpy as np
    if payload is None:
        return None
    if bytes(payload[:2]) == b"BM":
        return decode_bmp(payload)
    if bytes(payload[:8]) == PNG_SIG:
        return decode_png(payload)
    if bytes(payload[:2]) == JPEG_SOI:
        return decode_jpeg(payload)
    buf = bytes(payload)
    parsed = _parse_netpbm_header(buf, 0)
    if parsed is None:
        return None
    w, h, channels, data_start = parsed
    need = w * h * channels
    if len(buf) - data_start < need:
        return None
    pixels = (np.frombuffer(buf, np.uint8, count=need, offset=data_start)
                .reshape(h, w, channels))
    return w, h, channels, pixels


def _parse_netpbm_header(buf: bytes, pos: int):
    """Parse one netpbm header starting at `pos`: magic, width,
    height, maxval as whitespace-separated tokens with `#` comments,
    one whitespace byte after maxval. Returns (w, h, channels,
    data_start) or None."""
    if buf[pos:pos + 2] not in (b"P6", b"P5"):
        return None
    tokens: list[bytes] = []
    i = pos
    while len(tokens) < 4 and i < len(buf):
        c = buf[i:i + 1]
        if c in _WS:
            i += 1
        elif c == b"#":
            j = buf.find(b"\n", i)
            if j < 0:
                return None
            i = j + 1
        else:
            j = i
            while j < len(buf) and buf[j:j + 1] not in _WS and buf[j:j + 1] != b"#":
                j += 1
            tokens.append(buf[i:j])
            i = j
    if len(tokens) < 4 or i >= len(buf) or buf[i:i + 1] not in _WS:
        return None
    i += 1  # the single post-maxval whitespace byte
    try:
        w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    except ValueError:
        return None
    if w <= 0 or h <= 0 or not (0 < maxval <= 255):
        return None
    return w, h, (3 if tokens[0] == b"P6" else 1), i


def demux_netpbm_stream(payload: bytes | None):
    """REAL demux of an uncompressed multi-frame stream: a 'video'
    here is concatenated netpbm frames, each with its own header (the
    layout an MJPEG-style stream has, minus compression). Walks the
    buffer frame by frame — parse header, slice exactly w·h·c sample
    bytes, advance — and returns a list of (w, h, c, pixels) per
    frame. A torn or malformed stream returns None (corrupt, not
    partially usable), NULL payload returns None."""
    import numpy as np
    if payload is None:
        return None
    buf = bytes(payload)
    frames = []
    pos = 0
    while pos < len(buf):
        parsed = _parse_netpbm_header(buf, pos)
        if parsed is None:
            return None
        w, h, c, data_start = parsed
        need = w * h * c
        if len(buf) - data_start < need:
            return None
        frames.append((w, h, c,
                       np.frombuffer(buf, np.uint8, count=need,
                                     offset=data_start).reshape(h, w, c)))
        pos = data_start + need
    return frames


def decode_bmp(payload: bytes | None):
    """REAL BMP decode (pure numpy): uncompressed 24-bit BI_RGB
    Windows bitmaps — 'BM' magic, BITMAPINFOHEADER, bottom-up rows
    padded to 4-byte boundaries, BGR samples. Returns (width, height,
    3, pixels) with pixels h×w×3 uint8 in RGB row-major (top-down) —
    the same contract as `decode_image` — or None for anything else
    (compressed/paletted/other depths), never an exception."""
    import struct

    import numpy as np
    if payload is None or payload[:2] != b"BM" or len(payload) < 54:
        return None
    buf = bytes(payload)
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size = struct.unpack_from("<I", buf, 14)[0]
    if hdr_size < 40:  # BITMAPCOREHEADER etc. unsupported
        return None
    w, h = struct.unpack_from("<ii", buf, 18)
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    compression = struct.unpack_from("<I", buf, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if len(buf) - data_off < stride * h:
        return None
    rows = (np.frombuffer(buf, np.uint8, count=stride * h, offset=data_off)
              .reshape(h, stride)[:, :w * 3].reshape(h, w, 3))
    if not top_down:
        rows = rows[::-1]
    return w, h, 3, rows[:, :, ::-1]  # BGR → RGB


def encode_bmp(pixels) -> bytes:
    """uint8 h×w×3 RGB array → uncompressed 24-bit bottom-up BMP."""
    import struct

    import numpy as np
    a = np.asarray(pixels, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("encode_bmp wants h×w×3 RGB")
    stride = (w * 3 + 3) & ~3
    padded = np.zeros((h, stride), np.uint8)
    padded[:, :w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # flip+BGR
    data = padded.tobytes()
    return (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(data), 2835, 2835, 0, 0) + data)


# -------------------------------------------------------- png codec
#
# A REAL compressed image codec with zero third-party deps: zlib is
# Python stdlib and PNG unfiltering is integer numpy arithmetic. This
# closes the "compressed formats would slot into the same row kernel"
# claim above with a working instance — the Spark-side plumbing
# (binary column in, `map_rows` decode, exact-integer features out)
# is byte-identical to the netpbm path; only the codec differs.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels) -> bytes:
    """uint8 pixel array → real PNG bytes: h×w×3 → color type 2
    (truecolor), h×w / h×w×1 → color type 0 (grayscale), bit depth 8,
    no interlace. The per-scanline filter type cycles y % 5 so every
    fixture image exercises ALL FIVE spec filters
    (None/Sub/Up/Average/Paeth). Filtering is fully
    vectorized — the encoder predicts from ORIGINAL neighbor pixels,
    so unlike decoding it has no sequential dependency."""
    import struct
    import zlib

    import numpy as np
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if c not in (1, 3):
        raise ValueError(f"encode_png: {c} channels (want 1 or 3)")
    rows = a.reshape(h, w * c).astype(np.int32)
    prior = np.vstack([np.zeros((1, w * c), np.int32), rows[:-1]])
    left = np.zeros_like(rows)
    left[:, c:] = rows[:, :-c]
    ul = np.zeros_like(rows)
    ul[1:, c:] = rows[:-1, :-c]
    out = bytearray()
    for y in range(h):
        ft = y % 5
        r, l, p, q = rows[y], left[y], prior[y], ul[y]
        if ft == 0:
            f = r
        elif ft == 1:
            f = r - l
        elif ft == 2:
            f = r - p
        elif ft == 3:
            f = r - (l + p) // 2
        elif ft == 4:
            pr = l + p - q
            pa, pb, pc = abs(pr - l), abs(pr - p), abs(pr - q)
            pred = np.where((pa <= pb) & (pa <= pc), l,
                            np.where(pb <= pc, p, q))
            f = r - pred
        else:
            raise ValueError(f"encode_png: filter {ft}")
        out.append(ft)
        out += (f % 256).astype(np.uint8).tobytes()

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if c == 1 else 2, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def decode_png(payload: bytes | None):
    """REAL PNG decode, stdlib + numpy only: verify the signature,
    walk the chunk list CHECKING EVERY CRC, parse IHDR, inflate the
    concatenated IDAT stream, and reconstruct scanlines by inverting
    the spec's five filters (None/Sub/Up/Average/Paeth — exact
    integer arithmetic; Average uses floor((a+b)/2) on the FULL
    9-bit sum, Paeth the standard tie-broken predictor). Returns
    (width, height, channels, pixels) like `decode_image`.

    Supported: bit depth 8, color types 0 (gray) and 2 (RGB), no
    interlace. Returns None (never raises) for anything else —
    Adam7-interlaced files, 16-bit planes, palette/alpha types — and
    for malformed data: bad signature, truncated chunk, CRC mismatch,
    zlib error, or an inflated stream whose length isn't exactly
    h·(1 + w·bpp). Decoding IS sequential per scanline for the
    left-predicting filters (the spec's data dependency); rows
    reconstruct in a tight per-row loop and whole images stream
    through Arrow batches, so the parallel unit is the image, not the
    row."""
    import struct
    import zlib

    import numpy as np
    if payload is None:
        return None
    buf = bytes(payload)
    if buf[:8] != PNG_SIG:
        return None
    pos, ihdr, idat, ended = 8, None, [], False
    while pos + 12 <= len(buf):
        (ln,) = struct.unpack(">I", buf[pos:pos + 4])
        tag = buf[pos + 4:pos + 8]
        if pos + 12 + ln > len(buf):
            return None  # truncated chunk
        data = buf[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", buf[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            return None
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            ended = True
            break
        pos += 12 + ln
    if ihdr is None or not ended or not idat or len(ihdr) != 13:
        return None
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype not in (0, 2) or comp or filt or inter:
        return None  # interlace / exotic planes: rejected, not wrong
    c = 1 if ctype == 0 else 3
    if w <= 0 or h <= 0:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * c
    if len(raw) != h * (1 + stride):
        return None
    arr = np.frombuffer(raw, np.uint8).reshape(h, 1 + stride)
    fts, rows = arr[:, 0], arr[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), np.int32)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        ft, cur = int(fts[y]), rows[y]
        if ft == 0:
            rec = cur.copy()
        elif ft == 2:
            rec = (cur + prev) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros(stride, np.int32)
            for i in range(stride):
                a = int(rec[i - c]) if i >= c else 0
                b = int(prev[i])
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    q = int(prev[i - c]) if i >= c else 0
                    p = a + b - q
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - q)
                    pred = (a if pa <= pb and pa <= pc
                            else (b if pb <= pc else q))
                rec[i] = (int(cur[i]) + pred) % 256
        else:
            return None  # invalid filter type byte
        out[y] = rec
        prev = rec
    return w, h, c, out.astype(np.uint8).reshape(h, w, c)


# ------------------------------------------------------- jpeg codec
#
# A REAL lossy transform codec with zero third-party deps: baseline
# sequential JFIF (ITU-T T.81, public spec) — 8×8 FDCT, quantization,
# zigzag run-length, canonical Huffman entropy coding with the tables
# CARRIED IN THE STREAM (DHT), byte stuffing, the works. Grayscale
# (one component) only; color needs chroma subsampling policy and
# adds nothing to the Spark-side story. Oracle-gradability of a LOSSY
# codec: the graded fixture uses BLOCK-CONSTANT planes, for which the
# roundtrip is exactly lossless (a constant block's AC coefficients
# are 0 after rounding and its DC path is all powers of two — see
# `documents_as_jpeg_media`), so DuckDB can recompute decoded-pixel
# stats from the text bytes with zero JPEG knowledge; the general
# lossy path is pinned by pytest with bounded per-pixel error.

JPEG_SOI = b"\xff\xd8"

#: canonical Huffman tables emitted in DHT (and parsed back by the
#: decoder — the decoder handles ANY valid DHT, these are just what
#: the encoder ships). DC: 12 categories, all at code length 4
#: (16 slots; the all-ones code stays unused per T.81 C.2). AC: 162
#: symbols (EOB, ZRL, (run 0-15 × size 1-10)), all at length 8.
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0] * 7 + [162] + [0] * 8
_JPEG_AC_VALS = ([0x00] + [(r << 4) | s for r in range(16)
                           for s in range(1, 11)] + [0xF0])

#: T.81 figure A.6 zigzag: _ZIGZAG[k] = (row, col) of the k-th
#: coefficient in zigzag order — odd diagonals walk row-ascending
#: ((0,1),(1,0)), even ones column-ascending ((2,0),(1,1),(0,2))
_ZIGZAG = sorted(((r, c) for r in range(8) for c in range(8)),
                 key=lambda rc: (rc[0] + rc[1],
                                 rc[0] if (rc[0] + rc[1]) % 2 else rc[1]))


def _dct_mat():
    """Orthonormal 8-point DCT-II matrix C (C[u,x] = c(u)/2 ·
    cos((2x+1)uπ/16), c(0)=1/√2): FDCT F = C·B·Cᵀ, IDCT B = Cᵀ·F·C.
    Built once per process — on the tiny-image corpus the rebuild
    showed up at ~30 µs/image in the decode profile."""
    import numpy as np
    global _DCT_C
    if _DCT_C is None:
        x = np.arange(8)
        C = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
        C[0] /= np.sqrt(2.0)
        _DCT_C = C
    return _DCT_C


_DCT_C = None
_ENC_CODES = None


def _huff_codes(bits, vals):
    """Canonical code assignment per T.81 C.2: returns
    {symbol: (code, length)}."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF in the
    entropy stream is followed by 0x00) and 1-padding at the end."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def done(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def encode_jpeg(pixels) -> bytes:
    """uint8 grayscale array (h×w or h×w×1) → real baseline JFIF
    bytes: pad to 8×8 MCUs by edge replication, level-shift, FDCT,
    quantize (all-ones luminance table — legal, carried in DQT),
    zigzag, DC-differential + AC run-length, canonical Huffman with
    the tables above carried in DHT, byte-stuffed entropy stream.
    Raises on 3-channel input (this codec is deliberately
    grayscale-only)."""
    import struct

    import numpy as np
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 3:
        if a.shape[2] != 1:
            raise ValueError("encode_jpeg: grayscale only")
        a = a[:, :, 0]
    h, w = a.shape
    ph, pw = (-h) % 8, (-w) % 8
    a8 = np.pad(a, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    C = _dct_mat()
    bh, bw = a8.shape[0] // 8, a8.shape[1] // 8
    blocks = (a8.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0)
    coeffs = np.round(C @ blocks @ C.T)   # FDCT F = C·B·Cᵀ, batched
    coeffs = coeffs.astype(np.int32)

    global _ENC_CODES
    if _ENC_CODES is None:   # fixed tables: assign codes once/process
        _ENC_CODES = (_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
                      _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS))
    dc_codes, ac_codes = _ENC_CODES
    # one vectorized zigzag gather for the whole image — 64 numpy
    # scalar reads per block dominated the tiny-image encode profile
    zrows = [r for r, _ in _ZIGZAG]
    zcols = [c for _, c in _ZIGZAG]
    zz_all = coeffs[:, :, zrows, zcols].reshape(bh * bw, 64).tolist()
    bb = _BitWriter()
    prev_dc = 0
    for zz in zz_all:
        diff = zz[0] - prev_dc
        prev_dc = zz[0]
        s = _category(diff)
        bb.put(*dc_codes[s])
        if s:
            amp = diff if diff > 0 else diff + (1 << s) - 1
            bb.put(amp, s)
        run = 0
        for k in range(1, 64):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                bb.put(*ac_codes[0xF0])   # ZRL
                run -= 16
            s = _category(v)
            bb.put(*ac_codes[(run << 4) | s])
            amp = v if v > 0 else v + (1 << s) - 1
            bb.put(amp, s)
            run = 0
        if run:
            bb.put(*ac_codes[0x00])       # EOB
    data = bb.done()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = bytes([1] * 64)
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    return (JPEG_SOI
            + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xFFDB, bytes([0x00]) + qt_zz)
            + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, 0x11, 0]))
            + seg(0xFFC4, dht_dc) + seg(0xFFC4, dht_ac)
            + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + data + b"\xff\xd9")


def _unstuff_entropy(buf: bytes, pos: int) -> bytes:
    """Strip T.81 byte stuffing (FF 00 → FF) from the entropy stream
    starting at `pos`; stops at the first real marker or at end of
    buffer. The decoder bounds its reads by the returned length, so a
    truncated or marker-interrupted stream surfaces as a decode
    failure, matching the old per-bit reader's IndexError."""
    out = bytearray()
    n = len(buf)
    while pos < n:
        b = buf[pos]
        if b == 0xFF:
            if pos + 1 >= n or buf[pos + 1] != 0x00:
                break
            out.append(0xFF)
            pos += 2
        else:
            out.append(b)
            pos += 1
    return bytes(out)


_LUT_CACHE: dict = {}
_DHT_CACHE: dict = {}


def _parse_dht(key: bytes):
    """Validate + build one DHT table from its raw payload slice
    (tc/th byte + 16 length counts + symbols). Returns the
    {(length, code): symbol} mapping, or False for an invalid table.
    Cached on the raw bytes by the caller: re-validating the same
    table per image cost ~300 µs/image on the tiny-image corpus,
    several times the entropy decode itself."""
    tc_th = key[0]
    bits = list(key[1:17])
    vals = list(key[17:])
    # T.81 baseline limits: DC size symbols 0-11, AC size nibble
    # ≤ 10. An out-of-range size would make _extend produce an int
    # that overflows the int64 zz array, so invalid tables are
    # rejected here (and the decode try catches OverflowError as a
    # second line of defense).
    tc = tc_th >> 4
    if tc > 1 or any((sym > 11) if tc == 0 else ((sym & 15) > 10)
                     for sym in vals):
        return False
    codes = _huff_codes(bits, vals)
    # Over-subscribed length counts yield codes that don't fit their
    # bit length; reject rather than build a LUT with phantom entries.
    if any(c >= (1 << l) for c, l in codes.values()):
        return False
    return {(ln_, code): sym for sym, (code, ln_) in codes.items()}


def _huff_lut(key: bytes, table: dict) -> list:
    """Table-driven Huffman decode: a 65536-entry list mapping every
    16-bit lookahead to (code_length << 8) | symbol, 0 = invalid.
    Baseline codes are ≤ 16 bits (T.81 C.2) so one peek resolves any
    symbol — this replaces the bit-by-bit tree walk that dominated
    the ×100 JPEG wall-clock (SCALE.md, 239 s of Python bit loops).
    Cached on the raw DHT payload bytes: a corpus encoded with one
    table set (ours is) builds the LUT once per worker, not once per
    image — tiny images would otherwise pay more for the LUT than the
    decode."""
    lut = _LUT_CACHE.get(key)
    if lut is None:
        lut = [0] * 65536
        for (ln, code), sym in table.items():
            start = code << (16 - ln)
            lut[start:start + (1 << (16 - ln))] = \
                [(ln << 8) | sym] * (1 << (16 - ln))
        if len(_LUT_CACHE) >= 16:
            _LUT_CACHE.clear()
        _LUT_CACHE[key] = lut
    return lut


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes | None):
    """REAL baseline JFIF decode, stdlib + numpy only: walk the
    marker segments (APPn/COM skipped by length), parse DQT (8-bit
    tables), SOF0 (8-bit precision, ONE component, 1×1 sampling),
    DHT (any valid canonical tables — not just the encoder's), then
    Huffman-decode the byte-stuffed entropy stream MCU by MCU
    (DC-differential + AC run-length with ZRL/EOB), dequantize,
    de-zigzag, and inverse-DCT all blocks in one einsum. Returns
    (width, height, 1, h×w×1 uint8) like `decode_image`.

    Returns None (never raises) for: progressive/extended SOFn,
    color or subsampled streams, 16-bit quant tables, restart
    intervals (DRI), arithmetic coding, truncated segments, a
    Huffman code that walks off the table, an entropy stream that
    ends mid-block, or a DHT whose symbols exceed the T.81 baseline
    size limits (DC category > 11 / AC size nibble > 10 — which
    would otherwise overflow the int64 coefficient array) or whose
    length counts over-subscribe the code tree."""
    import struct

    import numpy as np
    if payload is None:
        return None
    buf = bytes(payload)
    if buf[:2] != JPEG_SOI:
        return None
    pos, qt, huff, sof = 2, {}, {}, None
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            return None
        marker = struct.unpack(">H", buf[pos:pos + 2])[0]
        if marker == 0xFFD9:          # EOI before SOS: no image
            return None
        (ln,) = struct.unpack(">H", buf[pos + 2:pos + 4])
        seg_end = pos + 2 + ln
        if ln < 2 or seg_end > len(buf):
            return None
        body = buf[pos + 4:seg_end]
        if marker == 0xFFDB:          # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0 or i + 65 > len(body):
                    return None       # 16-bit tables unsupported
                qt[tq] = np.frombuffer(body[i + 1:i + 65],
                                       np.uint8).astype(np.int32)
                i += 65
        elif marker == 0xFFC4:        # DHT (possibly several tables)
            i = 0
            while i + 17 <= len(body):
                tc_th = body[i]
                nv = sum(body[i + 1:i + 17])
                if i + 17 + nv > len(body):
                    return None
                key = bytes(body[i:i + 17 + nv])
                ent = _DHT_CACHE.get(key)
                if ent is None:
                    ent = _parse_dht(key)
                    if len(_DHT_CACHE) >= 64:
                        _DHT_CACHE.clear()
                    _DHT_CACHE[key] = ent
                if ent is False:
                    return None
                huff[tc_th] = (ent, key)
                i += 17 + nv
        elif marker == 0xFFC0:        # SOF0 baseline
            if len(body) < 9 or body[0] != 8 or body[5] != 1:
                return None           # grayscale 8-bit only
            hh, ww = struct.unpack(">HH", body[1:5])
            if body[7] != 0x11:
                return None           # no subsampling
            sof = (ww, hh, body[8])   # (w, h, quant table id)
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF,
                        0xFFDD):
            return None               # progressive/arith/DRI: rejected
        elif marker == 0xFFDA:        # SOS: entropy data follows
            if sof is None or len(body) < 4 or body[0] != 1:
                return None
            td, ta = body[2] >> 4, body[2] & 15
            w, h, tq = sof
            if w <= 0 or h <= 0:
                return None
            dc_ent = huff.get(0x00 | td)
            ac_ent = huff.get(0x10 | ta)
            q = qt.get(tq)
            if dc_ent is None or ac_ent is None or q is None:
                return None
            dc_lut = _huff_lut(dc_ent[1], dc_ent[0])
            ac_lut = _huff_lut(ac_ent[1], ac_ent[0])
            bw, bh = (w + 7) // 8, (h + 7) // 8
            zz = np.zeros((bh * bw, 64), np.int64)
            data = _unstuff_entropy(buf, seg_end)
            total_bits = 8 * len(data)
            data += b"\x00" * 8       # peek pad; total_bits bounds reads
            # acc holds exactly nb not-yet-consumed bits (invariant
            # restored by the mask after every consume); bitpos tracks
            # consumed bits against total_bits so padding can't turn a
            # truncated stream into a silent success.
            acc = nb = di = bitpos = 0
            try:
                dcs, coords = [], []
                for b in range(bh * bw):
                    while nb < 16:
                        acc = (acc << 8) | data[di]
                        di += 1
                        nb += 8
                    entry = dc_lut[acc >> (nb - 16)]
                    if not entry:
                        raise IndexError("invalid Huffman code")
                    s = entry & 0xFF
                    nb -= entry >> 8
                    bitpos += entry >> 8
                    acc &= (1 << nb) - 1
                    if s:
                        while nb < s:
                            acc = (acc << 8) | data[di]
                            di += 1
                            nb += 8
                        nb -= s
                        bitpos += s
                        dcs.append(_extend(acc >> nb, s))
                        acc &= (1 << nb) - 1
                    else:
                        dcs.append(0)
                    k = 1
                    while k < 64:
                        while nb < 16:
                            acc = (acc << 8) | data[di]
                            di += 1
                            nb += 8
                        entry = ac_lut[acc >> (nb - 16)]
                        if not entry:
                            raise IndexError("invalid Huffman code")
                        rs = entry & 0xFF
                        nb -= entry >> 8
                        bitpos += entry >> 8
                        acc &= (1 << nb) - 1
                        if rs == 0x00:      # EOB
                            break
                        if rs == 0xF0:      # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        s = rs & 15
                        if k >= 64 or not s:
                            raise IndexError("AC overrun")
                        while nb < s:
                            acc = (acc << 8) | data[di]
                            di += 1
                            nb += 8
                        nb -= s
                        bitpos += s
                        coords.append((b, k, _extend(acc >> nb, s)))
                        acc &= (1 << nb) - 1
                        k += 1
                    if bitpos > total_bits:
                        raise IndexError("entropy stream truncated")
                zz[:, 0] = np.cumsum(np.array(dcs, np.int64))
                if coords:
                    ckv = np.array(coords, np.int64)
                    zz[ckv[:, 0], ckv[:, 1]] = ckv[:, 2]
            except (IndexError, OverflowError):
                return None
            deq = zz * q[None, :].astype(np.int64)
            blocks = np.zeros((bh * bw, 8, 8), np.float64)
            rows = [r for r, _ in _ZIGZAG]
            cols = [c for _, c in _ZIGZAG]
            blocks[:, rows, cols] = deq
            C = _dct_mat()
            # IDCT B = Cᵀ·F·C, batched over blocks; matmul broadcast
            # beats einsum's per-call overhead ~4× on tiny images
            px = C.T @ blocks @ C
            px = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
            full = (px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
                      .reshape(bh * 8, bw * 8))
            return w, h, 1, full[:h, :w][:, :, None]
        pos = seg_end
    return None


def documents_as_jpeg_media(df: DataFrame) -> DataFrame:
    """The LOSSY-codec fixture, built to be exactly gradable: one
    real grayscale JPEG per document with a BLOCK-CONSTANT plane —
    w = 8·(1 + id % 4), h = 8·(1 + id % 3), and every 8×8 block
    filled with text byte (block_row·bw + block_col) mod len (0 when
    the text is empty; NULL text → NULL payload). Constant blocks
    make baseline JPEG exactly lossless HERE: the FDCT of a constant
    block has AC ≈ 0 (float dust that rounds away) and
    DC = 8·(v−128) built from power-of-two scalings, so with the
    all-ones quant table the decoder reproduces every pixel bit for
    bit — which lets the DuckDB oracle recompute the decoded stats
    straight from the text with zero JPEG knowledge. The general
    (non-constant) lossy path is pinned by pytest with bounded
    error instead."""
    import numpy as np

    def jpeg(mid, text):
        if text is None:
            return [(mid, None)]
        bw, bh = 1 + mid % 4, 1 + mid % 3
        raw = np.frombuffer(text.encode("utf-8"), np.uint8)
        vals = (np.resize(raw, bw * bh) if raw.size
                else np.zeros(bw * bh, np.uint8))
        plane = np.repeat(np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1)
        return [(mid, encode_jpeg(plane))]

    return _with_meta(map_rows(spread(_doc_rows(df)), jpeg, PAYLOAD_SCHEMA),
                      "image/jpeg")


def documents_as_png_media(df: DataFrame) -> DataFrame:
    """The COMPRESSED image fixture: one real PNG per document, SAME
    deterministic pixel plane as `documents_as_ppm_media`
    (`_tiled_plane`; NULL text → NULL payload), so any oracle that can
    recompute the netpbm fixture's decoded-pixel statistics verifies
    this one too — the hash difference between the two queries is
    exactly the codec. Scanline filters cycle y % 5, so every image
    carries all five filter types through the zlib stream."""

    def png(mid, text):
        return [(mid, None if text is None
                 else encode_png(_tiled_plane(mid, text)))]

    return _with_meta(map_rows(spread(_doc_rows(df)), png, PAYLOAD_SCHEMA),
                      "image/png")


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched image feature extraction over the binary column
    — decode REAL pixels (`decode_image`), then exact integer
    statistics over the decoded array: per-channel sums and an
    8-bucket intensity histogram (bucket = pixel >> 5). Exact ints
    keep the features engine-checkable; a production embedding model
    slots in at the `dec` site with the same batch shape.

    Undecodable payloads yield a row with NULL image fields (never an
    exception), so corrupt media is countable downstream."""
    import numpy as np

    def features(mid, payload):
        n_bytes = 0 if payload is None else len(payload)
        dec = decode_image(payload)
        if dec is None:
            return [(mid, n_bytes, None, None, None, None, None)]
        w, h, c, px = dec
        return [(mid, n_bytes, w, h, c,
                 px.sum(axis=(0, 1), dtype=np.int64).tolist(),
                 np.bincount((px >> 5).ravel(), minlength=8).tolist())]

    return map_rows(media.select("media_id", "payload"), features,
                    FEATURE_SCHEMA)


RESIZE_PX = 64  # resize_media's output width and height


def resize_media(media: DataFrame) -> DataFrame:
    """REAL nearest-neighbor image resize, Arrow-batched: decode the
    netpbm payload, gather source pixels with a vectorized numpy index
    (out[y, x] = src[y·h // H, x·w // W] — no per-pixel Python loop),
    re-encode as netpbm. Binary in → binary out with updated metadata;
    NULL/undecodable payloads yield a NULL payload row rather than an
    exception. A production pipeline swaps the gather for PIL's
    filtered resample; everything else is identical."""
    import numpy as np

    def resize(mid, payload):
        dec = decode_image(payload)
        if dec is None:
            return [(mid, None, None, None, 0)]
        w, h, _, px = dec
        ys = (np.arange(RESIZE_PX) * h) // RESIZE_PX
        xs = (np.arange(RESIZE_PX) * w) // RESIZE_PX
        enc = encode_netpbm(px[ys[:, None], xs[None, :], :])
        return [(mid, enc, RESIZE_PX, RESIZE_PX, len(enc))]

    return map_rows(media.select("media_id", "payload"), resize,
                    "media_id long, payload binary, width int, "
                    "height int, n_bytes long")


# ------------------------------------------------------ wav/pcm codec

def encode_wav(samples, sample_rate: int = 16_000) -> bytes:
    """uint8 (8-bit unsigned) or int16 PCM sample array → canonical
    RIFF/WAVE bytes (mono, 44-byte header + data chunk)."""
    import struct

    import numpy as np
    a = np.asarray(samples)
    if a.dtype == np.uint8:
        bits = 8
    elif a.dtype == np.int16:
        bits = 16
    else:
        raise ValueError("encode_wav wants uint8 or int16 PCM")
    data = a.tobytes()
    block = bits // 8
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                    sample_rate * block, block, bits)
            + b"data" + struct.pack("<I", len(data)) + data)


def decode_wav(payload: bytes | None):
    """REAL audio decode (pure numpy): walk the RIFF chunk list (the
    spec's layout — 'fmt ' is not guaranteed to sit at offset 12, and
    extra chunks like LIST/fact are legal before 'data'), accept
    uncompressed mono/stereo PCM at 8 or 16 bits, and return
    (sample_rate, channels, bits, samples) with samples an
    (n, channels) numpy array (uint8 for 8-bit, int16 LE for 16-bit).
    None for anything else — never an exception."""
    import struct

    import numpy as np
    if payload is None or len(payload) < 44:
        return None
    buf = bytes(payload)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    fmt = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            if fmt is None or len(body) < size:
                return None
            audio_fmt, channels, rate, _, _, bits = fmt
            if audio_fmt != 1 or channels not in (1, 2) or \
                    bits not in (8, 16):
                return None
            dt = np.uint8 if bits == 8 else np.dtype("<i2")
            n = size // (channels * (bits // 8))
            samples = (np.frombuffer(body, dt, count=n * channels)
                         .reshape(n, channels))
            return rate, channels, bits, samples
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    return None


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("amp_sum", T.LongType()),
    T.StructField("crossings", T.LongType()),
])


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction: decode PCM
    (`decode_wav`), then exact integer statistics over the DECODED
    samples — amplitude sum and midline crossings (the integer core of
    RMS/zero-crossing-rate analysis; 8-bit PCM's midline is 128).
    Undecodable payloads yield NULL audio fields."""
    import numpy as np

    def features(mid, payload):
        n_bytes = 0 if payload is None else len(payload)
        dec = decode_wav(payload)
        if dec is None:
            return [(mid, n_bytes, None, None, None, None)]
        rate, _, bits, samples = dec
        mono = samples[:, 0].astype(np.int64)
        above = mono >= (128 if bits == 8 else 0)
        return [(mid, n_bytes, rate, samples.shape[0], int(mono.sum()),
                 int((above[1:] != above[:-1]).sum()))]

    return map_rows(media.select("media_id", "payload"), features,
                    AUDIO_FEATURE_SCHEMA)


VAD_EPS = 31      # |sample − midline| ≤ eps ⇒ "silent" (−12 dBFS-ish)
VAD_MIN_RUN = 8   # runs shorter than this are inter-word dips, not gaps

VAD_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("n_runs", T.LongType()),
    T.StructField("n_silent", T.LongType()),
    T.StructField("longest_run", T.LongType()),
    T.StructField("lead_in", T.LongType()),
])


def audio_silence_runs(media: DataFrame) -> DataFrame:
    """Voice-activity / silence-run detection over DECODED PCM — the
    speech-data curation gate (trim dead air, drop all-silence clips,
    measure how much of a recording is actually voiced): per clip, the
    maximal runs of consecutive samples within ±VAD_EPS of the PCM
    midline whose length reaches VAD_MIN_RUN. Output: (media_id, n_samples,
    n_runs, n_silent = samples inside qualifying runs, longest_run,
    lead_in = the leading run's length when the clip OPENS silent —
    the trim offset). Undecodable/NULL payloads yield NULL fields;
    decodable clips with no qualifying run yield zeros. All exact
    integers of decoded content (the `extract_audio_features` grading
    discipline).

    Scale shape: one Arrow-batched projection (`map_rows`), zero
    shuffle — run-length extraction is vectorized numpy (diff on the
    silent mask), never a per-sample Python loop."""
    import numpy as np

    def runs(mid, payload):
        dec = decode_wav(payload)
        if dec is None:
            return [(mid, None, None, None, None, None)]
        _, _, bits, samples = dec
        mono = samples[:, 0].astype(np.int64)
        n = mono.shape[0]
        m = np.abs(mono - (128 if bits == 8 else 0)) <= VAD_EPS
        if n == 0 or not m.any():
            return [(mid, n, 0, 0, 0, 0)]
        d = np.diff(m.astype(np.int8))
        starts = np.flatnonzero(d == 1) + 1
        ends = np.flatnonzero(d == -1) + 1
        if m[0]:
            starts = np.concatenate(([0], starts))
        if m[-1]:
            ends = np.concatenate((ends, [n]))
        lens = ends - starts
        q = lens >= VAD_MIN_RUN
        return [(mid, n, int(q.sum()), int(lens[q].sum()),
                 int(lens[q].max()) if q.any() else 0,
                 int(lens[0]) if (q.size and q[0] and starts[0] == 0)
                 else 0)]

    return map_rows(media.select("media_id", "payload"), runs, VAD_SCHEMA)


AUDIO_TARGET_RATE = 6_000   # non-divisor of the fixture's 16 kHz:
#                             the gather is i·8 div 3, not a stride


def resample_audio(media: DataFrame) -> DataFrame:
    """REAL nearest-neighbor audio resample, Arrow-batched — the audio
    twin of `resize_media`'s decode→gather→re-encode pipeline: decode
    PCM (`decode_wav`), gather the mono track at the target rate with
    a vectorized integer index (out[i] = mono[i·rate div target] —
    the zero-order hold; n_out = n·target div rate), re-encode as
    8/16-bit mono WAV at `AUDIO_TARGET_RATE`. NULL/undecodable payloads
    yield NULL payload rows. A production pipeline swaps the gather
    for a windowed-sinc filter; the plumbing — Arrow batches, binary
    in/out, codec roundtrip — is identical.

    Scale shape: one projection (`map_rows`), no shuffle; per-byte
    numpy cost, same as the image tier (measured in SCALE.md)."""
    import numpy as np

    def resample(mid, payload):
        dec = decode_wav(payload)
        if dec is None:
            return [(mid, None)]
        rate, _, _, samples = dec
        mono = samples[:, 0]
        n_out = (mono.shape[0] * AUDIO_TARGET_RATE) // rate
        idx = (np.arange(n_out) * rate) // AUDIO_TARGET_RATE
        return [(mid, encode_wav(mono[idx], AUDIO_TARGET_RATE))]

    return map_rows(media.select("media_id", "payload"), resample,
                    PAYLOAD_SCHEMA)


def documents_as_wav_media(df: DataFrame) -> DataFrame:
    """The AUDIO media fixture: one real 8-bit mono PCM WAV per
    document whose sample data IS the utf-8 text bytes — deterministic,
    so the oracle recomputes every decoded-sample statistic from the
    text. NULL text → NULL payload; empty text → a data-less WAV.

    NOT spread (optimization r11, measured): unlike the image/video
    generators, the WAV tier's python work is a few vectorized numpy
    ops per row — paired in-process A/B read spread ON 1.20 s vs OFF
    0.46 s at sf0.1 on the resample pipeline AND ON 3.43 s vs OFF
    2.53 s at ×10 (3 chained mapInPandas × 32 task/Arrow setups cost
    more than the work they parallelize), so the audio family keeps
    the narrow scan; a well-split real corpus provides width anyway."""
    import numpy as np

    def wav(mid, text):
        return [(mid, None if text is None else encode_wav(
            np.frombuffer(text.encode("utf-8"), np.uint8)))]

    return map_rows(_doc_rows(df), wav, PAYLOAD_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_idx", T.LongType()),
    T.StructField("src_frame", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("ch_sum", T.ArrayType(T.LongType())),
])


SAMPLE_FRAMES = 2  # frames sample_frames picks per stream


def sample_frames(media: DataFrame) -> DataFrame:
    """REAL frame sampling over multi-frame payloads: demux the
    concatenated-netpbm stream (`demux_netpbm_stream`), pick
    n = `SAMPLE_FRAMES` evenly-spaced frame indices — src_frame
    k·total//n, or
    every frame when the clip is shorter — DECODE the chosen frames,
    and emit one row per sampled frame with exact per-channel pixel
    sums: the 1→N fan-out shape video feature extraction needs, with
    the demux and decode genuinely performed. A production pipeline
    swaps the demuxer for decord/pyav on compressed containers;
    everything downstream is identical. NULL/undecodable payloads
    produce no rows (countable upstream via extract_features)."""
    import numpy as np

    def frames_of(mid, payload):
        frames = demux_netpbm_stream(payload) or []
        total = len(frames)
        n = SAMPLE_FRAMES
        picks = (range(total) if total <= n else
                 [(k * total) // n for k in range(n)])
        for k, fi in enumerate(picks):
            w, h, _, px = frames[fi]
            yield (mid, k, fi, w, h,
                   px.sum(axis=(0, 1), dtype=np.int64).tolist())

    return map_rows(media.select("media_id", "payload"), frames_of,
                    FRAME_SCHEMA)


def documents_as_video_media(df: DataFrame,
                             scene_at_half: bool = False) -> DataFrame:
    """The VIDEO media fixture: one concatenated-netpbm stream of 8×8
    RGB frames per document with 2 + id % 5 frames; frame f's pixel
    plane is the text bytes tiled with a start offset of f (byte j =
    text[(j + f) mod len]), so frames differ deterministically and an
    oracle can recompute any sampled frame's statistics. NULL text →
    NULL payload; empty text → all-zero frames.

    `scene_at_half=True` INVERTS (255−v) every frame from total//2 on
    — a deterministic hard scene boundary mid-clip (consecutive
    same-scene frames stay 1-byte rotations of each other; the
    boundary pair jumps), the ground truth the scene-cut detector is
    graded against."""
    import numpy as np

    def video(mid, text):
        if text is None:
            return [(mid, None)]
        raw = np.frombuffer(text.encode("utf-8"), np.uint8)
        total = 2 + mid % 5
        frames = []
        for f in range(total):
            plane = (np.resize(np.roll(raw, -f), 8 * 8 * 3) if raw.size
                     else np.zeros(8 * 8 * 3, np.uint8))
            if scene_at_half and f >= total // 2:
                plane = (255 - plane).astype(np.uint8)
            frames.append(encode_netpbm(plane.reshape(8, 8, 3)))
        return [(mid, b"".join(frames))]

    return map_rows(spread(_doc_rows(df)), video, PAYLOAD_SCHEMA)


def binary_stats(media: DataFrame) -> DataFrame:
    """Oracle-checkable part of the multimodal surface: pure byte-level
    accounting over the binary column (no decode)."""
    return (
        media.groupBy(F.col("meta.format").alias("format"))
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
                  F.max(F.octet_length("payload")).cast("long").alias("max_bytes"),
                  F.min(F.octet_length("payload")).cast("long").alias("min_bytes"))
    )


def _hash_words(bits) -> tuple[int, int]:
    """Bit sequence (bit k = bits[k]) packed into a 64-bit value, as
    two BIGINTs (hash_hi, hash_lo: bits 32-63 / 0-31 — one int64
    would overflow the sign bit)."""
    val = 0
    for k, b in enumerate(bits):
        val |= int(b) << k
    return val >> 32, val & 0xFFFFFFFF


AHASH_GRID = 8  # 8×8 cells: the 64 hash bits
AUDIO_FP_POINTS = 64  # audio fingerprint: one bit per downsampled point
PATCH_GRID = 2  # patch tokenization: 2×2 patches per image


def _ahash(decoded) -> tuple[int, int]:
    """aHash of one decoded image (w, h, c, pixels): nearest-neighbor
    downsample to AHASH_GRID×AHASH_GRID, integer grayscale (r+g+b) div
    c, integer mean over the grid, bit k = gray_k > mean (k = y·grid+x)."""
    import numpy as np
    w, h, c, px = decoded
    ys = (np.arange(AHASH_GRID) * h) // AHASH_GRID
    xs = (np.arange(AHASH_GRID) * w) // AHASH_GRID
    gray = px[ys][:, xs, :].astype(np.int64).sum(axis=2) // c
    mean = int(gray.sum()) // (AHASH_GRID * AHASH_GRID)
    return _hash_words((gray > mean).ravel())


def _hash_groups(hashed: DataFrame) -> DataFrame:
    """The `dedup_exact` group report on a (hash_hi, hash_lo) key:
    (media_id, hash_hi, hash_lo, n_copies, keep_id) with keep_id the
    group's min id."""
    w = Window.partitionBy("hash_hi", "hash_lo")
    return (hashed
            .withColumn("n_copies", F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("keep_id", F.min("media_id").over(w).cast("long"))
            .select("media_id", "hash_hi", "hash_lo", "n_copies",
                    "keep_id"))


def ahash_images(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over decoded images — the
    MULTIMODAL near-dup key, completing the dedup matrix (text:
    minhash/simhash; embeddings: LSH/SemDeDup; images: this).
    aHash is resize-invariant by construction: nearest-neighbor
    downsample to AHASH_GRID×AHASH_GRID, integer grayscale (r+g+b) div
    c, integer mean over the grid, bit k = gray_k > mean — so an image
    and its upscaled copy hash identically (pinned by test), which
    byte-level `dedup_exact` can never see.

    All arithmetic is exact-integer (truncating division, strict >),
    so the DuckDB twin recomputes every bit from the fixture's
    deterministic text→pixel tiling. The 64 bits return as two
    BIGINTs (hash_hi, hash_lo: bits 32-63 / 0-31 — one int64 would
    overflow the sign bit). NULL/undecodable payloads are excluded,
    dedup_exact's NULL-text discipline.

    Scale shape: the decode+hash is one Arrow projection (`map_rows`)
    (embarrassingly parallel, no shuffle); downstream grouping is a
    hash-agg on a 64-bit key — exactly `dedup_exact`'s plan."""

    def ahash(mid, payload):
        dec = decode_image(payload)
        return [] if dec is None else [(mid, *_ahash(dec))]

    return map_rows(media.select("media_id", "payload"), ahash,
                    "media_id long, hash_hi long, hash_lo long")


def ahash_dup_groups(media: DataFrame) -> DataFrame:
    """Perceptual duplicate grouping: aHash per image, then the
    `dedup_exact` group report on the hash key — (media_id, hash_hi,
    hash_lo, n_copies, keep_id) with keep_id the group's min id."""
    return _hash_groups(ahash_images(media))


def audio_fingerprint_groups(media: DataFrame) -> DataFrame:
    """Perceptual audio fingerprint dedup — `ahash_dup_groups`' audio
    sibling, completing the modality dedup matrix: NN-downsample the
    decoded amplitude series to AUDIO_FP_POINTS points (channel 0), integer
    mean threshold, strict-> bits packed into two BIGINTs. A
    sample-rate-doubled copy (each sample repeated) downsamples to
    the SAME points, so re-encoded audio groups with its original
    while byte-level dedup sees two distinct blobs.

    Zero-sample and undecodable/NULL payloads are excluded. The
    decode+hash is one Arrow projection (`map_rows`); grouping is
    `dedup_exact`'s hash-agg on the 64-bit key."""
    import numpy as np

    def fingerprint(mid, payload):
        dec = decode_wav(payload)
        if dec is None or len(dec[3]) == 0:
            return []
        ch = dec[3][:, 0].astype(np.int64)
        pts = ch[(np.arange(AUDIO_FP_POINTS) * len(ch)) // AUDIO_FP_POINTS]
        return [(mid, *_hash_words(pts > int(pts.sum()) // AUDIO_FP_POINTS))]

    return _hash_groups(map_rows(
        media.select("media_id", "payload"), fingerprint,
        "media_id long, hash_hi long, hash_lo long"))


IMG_MAX_HAMMING = 6  # ahash_neardup_pairs' hamming verify cut


def ahash_neardup_pairs(media: DataFrame) -> DataFrame:
    """Image NEAR-duplicate pairs: aHash per image, then banded
    hamming search — the 64-bit hash splits into 8 one-byte bands,
    candidates pair on any identical band (equi-join on (band, key)),
    and the popcount hamming distance verifies ≤ `IMG_MAX_HAMMING`. The
    pigeonhole guarantee: ≤ 7 differing bits cannot touch all 8
    bands, so recall is EXACT for hamming ≤ 7 ⊇ the verify cut — no
    probabilistic misses at this radius (tighter radii than the band
    count would be probabilistic; that trade is simhash_pairs',
    documented there).

    Near-dup (vs `ahash_dup_groups`' exact-hash grouping) catches
    re-encodes that perturb a few grid cells: crops, small edits,
    brightness shifts that flip a handful of bits.

    Scale shape: identical to simhash banding — 8 postings per image,
    candidates only on band collision, the quadratic confined to
    band buckets (hot buckets = genuinely self-similar image sets);
    hamming verify is codegen'd bit_count, no decode re-touch."""
    hashed = ahash_images(media)
    parts = ", ".join(
        [f"named_struct('band', {k}, 'key', "
         f"shiftright(hash_lo, {8 * k}) & 255)" for k in range(4)]
        + [f"named_struct('band', {4 + k}, 'key', "
           f"shiftright(hash_hi, {8 * k}) & 255)" for k in range(4)])
    melted = (hashed.select(
        "media_id", "hash_hi", "hash_lo",
        F.explode(F.expr(f"array({parts})")).alias("bk"))
        .select("media_id", "hash_hi", "hash_lo", "bk.band", "bk.key"))
    a = melted.select("band", "key", F.col("media_id").alias("id_a"),
                      F.col("hash_hi").alias("hi_a"),
                      F.col("hash_lo").alias("lo_a"))
    b = melted.select("band", "key", F.col("media_id").alias("id_b"),
                      F.col("hash_hi").alias("hi_b"),
                      F.col("hash_lo").alias("lo_b"))
    return (a.join(b, ["band", "key"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.expr("CAST(bit_count(hi_a ^ hi_b) + "
                            "bit_count(lo_a ^ lo_b) AS BIGINT)")
                      .alias("hamming"))
             .distinct()
             .where(F.col("hamming") <= IMG_MAX_HAMMING))


def patch_grid_stats(media: DataFrame) -> DataFrame:
    """ViT-style PATCH tokenization plumbing: decode each image and
    emit one row per PATCH_GRID×PATCH_GRID patch with exact per-channel pixel
    sums and the integer mean gray — the 1→N fan-out shape vision
    training runs before embedding (patch boundaries are the
    integer-division windows y∈[r·h div g, (r+1)·h div g), likewise
    x, so ragged dimensions distribute remainder pixels exactly like
    the oracle recomputes them). NULL/undecodable payloads produce
    no rows.

    Scale shape: one Arrow projection (`map_rows`) (vectorized numpy
    block sums), zero shuffle; downstream consumers group by
    media_id, a hash-agg."""
    import numpy as np

    def patches(mid, payload):
        dec = decode_image(payload)
        if dec is None:
            return
        w, h, _, px = dec
        px64 = px.astype(np.int64)
        g = PATCH_GRID
        for r in range(g):
            y0, y1 = (r * h) // g, ((r + 1) * h) // g
            for cc in range(g):
                x0, x1 = (cc * w) // g, ((cc + 1) * w) // g
                n_px = (y1 - y0) * (x1 - x0)
                s = px64[y0:y1, x0:x1, :].sum(axis=(0, 1))
                yield (mid, r, cc, n_px, int(s[0]), int(s[1]), int(s[2]),
                       int(s.sum()) // (3 * n_px) if n_px else 0)

    return map_rows(media.select("media_id", "payload"), patches,
                    "media_id long, patch_row long, patch_col long, "
                    "n_px long, sum_r long, sum_g long, sum_b long, "
                    "mean_gray long")


VIDEO_NEARDUP_J = 0.3    # frame-set Jaccard cut for video near-dup
VIDEO_HASH_MAX_DF = 1000  # df-cut: frame hashes in more videos are
                          # blocking-useless boilerplate (black frames,
                          # title cards) — same bound as dedup.DEFAULT_MAX_DF


def video_frame_hashes(media: DataFrame) -> DataFrame:
    """Per-FRAME perceptual hashes over multi-frame payloads: demux
    the concatenated-netpbm stream and aHash every frame with exactly
    `ahash_images`' arithmetic (NN-downsample to AHASH_GRID², integer gray
    (r+g+b) div c, integer mean, strict-> bits, 64 bits as two
    BIGINTs). One row per frame: (media_id, frame_idx, hash_hi,
    hash_lo). NULL/undecodable payloads produce no rows.

    This is the video fingerprint primitive: a clip becomes its SET
    of frame hashes, which `video_neardup_pairs` compares set-wise —
    robust to re-encodes that preserve frames (aHash absorbs resize)
    and to trims (set containment still overlaps). One Arrow
    projection (`map_rows`), no shuffle."""

    def frame_hashes(mid, payload):
        for fi, frame in enumerate(demux_netpbm_stream(payload) or []):
            yield (mid, fi, *_ahash(frame))

    return map_rows(media.select("media_id", "payload"), frame_hashes,
                    "media_id long, frame_idx long, hash_hi long, "
                    "hash_lo long")


def video_neardup_pairs(media: DataFrame) -> DataFrame:
    """Cross-VIDEO near-duplicate pairs: clips whose frame-hash SETS
    overlap (Jaccard ≥ VIDEO_NEARDUP_J) — the video cell of the dedup
    matrix (text: minhash; embeddings: LSH; images: aHash bands;
    audio: fingerprint). Catches re-encoded copies, and trimmed /
    extended cuts of the same footage (a prefix clip's set is
    CONTAINED in the full clip's, so Jaccard = len_short/len_long —
    byte- and even frame-count-insensitive).

    Scale shape is `ngram_jaccard_pairs`' exactly: candidates pair
    only on an IDENTICAL frame hash (equi-join on the 64-bit key —
    bucketed, never all-pairs), hashes appearing in more than
    VIDEO_HASH_MAX_DF videos are cut before the join (boilerplate frames:
    black, title cards — blocking-useless and the only quadratic
    risk), and the Jaccard verify is two hash-aggs + one division.
    Output: (id_a, id_b, n_common, jaccard)."""
    # One decode pass: the distinct frame-hash frame (≤ frames/clip
    # rows per video — tiny next to the payload bytes) feeds FOUR
    # consumers (df-cut, both join sides, sizes); without the eager
    # cut each consumer re-executes the demux+decode+hash projection
    # (11 parquet scans / 16 MapInPandas nodes in the dumped plan).
    fh = checkpoint(video_frame_hashes(media)
                    .select("media_id", "hash_hi", "hash_lo").distinct())
    keep = (fh.groupBy("hash_hi", "hash_lo")
              .agg(F.count(F.lit(1)).alias("df"))
              .where(F.col("df") <= VIDEO_HASH_MAX_DF)
              .select("hash_hi", "hash_lo"))
    kept = fh.join(keep, ["hash_hi", "hash_lo"])
    sz = kept.groupBy("media_id").agg(F.count(F.lit(1)).alias("sz"))
    a = kept.select(F.col("media_id").alias("id_a"), "hash_hi", "hash_lo")
    b = kept.select(F.col("media_id").alias("id_b"), "hash_hi", "hash_lo")
    inter = (a.join(b, ["hash_hi", "hash_lo"])
              .where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_common")))
    return (inter
            .join(sz.select(F.col("media_id").alias("id_a"),
                            F.col("sz").alias("sa")), "id_a")
            .join(sz.select(F.col("media_id").alias("id_b"),
                            F.col("sz").alias("sb")), "id_b")
            .withColumn("jaccard",
                        F.col("n_common").cast("double") /
                        (F.col("sa") + F.col("sb") - F.col("n_common"))
                        .cast("double"))
            .where(F.col("jaccard") >= VIDEO_NEARDUP_J)
            .select("id_a", "id_b", "n_common", "jaccard"))


SCENE_CUT_SAD = 12_000   # SAD threshold over a 192-px frame pair

CUT_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.LongType()),
    T.StructField("sad", T.LongType()),
    T.StructField("is_cut", T.LongType()),
])


def scene_cuts(media: DataFrame) -> DataFrame:
    """Scene-change detection over multi-frame payloads — the shot-
    boundary pass of video curation (sample one keyframe per SCENE,
    not per fixed stride; dedup near-static clips; cut-rate as a
    quality signal): demux + decode EVERY frame, SAD (sum of absolute
    pixel differences, exact ints) between consecutive frames, cut
    where SAD exceeds SCENE_CUT_SAD. Emits one row per consecutive
    frame pair: (media_id, frame_idx — the LATER frame, sad, is_cut).
    Single-frame/NULL/undecodable payloads emit nothing.

    A production pipeline swaps the demuxer for pyav and SAD for a
    histogram/SSIM delta; the Spark shape — one Arrow projection
    (`map_rows`), zero shuffle, per-clip cost linear in decoded bytes —
    is identical (the `sample_frames` contract)."""
    import numpy as np

    def cuts(mid, payload):
        planes = [px.astype(np.int64)
                  for (_, _, _, px) in demux_netpbm_stream(payload) or []]
        for f in range(1, len(planes)):
            if planes[f].shape != planes[f - 1].shape:
                continue    # resolution change = trivial cut,
                            # not a SAD question; skip the pair
            sad = int(np.abs(planes[f] - planes[f - 1]).sum())
            yield mid, f, sad, int(sad > SCENE_CUT_SAD)

    return map_rows(media.select("media_id", "payload"), cuts, CUT_SCHEMA)

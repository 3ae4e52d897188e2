"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference ingests images as raw bytes and decodes them in its first
op (``DecodeImage``, ppocr/data/imaug/operators.py:30-68; GIF/PDF
dispatch in ``check_and_read``, ppocr/utils/utility.py:94-124). This
module reproduces that shape for a training-data pipeline: media rides
as a ``binary`` column with typed metadata; format sniffing and byte
accounting are JVM built-ins; decode / resize / frame-sample, the PDF
parsers and the fixture synthesizers are plain per-row functions, each
run by :func:`webextract.operators.rows.map_rows` (one ``mapInArrow``
crossing per Arrow batch, no pandas conversion).

Metadata decode (format + dimensions) is REAL for png/jpeg/gif —
:func:`parse_image_header` reads PNG IHDR, GIF logical-screen and JPEG
SOFn headers from raw bytes, no codec library needed. FULL PIXEL
decode and resampling are REAL for PNG (``functions/png.py``: stdlib
zlib over public per-scanline filters — CRC'd chunk walk, inflate,
all-five-filter unfiltering, nearest-neighbor resize, re-encode) AND
for GIF (``functions/gif.py``: hand-rolled variable-width LZW over the
87a/89a block structure, local/global palettes, interlace,
multi-frame) AND for JPEG (``functions/jpeg.py``: from-scratch ITU T.81 baseline
— canonical Huffman entropy decode, dequantize, IDCT, chroma
upsample, YCbCr→RGB; encoder included). :func:`pixel_stats` /
:func:`gif_frame_stats` / :func:`resize_media` dispatch on the magic
bytes, with decoded stats ground-truth oracle-statable via
:func:`synth_pixel_png` / :func:`synth_pixel_gif` /
:func:`synth_pixel_jpeg` (deterministic pixel/palette/DC-block
formulas; the JPEG fixture is exact because constant equal-channel
blocks quantize to a single integer DC coefficient under flat
tables). PDF documents are REAL too (``functions/pdf.py``: from-scratch
writer/parser — xref walk, page tree, FlateDecode via stdlib zlib,
text-operator tokenizer, reading-order assembly; :func:`synth_pdf` /
:func:`pdf_text` / :func:`pdf_metadata` put the whole chain under
ground-truth oracles). Audio/video PIXEL decode remains legitimately stubbed —
a PCM synthesizer exists but compressed A/V codecs are the library
this container lacks — while their header paths stay real. The
Spark side (schema, batch shape, partitioning, UDF signature) is real
and tested throughout.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webextract.operators.rows import map_rows

# magic-byte → format map (public file signatures), applied JVM-side
MAGIC = {
    "89504E47": "png",
    "FFD8FFE0": "jpeg",
    "FFD8FFE1": "jpeg",
    "47494638": "gif",
    "25504446": "pdf",
    "52494646": "riff",  # wav/avi container
}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def media_metadata(media: DataFrame) -> DataFrame:
    """JVM-side metadata: byte length, md5, magic-sniffed format.

    No Python worker — the format dispatch the reference does per-file
    in ``check_and_read`` is a codegen CASE over the first 4 bytes.
    """
    magic_hex = F.upper(F.hex(F.substring(F.col("payload"), 1, 4)))
    fmt = F.lit("unknown")
    for sig, name in MAGIC.items():
        fmt = F.when(magic_hex == sig, F.lit(name)).otherwise(fmt)
    return media.select(
        "media_id",
        F.length(F.col("payload")).alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
        fmt.alias("format"),
    )


def _parse_fake_header(b: bytes | None) -> tuple[str, int, int, bool]:
    """STUB decoder for the deterministic synthetic payload format
    ``b"IMG!" + width(4, big-endian) + height(4) + pixels`` produced by
    :func:`synth_media`. A real deployment replaces this body with
    cv2.imdecode / PIL.open; everything around it is unchanged."""
    if b is None or len(b) < 12 or b[:4] != b"IMG!":
        return ("unknown", 0, 0, False)
    w = int.from_bytes(b[4:8], "big")
    h = int.from_bytes(b[8:12], "big")
    return ("fakeimg", w, h, True)


# JPEG start-of-frame markers carrying dimensions (all SOFn except the
# DHT/DAC/restart markers that share the 0xC0 range)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# RSTn (D0-D7), TEM, SOI: standalone, no length word. EOI (D9) is NOT
# here — it must reach the break below, or the walk would scan past
# end-of-image into trailing bytes (camera appendices, concatenations)
_JPEG_STANDALONE = frozenset(range(0xD0, 0xD8)) | {0x01, 0xD8}


def _parse_png(b: bytes) -> tuple[str, int, int, bool]:
    # 8-byte signature, then the IHDR chunk: len(4) 'IHDR'(4) w(4) h(4)
    if len(b) >= 24 and b[12:16] == b"IHDR":
        return ("png", int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"), True)
    return ("png", 0, 0, False)


def _parse_gif(b: bytes) -> tuple[str, int, int, bool]:
    # logical screen descriptor: width/height 2-byte LITTLE-endian at 6..10
    if len(b) >= 10:
        return ("gif", int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"), True)
    return ("gif", 0, 0, False)


def _parse_jpeg(b: bytes) -> tuple[str, int, int, bool]:
    # marker walk to the first SOFn segment: height at +5, width at +7
    i, n = 2, len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in _JPEG_STANDALONE:
            i += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: no SOF found before scan
            break
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if seg_len < 2:
            break
        if marker in _JPEG_SOF and i + 9 <= n:
            return ("jpeg", int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"), True)
        i += 2 + seg_len
    return ("jpeg", 0, 0, False)


def parse_image_header(b: bytes | None) -> tuple[str, int, int, bool]:
    """REAL image metadata from raw bytes — PNG IHDR, GIF logical
    screen descriptor, JPEG SOFn marker walk. Pure public byte-format
    knowledge, no codec library; the analog of ``DecodeImage``
    (ppocr/data/imaug/operators.py:57-65) for the dimensions-only case.
    Returns (format, width, height, ok); unknown/truncated bytes are
    (format-or-unknown, 0, 0, False). Pixel DECODING (not just
    dimensions) still needs a codec — see :func:`resize_media`."""
    if b is None or len(b) < 2:
        return ("unknown", 0, 0, False)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _parse_png(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return _parse_gif(b)
    if b[:2] == b"\xff\xd8":
        return _parse_jpeg(b)
    if b[:4] == b"IMG!":
        return _parse_fake_header(b)
    return ("unknown", 0, 0, False)


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: one :func:`map_rows` crossing, like the
    extraction operator. Emits typed decode results; a real codec
    drops in at :func:`_parse_fake_header` only."""

    def rows(mid: int, b: bytes | None) -> tuple[tuple, ...]:
        fmt, w, h, ok = parse_image_header(b)
        return ((mid, fmt, w, h, len(b or b""), ok),)

    return map_rows(media, ("media_id", "payload"), rows, DECODED_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("byte_hist", T.ArrayType(T.LongType()), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def media_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Feature extraction from raw media bytes — the embedding-
    from-media plumbing (the reference's feature step is the CNN
    backbone; here the featurizer is a REAL vectorized byte-level
    computation, and a learned model drops into the same batch shape).

    Per payload: byte count, mean byte value, and an ``n_bins``-bin
    byte-value histogram — computed with numpy ``frombuffer`` +
    ``bincount`` per Arrow batch (no per-byte Python). Downstream
    these vectors feed the similarity/dedup operators like any other
    embedding column. Rows-only at the driver (blob-level aggregation
    is not portably SQL-statable); invariants are pytest-pinned.
    """
    assert 256 % n_bins == 0
    shift = 8 - (n_bins - 1).bit_length()

    def rows(mid: int, b: bytes | None) -> tuple[tuple, ...]:
        if not b:
            return ((mid, 0, None, None, False),)
        arr = np.frombuffer(b, dtype=np.uint8)
        hist = np.bincount(arr >> shift, minlength=n_bins)
        return ((mid, len(arr), float(arr.mean()), hist.tolist(), True),)

    return map_rows(media, ("media_id", "payload"), rows, FEATURES_SCHEMA)


PIXELS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def _synth_media(
    docs: DataFrame, payload: Callable[[int], bytes], mime: str
) -> DataFrame:
    """docs(doc_id, ...) → media rows ``(doc_id, payload(doc_id), mime)``
    — the shared shape of the pixel and PDF fixture synthesizers."""
    return map_rows(
        docs, ("doc_id",), lambda mid: ((mid, payload(mid), mime),), MEDIA_SCHEMA
    )


def synth_pixel_png(docs: DataFrame) -> DataFrame:
    """FULL valid PNGs with deterministic pixel content — the fixture
    behind the real-pixel-decode queries. Image ``doc_id``:
    ``w = doc_id%8+1``, ``h = doc_id%6+1``; pixel (x, y) is
    ``r=(doc_id+x)%256, g=(doc_id+3y)%256, b=(x·y)%256`` — pure
    integer arithmetic, so the DECODED stats are ground-truth
    statable in SQL. Rows are filtered with type ``y % 5``, so the
    decoder exercises ALL FIVE PNG filter types (None/Sub/Up/Average/
    Paeth) on driver-gate data, and every chunk carries its real
    CRC-32. Synthesis runs in an Arrow batch stage (it is the
    fixture, not the measured operator)."""
    from webextract.functions.png import encode_png

    def payload(mid: int) -> bytes:
        w, h = mid % 8 + 1, mid % 6 + 1
        x = np.arange(w, dtype=np.int64)
        y = np.arange(h, dtype=np.int64)
        r = np.broadcast_to((mid + x) % 256, (h, w))
        g = np.broadcast_to(((mid + 3 * y) % 256)[:, None], (h, w))
        b = (x[None, :] * y[:, None]) % 256
        arr = np.stack([r, g, b], axis=2).astype(np.uint8)
        return encode_png(arr, row_filter=lambda yy: yy % 5)

    return _synth_media(docs, payload, "image/png")


def decode_image(b: bytes):
    """Raw bytes → (h, w, 3) uint8 by magic-byte dispatch: PNG via the
    zlib/unfilter codec (functions/png.py), GIF via the LZW codec's
    FIRST frame (functions/gif.py), JPEG via the baseline
    Huffman+IDCT codec (functions/jpeg.py) — exactly the reference's
    ``DecodeImage``/``check_and_read`` shape (ppocr/data/imaug/
    operators.py:30-68, ppocr/utils/utility.py:95-104: a GIF
    contributes frame 0, everything downstream sees one ndarray).
    Unsupported formats raise ValueError.
    """
    from webextract.functions.gif import GIF_SIGS, decode_gif
    from webextract.functions.jpeg import JPEG_SIG, decode_jpeg
    from webextract.functions.png import PNG_SIG, decode_png

    if b[: len(PNG_SIG)] == PNG_SIG:
        return decode_png(b)
    if b[:6] in GIF_SIGS:
        return decode_gif(b)
    if b[:2] == JPEG_SIG:
        return decode_jpeg(b)
    raise ValueError("no pixel codec for this format (png/gif/jpeg)")


def _channel_sums(arr) -> tuple[int, int, int]:
    """Exact integer R, G, B sums of an (h, w, 3) image."""
    s = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
    return int(s[0]), int(s[1]), int(s[2])


def pixel_stats(media: DataFrame) -> DataFrame:
    """REAL pixel decode (:func:`decode_image`: PNG chunk walk + CRC-32
    verification + zlib inflate + all-five-filter unfiltering, or GIF
    LZW + palette — the ``DecodeImage`` analog,
    ppocr/data/imaug/operators.py:30-68) → per-image channel sums and
    mean. Sums are exact integers and the mean is ONE IEEE division of
    exact ints (hash-portable); a payload that is not a decodable
    PNG/GIF/JPEG yields ``ok=false`` with null stats instead of
    failing the job (total-function discipline); a NULL payload is
    read as empty bytes."""

    def rows(mid: int, b: bytes | None) -> tuple[tuple, ...]:
        try:
            arr = decode_image(b or b"")
        except (ValueError, zlib.error):
            return ((mid, *[None] * 7, False),)
        h, w = arr.shape[:2]
        r, g, bl = _channel_sums(arr)
        return ((mid, w, h, w * h, r, g, bl, (r + g + bl) / (3 * w * h), True),)

    return map_rows(media, ("media_id", "payload"), rows, PIXELS_SCHEMA)


def resize_media(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """REAL resize for PNG/GIF payloads — decode (:func:`decode_image`
    magic dispatch; GIF contributes its first frame, the
    ``check_and_read`` convention), nearest-neighbor resample with the
    exact-integer index map ``src = (dst · src_dim) // dst_dim``,
    re-encode as a valid PNG (the normalize step: every format leaves
    as truecolor, as the reference's BGR-ndarray convention does).
    The index map is floor arithmetic, so the oracle states every
    output pixel (and therefore the channel sums) straight from the
    input-pixel formulas; the re-encoded payload is pinned by the
    decode(encode(resize)) round-trip test rather than the oracle
    (deflate bytes are library-dependent, the pixels are not).
    Undecodable (or NULL) payloads yield ``ok=false`` rows."""
    from webextract.functions.png import encode_png, resize_nearest

    def rows(mid: int, b: bytes | None) -> tuple[tuple, ...]:
        try:
            arr = resize_nearest(decode_image(b or b""), target_w, target_h)
            png = encode_png(arr)
        except (ValueError, zlib.error):
            return ((mid, *[None] * 6, False),)
        return ((mid, target_w, target_h, *_channel_sums(arr), png, True),)

    return map_rows(media, ("media_id", "payload"), rows, RESIZED_SCHEMA)


FRAME_PIXELS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_id", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def synth_pixel_gif(docs: DataFrame, multi_frame: bool = False) -> DataFrame:
    """FULL valid GIF89a payloads with deterministic palette/index
    formulas — the fixture behind the real-LZW-decode queries. Image
    ``doc_id``: ``w = doc_id%8+1``, ``h = doc_id%6+1``, palette size
    ``2^(doc_id%3+2)`` (4/8/16 colors, so the LZW minimum code size
    varies), index at (x, y) is ``(doc_id + 5x + 3y) % n_colors`` and
    palette entry ``i`` is ``((doc_id+17i)%256, (doc_id+29i)%256,
    (doc_id+43i)%256)`` — pure integer arithmetic, so the DECODED
    channel sums are ground-truth statable in SQL. Odd doc_ids are
    written INTERLACED, so the four-pass reorder path runs on driver
    data. With ``multi_frame``, image ``doc_id`` carries
    ``doc_id%3 + 1`` frames and frame ``f``'s index formula adds
    ``7f`` — a real animated-GIF container."""
    from webextract.functions.gif import encode_gif

    def payload(mid: int) -> bytes:
        w, h = mid % 8 + 1, mid % 6 + 1
        nc = 1 << (mid % 3 + 2)
        i = np.arange(nc, dtype=np.int64)
        pal = np.stack(
            [(mid + 17 * i) % 256, (mid + 29 * i) % 256,
             (mid + 43 * i) % 256],
            axis=1,
        ).astype(np.uint8)
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        n_frames = mid % 3 + 1 if multi_frame else 1
        frames = [(mid + 5 * x + 3 * y + 7 * f) % nc for f in range(n_frames)]
        return encode_gif(frames, pal, interlace=bool(mid % 2))

    return _synth_media(docs, payload, "image/gif")


def synth_pixel_jpeg(docs: DataFrame) -> DataFrame:
    """FULL valid baseline JPEGs whose DECODE is bit-exact and
    SQL-statable — the fixture behind the real-DCT-decode query.

    Image ``doc_id`` is a grid of ``bh = 2·(doc_id%2+1)`` ×
    ``bw = 2·(doc_id%3+1)`` constant 8×8 blocks (so 16-multiple
    dimensions cover the 4:2:0 MCU too); block (i, j) has all three
    channels equal to ``v = (doc_id + 11i + 5j) % 256``. Encoded with
    FLAT quantization tables, a constant equal-channel block yields
    exactly one integer coefficient (Y DC = 8·(v-128); every AC and
    chroma coefficient is a ~1e-12 float that rounds to zero), so the
    full entropy-decode → dequant → IDCT → color-convert path
    reproduces ``v`` exactly and the oracle states the channel sums
    as ``64·Σv``. Odd doc_ids are encoded 4:2:0 (subsample + upsample
    path, exact on constant chroma), and every 5th image carries
    restart markers (DRI/RSTn under the oracle gate)."""
    from webextract.functions.jpeg import QUANT_FLAT, encode_jpeg

    def payload(mid: int) -> bytes:
        bw, bh = 2 * (mid % 3 + 1), 2 * (mid % 2 + 1)
        i = np.arange(bh, dtype=np.int64)[:, None]
        j = np.arange(bw, dtype=np.int64)[None, :]
        v = ((mid + 11 * i + 5 * j) % 256).astype(np.uint8)
        plane = np.kron(v, np.ones((8, 8), dtype=np.uint8))
        img = np.stack([plane] * 3, axis=-1)
        return encode_jpeg(
            img,
            QUANT_FLAT,
            QUANT_FLAT,
            subsample=bool(mid % 2),
            restart_interval=2 if mid % 5 == 0 else 0,
        )

    return _synth_media(docs, payload, "image/jpeg")


def gif_frame_stats(media: DataFrame) -> DataFrame:
    """REAL animated-GIF frame fan-out: every image block in the
    container is LZW-decoded (functions/gif.py) and emitted as one row
    of exact-integer channel sums — the pixel-true analog of the
    reference's multi-page explode (``check_and_read``'s PDF branch,
    ppocr/utils/utility.py:110-120, one image per page) where
    :func:`frame_sample` fans out only container METADATA. Undecodable
    (or NULL) payloads yield one ``ok=false`` row (total-function
    discipline)."""
    from webextract.functions.gif import decode_gif_frames

    def rows(mid: int, b: bytes | None) -> list[tuple]:
        try:
            frames = decode_gif_frames(b or b"")
        except ValueError:
            return [(mid, *[None] * 6, False)]
        return [
            (mid, fid, arr.shape[1], arr.shape[0], *_channel_sums(arr), True)
            for fid, arr in enumerate(frames)
        ]

    return map_rows(media, ("media_id", "payload"), rows, FRAME_PIXELS_SCHEMA)


def explode_pages(media: DataFrame) -> DataFrame:
    """Multi-page payload → one row per page (the PDF-per-page explode,
    ``check_and_read`` at ppocr/utils/utility.py:110-120 where a PDF
    renders to a list of page images).

    The page count is read from the payload header JVM-side
    (``substring``+``hex``+``conv`` — no Python worker), then
    ``explode(sequence(...))`` fans out. At scale this is the pattern
    for any container format: cheap metadata peek → fan-out → per-page
    decode in the Arrow stage.
    """
    n_pages = F.conv(F.hex(F.substring(F.col("payload"), 5, 4)), 16, 10).cast(
        "int"
    )
    return (
        media.filter(F.substring(F.col("payload"), 1, 4) == F.lit(b"PDF!"))
        .withColumn("total_pages", n_pages)
        .select(
            "media_id",
            "total_pages",
            F.explode(F.sequence(F.lit(1), F.col("total_pages"))).alias("page_no"),
        )
    )


def synth_paged_media(docs: DataFrame) -> DataFrame:
    """Deterministic multi-page container payloads:
    ``b"PDF!" + n_pages(4, BE) + text`` with n_pages = doc_id % 5 + 1."""
    n = (F.col("doc_id") % 5 + 1).cast("int")
    payload = F.concat(
        F.lit(b"PDF!"),
        F.unhex(F.lpad(F.hex(n), 8, "0")),
        F.encode(F.col("text"), "UTF-8"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/x-fakepdf").alias("mime"),
    )


def _le_bytes(c, n: int):
    """n-byte little-endian binary from an int column (codegen: per-byte
    shift/mask → hex → unhex concat)."""
    parts = [
        F.unhex(
            F.lpad(F.hex(F.shiftright(c.cast("long"), 8 * i).bitwiseAND(F.lit(0xFF))), 2, "0")
        )
        for i in range(n)
    ]
    return F.concat(*parts)


def _byte_at(col, pos: int):
    """Unsigned byte value at 1-indexed position of a binary column."""
    return F.conv(F.hex(F.substring(col, pos, 1)), 16, 10).cast("long")


def _le_at(col, pos: int, n: int):
    """n-byte little-endian unsigned int at 1-indexed position."""
    v = None
    for i in range(n):
        term = _byte_at(col, pos + i) * F.lit(1 << (8 * i))
        v = term if v is None else v + term
    return v


def synth_wav(docs: DataFrame) -> DataFrame:
    """Deterministic REAL WAV payloads: a spec-correct RIFF/WAVE header
    (fmt chunk with PCM audio format, doc_id-derived channel count /
    sample rate / bit depth) followed by the doc text as stand-in
    sample data. Pure JVM byte-building — every field is the public
    RIFF byte layout, little-endian via :func:`_le_bytes`."""
    doc_id = F.col("doc_id")
    channels = (doc_id % 2 + 1).cast("int")           # 1..2
    rate = ((doc_id % 6 + 1) * 8000).cast("int")      # 8k..48k
    bits = F.lit(16)
    data = F.encode(F.col("text"), "UTF-8")
    data_len = F.length(data)
    byte_rate = rate * channels * 2
    block_align = channels * 2
    payload = F.concat(
        F.lit(b"RIFF"), _le_bytes(data_len + 36, 4), F.lit(b"WAVE"),
        F.lit(b"fmt "), _le_bytes(F.lit(16), 4),
        _le_bytes(F.lit(1), 2),            # PCM
        _le_bytes(channels, 2),
        _le_bytes(rate, 4),
        _le_bytes(byte_rate, 4),
        _le_bytes(block_align, 2),
        _le_bytes(bits, 2),
        F.lit(b"data"), _le_bytes(data_len, 4),
        data,
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("audio/wav").alias("mime"),
    )


def wav_metadata(media: DataFrame) -> DataFrame:
    """REAL RIFF/WAVE header decode, 100% JVM-side: magic check +
    little-endian field extraction with substring/hex/conv byte math —
    no Python worker, fuses into the scan (the audio analog of the
    PNG/JPEG/GIF image-header parsers). Returns (media_id, n_channels,
    sample_rate, bits, n_data_bytes, duration_sec, ok); non-WAV rows
    get ok=false with NULL fields."""
    p = F.col("payload")
    is_wav = (F.substring(p, 1, 4) == F.lit(b"RIFF")) & (
        F.substring(p, 9, 4) == F.lit(b"WAVE")
    ) & (F.length(p) >= 44)
    channels = _le_at(p, 23, 2).cast("int")
    rate = _le_at(p, 25, 4).cast("int")
    bits = _le_at(p, 35, 2).cast("int")
    data_len = _le_at(p, 41, 4)
    # duration = data / (rate × channels × bytes-per-sample): one IEEE
    # division of exact ints (oracle bit-exact)
    duration = data_len.cast("double") / (
        rate * channels * F.shiftright(bits, 3)
    ).cast("double")
    return media.select(
        "media_id",
        F.when(is_wav, channels).alias("n_channels"),
        F.when(is_wav, rate).alias("sample_rate"),
        F.when(is_wav, bits).alias("bits"),
        F.when(is_wav, data_len).alias("n_data_bytes"),
        F.when(is_wav, duration).alias("duration_sec"),
        is_wav.alias("ok"),
    )


def pcm_samples(media: DataFrame) -> DataFrame:
    """REAL audio SAMPLE decode for 16-bit PCM WAV — the one audio
    format whose decode needs no codec library (PCM data IS the
    samples, RIFF spec / WAVE format 1). 100% JVM-side and in-row: a
    single ``aggregate`` over ``sequence(0, n_samples-1)`` (the
    constant-expression-size runtime-loop pattern) reads each
    little-endian signed int16 with substring/hex/conv byte math and
    folds (sum, peak) — no Python worker, no explode, no shuffle; the
    parallelism axis stays media rows. Returns per-media
    (n_samples, sum_amp, peak_amp, mean_amp, ok); ``mean_amp`` is ONE
    IEEE division of exact ints (hash-portable). Non-WAV / non-16-bit
    payloads yield ok=false with NULL stats (total-function
    discipline). Reference analog: the raw-ndarray handoff after
    ``DecodeImage`` (ppocr/data/imaug/operators.py:30-68) — decoded
    samples, not container metadata."""
    p = F.col("payload")
    is_pcm16 = (
        (F.substring(p, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(p, 9, 4) == F.lit(b"WAVE"))
        & (F.length(p) >= 44)
        & (_le_at(p, 21, 2) == 1)   # audio format: PCM
        & (_le_at(p, 35, 2) == 16)  # bits per sample
    )
    data_len = F.least(_le_at(p, 41, 4), F.length(p) - 44)
    n_samp = F.shiftright(data_len, 1)

    def fold(acc, i):
        pos = F.lit(45) + i.cast("long") * 2
        b0 = F.conv(F.hex(F.substring(p, pos, F.lit(1))), 16, 10).cast(
            "long"
        )
        b1 = F.conv(
            F.hex(F.substring(p, pos + 1, F.lit(1))), 16, 10
        ).cast("long")
        raw = b0 + b1 * 256
        samp = F.when(raw >= 32768, raw - 65536).otherwise(raw)
        return F.struct(
            (acc["s"] + samp).alias("s"),
            F.greatest(acc["peak"], F.abs(samp)).alias("peak"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).cast("long").alias("peak"),
    )
    # sequence(0, -1) DESCENDS — gate the fold on n_samples >= 1
    agg = F.aggregate(
        F.sequence(F.lit(0), (n_samp - 1).cast("int")), init, fold
    )
    # Two-step projection: the interpreted higher-order fold is the
    # whole cost of this operator, and referencing it three times in
    # one Project evaluates it three times per row (no CSE for
    # interpreted expressions). Alias it ONCE behind a projection
    # boundary — CollapseProject keeps the split because an expensive
    # producer with >1 consumer is never inlined.
    mid = media.select(
        "media_id",
        F.when(is_pcm16, n_samp).alias("n_samples"),
        F.when(is_pcm16 & (n_samp >= 1), agg).alias("_st"),
        is_pcm16.alias("ok"),
    )
    st = F.col("_st")
    return mid.select(
        "media_id",
        "n_samples",
        st["s"].alias("sum_amp"),
        st["peak"].alias("peak_amp"),
        (
            st["s"].cast("double") / F.col("n_samples").cast("double")
        ).alias("mean_amp"),
        "ok",
    )


def synth_video(docs: DataFrame) -> DataFrame:
    """Deterministic REAL AVI containers (the video analog of
    :func:`synth_wav`): a spec-correct RIFF/AVI layout — ``RIFF`` size
    ``AVI `` + a ``LIST hdrl`` holding the 56-byte ``avih`` main
    header (microseconds-per-frame, total frames, stream count,
    width/height, all little-endian) + a ``LIST movi`` carrying the
    doc text as stand-in stream data. Every field is the public
    MainAVIHeader byte layout; pure JVM byte-building, no codec
    needed. fps is stored the way AVI really stores it —
    ``dwMicroSecPerFrame = 10^6 / fps`` — using fps values (25/40)
    that divide 10^6 so the round-trip is exact integer arithmetic
    (SQL-statable)."""
    doc_id = F.col("doc_id")
    n_frames = (doc_id % 40 + 10).cast("int")
    fps = (doc_id % 2 * 15 + 25).cast("int")          # 25 or 40
    uspf = (F.lit(1_000_000) / fps).cast("int")       # exact: fps | 10^6
    scale = (doc_id % 3 + 1).cast("int")
    width, height = scale * 320, scale * 180
    zero4 = _le_bytes(F.lit(0), 4)
    data = F.encode(F.col("text"), "UTF-8")
    data_len = F.length(data)
    payload = F.concat(
        F.lit(b"RIFF"), _le_bytes(data_len + 92, 4), F.lit(b"AVI "),
        F.lit(b"LIST"), _le_bytes(F.lit(68), 4), F.lit(b"hdrl"),
        F.lit(b"avih"), _le_bytes(F.lit(56), 4),
        _le_bytes(uspf, 4),                # dwMicroSecPerFrame
        zero4,                             # dwMaxBytesPerSec
        zero4,                             # dwPaddingGranularity
        zero4,                             # dwFlags
        _le_bytes(n_frames, 4),            # dwTotalFrames
        zero4,                             # dwInitialFrames
        _le_bytes(F.lit(1), 4),            # dwStreams
        zero4,                             # dwSuggestedBufferSize
        _le_bytes(width, 4),               # dwWidth
        _le_bytes(height, 4),              # dwHeight
        zero4, zero4, zero4, zero4,        # dwReserved[4]
        F.lit(b"LIST"), _le_bytes(data_len + 4, 4), F.lit(b"movi"),
        data,
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("video/x-msvideo").alias("mime"),
    )


def avi_metadata(media: DataFrame) -> DataFrame:
    """REAL RIFF/AVI header decode, 100% JVM-side — the video sibling
    of :func:`wav_metadata`: magic + LIST/avih walk at their fixed
    offsets, little-endian field math with substring/hex/conv, no
    Python worker. Returns (media_id, n_frames, fps, width, height,
    duration_sec, ok); non-AVI or truncated payloads get ok=false
    with NULL fields. fps = 10^6 div dwMicroSecPerFrame (exact for
    the integer rates real muxers write); duration =
    n_frames·µspf / 10^6 — the numerator is exact integer arithmetic,
    so the one IEEE division is oracle-portable."""
    p = F.col("payload")
    is_avi = (
        (F.length(p) >= 88)
        & (F.substring(p, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(p, 9, 4) == F.lit(b"AVI "))
        & (F.substring(p, 25, 4) == F.lit(b"avih"))
    )
    uspf = _le_at(p, 33, 4)                           # dwMicroSecPerFrame
    n_frames = _le_at(p, 49, 4).cast("int")           # dwTotalFrames
    width = _le_at(p, 65, 4).cast("int")              # dwWidth
    height = _le_at(p, 69, 4).cast("int")             # dwHeight
    fps = (F.lit(1_000_000) / uspf).cast("int")
    duration = (n_frames.cast("long") * uspf).cast("double") / F.lit(
        1_000_000.0
    )
    return media.select(
        "media_id",
        F.when(is_avi, n_frames).alias("n_frames"),
        F.when(is_avi, fps).alias("fps"),
        F.when(is_avi, width).alias("width"),
        F.when(is_avi, height).alias("height"),
        F.when(is_avi, duration).alias("duration_sec"),
        is_avi.alias("ok"),
    )


def sample_frames(media: DataFrame, every_k: int = 10) -> DataFrame:
    """Frame sampling for video columns: keep every k-th frame (frame 0
    always included) plus the frame's timestamp from the container fps.
    REAL RIFF/AVI header peek (magic + LIST/avih walk at their fixed
    offsets, little-endian field math — the video sibling of
    :func:`wav_metadata`) + ``explode(sequence(...))`` all JVM-side —
    the frame DECODE would be the downstream Arrow stage (codec-gated,
    like ``resize_media``); the sampling fan-out itself never leaves
    codegen. At scale this is the video analog of ``explode_pages``:
    cheap metadata peek → bounded fan-out → per-frame UDF. fps comes
    back as ``10^6 div dwMicroSecPerFrame`` — exact for the integer
    rates real muxers write."""
    p = F.col("payload")
    # length guard before any field read (the wav_metadata rule): a
    # truncated RIFF/AVI must be skipped, not yield NULL-field rows
    is_avi = (
        (F.length(p) >= 88)
        & (F.substring(p, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(p, 9, 4) == F.lit(b"AVI "))
        & (F.substring(p, 25, 4) == F.lit(b"avih"))
    )
    n_frames = _le_at(p, 49, 4).cast("int")           # dwTotalFrames
    uspf = _le_at(p, 33, 4)                           # dwMicroSecPerFrame
    fps = (F.lit(1_000_000) / uspf).cast("int")
    # dwTotalFrames = 0 is spec-legal (header-only / still-streaming
    # capture): zero frames sampled, NOT a sequence(0, -1) crash
    return (
        media.filter(is_avi)
        .filter(n_frames >= 1)
        .select(
            "media_id",
            n_frames.alias("n_frames"),
            fps.alias("fps"),
            F.explode(
                F.sequence(F.lit(0), n_frames - 1, F.lit(every_k))
            ).alias("frame_no"),
        )
        .withColumn(
            "t_sec",
            F.col("frame_no").cast("double") / F.col("fps").cast("double"),
        )
    )


def synth_mixed_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table cycling REAL formats: doc_id % 3
    routes to the fake ``IMG!`` format, a real PNG (signature + IHDR
    chunk — the exact byte layout :func:`_parse_png` reads), or a real
    GIF (GIF89a + little-endian logical screen descriptor). All pure
    JVM byte-building (concat/unhex/lpad over binary) and all header
    fields integer arithmetic on doc_id — so the REAL parser paths are
    exercised by an oracle-statable driver query, not just pytest.

    Byte budgets (header + utf-8 text): fakeimg 12, png 33 (8 sig + 25
    IHDR chunk), gif 13 (6 sig + 7 LSD). Width/height stay < 256 so
    the GIF little-endian low byte is the value and the high byte 0.
    """
    doc_id = F.col("doc_id")
    w = (doc_id % 64 + 1).cast("int")
    h = (doc_id % 48 + 1).cast("int")
    text_bytes = F.encode(F.col("text"), "UTF-8")

    def be4(c):  # 4-byte big-endian
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    def le2(c):  # 2-byte little-endian for values < 256: low byte + 0x00
        return F.concat(F.unhex(F.lpad(F.hex(c), 2, "0")), F.lit(b"\x00"))

    fake = F.concat(F.lit(b"IMG!"), be4(w), be4(h), text_bytes)
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),          # 8-byte signature
        F.lit(b"\x00\x00\x00\x0dIHDR"),        # IHDR length + type
        be4(w), be4(h),
        F.lit(b"\x08\x02\x00\x00\x00"),        # depth 8, truecolor, 0,0,0
        F.lit(b"\x00\x00\x00\x00"),            # CRC (not validated)
        text_bytes,
    )
    gif = F.concat(
        F.lit(b"GIF89a"), le2(w), le2(h),
        F.lit(b"\x91\x00\x00"),                # packed, bg color, aspect
        text_bytes,
    )
    payload = (
        F.when(doc_id % 3 == 0, fake)
        .when(doc_id % 3 == 1, png)
        .otherwise(gif)
    )
    mime = (
        F.when(doc_id % 3 == 0, F.lit("application/x-fakeimg"))
        .when(doc_id % 3 == 1, F.lit("image/png"))
        .otherwise(F.lit("image/gif"))
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        mime.alias("mime"),
    )


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from documents: payload =
    fake-image header + text bytes. Pure built-ins (concat over binary)."""
    w = (F.col("doc_id") % 64 + 1).cast("int")
    h = (F.col("doc_id") % 48 + 1).cast("int")

    def be4(c):  # 4-byte big-endian from an int column, via hex string
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    payload = F.concat(
        F.lit(b"IMG!"), be4(w), be4(h), F.encode(F.col("text"), "UTF-8")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/x-fakeimg").alias("mime"),
    )


def _pdf_plan(mid: int):
    """Deterministic PDF content plan for ``synth_pdf`` — every value a
    pure integer/string formula on doc_id so the parsed text is
    ground-truth statable in SQL. Returns (version, compress, pages)
    where pages hold fragments in EMISSION order (reversed for odd
    doc_ids, so reading-order assembly in the parser is doing real
    work, not echoing stream order)."""
    version = "1.%d" % (4 + mid % 3)
    compress = mid % 2 == 0
    pages = []
    for p in range(mid % 3 + 1):
        k = (mid + p) % 4 + 2
        frags = []
        for i in range(k):
            base = "w%d" % ((mid * 7 + p * 13 + i * 3) % 50)
            if (mid + i) % 5 == 0:
                text = "(" + base + ")"       # parens → escape path
            elif (mid + i) % 7 == 0:
                text = base + "\\"            # backslash → escape path
            else:
                text = base
            if mid % 2 == 1 and i == 1:       # same line as frag 0 →
                y, x = 720, 300               # x is the order tiebreak
            else:
                y = 720 - 40 * i
                x = 72 + ((mid + p + i) % 3) * 10
            split = len(text) // 2 if (mid + i) % 3 == 0 and len(text) > 1 else None
            frags.append((x, y, text, split))
        if mid % 2 == 1:
            frags.reverse()
        pages.append(frags)
    return version, compress, pages


def synth_pdf(docs: DataFrame) -> DataFrame:
    """REAL PDF fixture: complete files (header, numbered objects, xref
    with true byte offsets, trailer; even doc_ids FlateDecode-compress
    every content stream, odd doc_ids emit fragments in reversed
    stream order) built by the from-scratch writer in
    ``functions/pdf.py`` from the :func:`_pdf_plan` formulas. The PDF
    branch of the reference's ``check_and_read``
    (ppocr/utils/utility.py:102-120) made real for webtext."""
    from webextract.functions.pdf import encode_pdf

    def payload(mid: int) -> bytes:
        version, compress, pages = _pdf_plan(mid)
        return encode_pdf(pages, compress=compress, version=version)

    return _synth_media(docs, payload, "application/pdf")


PDF_TEXT_SCHEMA = (
    "media_id long, page_no int, n_frags int, text string, n_chars int"
)


def pdf_text(media: DataFrame) -> DataFrame:
    """PDF payload → per-page extracted text in READING order: full
    structural parse (startxref → xref → trailer /Root → page tree →
    FlateDecode content streams → Tj/'/TJ fragments), then the
    ``sorted_boxes`` analog — fragments sorted top-to-bottom,
    left-to-right (tools/infer/predict_system.py reading-order sort) —
    joined with single spaces. Arrow-batched per-row Python: the
    document parse is the SURVEY §2.10-budgeted case, same as HTML.
    Malformed (or NULL) payloads yield no rows."""
    from webextract.functions.pdf import PdfError, parse_pdf, reading_order

    def rows(mid: int, b: bytes | None) -> list[tuple]:
        try:
            _, pages, _, _ = parse_pdf(b or b"")
        except PdfError:
            return []  # malformed input → no pages (counted vs oracle)
        out = []
        for p, frags in enumerate(pages, start=1):
            joined = " ".join(t for _, _, t in reading_order(frags))
            out.append((mid, p, len(frags), joined, len(joined)))
        return out

    return map_rows(media, ("media_id", "payload"), rows, PDF_TEXT_SCHEMA)


PDF_META_SCHEMA = (
    "media_id long, version string, n_pages int, n_objects int, "
    "compressed boolean, total_frags int, total_chars int"
)


def pdf_metadata(media: DataFrame) -> DataFrame:
    """Per-document PDF structure metadata from the real parse: header
    version, page count from the page-tree walk, object count from the
    xref table, whether any content stream was filtered, and total
    extracted fragments/characters. The metadata-peek stage of the
    multi-format dispatch (``check_and_read``), PDF edition. Malformed
    (or NULL) payloads yield no row."""
    from webextract.functions.pdf import PdfError, parse_pdf, reading_order

    def rows(mid: int, b: bytes | None) -> tuple[tuple, ...]:
        try:
            version, pages, compressed, n_objects = parse_pdf(b or b"")
        except PdfError:
            return ()
        total_chars = sum(
            len(" ".join(t for _, _, t in reading_order(fr))) for fr in pages
        )
        total_frags = sum(len(fr) for fr in pages)
        return ((mid, version, len(pages), n_objects, bool(compressed),
                 total_frags, total_chars),)

    return map_rows(media, ("media_id", "payload"), rows, PDF_META_SCHEMA)


def _pdf_col_plan(mid: int):
    """Deterministic TWO-COLUMN page plan for ``synth_pdf_columns`` —
    every value a pure integer/string formula on doc_id so the
    column-aware reading order is ground-truth statable in SQL.

    One page per document: a full-width title spanner (x=100, 60 chars
    → x-extent 460 under the frozen 6.0 width model: not left because
    460 ≥ 459 = 3w/4, not right because 100 ≤ 153 = w/4), then
    ``R = mid % 3 + 3`` rows of (left x=72, right x=330) fragment
    pairs SHARING each row's y — so plain ``reading_order`` provably
    interleaves the columns row by row on every document — and, for
    odd doc_ids, a second spanner between rows ``h-1`` and ``h``
    (h = R // 2) that splits the columns into two flushed segments.
    Fragments are emitted in reversed order so stream order is
    typography, not reading order."""
    n_rows = mid % 3 + 3
    h = n_rows // 2
    frags = [(100, 760, "T%02d" % (mid % 50) + "x" * 57)]
    for r in range(n_rows):
        y = 700 - 40 * r
        frags.append((72, y, "L%d" % ((mid * 7 + r * 3) % 50)))
        frags.append((330, y, "R%d" % ((mid * 11 + r * 5) % 50)))
    if mid % 2 == 1:
        frags.append((100, 700 - 40 * h + 20, "M%02d" % (mid % 50) + "y" * 57))
    frags.reverse()
    return [frags]


def synth_pdf_columns(docs: DataFrame) -> DataFrame:
    """REAL two-column PDF fixture (complete files via the from-scratch
    writer) from the :func:`_pdf_col_plan` formulas — the layout the
    reference's ``sorted_layout_boxes`` recovery exists for
    (ppstructure/recovery/recovery_to_doc.py:81-140). Even doc_ids
    FlateDecode-compress the content stream."""
    from webextract.functions.pdf import encode_pdf

    def payload(mid: int) -> bytes:
        return encode_pdf(_pdf_col_plan(mid), compress=mid % 2 == 0)

    return _synth_media(docs, payload, "application/pdf")


PDF_COLUMNS_SCHEMA = (
    "media_id long, page_no int, layout string, n_spanners int, "
    "n_left int, n_right int, text string, n_chars int"
)


def pdf_columns(media: DataFrame) -> DataFrame:
    """PDF payload → per-page text in COLUMN-AWARE reading order: the
    full structural parse, then :func:`~webextract.functions.pdf.
    column_layout_order` — the two-column layout recovery of the
    reference's ``sorted_layout_boxes`` (ppstructure/recovery/
    recovery_to_doc.py:81-140; SURVEY §2 W2) — instead of the plain
    top-to-bottom sort. ``layout`` is ``'double'`` when both columns
    received fragments, else ``'single'``; spanner/column counts are
    reported so the classification itself is oracle-checkable.
    Malformed (or NULL) payloads yield no rows."""
    from webextract.functions.pdf import (
        PdfError,
        column_layout_order,
        parse_pdf,
    )

    def rows(mid: int, b: bytes | None) -> list[tuple]:
        try:
            _, pages, _, _, widths = parse_pdf(b or b"", with_widths=True)
        except PdfError:
            return []
        out = []
        for p, frags in enumerate(pages):
            # classify against the page's ACTUAL MediaBox width
            # (A4 / landscape pages get their own quartiles,
            # like the reference passing the real image w)
            ordered = column_layout_order(frags, page_width=widths[p])
            sides = [side for _, side in ordered]
            n_left = sides.count("left")
            n_right = sides.count("right")
            joined = " ".join(f[2] for f, _ in ordered)
            out.append((
                mid, p + 1, "double" if n_left and n_right else "single",
                sides.count("single"), n_left, n_right, joined, len(joined),
            ))
        return out

    return map_rows(media, ("media_id", "payload"), rows, PDF_COLUMNS_SCHEMA)


ANY_EXTRACT_SCHEMA = (
    "media_id long, fmt string, n_pages int, text string, n_chars int"
)


def extract_any(media: DataFrame, cfg=None) -> DataFrame:
    """Single-pass multi-format content extraction — the complete
    ``check_and_read`` graft (ppocr/utils/utility.py:94-124, where ONE
    reader dispatches GIF/PDF/image per file): each payload is sniffed
    per element inside ONE Arrow stage and routed to the matching real
    parser. ``%PDF-`` → full structural PDF parse, reading-order page
    texts joined by blank lines; anything else → the fused HTML block
    pipeline (charset decode → tokenize → score → span-merge,
    ``functions/extract.py::extract_page``). One JVM↔Python crossing
    for the whole mixed corpus — no per-format filter/union re-scan.
    """
    from webextract.config import ExtractConfig
    from webextract.functions.extract import extract_page
    from webextract.functions.pdf import PdfError, parse_pdf, reading_order

    cfg = cfg or ExtractConfig()

    def rows(mid: int, payload: bytes | None) -> tuple[tuple, ...]:
        b = payload or b""
        if b.startswith(b"%PDF-"):
            try:
                _, pages, _, _ = parse_pdf(b)
            except PdfError:
                return ()  # malformed → dropped (counted vs oracle)
            text = "\n\n".join(
                " ".join(t for _, _, t in reading_order(fr)) for fr in pages
            )
            fmt, n_pages = "pdf", len(pages)
        else:
            text = extract_page(b, cfg)["text"]
            fmt, n_pages = "html", 1
        return ((mid, fmt, n_pages, text, len(text)),)

    return map_rows(media, ("media_id", "payload"), rows, ANY_EXTRACT_SCHEMA)

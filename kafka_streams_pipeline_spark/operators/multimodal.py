"""Multimodal column operators (SURVEY.md §2.9 / north-star).

Media assets are opaque ``binary`` payloads plus typed metadata
(schema.MEDIA_SCHEMA). The Spark-side plumbing — schemas, Arrow batch
shape, ``mapInPandas`` signatures, partition sizing — is real and
tested. Decode status:

- **audio: REAL** — ``decode_wav`` is a stdlib-only RIFF/WAVE chunk
  walker + PCM16 sample decoder (struct + numpy, no codec libs), fed
  by genuine WAV payloads from ``wav_from_documents``.
- **image: REAL** — ``decode_bmp`` is a stdlib-only Windows BMP
  (BITMAPINFOHEADER, 24-bit) parser that honors bottom-up row order
  and 4-byte row padding, fed by genuine BMP payloads from
  ``bmp_from_documents``; ``resize_bmp`` is a real nearest-neighbor
  resize over the decoded pixel grid (numpy), re-encoded as BMP.
- **video: REAL** — ``parse_avi`` is a stdlib-only uncompressed-AVI
  reader (recursive RIFF LIST walk, 24-bit DIB frame decode) fed by
  genuine AVI payloads from ``avi_from_documents``;
  ``sample_avi_frames`` does stride frame-sampling with timestamps
  from the container's own dwMicroSecPerFrame.
- **compressed image: REAL** — ``parse_jpeg``/``_jpeg_bytes`` are a
  stdlib+numpy baseline sequential JPEG codec (ITU-T T.81: canonical
  Huffman entropy coding, DC prediction, zigzag, flat-table
  quantization, DCT/IDCT, byte stuffing); see the codec section
  header for the oracle-exactness construction.
- **compressed video: REAL** — ``parse_mjpeg_avi`` /
  ``decode_mjpeg_frames`` decode Motion-JPEG AVIs ('MJPG' fourcc,
  one complete baseline JPEG per '00dc' chunk) by composing the RIFF
  walker with the JPEG entropy decoder.
- **PNG: REAL** — ``parse_png``/``decode_png`` validate per-chunk
  CRC-32, inflate the scanlines with stdlib zlib, and invert all
  five row filters (None/Sub/Up/Average/Paeth); lossless, so the
  certified query's oracle is exact over arbitrary content.
- **MP4: REAL container** — ``parse_mp4``/``decode_mp4_frames``
  walk the ISO-BMFF box tree (ftyp/moov/mdat, stsd/stts/stsc/stsz/
  stco sample tables) and entropy-decode Photo-JPEG ('jpeg') samples
  with the same T.81 kernel. H.264 entropy decode itself stays out
  (ffmpeg is not in this container): an 'avc1' stsd entry raises the
  explicit unsupported-codec ValueError.

Design for 100 TB: payloads never shuffle — metadata extraction is a
narrow mapInPandas; anything aggregate-shaped first projects payload
OUT, so only small typed columns move. Every operator here crosses
the same codec boundary, ``_explode``: a per-row function over the
input columns that yields typed output tuples.
"""

from __future__ import annotations

import functools
import gzip
import hashlib
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _foreign_payload_guard(fn):
    """Normalize the failure surface of the public media walkers:
    malformed/foreign payloads must raise ValueError, full stop.
    The walkers validate what is cheap to validate explicitly (magic
    numbers, geometry, chunk CRCs), but a truncation or bit-flip can
    surface anywhere inside the bit/box/inflate machinery as a
    low-level bounds fault — on untrusted input those are payload
    rejections, not distinguishable code paths. Genuine ValueErrors
    (with their diagnostic messages) pass through untouched."""

    @functools.wraps(fn)
    def wrapped(payload, *args, **kwargs):
        try:
            return fn(payload, *args, **kwargs)
        except ValueError:
            raise
        except (
            struct.error,
            IndexError,
            KeyError,
            OverflowError,
            EOFError,
            zlib.error,
        ) as e:
            raise ValueError(
                f"{fn.__name__}: malformed payload "
                f"({type(e).__name__}: {e})"
            ) from e

    return wrapped


def _explode(
    df: DataFrame,
    cols: list[str],
    schema: StructType,
    rows_of: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """The module's codec boundary: one narrow ``mapInPandas`` that
    passes each input row's ``cols`` values to ``rows_of`` and emits
    every tuple it yields (zero or more per input row, in ``schema``
    field order). Payloads stay in their partition; only the typed
    rows leave."""
    names = schema.fieldNames()

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    row
                    for vals in zip(*(pdf[c] for c in cols))
                    for row in rows_of(*vals)
                ],
                columns=names,
            )

    return df.mapInPandas(per_batch, schema)


_ASSET_PAYLOAD_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)
_MEDIA_PAYLOAD_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def _synthesize(
    docs: DataFrame, media_type: str | None, payload_of: Callable[[int], bytes]
) -> DataFrame:
    """One payload per document: ``payload_of(doc_id)`` as
    (asset_id, media_type, payload), or (asset_id, payload) when
    ``media_type`` is None."""
    tag = () if media_type is None else (media_type,)
    schema = _MEDIA_PAYLOAD_SCHEMA if tag else _ASSET_PAYLOAD_SCHEMA
    return _explode(
        docs.select("doc_id"),
        ["doc_id"],
        schema,
        lambda did: [(int(did), *tag, payload_of(int(did)))],
    )


def _pixel_stats(px: np.ndarray) -> tuple[int, int, int]:
    """(sum, index-weighted sum, peak) over ``px`` in its logical
    C-order layout, exact in int64. Each component is weighted by its
    linear index, so a decoder that misplaces rows, blocks, planes or
    frames changes the weighted sum even when plain sums collide."""
    flat = px.reshape(-1).astype(np.int64)
    return (
        int(flat.sum()),
        int((flat * np.arange(flat.size, dtype=np.int64)).sum()),
        int(flat.max()) if flat.size else 0,
    )


MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("feat_dim", LongType()),
    ]
)
FEAT_DIM = 8


def binary_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Pure-JVM metadata over opaque binary: byte length + md5.
    No Python, no decode — the cheap 'what is this blob' pass."""
    return df.select(
        "asset_id",
        "media_type",
        F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.md5(F.col(payload_col)).alias("payload_md5"),
    )


def _real_features(mtype: str, payload: bytes) -> list[float]:
    """Decode one payload with the REAL stdlib parser for its
    modality and emit a fixed FEAT_DIM-length typed feature vector.
    Every component is an exactly-representable integer value, so
    downstream derivations stay oracle-exact."""
    if mtype == "audio":
        channels, rate, bits, samples = parse_wav(payload)
        s = samples.astype(np.int64)
        n = len(s)
        return [
            float(channels), float(rate), float(bits), float(n),
            float(n * 1000 // rate) if rate else 0.0,
            float(np.abs(s).max()) if n else 0.0,
            float(s.sum()), float((s * s).sum()),
        ]
    if mtype == "image":
        w, h, bpp, px = parse_bmp(payload)
        flat = px.reshape(-1).astype(np.int64)
        return [
            float(w), float(h), float(bpp), float(w * h),
            float(flat[0::3].sum()), float(flat[1::3].sum()),
            float(flat[2::3].sum()),
            float(flat.max()) if len(flat) else 0.0,
        ]
    if mtype == "video":
        w, h, us, frames = parse_avi(payload)
        if frames:
            flat = np.concatenate(
                [f.reshape(-1) for f in frames]
            ).astype(np.int64)
            first = int(frames[0].reshape(-1).astype(np.int64).sum())
            last = int(frames[-1].reshape(-1).astype(np.int64).sum())
        else:
            flat, first, last = np.zeros(0, np.int64), 0, 0
        return [
            float(w), float(h), float(us), float(len(frames)),
            float(flat.sum()),
            float(flat.max()) if len(flat) else 0.0,
            float(first), float(last),
        ]
    raise ValueError(f"unsupported media_type: {mtype!r}")


def extract_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL mapInPandas feature extraction over media payloads: each
    row dispatches on ``media_type`` to the stdlib codec parser for
    its modality — audio → ``parse_wav``, image → ``parse_bmp``,
    video → ``parse_avi`` — and emits a fixed 8-dim typed feature
    vector, the decode → featurize hop an embedding pipeline runs
    before the model. An unknown media_type raises the documented
    ValueError (no silent skip). Payloads stay partition-local; only
    the small typed rows leave the operator."""

    def rows_of(aid, mtype, payload):
        b = bytes(payload)
        yield (
            aid, mtype, len(b), hashlib.md5(b).hexdigest(),
            _real_features(mtype, b), FEAT_DIM,
        )

    return _explode(
        df, ["asset_id", "media_type", payload_col], MEDIA_FEATURE_SCHEMA, rows_of
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("resized", BinaryType()),
    ]
)


# --- Real audio decode: stdlib RIFF/WAVE parser -----------------------------

WAV_SAMPLE_RATE = 8000


def _wav_bytes(samples: np.ndarray, sample_rate: int, with_list_chunk: bool) -> bytes:
    """Serialize int16 mono samples as a standard RIFF/WAVE file.
    ``with_list_chunk`` inserts a LIST metadata chunk before `data`
    (as real encoders do) so decoders must actually walk chunks."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    extra = b""
    if with_list_chunk:
        info = b"INFOISFT" + struct.pack("<I", 6) + b"kspsp\x00"
        extra = struct.pack("<4sI", b"LIST", len(info)) + info
    body = b"WAVE" + fmt + extra + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


@_foreign_payload_guard
def parse_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse one RIFF/WAVE payload → (channels, rate, bits, samples).

    A real (if minimal) WAV reader: validates the RIFF/WAVE magic,
    walks the chunk list honoring sizes + word alignment (so LIST/
    fact/bext chunks are skipped, not tripped over), and decodes the
    PCM16 little-endian data chunk. stdlib+numpy only — this is the
    decode kernel itself, not a stub."""
    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack("<I", payload[4:8])[0]
    channels = rate = bits = None
    data = None
    while pos + 8 <= min(end, len(payload)):
        cid, size = struct.unpack("<4sI", payload[pos : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[0:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAVE format code {audio_fmt}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if channels is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16:
        raise ValueError(f"only PCM16 supported, got {bits}-bit")
    return channels, rate, bits, np.frombuffer(data, dtype="<i2")


WAV_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits_per_sample", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_samples", LongType()),
    ]
)


def decode_wav(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas audio decode: RIFF header fields + exact integer
    PCM stats per asset. Stats stay integral (peak, sum) so every
    downstream derivation (mean, dBFS) is order-independent and
    oracle-exact; payloads never leave their partition."""

    def rows_of(aid, payload):
        channels, rate, bits, samples = parse_wav(bytes(payload))
        s64 = samples.astype(np.int64)
        n = len(s64)
        yield (
            aid, channels, rate, bits, n, n * 1000 // rate,
            int(np.abs(s64).max()) if n else 0, int(s64.sum()),
        )

    return _explode(df, ["asset_id", payload_col], WAV_STATS_SCHEMA, rows_of)


def wav_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine PCM16 WAV payloads from the documents
    fixture: per doc, n = doc_id % 50 + 10 samples of the integer
    recurrence s_i = ((doc_id*31 + i*7) mod 65536) − 32768. The
    payloads are standard WAV files (every 4th carries a LIST chunk so
    chunk-walking is exercised); the recurrence makes the decoded
    stats recomputable exactly in the DuckDB oracle."""
    return _synthesize(docs, None, _wav_payload)


def _wav_payload(did: int) -> bytes:
    i = np.arange(did % 50 + 10, dtype=np.int64)
    samples = (did * 31 + i * 7) % 65536 - 32768
    return _wav_bytes(samples, WAV_SAMPLE_RATE, with_list_chunk=did % 4 == 0)


def typed_media_from_documents(docs: DataFrame) -> DataFrame:
    """Mixed-modality fixture with REAL codec payloads: per doc_id %
    3, a genuine 24-bit BMP image (0), PCM16 RIFF/WAVE audio (1), or
    uncompressed AVI video (2) — the three stdlib synthesizers below,
    tagged with media_type. Deterministic (same integer recurrences
    as the single-modality fixtures), so every decoded feature is
    recomputable exactly in a SQL oracle."""
    d = docs.select("doc_id")
    img = bmp_from_documents(d.where(F.col("doc_id") % 3 == 0))
    aud = wav_from_documents(d.where(F.col("doc_id") % 3 == 1)).select(
        "asset_id", F.lit("audio").alias("media_type"), "payload"
    )
    vid = avi_from_documents(d.where(F.col("doc_id") % 3 == 2))
    cols = ["asset_id", "media_type", "payload"]
    return img.select(*cols).unionByName(aud).unionByName(vid.select(*cols))


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a media-shaped frame from the documents fixture (text
    bytes as payload) — deterministic, no new data generation."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"),
    )

# --- Real image decode: stdlib Windows BMP (24-bit) parser ------------------


def _bmp_bytes(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 array as a standard bottom-up
    24-bit Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER). Rows
    are padded to 4-byte boundaries exactly as the format requires,
    so parsers must handle both the padding and the row flip."""
    h, w, _ = pixels.shape
    row_stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - w * 3)
    body = b"".join(pixels[y].tobytes() + pad for y in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return file_header + info + body


@_foreign_payload_guard
def parse_bmp(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse one 24-bit BMP payload → (width, height, bpp, pixels).

    A real (if minimal) BMP reader: validates the 'BM' magic, reads
    both headers, honors the pixel-array offset, strips per-row
    padding, and un-flips bottom-up storage (positive biHeight) so
    the returned (h, w, 3) array is in logical top-down order with
    components in stored (B, G, R) order. stdlib+numpy only — this is
    the decode kernel itself, not a stub."""
    if len(payload) < 54 or payload[0:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack("<I", payload[10:14])[0]
    header_size, w, h_raw = struct.unpack("<Iii", payload[14:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if header_size < 40 or planes != 1 or compression != 0:
        raise ValueError("unsupported BMP variant")
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}-bit")
    h, bottom_up = abs(h_raw), h_raw > 0
    row_stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(
        payload, dtype=np.uint8, count=h * row_stride, offset=data_offset
    ).reshape(h, row_stride)[:, : w * 3]
    pixels = raw.reshape(h, w, 3)
    if bottom_up:
        pixels = pixels[::-1]
    return w, h, bpp, np.ascontiguousarray(pixels)


BMP_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bits_per_pixel", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_c0", LongType()),
        StructField("sum_c1", LongType()),
        StructField("sum_c2", LongType()),
        StructField("weighted_sum", LongType()),
        StructField("peak", LongType()),
    ]
)


def decode_bmp(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas image decode: BMP header fields + exact integer
    pixel stats per asset. ``weighted_sum`` weights each component by
    its logical top-down linear index k = (y*w + x)*3 + c, so a
    parser that mishandles row order or padding produces a different
    number even when the plain channel sums collide. All stats stay
    integral — order-independent and oracle-exact; payloads never
    leave their partition."""
    return _explode(
        df, ["asset_id", payload_col], BMP_STATS_SCHEMA, _image_rows(parse_bmp, 1)
    )


def _image_rows(parse, bpp_factor: int):
    """BMP_STATS_SCHEMA row function over a 3-component image parser
    returning (w, h, bits, (h, w, 3) pixels); bits_per_pixel is
    bits × ``bpp_factor`` (BMP reports per pixel, PNG per sample)."""

    def rows_of(aid, payload):
        w, h, bits, px = parse(bytes(payload))
        _, weighted, peak = _pixel_stats(px)
        c0, c1, c2 = px.reshape(-1, 3).astype(np.int64).sum(axis=0).tolist()
        yield aid, w, h, bits * bpp_factor, w * h, c0, c1, c2, weighted, peak

    return rows_of


def resize_bmp(
    df: DataFrame,
    width: int = 4,
    height: int = 4,
    payload_col: str = "payload",
) -> DataFrame:
    """REAL image resize: parse the BMP, nearest-neighbor sample the
    pixel grid (out pixel (X, Y) ← in pixel (X*w // W, Y*h // H) —
    the floor-index convention an oracle can replicate exactly),
    re-encode as BMP. Pure stdlib+numpy; 1 row → 1 row; payloads stay
    partition-local."""

    def rows_of(aid, mtype, payload):
        w, h, _, px = parse_bmp(bytes(payload))
        xs = (np.arange(width) * w) // width
        ys = (np.arange(height) * h) // height
        yield aid, mtype, width, height, _bmp_bytes(px[np.ix_(ys, xs)])

    return _explode(
        df, ["asset_id", "media_type", payload_col], RESIZED_SCHEMA, rows_of
    )


def bmp_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine 24-bit BMP payloads from the documents
    fixture: per doc, a (doc_id % 7 + 2) × (doc_id % 5 + 2) image
    whose component at logical linear index k is
    (doc_id*17 + k*29) mod 256. Standard BMP encoding (bottom-up,
    padded rows) makes the parser walk real structure; the recurrence
    makes every decoded stat recomputable exactly in the DuckDB
    oracle via generate_series."""
    return _synthesize(docs, "image", _bmp_payload)


def _bmp_payload(did: int) -> bytes:
    w, h = did % 5 + 2, did % 7 + 2
    k = np.arange(h * w * 3, dtype=np.int64)
    return _bmp_bytes(((did * 17 + k * 29) % 256).astype(np.uint8).reshape(h, w, 3))

# --- Real video frame-sampling: stdlib uncompressed AVI (RIFF) parser -------

AVI_US_PER_FRAME = 40_000  # 25 fps


def _avi_bytes(frames: np.ndarray, us_per_frame: int = AVI_US_PER_FRAME) -> bytes:
    """Serialize an (nf, h, w, 3) uint8 array as a standard
    uncompressed AVI: RIFF 'AVI ' → LIST hdrl (avih + LIST strl with
    'vids'/'DIB ' headers) → LIST movi with one '00db' DIB chunk per
    frame (bottom-up rows, 4-byte padded — the same layout as BMP
    pixel arrays). A real container: parsers must recurse into LIST
    chunks and honor sizes/alignment to find the frames."""
    nf, h, w, _ = frames.shape
    row_stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - w * 3)
    dibs = [
        b"".join(f[y].tobytes() + pad for y in range(h - 1, -1, -1)) for f in frames
    ]
    frame_size = h * row_stride

    def chunk(cid: bytes, body: bytes) -> bytes:
        return struct.pack("<4sI", cid, len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def list_chunk(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, frame_size * 1_000_000 // us_per_frame, 0, 0,
        nf, 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", b"DIB ", 0, 0, 0, 0, us_per_frame, 1_000_000, 0, nf,
        frame_size, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0)
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih) + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = list_chunk(b"movi", b"".join(chunk(b"00db", d) for d in dibs))
    return struct.pack("<4sI", b"RIFF", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi


@_foreign_payload_guard
def parse_avi(payload: bytes) -> tuple[int, int, int, list[np.ndarray]]:
    """Parse one uncompressed AVI payload → (width, height,
    us_per_frame, frames), each frame an (h, w, 3) top-down array.

    A real (if minimal) AVI reader: validates RIFF/'AVI ' magic,
    recursively walks LIST chunks honoring sizes + word alignment,
    reads geometry from 'avih', requires 24-bit uncompressed 'strf',
    and un-flips each bottom-up padded '00db' DIB frame. stdlib+numpy
    only — this is the decode kernel itself, not a stub."""
    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    geo: dict = {}
    dibs: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid, size = struct.unpack("<4sI", payload[pos : pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + size)  # skip list type
            elif cid == b"avih":
                us, _, _, _, nf, _, _, _, w, h = struct.unpack(
                    "<10I", payload[body_start : body_start + 40]
                )
                geo.update(us_per_frame=us, n_frames=nf, w=w, h=h)
            elif cid == b"strf":
                bpp = struct.unpack("<H", payload[body_start + 14 : body_start + 16])[0]
                compression = struct.unpack(
                    "<I", payload[body_start + 16 : body_start + 20]
                )[0]
                if bpp != 24 or compression != 0:
                    raise ValueError("only uncompressed 24-bit AVI supported")
            elif cid == b"00db":
                dibs.append(payload[body_start : body_start + size])
            pos = body_start + size + (size & 1)  # chunks are word-aligned

    walk(12, 8 + struct.unpack("<I", payload[4:8])[0])
    if not geo or not dibs:
        raise ValueError("missing avih/movi content")
    w, h = geo["w"], geo["h"]
    row_stride = (w * 3 + 3) & ~3
    frames = [
        np.ascontiguousarray(
            np.frombuffer(d, dtype=np.uint8, count=h * row_stride)
            .reshape(h, row_stride)[:, : w * 3]
            .reshape(h, w, 3)[::-1]
        )
        for d in dibs
    ]
    return w, h, geo["us_per_frame"], frames


VIDEO_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_ts_ms", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("weighted_sum", LongType()),
        StructField("peak", LongType()),
    ]
)


def sample_avi_frames(
    df: DataFrame, stride: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """REAL video frame sampling: parse the AVI container, keep every
    ``stride``-th frame, emit exact integer pixel stats per sampled
    frame (1 video row → ceil(nf/stride) frame rows). frame_ts_ms
    comes from the container's dwMicroSecPerFrame — real timing
    metadata, not an assumed constant. The index-weighted checksum
    makes frame-order or row-flip mistakes observable. Payloads stay
    partition-local; only small typed rows leave the operator."""

    def rows_of(aid, payload):
        w, h, us, frames = parse_avi(bytes(payload))
        for idx in range(0, len(frames), stride):
            yield aid, idx, idx * us // 1000, w, h, *_pixel_stats(frames[idx])

    return _explode(
        df, ["asset_id", payload_col], VIDEO_FRAME_STATS_SCHEMA, rows_of
    )


def avi_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine uncompressed AVI payloads from the documents
    fixture: per doc, nf = doc_id % 4 + 2 frames of (doc_id % 5 + 2) ×
    (doc_id % 3 + 2) pixels whose component at logical linear index k
    in frame f is (doc_id*23 + f*101 + k*29) mod 256. Standard AVI
    encoding makes the parser walk real nested-LIST structure; the
    recurrence makes every sampled-frame stat recomputable exactly in
    the DuckDB oracle."""
    return _synthesize(docs, "video", _avi_payload)


def _avi_payload(did: int) -> bytes:
    nf, w, h = did % 4 + 2, did % 3 + 2, did % 5 + 2
    k = np.arange(h * w * 3, dtype=np.int64)
    return _avi_bytes(
        np.stack(
            [
                ((did * 23 + f * 101 + k * 29) % 256).astype(np.uint8).reshape(h, w, 3)
                for f in range(nf)
            ]
        )
    )

ENERGY_FRAME = 20  # samples per energy frame


def audio_frame_energy(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Windowed audio analysis: decode the WAV, split PCM into fixed
    ENERGY_FRAME-sample frames, emit per-frame exact integer energy
    (Σ s²) and peak — the decode→window→feature chain a speech
    pipeline runs before VAD/embedding. 1 row → ceil(n/frame) rows;
    stats are integers so the oracle is exact; payloads stay
    partition-local."""
    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("n_samples", LongType()),
            StructField("energy", LongType()),
            StructField("peak_abs", LongType()),
        ]
    )

    def rows_of(aid, payload):
        s64 = parse_wav(bytes(payload))[3].astype(np.int64)
        for f in range(0, len(s64), ENERGY_FRAME):
            chunk = s64[f : f + ENERGY_FRAME]
            yield (
                aid, f // ENERGY_FRAME, len(chunk),
                int((chunk * chunk).sum()), int(np.abs(chunk).max()),
            )

    return _explode(df, ["asset_id", payload_col], schema, rows_of)


# --- Real compressed-image decode: stdlib baseline JPEG codec ---------------
#
# Baseline sequential DCT JPEG (ITU-T T.81): 8-bit samples, 4:4:4 (all
# sampling factors 1×1), the spec's Annex-K luminance Huffman tables
# for every component, one flat quantization table. Both directions
# are general-purpose — arbitrary pixel content, DC differencing,
# AC run-length with ZRL/EOB, byte stuffing, edge-padded partial
# blocks — in stdlib + numpy only (no PIL/libjpeg). Components are
# coded and returned as-is (planes), with no YCbCr↔RGB transform:
# the decode surface is "coded planes", the transform being a
# separate per-pixel map a pipeline can apply downstream.
#
# Exactness note for the oracle fixture: with a flat quantization
# table of 8 and block-CONSTANT input (every 8×8 block one value v),
# the only nonzero coefficient is DC = 8·(v−128), which quantizes to
# the integer v−128 with zero rounding loss — so encode→decode is
# bit-exact and the DuckDB oracle can recompute decoded-pixel stats
# from the generating recurrence. General content round-trips within
# quantization error (property-tested in tests/test_properties.py).

_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# ITU-T T.81 Annex K.3.1/K.3.2 — standard luminance Huffman tables
# (BITS counts for code lengths 1..16, then HUFFVAL in order).
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Orthonormal 8-point DCT-II basis: coeffs = T @ block @ T.T,
# block = T.T @ coeffs @ T.
_DCT_T = np.array(
    [
        [
            (np.sqrt(1.0 / 8.0) if i == 0 else 0.5)
            * np.cos((2 * j + 1) * i * np.pi / 16.0)
            for j in range(8)
        ]
        for i in range(8)
    ]
)


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol → (code, length)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return table


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol."""
    return {
        (length, code): sym
        for sym, (code, length) in _huff_encode_table(bits, vals).items()
    }


class _BitWriter:
    """MSB-first bit sink with JPEG byte stuffing (0x00 after 0xFF)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad final byte with 1-bits per spec


class _BitReader:
    """MSB-first bit source over UNSTUFFED entropy-coded bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v


def _read_huff(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _magnitude(v: int) -> tuple[int, int]:
    """Value → (category SSSS, appended bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    ssss = int(abs(v)).bit_length()
    return ssss, (v if v > 0 else v + (1 << ssss) - 1)


def _extend(bits: int, ssss: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if ssss == 0:
        return 0
    return bits if bits >= (1 << (ssss - 1)) else bits - (1 << ssss) + 1


def _jpeg_bytes(planes: np.ndarray, q: int = 8) -> bytes:
    """Encode (ncomp, h, w) uint8 planes (ncomp 1 or 3) as a baseline
    sequential JPEG with a flat quantization table of ``q``."""
    ncomp, h, w = planes.shape
    dc_enc = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)
    nby, nbx = -(-h // 8), -(-w // 8)
    bw = _BitWriter()
    prev_dc = [0] * ncomp
    padded = np.stack(
        [
            np.pad(p, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge")
            for p in planes.astype(np.float64)
        ]
    )
    for by in range(nby):
        for bx in range(nbx):
            for c in range(ncomp):
                block = padded[c, by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coeffs = _DCT_T @ (block - 128.0) @ _DCT_T.T
                zz = np.round(coeffs.reshape(-1)[_JPEG_ZIGZAG] / q).astype(
                    np.int64
                )
                diff = int(zz[0]) - prev_dc[c]
                prev_dc[c] = int(zz[0])
                ssss, bits = _magnitude(diff)
                code, length = dc_enc[ssss]
                bw.write(code, length)
                if ssss:
                    bw.write(bits, ssss)
                run = 0
                nz = np.nonzero(zz[1:])[0]
                last = int(nz[-1]) + 1 if len(nz) else 0
                for k in range(1, last + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_enc[0xF0]  # ZRL
                        bw.write(code, length)
                        run -= 16
                    ssss, bits = _magnitude(v)
                    code, length = ac_enc[(run << 4) | ssss]
                    bw.write(code, length)
                    bw.write(bits, ssss)
                    run = 0
                if last < 63:
                    code, length = ac_enc[0x00]  # EOB
                    bw.write(code, length)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qtab_zz = bytes([q] * 64)
    dqt = seg(0xFFDB, bytes([0x00]) + qtab_zz)
    sof_comps = b"".join(
        struct.pack("BBB", c + 1, 0x11, 0) for c in range(ncomp)
    )
    sof0 = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos_comps = b"".join(struct.pack("BB", c + 1, 0x00) for c in range(ncomp))
    sos = seg(0xFFDA, bytes([ncomp]) + sos_comps + bytes([0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof0 + dht + sos + bytes(bw.out) + b"\xff\xd9"
    )


@_foreign_payload_guard
def parse_jpeg(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a baseline sequential 4:4:4 JPEG → (width, height,
    ncomp, planes (ncomp, h, w) uint8, in coded component order).

    A real entropy decoder: marker walk (APPn/COM skipped), multiple
    DQT/DHT segments, canonical Huffman reconstruction, byte
    unstuffing, DC prediction, AC run-length with ZRL/EOB,
    dequantize → dezigzag → IDCT → level shift. Restart intervals and
    subsampled/progressive streams are rejected explicitly."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None  # (h, w, [(comp_id, tq)])
    while True:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # T.81 B.1.1.2: a marker may be preceded by any number of
        # 0xFF fill bytes — the marker code is the first non-FF byte.
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            raise ValueError("truncated JPEG (fill bytes to EOF)")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI with no scan
            raise ValueError("JPEG has no scan data")
        length = struct.unpack(">H", payload[pos : pos + 2])[0]
        body = payload[pos + 2 : pos + length]
        pos += length
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quantization unsupported")
                qtabs[tq] = np.frombuffer(
                    body[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.int64)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decode_table(
                    bits, vals
                )
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = body[6 + 3 * c : 9 + 3 * c]
                if sampling != 0x11:
                    raise ValueError(
                        "chroma-subsampled JPEG unsupported (4:4:4 only)"
                    )
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("non-baseline JPEG (progressive/extended)")
        elif marker == 0xDD:  # DRI
            if struct.unpack(">H", body[:2])[0] != 0:
                raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = body[0]
            scan = [(body[1 + 2 * j], body[2 + 2 * j]) for j in range(ns)]
            break
        # APPn / COM / other: skipped
    h, w, comps = frame
    # entropy-coded data runs to the next real marker; unstuff 0xFF00
    data = bytearray()
    while pos < len(payload):
        b = payload[pos]
        if b == 0xFF:
            nxt = payload[pos + 1]
            if nxt == 0x00:
                data.append(0xFF)
                pos += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                raise ValueError("restart markers unsupported")
            break  # real marker (EOI)
        data.append(b)
        pos += 1
    br = _BitReader(bytes(data))
    nby, nbx = -(-h // 8), -(-w // 8)
    ncomp = len(comps)
    comp_tq = dict(comps)
    planes = np.zeros((ncomp, nby * 8, nbx * 8), dtype=np.uint8)
    prev_dc = [0] * ncomp
    for by in range(nby):
        for bx in range(nbx):
            for c, (cid, td_ta) in enumerate(scan):
                dc_tab = dc_tabs[td_ta >> 4]
                ac_tab = ac_tabs[td_ta & 0xF]
                qt = qtabs[comp_tq[cid]]
                ssss = _read_huff(br, dc_tab)
                diff = _extend(br.read_bits(ssss), ssss)
                prev_dc[c] += diff
                zz = np.zeros(64, dtype=np.int64)
                zz[0] = prev_dc[c]
                k = 1
                while k < 64:
                    sym = _read_huff(br, ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += sym >> 4
                    if k > 63:
                        raise ValueError("AC coefficient overrun")
                    zz[k] = _extend(br.read_bits(sym & 0xF), sym & 0xF)
                    k += 1
                nat = np.zeros(64, dtype=np.float64)
                nat[_JPEG_ZIGZAG] = zz * qt
                block = _DCT_T.T @ nat.reshape(8, 8) @ _DCT_T
                planes[c, by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                    np.round(block) + 128, 0, 255
                ).astype(np.uint8)
    return w, h, ncomp, np.ascontiguousarray(planes[:, :h, :w])


def jpeg_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine baseline JPEG payloads from the documents
    fixture: per doc, a 3-component 8·(doc_id%3+1) × 8·(doc_id%2+1)
    image whose 8×8 block (c, b) is CONSTANT at
    (doc_id·31 + (c·nb + b)·17) mod 256 (b row-major). With the flat
    q=8 table the encode→decode round-trip is exact for such content
    (see codec header note), so the DuckDB oracle can recompute every
    decoded-pixel stat from the recurrence."""
    return _synthesize(docs, "image", _jpeg_payload)


def _jpeg_payload(did: int) -> bytes:
    w, h = 8 * (did % 3 + 1), 8 * (did % 2 + 1)
    nbx, nby = w // 8, h // 8
    nb = nbx * nby
    planes = np.zeros((3, h, w), dtype=np.uint8)
    for c in range(3):
        for b in range(nb):
            by, bx = divmod(b, nbx)
            planes[c, by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                did * 31 + (c * nb + b) * 17
            ) % 256
    return _jpeg_bytes(planes, q=8)


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_components", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_c0", LongType()),
        StructField("sum_c1", LongType()),
        StructField("sum_c2", LongType()),
        StructField("spatial_sum", LongType()),
        StructField("peak", LongType()),
    ]
)


def decode_jpeg(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas JPEG decode: frame header fields + exact integer
    stats over the DECODED pixels. ``spatial_sum`` weights each pixel
    by (c·h·w + y·w + x), so a decoder that misplaces blocks, swaps
    planes, or mis-walks the zigzag produces a different number even
    when plane sums collide. Payloads never leave their partition."""

    def rows_of(aid, payload):
        w, h, ncomp, planes = parse_jpeg(bytes(payload))
        sums = (
            int(planes[c].astype(np.int64).sum()) if c < ncomp else 0
            for c in range(3)
        )
        _, spatial, peak = _pixel_stats(planes)
        yield aid, w, h, ncomp, w * h, *sums, spatial, peak

    return _explode(df, ["asset_id", payload_col], JPEG_STATS_SCHEMA, rows_of)


# --- Real compressed-video decode: MJPEG-in-AVI ----------------------------
#
# Motion-JPEG: an AVI whose video stream is fourcc 'MJPG' and whose
# '00dc' chunks each hold a complete baseline JPEG. Composing the two
# real kernels above (RIFF LIST walker + T.81 entropy decoder) yields
# a genuinely compressed video path with zero external libs. The
# fixture uses block-constant frames so the lossy JPEG layer is exact
# (see the JPEG codec header) and the oracle stays pure SQL.

_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def _mjpeg_avi_bytes(
    frames: np.ndarray, us_per_frame: int = AVI_US_PER_FRAME, q: int = 8
) -> bytes:
    """Serialize (nf, 3, h, w) uint8 component planes as an MJPEG AVI:
    standard RIFF hdrl/movi structure, 'MJPG' stream fourcc, one
    complete baseline JPEG per '00dc' chunk."""
    nf, ncomp, h, w = frames.shape
    jpegs = [_jpeg_bytes(frames[f], q=q) for f in range(nf)]
    max_size = max(len(j) for j in jpegs)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            struct.pack("<4sI", cid, len(body))
            + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def list_chunk(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, max_size * 1_000_000 // us_per_frame, 0, 0,
        nf, 0, 1, max_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", b"MJPG", 0, 0, 0, 0, us_per_frame, 1_000_000, 0, nf,
        max_size, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _MJPG_FOURCC, max_size,
        2835, 2835, 0, 0,
    )
    hdrl = list_chunk(
        b"hdrl",
        chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = list_chunk(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    return (
        struct.pack("<4sI", b"RIFF", 4 + len(hdrl) + len(movi))
        + b"AVI "
        + hdrl
        + movi
    )


@_foreign_payload_guard
def parse_mjpeg_avi(
    payload: bytes,
) -> tuple[int, int, int, list[np.ndarray]]:
    """Parse an MJPEG AVI → (width, height, us_per_frame, frames),
    each frame (ncomp, h, w) uint8 planes from the embedded JPEG.
    Validates the 'MJPG' stream fourcc in strf; every '00dc' chunk
    goes through the full baseline-JPEG entropy decoder."""
    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    geo: dict = {}
    bodies: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid, size = struct.unpack("<4sI", payload[pos : pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + size)
            elif cid == b"avih":
                us, _, _, _, nf, _, _, _, w, h = struct.unpack(
                    "<10I", payload[body_start : body_start + 40]
                )
                geo.update(us_per_frame=us, n_frames=nf, w=w, h=h)
            elif cid == b"strf":
                compression = struct.unpack(
                    "<I", payload[body_start + 16 : body_start + 20]
                )[0]
                if compression != _MJPG_FOURCC:
                    raise ValueError("not an MJPEG AVI stream")
            elif cid == b"00dc":
                bodies.append(payload[body_start : body_start + size])
            pos = body_start + size + (size & 1)

    walk(12, 8 + struct.unpack("<I", payload[4:8])[0])
    if not geo or not bodies:
        raise ValueError("missing avih/movi content")
    frames = []
    for body in bodies:
        jw, jh, _, planes = parse_jpeg(body)
        if (jw, jh) != (geo["w"], geo["h"]):
            raise ValueError("frame geometry disagrees with container")
        frames.append(planes)
    return geo["w"], geo["h"], geo["us_per_frame"], frames


def mjpeg_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine MJPEG AVI payloads: per doc,
    nf = doc_id % 3 + 1 frames of 3 × 8 × (8·(doc_id % 2 + 1))
    block-constant planes; block (f, c, b) holds
    (doc_id·37 + f·113 + (c·nb + b)·17) mod 256 — exact through the
    JPEG layer at flat q=8, so the oracle recomputes decoded stats."""
    return _synthesize(docs, "video", _mjpeg_payload)


def _mjpeg_payload(did: int) -> bytes:
    return _mjpeg_avi_bytes(_block_frames(did, 37, 113, 17))


def _block_frames(did: int, k_doc: int, k_frame: int, k_block: int) -> np.ndarray:
    """nf = did % 3 + 1 block-constant frames of 3 × 8 × (8·(did % 2 + 1))
    planes, block (f, c, b) holding
    (did·k_doc + f·k_frame + (c·nb + b)·k_block) mod 256 — the shape of
    the MJPEG and MP4 fixtures' recurrences."""
    nf, h, w = did % 3 + 1, 8, 8 * (did % 2 + 1)
    nb = w // 8
    frames = np.zeros((nf, 3, h, w), dtype=np.uint8)
    for f in range(nf):
        for c in range(3):
            for b in range(nb):
                v = (did * k_doc + f * k_frame + (c * nb + b) * k_block) % 256
                frames[f, c, :, b * 8 : b * 8 + 8] = v
    return frames


MJPEG_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_ts_ms", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("spatial_sum", LongType()),
        StructField("peak", LongType()),
    ]
)


def decode_mjpeg_frames(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL compressed-video decode: walk the AVI, entropy-decode
    every embedded JPEG frame, emit exact integer stats per frame
    (1 video row → nf frame rows). ``spatial_sum`` weights each pixel
    by (c·h·w + y·w + x) within its frame, so plane swaps, block
    misplacement, or frame reordering are all observable. Payloads
    stay partition-local."""

    def rows_of(aid, payload):
        w, h, us, frames = parse_mjpeg_avi(bytes(payload))
        for idx, planes in enumerate(frames):
            yield aid, idx, idx * us // 1000, w, h, *_pixel_stats(planes)

    return _explode(
        df, ["asset_id", payload_col], MJPEG_FRAME_STATS_SCHEMA, rows_of
    )


# --- Real compressed-image decode #2: stdlib PNG codec ---------------------
#
# PNG (RFC 2083): zlib-compressed scanlines, one filter byte per row
# (None/Sub/Up/Average/Paeth), CRC-32 per chunk. Python ships zlib,
# so unlike JPEG no entropy coder must be hand-built — but the filter
# predictors and chunk framing are real decode work, and the format
# is LOSSLESS, so the oracle fixture can use an arbitrary pixel
# recurrence (no block-constant trick needed). The encoder takes a
# per-row filter choice so the certified query exercises ALL five
# filter inverses, not just the trivial one.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_bytes(pixels: np.ndarray, filter_mode: str = "cycle") -> bytes:
    """Serialize (h, w, 3) uint8 RGB as a standard 8-bit truecolor
    PNG. ``filter_mode``: 'none' → filter 0 everywhere; 'cycle' →
    row y uses filter y % 5, exercising every predictor."""
    h, w, _ = pixels.shape
    import zlib

    px = pixels.astype(np.int64)
    raw = bytearray()
    bpp = 3
    for y in range(h):
        ft = 0 if filter_mode == "none" else y % 5
        row = px[y].reshape(-1)
        prev = px[y - 1].reshape(-1) if y else np.zeros(w * bpp, np.int64)
        filt = np.empty(w * bpp, dtype=np.int64)
        for x in range(w * bpp):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            upleft = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(int(left), int(up), int(upleft))
            filt[x] = (row[x] - pred) % 256
        raw.append(ft)
        raw.extend(filt.astype(np.uint8).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@_foreign_payload_guard
def parse_png(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse one 8-bit truecolor PNG → (width, height, bit_depth,
    pixels (h, w, 3) uint8).

    A real (if minimal) PNG reader: signature + per-chunk CRC-32
    validation, IHDR geometry, multi-IDAT zlib inflate, and the full
    inverse of all five row filters (None/Sub/Up/Average/Paeth).
    Interlace, palettes, alpha, and 16-bit depth are rejected
    explicitly. stdlib+numpy only — this is the decode kernel itself,
    not a stub."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    idat = bytearray()
    geo = None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack(">I4s", payload[pos : pos + 8])
        if pos + 12 + length > len(payload):
            raise ValueError(
                f"truncated PNG chunk {ctype!r} (need {12 + length} "
                f"bytes, have {len(payload) - pos})"
            )
        data = payload[pos + 8 : pos + 8 + length]
        crc = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )[0]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            w, h, depth, ctype_c, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype_c, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit non-interlaced truecolor PNG supported"
                )
            geo = (w, h, depth)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if geo is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth = geo
    raw = zlib.decompress(bytes(idat))
    bpp, stride = 3, w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload has wrong size")
    out = np.zeros((h, stride), dtype=np.int64)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        prev = out[y - 1] if y else np.zeros(stride, np.int64)
        recon = out[y]
        for x in range(stride):
            left = recon[x - bpp] if x >= bpp else 0
            up = prev[x]
            upleft = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            elif ft == 4:
                pred = _paeth(int(left), int(up), int(upleft))
            else:
                raise ValueError(f"unknown PNG filter {ft}")
            recon[x] = (line[x] + pred) % 256
    return w, h, depth, np.ascontiguousarray(
        out.astype(np.uint8).reshape(h, w, 3)
    )


def png_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine truecolor PNG payloads from the documents
    fixture: per doc, a (doc_id % 6 + 2) × (doc_id % 4 + 2) image
    whose component at logical linear index k is
    (doc_id·19 + k·41) mod 256, with row filters CYCLING through all
    five predictors. PNG is lossless, so every decoded stat is
    recomputable exactly in the DuckDB oracle — and a decoder that
    botches any filter inverse cannot hash-match."""
    return _synthesize(docs, "image", _png_payload)


def _png_payload(did: int) -> bytes:
    w, h = did % 6 + 2, did % 4 + 2
    k = np.arange(h * w * 3, dtype=np.int64)
    px = ((did * 19 + k * 41) % 256).astype(np.uint8).reshape(h, w, 3)
    return _png_bytes(px, filter_mode="cycle")


def decode_png(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas PNG decode: header fields + exact integer pixel
    stats (same contract as decode_bmp — the index-weighted checksum
    makes filter-inverse or row-order mistakes observable)."""
    return _explode(
        df, ["asset_id", payload_col], BMP_STATS_SCHEMA, _image_rows(parse_png, 3)
    )


# --- Real compressed-video decode #2: MJPEG-in-MP4 (ISO-BMFF) --------------
#
# MP4 (ISO/IEC 14496-12 ISO base media file format): a tree of
# length-prefixed boxes. The sample tables under moov/trak/mdia/minf/
# stbl — stsd (codec entry), stts (timing), stsc (sample→chunk map),
# stsz (sizes), stco (chunk offsets) — locate each coded sample
# inside mdat. With 'jpeg' (Photo-JPEG) samples, every sample is one
# complete baseline JPEG, so the container walker composes with the
# existing T.81 entropy decoder exactly like the RIFF walker does for
# MJPEG-AVI. H.264 entropy decode itself stays out of scope (no
# ffmpeg in this container) — the container layer is the real,
# certified part, and a 'avc1' stsd entry is rejected explicitly.

MP4_TIMESCALE = 1000  # mdhd ticks per second → deltas are millis
MP4_SAMPLE_DELTA = 40  # 25 fps, same cadence as the AVI fixtures


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I4s", 8 + len(body), btype) + body


def _fullbox(btype: bytes, body: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(btype, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + body)


def _mp4_bytes(
    frames: np.ndarray,
    q: int = 8,
    timescale: int = MP4_TIMESCALE,
    delta: int = MP4_SAMPLE_DELTA,
) -> bytes:
    """Serialize (nf, 3, h, w) uint8 planes as an MJPEG-in-MP4:
    ftyp + mdat (one complete baseline JPEG per sample) + moov with
    real sample tables. Samples are packed two per chunk (last chunk
    may hold one) so stsc/stco describe a non-trivial sample→chunk
    map and a decoder that ignores either table cannot round-trip."""
    nf, _, h, w = frames.shape
    jpegs = [_jpeg_bytes(frames[f], q=q) for f in range(nf)]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom" + b"mp41")
    mdat = _box(b"mdat", b"".join(jpegs))
    # chunk layout: pairs of samples; offsets are absolute file offsets
    mdat_payload_start = len(ftyp) + 8
    chunk_offsets: list[int] = []
    chunk_sizes: list[int] = []  # samples per chunk
    pos = mdat_payload_start
    i = 0
    while i < nf:
        take = min(2, nf - i)
        chunk_offsets.append(pos)
        chunk_sizes.append(take)
        pos += sum(len(j) for j in jpegs[i : i + take])
        i += take
    duration = nf * delta

    visual_entry = (
        struct.pack(">I4s", 86, b"jpeg")
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    stsd = _fullbox(b"stsd", struct.pack(">I", 1) + visual_entry)
    stts = _fullbox(b"stts", struct.pack(">III", 1, nf, delta))
    # stsc runs compress consecutive equal samples-per-chunk values
    stsc_runs: list[tuple[int, int]] = []
    for idx, n in enumerate(chunk_sizes, start=1):
        if not stsc_runs or stsc_runs[-1][1] != n:
            stsc_runs.append((idx, n))
    stsc = _fullbox(
        b"stsc",
        struct.pack(">I", len(stsc_runs))
        + b"".join(struct.pack(">III", fc, n, 1) for fc, n in stsc_runs),
    )
    stsz = _fullbox(
        b"stsz",
        struct.pack(">II", 0, nf)
        + b"".join(struct.pack(">I", len(j)) for j in jpegs),
    )
    stco = _fullbox(
        b"stco",
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _fullbox(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    dref = _fullbox(
        b"dref", struct.pack(">I", 1) + _fullbox(b"url ", b"", flags=1)
    )
    minf = _box(b"minf", vmhd + _box(b"dinf", dref) + stbl)
    hdlr = _fullbox(
        b"hdlr", struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"\x00"
    )
    mdhd = _fullbox(
        b"mdhd",
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _fullbox(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
        flags=7,
    )
    mvhd = _fullbox(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">Ihh", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def _walk_boxes(payload: bytes, pos: int, end: int):
    """Yield (box_type, body_start, body_end) for each box in
    [pos, end). Size 0 (to end-of-enclosure) and size 1 (64-bit
    largesize) are handled per ISO/IEC 14496-12 §4.2; malformed
    lengths raise ValueError."""
    while pos + 8 <= end:
        size, btype = struct.unpack(">I4s", payload[pos : pos + 8])
        body_start = pos + 8
        if size == 0:
            box_end = end
        elif size == 1:
            if body_start + 8 > end:
                raise ValueError("truncated MP4 largesize box")
            size = struct.unpack(">Q", payload[body_start : body_start + 8])[0]
            body_start += 8
            box_end = pos + size
        else:
            box_end = pos + size
        if size != 0 and (size < 8 or box_end > end):
            raise ValueError(
                f"MP4 box {btype!r} overruns enclosure "
                f"(size {size}, have {end - pos})"
            )
        yield btype, body_start, box_end
        if size == 0:
            return
        pos = box_end


def _find_box(payload: bytes, pos: int, end: int, path: list[bytes]):
    """Descend a box path; returns (body_start, body_end) or raises."""
    for depth, want in enumerate(path):
        for btype, bs, be in _walk_boxes(payload, pos, end):
            if btype == want:
                pos, end = bs, be
                break
        else:
            raise ValueError(f"MP4 missing box {b'/'.join(path[: depth + 1])!r}")
    return pos, end


@_foreign_payload_guard
def parse_mp4(payload: bytes) -> tuple[int, int, int, list[tuple[int, np.ndarray]]]:
    """Parse an MJPEG-in-MP4 → (width, height, timescale,
    [(sample_time_ticks, planes), ...]). The sample tables are read
    for real: stsc runs map samples to chunks, stco anchors each
    chunk, stsz walks samples within a chunk, stts accumulates
    per-sample timestamps. Every sample goes through the full
    baseline-JPEG entropy decoder; a non-'jpeg' codec entry (e.g.
    'avc1') is rejected explicitly."""
    boxes = {t: (bs, be) for t, bs, be in _walk_boxes(payload, 0, len(payload))}
    if b"ftyp" not in boxes or b"moov" not in boxes:
        raise ValueError("not an ISO-BMFF payload (missing ftyp/moov)")
    moov_s, moov_e = boxes[b"moov"]
    mdia_s, mdia_e = _find_box(payload, moov_s, moov_e, [b"trak", b"mdia"])
    mdhd_s, _ = _find_box(payload, mdia_s, mdia_e, [b"mdhd"])
    version = payload[mdhd_s]
    if version == 0:
        timescale = struct.unpack(">I", payload[mdhd_s + 12 : mdhd_s + 16])[0]
    elif version == 1:
        timescale = struct.unpack(">I", payload[mdhd_s + 20 : mdhd_s + 24])[0]
    else:
        raise ValueError("unsupported mdhd version")
    stbl_s, stbl_e = _find_box(payload, mdia_s, mdia_e, [b"minf", b"stbl"])
    stbl = {t: (bs, be) for t, bs, be in _walk_boxes(payload, stbl_s, stbl_e)}
    for need in (b"stsd", b"stts", b"stsc", b"stsz", b"stco"):
        if need not in stbl:
            raise ValueError(f"MP4 missing sample table {need!r}")

    sd_s, _ = stbl[b"stsd"]
    fourcc = payload[sd_s + 12 : sd_s + 16]
    if fourcc != b"jpeg":
        raise ValueError(
            f"unsupported MP4 codec {fourcc!r} (only 'jpeg' Photo-JPEG "
            f"samples; H.264 needs an entropy decoder this container lacks)"
        )
    entry = sd_s + 8  # past stsd version/flags/entry_count
    w, h = struct.unpack(">HH", payload[entry + 32 : entry + 36])

    tt_s, _ = stbl[b"stts"]
    n_runs = struct.unpack(">I", payload[tt_s + 4 : tt_s + 8])[0]
    deltas: list[int] = []
    for r in range(n_runs):
        cnt, dlt = struct.unpack(
            ">II", payload[tt_s + 8 + 8 * r : tt_s + 16 + 8 * r]
        )
        deltas.extend([dlt] * cnt)

    sz_s, _ = stbl[b"stsz"]
    uniform, n_samples = struct.unpack(">II", payload[sz_s + 4 : sz_s + 12])
    if uniform:
        sizes = [uniform] * n_samples
    else:
        sizes = [
            struct.unpack(">I", payload[sz_s + 12 + 4 * i : sz_s + 16 + 4 * i])[0]
            for i in range(n_samples)
        ]

    sc_s, _ = stbl[b"stsc"]
    n_sc = struct.unpack(">I", payload[sc_s + 4 : sc_s + 8])[0]
    sc_runs = [
        struct.unpack(">III", payload[sc_s + 8 + 12 * r : sc_s + 20 + 12 * r])
        for r in range(n_sc)
    ]
    co_s, _ = stbl[b"stco"]
    n_chunks = struct.unpack(">I", payload[co_s + 4 : co_s + 8])[0]
    offsets = [
        struct.unpack(">I", payload[co_s + 8 + 4 * i : co_s + 12 + 4 * i])[0]
        for i in range(n_chunks)
    ]

    # expand stsc runs → samples-per-chunk for every chunk
    spc: list[int] = []
    for r, (first, n, _sdidx) in enumerate(sc_runs):
        last = sc_runs[r + 1][0] if r + 1 < len(sc_runs) else n_chunks + 1
        spc.extend([n] * (last - first))
    if len(spc) != n_chunks:
        raise ValueError("stsc runs disagree with stco chunk count")

    if len(deltas) < n_samples:
        raise ValueError("stts covers fewer samples than stsz")
    frames: list[tuple[int, np.ndarray]] = []
    sample = 0
    t = 0
    for chunk_idx in range(n_chunks):
        pos = offsets[chunk_idx]
        for _ in range(spc[chunk_idx]):
            if sample >= n_samples:
                break
            body = payload[pos : pos + sizes[sample]]
            if len(body) != sizes[sample]:
                raise ValueError("MP4 sample overruns payload")
            jw, jh, _, planes = parse_jpeg(body)
            if (jw, jh) != (w, h):
                raise ValueError("sample geometry disagrees with stsd")
            frames.append((t, planes))
            pos += sizes[sample]
            t += deltas[sample]
            sample += 1
    if sample != n_samples:
        raise ValueError("sample tables describe more samples than chunks hold")
    return w, h, timescale, frames


def mp4_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine MJPEG-in-MP4 payloads: per doc,
    nf = doc_id % 3 + 1 frames of 3 × 8 × (8·(doc_id % 2 + 1))
    block-constant planes; block (f, c, b) holds
    (doc_id·41 + f·131 + (c·nb + b)·19) mod 256 — exact through the
    JPEG layer at flat q=8, so the oracle recomputes decoded stats."""
    return _synthesize(docs, "video", _mp4_payload)


def _mp4_payload(did: int) -> bytes:
    return _mp4_bytes(_block_frames(did, 41, 131, 19))


def decode_mp4_frames(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL MP4 video decode: walk the ISO-BMFF sample tables,
    entropy-decode every Photo-JPEG sample, emit exact integer stats
    per frame (1 video row → nf frame rows; same contract as
    decode_mjpeg_frames). frame_ts_ms comes from the container's own
    stts deltas scaled by the mdhd timescale. Payloads stay
    partition-local."""

    def rows_of(aid, payload):
        w, h, timescale, frames = parse_mp4(bytes(payload))
        for idx, (ticks, planes) in enumerate(frames):
            yield aid, idx, ticks * 1000 // timescale, w, h, *_pixel_stats(planes)

    return _explode(
        df, ["asset_id", payload_col], MJPEG_FRAME_STATS_SCHEMA, rows_of
    )


# ---------------------------------------------------------------------------
# GIF (round 9): real GIF89a with actual LZW compression — the one
# mainstream lossless codec family (dictionary coding) the media
# suite didn't cover (PNG=zlib/DEFLATE, JPEG=DCT+Huffman, BMP/AVI=
# raw). Encoder and decoder implement the standard GIF-LZW variant:
# variable code width mcs+1..12 bits LSB-first, clear/end codes,
# non-early code-width change (decoder bumps at next_code ==
# 2^width − 1, one earlier than the encoder's 2^width — the classic
# documented asymmetry, because the decoder's table lags one entry),
# KwKwK handling, dictionary reset at 4096, 255-byte sub-blocks.
# ---------------------------------------------------------------------------

GIF_DELAY_CS = 7  # frame delay in centiseconds (GCE units)


class _LsbBitWriter:
    """LSB-first bit sink (GIF-LZW packing — the opposite bit order
    of the JPEG _BitWriter, and no byte stuffing)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> None:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0


class _LsbBitReader:
    """LSB-first bit source (GIF-LZW unpacking)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise ValueError("LZW code stream exhausted")
            self.acc |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.acc & ((1 << nbits) - 1)
        self.acc >>= nbits
        self.n -= nbits
        return v


def _lzw_encode(indices: np.ndarray, mcs: int = 8) -> bytes:
    """GIF-LZW compress a 1-D uint8 index array (palette codes) into
    the raw code stream (caller sub-blocks it)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = _LsbBitWriter()

    def reset() -> tuple[dict, int, int]:
        return {}, end + 1, mcs + 1

    table, next_code, width = reset()
    out.write(clear, width)
    w = int(indices[0])
    for k in map(int, indices[1:]):
        if (w, k) in table:
            w = table[(w, k)]
            continue
        out.write(w, width)
        if next_code == 4096:
            out.write(clear, width)
            table, next_code, width = reset()
        else:
            table[(w, k)] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        w = k
    out.write(w, width)
    out.write(end, width)
    out.flush()
    return bytes(out.out)


def _lzw_decode(data: bytes, n_expected: int, mcs: int = 8) -> np.ndarray:
    """Decompress a GIF-LZW code stream → uint8 index array of
    exactly ``n_expected`` entries (trailing garbage rejected)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    rd = _LsbBitReader(data)
    table: dict[int, bytes] = {}
    next_code, width = end + 1, mcs + 1
    prev: bytes | None = None
    out = bytearray()
    while True:
        code = rd.read(width)
        if code == clear:
            table, next_code, width = {}, end + 1, mcs + 1
            prev = None
            continue
        if code == end:
            break
        if code < clear:
            entry = bytes([code])
        elif code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            # decoder's table lags the encoder by one entry, hence
            # the width change fires one code earlier
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry
        if len(out) > n_expected:
            raise ValueError("LZW stream longer than frame")
    if len(out) != n_expected:
        raise ValueError(f"LZW stream yielded {len(out)} of {n_expected}")
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _gif_bytes(frames: np.ndarray, delay_cs: int = GIF_DELAY_CS) -> bytes:
    """Serialize an (nf, h, w) uint8 palette-index array as an
    animated GIF89a: logical screen descriptor, 256-entry grayscale
    global color table (index i → (i,i,i)), and per frame a Graphic
    Control Extension (delay) + image descriptor + LZW data in
    255-byte sub-blocks."""
    nf, h, w = frames.shape
    parts = [b"GIF89a", struct.pack("<HHBBB", w, h, 0xF7, 0, 0)]
    parts.append(bytes(v for i in range(256) for v in (i, i, i)))
    for f in frames:
        parts.append(
            struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0, delay_cs, 0, 0)
        )
        parts.append(struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0))
        parts.append(bytes([8]))  # LZW minimum code size
        data = _lzw_encode(f.reshape(-1))
        for i in range(0, len(data), 255):
            block = data[i : i + 255]
            parts.append(bytes([len(block)]) + block)
        parts.append(b"\x00")
    parts.append(b"\x3B")
    return b"".join(parts)


@_foreign_payload_guard
def parse_gif(payload: bytes) -> tuple[int, int, int, list[np.ndarray]]:
    """Parse one GIF87a/89a payload → (width, height, delay_cs,
    frames), each frame an (h, w) uint8 palette-index array.

    A real (if minimal) GIF reader: signature + logical screen
    descriptor, global color table skip, extension-block walking
    (delay read from the Graphic Control Extension), per-image
    descriptor geometry, sub-block reassembly, and a full GIF-LZW
    decoder (variable code width, clear/end, KwKwK, dictionary
    reset). Interlaced or locally-paletted images are rejected by
    name. stdlib+numpy only — the decode kernel, not a stub."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    delay_cs = 0
    frames: list[np.ndarray] = []
    while pos < len(payload):
        marker = payload[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            label = payload[pos]
            pos += 1
            if label == 0xF9:
                blen = payload[pos]
                delay_cs = struct.unpack(
                    "<H", payload[pos + 2 : pos + 4]
                )[0]
                pos += 1 + blen
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif marker == 0x2C:  # image descriptor
            _l, _t, iw, ih, ipacked = struct.unpack(
                "<HHHHB", payload[pos : pos + 9]
            )
            pos += 9
            if ipacked & 0x80:
                raise ValueError("local color tables not supported")
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                blen = payload[pos]
                data += payload[pos + 1 : pos + 1 + blen]
                pos += 1 + blen
            pos += 1
            frames.append(
                _lzw_decode(bytes(data), iw * ih, mcs).reshape(ih, iw)
            )
        else:
            raise ValueError(f"unexpected GIF block 0x{marker:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return w, h, delay_cs, frames


def sample_gif_frames(
    df: DataFrame, stride: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """REAL animated-GIF frame sampling (the GIF twin of
    sample_avi_frames): parse the container, LZW-decode every
    ``stride``-th frame, emit exact integer palette-index stats per
    sampled frame. frame_ts_ms comes from the GCE delay (real timing
    metadata, centiseconds). Payloads stay partition-local."""

    def rows_of(aid, payload):
        w, h, delay_cs, frames = parse_gif(bytes(payload))
        for idx in range(0, len(frames), stride):
            yield aid, idx, idx * delay_cs * 10, w, h, *_pixel_stats(frames[idx])

    return _explode(
        df, ["asset_id", payload_col], VIDEO_FRAME_STATS_SCHEMA, rows_of
    )


def gif_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize genuine animated GIF payloads from the documents
    fixture: per doc, nf = doc_id % 3 + 2 frames of
    (doc_id % 5 + 2) × (doc_id % 4 + 2) pixels whose palette index
    at row-major position k in frame f is
    (doc_id·37 + f·59 + k·13) mod 256. GIF-LZW is lossless, so every
    sampled-frame stat is recomputable exactly in the DuckDB
    oracle."""
    return _synthesize(docs, "image_anim", _gif_payload)


def _gif_payload(did: int) -> bytes:
    nf, w, h = did % 3 + 2, did % 5 + 2, did % 4 + 2
    k = np.arange(h * w, dtype=np.int64)
    return _gif_bytes(
        np.stack(
            [
                ((did * 37 + f * 59 + k * 13) % 256).astype(np.uint8).reshape(h, w)
                for f in range(nf)
            ]
        )
    )


# --- WebDataset-style tar shards -------------------------------------------
# The de-facto container for large-scale training data (WebDataset:
# samples as members of plain POSIX tar shards, streamed sequentially
# — public format, ustar layout per POSIX.1-1988). The writer below
# emits byte-deterministic ustar archives (fixed mode/uid/mtime), and
# the reader is a full header parser with CHECKSUM VERIFICATION — a
# corrupted shard fails loudly, never yields silent partial samples.

_TAR_BLOCK = 512

TAR_MEMBER_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("name", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
    ]
)


def build_tar_shard(members: list[tuple[str, bytes]]) -> bytes:
    """A byte-deterministic ustar archive: one 512-byte POSIX header
    per member (name, octal size/mode/mtime, checksum over the
    header with the checksum field blanked, magic 'ustar\\x00'),
    payload padded to block size, two zero blocks as end-of-archive.
    Fixed mode/uid/gid/mtime so identical members always produce
    identical shard bytes (reproducible shards = dedupable shards)."""
    out = bytearray()
    for name, payload in members:
        nb = name.encode()
        if len(nb) > 100:
            raise ValueError(f"member name too long for ustar: {name!r}")
        hdr = bytearray(_TAR_BLOCK)
        hdr[0 : len(nb)] = nb
        hdr[100:108] = b"0000644\x00"  # mode
        hdr[108:116] = b"0000000\x00"  # uid
        hdr[116:124] = b"0000000\x00"  # gid
        hdr[124:136] = (f"{len(payload):011o}").encode() + b"\x00"
        hdr[136:148] = b"00000000000\x00"  # mtime: epoch, reproducible
        hdr[148:156] = b" " * 8  # checksum field blank for the sum
        hdr[156] = ord("0")  # typeflag: regular file
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chksum = sum(hdr)
        hdr[148:156] = (f"{chksum:06o}").encode() + b"\x00 "
        out += hdr
        out += payload
        pad = (-len(payload)) % _TAR_BLOCK
        out += b"\x00" * pad
    out += b"\x00" * (2 * _TAR_BLOCK)
    return bytes(out)


@_foreign_payload_guard
def parse_tar_members(blob: bytes) -> list[tuple[str, bytes]]:
    """Walk a tar archive's 512-byte headers: NUL-terminated name,
    octal size, end-of-archive at the first all-zero block. The
    header CHECKSUM is verified (unsigned-byte sum with the checksum
    field treated as spaces — the POSIX rule); a mismatch raises
    instead of yielding garbage members. So does truncation: a member
    whose payload runs past the end of the blob, or a blob that ends
    before the end-of-archive block. Non-file typeflags are skipped
    but their payload blocks are consumed.

    Carry-over contract: the walk stops at the FIRST zero block, so a
    blob cut anywhere after it (inside or before the second zero
    block) parses clean with every member. Such a blob cannot be told
    from a complete archive whose writer wrote one zero block. Every
    shorter cut raises."""
    members: list[tuple[str, bytes]] = []
    off = 0
    while True:
        if off + _TAR_BLOCK > len(blob):
            raise ValueError(
                f"tar archive truncated at offset {off}: "
                "no end-of-archive block"
            )
        hdr = blob[off : off + _TAR_BLOCK]
        if hdr == b"\x00" * _TAR_BLOCK:
            break
        stated = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        actual = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stated != actual:
            raise ValueError(
                f"tar header checksum mismatch at offset {off}: "
                f"stated {stated:o}, computed {actual:o}"
            )
        name = hdr[0:100].split(b"\x00")[0].decode()
        size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        typeflag = chr(hdr[156])
        payload = blob[off + _TAR_BLOCK : off + _TAR_BLOCK + size]
        if len(payload) != size:
            raise ValueError(
                f"tar member {name!r} truncated: {len(payload)} of "
                f"{size} bytes"
            )
        if typeflag in ("0", "\x00"):
            members.append((name, payload))
        off += _TAR_BLOCK + size + ((-size) % _TAR_BLOCK)
    return members


def untar_members(df: DataFrame) -> DataFrame:
    """mapInPandas shard explosion: (shard_id, payload) → one row per
    member with its name, byte length, and payload md5 (the content
    fingerprint the oracle recomputes from source text). Payloads
    never shuffle: parsing is partition-local and only typed summary
    columns leave the codec boundary — the same contract as every
    media decode in this module."""
    return _explode(
        df, ["shard_id", "payload"], TAR_MEMBER_SCHEMA, _member_rows(parse_tar_members)
    )


def _member_rows(parse):
    """TAR_MEMBER_SCHEMA row function over a (name, bytes) member
    parser: one (shard_id, name, n_bytes, payload_md5) per member."""

    def rows_of(shard_id, payload):
        for name, data in parse(bytes(payload)):
            yield int(shard_id), name, len(data), hashlib.md5(data).hexdigest()

    return rows_of


# --- Avro Object Container Files -------------------------------------------
# The reference-adjacent wire format this environment cannot serve
# through the spark-avro DataSource (connector jar absent — probed
# every round). The format itself is public and small (Avro 1.12
# specification, avro.apache.org: zigzag-varint longs, length-
# prefixed UTF-8, little-endian IEEE doubles, and the Obj\x01
# container with per-block sync markers), so the ingestion leg is
# served the same way every other binary format here is: Spark's
# binaryFile source + a partition-local decode behind the sanctioned
# mapInPandas codec boundary. Null codec only; complex types are
# rejected loudly (this is an ingestion leg, not a full type system).

_AVRO_MAGIC = b"Obj\x01"


def _avro_zigzag(n: int) -> bytes:
    """Avro long: zigzag then 7-bit little-endian varint."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_read_long(blob: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = blob[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _avro_encode_value(v, typ: str) -> bytes:
    if typ in ("long", "int"):
        return _avro_zigzag(int(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "string":
        b = str(v).encode()
        return _avro_zigzag(len(b)) + b
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    raise ValueError(f"unsupported avro type {typ!r}")


def _avro_decode_value(blob: bytes, pos: int, typ: str):
    if typ in ("long", "int"):
        return _avro_read_long(blob, pos)
    if typ == "double":
        return struct.unpack("<d", blob[pos : pos + 8])[0], pos + 8
    if typ == "string":
        n, pos = _avro_read_long(blob, pos)
        return blob[pos : pos + n].decode(), pos + n
    if typ == "boolean":
        return blob[pos] == 1, pos + 1
    raise ValueError(f"unsupported avro type {typ!r}")


def _avro_fields(schema_json: str) -> list[tuple[str, str]]:
    import json as _json

    schema = _json.loads(schema_json)
    if schema.get("type") != "record":
        raise ValueError("only record schemas are supported")
    fields = []
    for f in schema["fields"]:
        t = f["type"]
        if not isinstance(t, str):
            raise ValueError(
                f"unsupported complex type for field {f['name']!r}: {t!r}"
            )
        fields.append((f["name"], t))
    return fields


def avro_ocf_bytes(
    schema_json: str,
    rows: list[tuple],
    sync: bytes = b"\x00" * 16,
    rows_per_block: int = 1000,
) -> bytes:
    """A byte-deterministic Avro Object Container File (null codec):
    magic, metadata map (avro.schema + avro.codec), sync marker,
    then length-prefixed blocks each closed by the sync marker —
    fixed ``sync`` for reproducible shards, multiple blocks so the
    reader's block walk is genuinely exercised."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    fields = _avro_fields(schema_json)
    meta = {
        "avro.schema": schema_json.encode(),
        "avro.codec": b"null",
    }
    out = bytearray(_AVRO_MAGIC)
    out += _avro_zigzag(len(meta))
    for k in sorted(meta):
        kb = k.encode()
        out += _avro_zigzag(len(kb)) + kb
        out += _avro_zigzag(len(meta[k])) + meta[k]
    out += _avro_zigzag(0)  # end of metadata map
    out += sync
    for i in range(0, len(rows), rows_per_block):
        block = rows[i : i + rows_per_block]
        body = bytearray()
        for row in block:
            for v, (_n, t) in zip(row, fields):
                body += _avro_encode_value(v, t)
        out += _avro_zigzag(len(block))
        out += _avro_zigzag(len(body))
        out += body
        out += sync
    return bytes(out)


@_foreign_payload_guard
def parse_avro_ocf(blob: bytes) -> tuple[str, list[tuple]]:
    """Walk an OCF: validate magic, read the metadata map, require
    the null codec, then decode every block and VERIFY each block's
    trailing sync marker — a truncated or spliced block fails loudly,
    never yields silent partial rows.

    Carry-over contract: a blob cut exactly at a block boundary (right
    after the header's sync marker, or right after a block's) parses
    clean with the rows of the blocks before the cut. Such a blob
    cannot be told from a shorter file, which is a valid OCF. Every
    other cut raises."""
    if blob[:4] != _AVRO_MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _avro_read_long(blob, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative count precedes a byte size
            n = -n
            _, pos = _avro_read_long(blob, pos)
        for _ in range(n):
            kl, pos = _avro_read_long(blob, pos)
            k = blob[pos : pos + kl].decode()
            pos += kl
            vl, pos = _avro_read_long(blob, pos)
            meta[k] = blob[pos : pos + vl]
            pos += vl
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"unsupported avro codec {codec!r}")
    schema_json = meta["avro.schema"].decode()
    fields = _avro_fields(schema_json)
    sync = blob[pos : pos + 16]
    if len(sync) != 16:
        raise ValueError("avro header sync marker truncated")
    pos += 16
    rows: list[tuple] = []
    while pos < len(blob):
        count, pos = _avro_read_long(blob, pos)
        size, pos = _avro_read_long(blob, pos)
        end = pos + size
        for _ in range(count):
            vals = []
            for _name, t in fields:
                v, pos = _avro_decode_value(blob, pos, t)
                vals.append(v)
            rows.append(tuple(vals))
        if pos != end:
            raise ValueError(
                f"avro block decoded {pos - (end - size)} bytes, "
                f"stated {size}"
            )
        if blob[pos : pos + 16] != sync:
            raise ValueError("avro block sync marker mismatch")
        pos += 16
    return schema_json, rows


AVRO_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def decode_avro_events(df: DataFrame) -> DataFrame:
    """mapInPandas OCF explosion for the events record shape:
    (payload) → one row per record. Partition-local; payloads never
    shuffle — the same contract as every codec in this module."""
    return _explode(
        df,
        ["payload"],
        AVRO_EVENT_SCHEMA,
        lambda payload: parse_avro_ocf(bytes(payload))[1],
    )


# --- WARC shards (round 11) -------------------------------------------------
# The Web ARChive container (ISO 28500 / WARC 1.0, public spec;
# bigdata format of Common Crawl — the de-facto raw-input container
# for web-scale text curation). Served like every binary format in
# this module: deterministic writer + strict partition-local parser
# behind the mapInPandas codec boundary. Records here carry plain
# text/plain blocks (the spec leaves Content-Type free); the framing
# — version line, named headers, Content-Length block, CRLFCRLF
# record terminator — is the real thing and is what certifies.

_WARC_VERSION = b"WARC/1.0\r\n"
_WARC_DATE = "2024-01-01T00:00:00Z"  # fixed: reproducible shards

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("uri", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
    ]
)


def _warc_record_id(seed: str) -> str:
    h = hashlib.md5(seed.encode()).hexdigest()
    return (
        f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def _warc_record_bytes(
    warc_type: str, headers: list[tuple[str, str]], block: bytes
) -> bytes:
    """One serialized WARC/1.0 record: version line + named fields +
    CRLF + Content-Length block + CRLFCRLF."""
    out = bytearray()
    out.extend(_WARC_VERSION)
    all_headers = [("WARC-Type", warc_type)] + headers + [
        ("WARC-Date", _WARC_DATE),
        ("Content-Length", str(len(block))),
    ]
    for k, v in all_headers:
        out.extend(f"{k}: {v}\r\n".encode())
    out.extend(b"\r\n")
    out.extend(block)
    out.extend(b"\r\n\r\n")
    return bytes(out)


def _warc_shard_records(
    records: list[tuple[str, bytes]],
) -> list[bytes]:
    """The shard's record serializations in order: one warcinfo, then
    one response per (target-uri, payload) — shared by the plain and
    gzip-member writers so both layouts carry identical record
    bytes."""
    info = b"software: kafka-streams-pipeline-spark\r\n"
    recs = [
        _warc_record_bytes(
            "warcinfo",
            [
                ("WARC-Record-ID", _warc_record_id("warcinfo")),
                ("Content-Type", "application/warc-fields"),
            ],
            info,
        )
    ]
    for uri, payload in records:
        recs.append(
            _warc_record_bytes(
                "response",
                [
                    ("WARC-Target-URI", uri),
                    ("WARC-Record-ID", _warc_record_id(uri)),
                    ("Content-Type", "text/plain"),
                ],
                payload,
            )
        )
    return recs


def build_warc_shard(records: list[tuple[str, bytes]]) -> bytes:
    """Byte-deterministic WARC/1.0 shard: one warcinfo record, then
    one response record per (target-uri, payload). Record ids derive
    from the uri (md5-as-uuid), date is fixed — identical inputs
    always produce identical shard bytes (reproducible shards =
    dedupable shards, same rule as the tar writer)."""
    return b"".join(_warc_shard_records(records))


def build_warc_gz_shard(records: list[tuple[str, bytes]]) -> bytes:
    """The compressed Common Crawl layout (.warc.gz): each WARC
    record compressed as an INDEPENDENT gzip member (mtime 0, fixed
    level — byte-deterministic), members concatenated. Per-record
    members are what make web-scale WARC splittable/seekable: a
    reader can start at any member boundary without inflating the
    prefix, and record offsets in an index (CDX) address members
    directly. Concatenation invariant: gunzip of the whole shard is
    bit-identical to :func:`build_warc_shard` of the same records
    (pinned in pytest)."""
    return b"".join(
        gzip.compress(rec, compresslevel=9, mtime=0)
        for rec in _warc_shard_records(records)
    )


@_foreign_payload_guard
def parse_warc_records(blob: bytes) -> list[tuple[str, str, bytes]]:
    """Strict WARC walk → [(warc_type, target_uri, block)]. Each
    record must open with the exact version line, carry a parseable
    Content-Length, and terminate with CRLFCRLF after exactly that
    many block bytes — any violation raises instead of yielding a
    silently truncated corpus (the same fail-loud contract as the
    tar checksum).

    Carry-over contract: a blob cut exactly at a record boundary
    (right after a record's CRLFCRLF) parses clean with the records
    before the cut. Such a blob cannot be told from a shorter shard,
    which is a valid WARC file. Every other cut raises."""
    records: list[tuple[str, str, bytes]] = []
    off = 0
    n = len(blob)
    while off < n:
        if not blob.startswith(_WARC_VERSION, off):
            raise ValueError(
                f"WARC version line missing at offset {off}"
            )
        off += len(_WARC_VERSION)
        headers: dict[str, str] = {}
        while True:
            end = blob.find(b"\r\n", off)
            if end < 0:
                raise ValueError("unterminated WARC header block")
            line = blob[off:end]
            off = end + 2
            if not line:
                break
            k, _, v = line.partition(b":")
            headers[k.strip().decode().lower()] = v.strip().decode()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record without valid Content-Length")
        block = blob[off : off + length]
        if len(block) != length:
            raise ValueError("WARC block truncated")
        off += length
        if blob[off : off + 4] != b"\r\n\r\n":
            raise ValueError(
                f"WARC record terminator missing at offset {off}"
            )
        off += 4
        records.append(
            (
                headers.get("warc-type", ""),
                headers.get("warc-target-uri", ""),
                block,
            )
        )
    return records


def _warc_gz_members(
    blob: bytes,
) -> Iterator[tuple[int, int, int, bytes]]:
    """Strict gzip-member walk → (member_idx, byte_offset,
    byte_length, inflated). A missing gzip magic, a truncated member
    (no BFINAL/CRC trailer), or corrupt deflate data raises — the
    same fail-loud contract as the plain walker, applied at the
    member layer."""
    off = 0
    n = len(blob)
    member_idx = 0
    while off < n:
        if blob[off : off + 2] != b"\x1f\x8b":
            raise ValueError(
                f"gzip member magic missing at offset {off}"
            )
        d = zlib.decompressobj(wbits=31)
        try:
            inflated = d.decompress(blob[off:])
        except zlib.error as e:
            raise ValueError(
                f"corrupt gzip member at offset {off}: {e}"
            ) from e
        if not d.eof:
            raise ValueError(
                f"truncated gzip member at offset {off}"
            )
        end = n - len(d.unused_data)
        yield member_idx, off, end - off, inflated
        off = end
        member_idx += 1


@_foreign_payload_guard
def parse_warc_gz_records(
    blob: bytes,
) -> list[tuple[int, str, str, bytes]]:
    """Strict gzip-member WARC walk →
    [(member_idx, warc_type, target_uri, block)]. Per the Common
    Crawl layout each gzip member must inflate to EXACTLY ONE WARC
    record; member-layer violations raise in
    :func:`_warc_gz_members`, zero/multiple records per member
    raise here."""
    out: list[tuple[int, str, str, bytes]] = []
    for member_idx, _off, _length, inflated in _warc_gz_members(blob):
        recs = parse_warc_records(inflated)
        if len(recs) != 1:
            raise ValueError(
                f"gzip member {member_idx} holds {len(recs)} WARC "
                "records; the .warc.gz layout requires exactly one "
                "per member"
            )
        wtype, uri, block = recs[0]
        out.append((member_idx, wtype, uri, block))
    return out


WARC_GZ_RECORD_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("member_idx", LongType()),
        StructField("uri", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
    ]
)


def unwarc_gz_records(df: DataFrame) -> DataFrame:
    """mapInPandas shard explosion for .warc.gz: (shard_id, payload)
    → one row per RESPONSE record with its gzip MEMBER INDEX, target
    uri, block byte length, and block md5 (warcinfo members are
    consumed and skipped, but still advance the member index — the
    emitted member_idx is the record's physical position in the
    member chain, what a CDX index would address). Payloads never
    shuffle — partition-local codec boundary."""

    def rows_of(shard_id, payload):
        for midx, wtype, uri, block in parse_warc_gz_records(bytes(payload)):
            if wtype == "response":
                yield (
                    int(shard_id), midx, uri, len(block),
                    hashlib.md5(block).hexdigest(),
                )

    return _explode(df, ["shard_id", "payload"], WARC_GZ_RECORD_SCHEMA, rows_of)


WARC_CDX_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("member_idx", LongType()),
        StructField("uri", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("seek_ok", BooleanType()),
    ]
)


def warc_gz_cdx(df: DataFrame) -> DataFrame:
    """CDX-style random-access index over .warc.gz shards — the
    Common Crawl access pattern: a CDX row's (offset, length)
    addresses one gzip member, so a reader fetches and inflates a
    single record without touching the rest of the shard (HTTP range
    requests at web scale). Per RESPONSE record: shard, member
    index, uri, block length, block md5, and ``seek_ok`` — the index
    entry VERIFIED by actually re-slicing payload[offset:offset+len],
    inflating that slice alone, and md5-matching its block against
    the full-walk record (an index pointing at the wrong byte range
    flips the bit). Offsets themselves are not oracle-expressible
    (DuckDB cannot gzip), which is exactly why the round-trip proof
    is part of the certified row. Payloads never shuffle."""

    def rows_of(shard_id, payload):
        blob = bytes(payload)
        for midx, off, length, inflated in _warc_gz_members(blob):
            recs = parse_warc_records(inflated)
            if len(recs) != 1:
                raise ValueError(f"member {midx}: {len(recs)} records")
            wtype, uri, block = recs[0]
            if wtype != "response":
                continue
            # the seek: inflate ONLY the indexed byte range
            d = zlib.decompressobj(wbits=31)
            seek_block = parse_warc_records(d.decompress(blob[off : off + length]))
            seek_ok = (
                d.eof
                and not d.unused_data
                and len(seek_block) == 1
                and seek_block[0][2] == block
            )
            yield (
                int(shard_id), midx, uri, len(block),
                hashlib.md5(block).hexdigest(), bool(seek_ok),
            )

    return _explode(df, ["shard_id", "payload"], WARC_CDX_SCHEMA, rows_of)


def unwarc_records(df: DataFrame) -> DataFrame:
    """mapInPandas shard explosion: (shard_id, payload) → one row per
    RESPONSE record with its target uri, block byte length, and
    block md5 (warcinfo records are consumed and skipped). Payloads
    never shuffle — partition-local codec boundary."""

    def rows_of(shard_id, payload):
        for wtype, uri, block in parse_warc_records(bytes(payload)):
            if wtype == "response":
                yield int(shard_id), uri, len(block), hashlib.md5(block).hexdigest()

    return _explode(df, ["shard_id", "payload"], WARC_RECORD_SCHEMA, rows_of)


# --- ZIP shards (round 11) ---------------------------------------------------
# PKZIP container (APPNOTE.TXT, public spec) — the other shard format
# training corpora arrive in. Writer emits STORED (method 0) entries
# with fixed DOS timestamps so identical members always produce
# identical shard bytes; the parser walks the central directory (the
# authoritative index per spec), supports STORED and DEFLATE (raw
# zlib, window -15) entries, and verifies each member's CRC-32 —
# corruption raises, never a silently partial shard. Externally
# anchored both directions against Python's stdlib zipfile in pytest.

_ZIP_LOCAL_SIG = b"PK\x03\x04"
_ZIP_CDIR_SIG = b"PK\x01\x02"
_ZIP_EOCD_SIG = b"PK\x05\x06"
# fixed DOS date: 2024-01-01, time 00:00:00 (reproducible shards)
_ZIP_DOS_DATE = ((2024 - 1980) << 9) | (1 << 5) | 1
_ZIP_DOS_TIME = 0


def build_zip_shard(members: list[tuple[str, bytes]]) -> bytes:
    """Byte-deterministic ZIP: one STORED local-header entry per
    member, central directory, EOCD. CRC-32 per member; fixed
    timestamps; no data descriptors, no zip64 (shards here are
    bounded well below 4 GiB — a size guard raises rather than
    silently truncating offsets)."""
    import struct
    import zlib as _z

    out = bytearray()
    central = bytearray()
    for name, payload in members:
        nb = name.encode()
        crc = _z.crc32(payload) & 0xFFFFFFFF
        offset = len(out)
        if offset > 0xFFFF_FFFF or len(payload) > 0xFFFF_FFFF:
            raise ValueError("shard exceeds zip32 bounds")
        local = struct.pack(
            "<4sHHHHHIIIHH",
            _ZIP_LOCAL_SIG,
            20,  # version needed
            0,   # flags
            0,   # method: stored
            _ZIP_DOS_TIME,
            _ZIP_DOS_DATE,
            crc,
            len(payload),
            len(payload),
            len(nb),
            0,
        )
        out += local + nb + payload
        central += struct.pack(
            "<4sHHHHHHIIIHHHHHII",
            _ZIP_CDIR_SIG,
            20,  # version made by
            20,  # version needed
            0,
            0,
            _ZIP_DOS_TIME,
            _ZIP_DOS_DATE,
            crc,
            len(payload),
            len(payload),
            len(nb),
            0,
            0,
            0,
            0,
            0,
            offset,
        ) + nb
    cdir_off = len(out)
    out += central
    import struct as _s

    out += _s.pack(
        "<4sHHHHIIH",
        _ZIP_EOCD_SIG,
        0,
        0,
        len(members),
        len(members),
        len(central),
        cdir_off,
        0,
    )
    return bytes(out)


@_foreign_payload_guard
def parse_zip_members(blob: bytes) -> list[tuple[str, bytes]]:
    """Central-directory walk (the spec's authoritative index) →
    [(name, payload)]. STORED and DEFLATE entries supported; every
    member's CRC-32 is verified against the directory record — a
    mismatch, a bad signature, or a truncated block raises."""
    import struct
    import zlib as _z

    eocd_at = blob.rfind(_ZIP_EOCD_SIG)
    if eocd_at < 0 or eocd_at + 22 > len(blob):
        raise ValueError("zip EOCD record not found or truncated")
    (_, _, _, n_here, n_total, cdir_len, cdir_off, _) = struct.unpack(
        "<4sHHHHIIH", blob[eocd_at : eocd_at + 22]
    )
    members: list[tuple[str, bytes]] = []
    off = cdir_off
    for _i in range(n_total):
        if blob[off : off + 4] != _ZIP_CDIR_SIG:
            raise ValueError(f"zip central-dir signature missing at {off}")
        (
            _sig, _vmade, _vneed, _flags, method, _t, _d, crc,
            csize, usize, nlen, xlen, clen, _dn, _ia, _ea, loff,
        ) = struct.unpack("<4sHHHHHHIIIHHHHHII", blob[off : off + 46])
        name = blob[off + 46 : off + 46 + nlen].decode()
        off += 46 + nlen + xlen + clen
        if blob[loff : loff + 4] != _ZIP_LOCAL_SIG:
            raise ValueError(f"zip local signature missing at {loff}")
        (lnlen, lxlen) = struct.unpack("<HH", blob[loff + 26 : loff + 30])
        data_at = loff + 30 + lnlen + lxlen
        raw = blob[data_at : data_at + csize]
        if len(raw) != csize:
            raise ValueError("zip member truncated")
        if method == 0:
            payload = raw
        elif method == 8:
            payload = _z.decompress(raw, -15)
        else:
            raise ValueError(f"unsupported zip method {method}")
        if (_z.crc32(payload) & 0xFFFFFFFF) != crc:
            raise ValueError(f"zip CRC mismatch for member {name!r}")
        members.append((name, payload))
    return members


def unzip_members(df: DataFrame) -> DataFrame:
    """mapInPandas shard explosion: (shard_id, payload) → one row per
    member with name, byte length, payload md5 — the same summary
    contract as untar_members; payloads never shuffle."""
    return _explode(
        df, ["shard_id", "payload"], TAR_MEMBER_SCHEMA, _member_rows(parse_zip_members)
    )

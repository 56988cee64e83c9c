"""Multimodal column plumbing: opaque binary content + typed metadata.

Pattern for image/audio/video at 100 TB: store the raw media as a
``binary`` column beside a typed metadata struct, keep ALL filtering /
routing / dedup on the metadata (Catalyst, pushdown-able), and cross
the Python boundary only for per-item decode/feature-extraction —
as Arrow-batched ``mapInPandas``, never row-at-a-time.

Two decode tiers:

- ``decode_image`` / ``decode_audio`` are REAL pure-numpy decoders for
  two self-describing uncompressed formats — binary PPM (P6) and
  RIFF/WAVE PCM16. They parse actual headers and payload bytes (magic,
  dimensions, chunk walk, ``np.frombuffer``), no image/audio libs
  needed. ``media_decode`` runs them over an Arrow-batched
  ``mapInPandas`` stage and is differentially tested: the fixture
  synthesizes real PPM/WAV blobs from a closed-form byte formula, and
  the DuckDB oracle recomputes the decoded statistics from that formula
  — a wrong header offset or endianness flips the gate red.
- Compressed images decode for real on the stdlib and numpy alone:
  ``decode_png``, baseline grayscale ``decode_jpeg`` and 4:2:0
  ``decode_jpeg_color``. Anything outside that scope (progressive,
  restarts, FLAC/H.264) raises NotImplementedError rather than
  fabricate output.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kafka_filter_transform_spark.operators import params

try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False

FEATURE_SCHEMA = (
    "doc_id BIGINT, byte_len BIGINT, content_md5 STRING, first_byte INT, n_frames BIGINT"
)


def to_multimodal(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, content: binary, meta: struct).

    Stands in for an image/audio table: text bytes play the raw media
    blob; the metadata struct is what real pipelines filter on."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def decode_image(content: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a binary PPM (P6) image — real decoder, pure numpy.

    Parses the NetPBM header (magic, whitespace/comment-tolerant
    width/height/maxval tokens) and returns
    ``(width, height, maxval, pixels)`` with ``pixels`` shaped
    ``(height, width, 3)`` uint8. Raises ``ValueError`` on a non-P6
    magic, malformed header, or short payload — corrupt media must
    fail loudly, not produce garbage pixels.
    """
    if content[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic={content[:2]!r})")
    # header: three ASCII ints separated by whitespace; '#' starts a
    # comment running to end-of-line; ONE whitespace byte ends the
    # header and the raster follows immediately.
    tokens: list[int] = []
    pos = 2
    while len(tokens) < 3:
        if pos >= len(content):
            raise ValueError("truncated PPM header")
        c = content[pos : pos + 1]
        if c == b"#":
            pos = content.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(content) and not content[end : end + 1].isspace():
                end += 1
            tokens.append(int(content[pos:end]))
            pos = end
    pos += 1  # the single whitespace byte after maxval
    width, height, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    n = width * height * 3
    raster = content[pos : pos + n]
    if len(raster) < n:
        raise ValueError(f"short PPM raster: {len(raster)} < {n}")
    return width, height, maxval, np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)


def decode_audio(content: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a RIFF/WAVE PCM16 file — real decoder, struct + numpy.

    Walks the RIFF chunk list (not fixed offsets — real WAVs carry
    LIST/fact chunks before data), reads the fmt chunk, and returns
    ``(sample_rate, n_channels, samples)`` with ``samples`` shaped
    ``(n_frames, n_channels)`` int16. Raises ``ValueError`` on bad
    magic, non-PCM16 encodings, or a missing fmt/data chunk.
    """
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE file (magic={content[:4]!r})")
    fmt = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        # Declared sizes are untrusted input: a size past end-of-file
        # would silently truncate the body (short fmt -> struct.error,
        # short data -> fewer samples than declared). Fail loudly.
        if pos + 8 + size > len(content):
            raise ValueError(
                f"truncated {cid!r} chunk: declares {size} bytes, "
                f"only {len(content) - pos - 8} remain"
            )
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too short: {size} < 16 bytes")
            audio_fmt, n_channels, sample_rate, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (fmt={audio_fmt}, bits={bits})")
            fmt = (sample_rate, n_channels)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            sample_rate, n_channels = fmt
            samples = np.frombuffer(body[: size - size % (2 * n_channels)], dtype="<i2")
            return sample_rate, n_channels, samples.reshape(-1, n_channels)
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    raise ValueError("no data chunk found")


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(content: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode an 8-bit truecolor PNG (color type 2 = RGB, 6 = RGBA) —
    a REAL compressed-format decoder on the stdlib alone: zlib inflate
    of the concatenated IDAT stream, then per-scanline unfiltering
    (None/Sub/Up/Average/Paeth) in numpy. Returns
    ``(width, height, n_channels, pixels)`` with ``pixels`` shaped
    ``(height, width, n_channels)`` uint8.

    Raises ``ValueError`` on bad signature, truncated chunks (declared
    sizes are untrusted — same contract as ``decode_audio``), CRC
    mismatch, unsupported bit depth / color type / interlacing, an
    unknown filter byte, or an inflate payload whose size disagrees
    with the header geometry. Corrupt media fails loudly.
    """
    import zlib

    if content[:8] != PNG_SIG:
        raise ValueError(f"not a PNG (signature={content[:8]!r})")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        if pos + 12 + length > len(content):
            raise ValueError(
                f"truncated {ctype!r} chunk: declares {length} bytes, "
                f"only {len(content) - pos - 12} remain"
            )
        data = content[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", content[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or color not in (2, 6):
                raise ValueError(f"only 8-bit RGB/RGBA supported (depth={depth}, color={color})")
            if comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("unsupported compression/filter/interlace method")
            ihdr = (w, h, 3 if color == 2 else 4)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("no IHDR chunk found")
    if not idat:
        raise ValueError("no IDAT chunk found")
    w, h, c = ihdr
    raw = zlib.decompress(bytes(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError(f"inflated size {len(raw)} != {h}*({stride}+1)")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.int64)
    for y in range(h):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.int64)
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int64)
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = (line + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            for i in range(stride):
                a = out[y, i - c] if i >= c else 0  # left
                b = prev[i]  # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    cc = prev[i - c] if i >= c else 0  # up-left
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out[y, i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype} on row {y}")
    return w, h, c, out.astype(np.uint8).reshape(h, w, c)


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, c) uint8 array as a real PNG, cycling the filter
    type ``row % 5`` per scanline so every decoder filter branch
    (None/Sub/Up/Average/Paeth) is exercised by round-trip fixtures.
    Stdlib zlib deflate + CRC; no imaging libs."""
    import zlib

    h, w, c = pixels.shape
    color = {3: 2, 4: 6}[c]
    px = pixels.astype(np.int64)
    flat = px.reshape(h, w * c)
    stride = w * c
    raw = bytearray()
    for y in range(h):
        ftype = y % 5
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int64)
        left = np.concatenate([np.zeros(c, dtype=np.int64), line[:-c]])
        upleft = np.concatenate([np.zeros(c, dtype=np.int64), prev[:-c]])
        if ftype == 0:
            enc = line
        elif ftype == 1:
            enc = line - left
        elif ftype == 2:
            enc = line - prev
        elif ftype == 3:
            enc = line - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = line - pred
        raw.append(ftype)
        raw += (enc % 256).astype(np.uint8).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _featurize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic byte-level features per Arrow batch.

    Stands in for decode+embed; md5 via hashlib matches the SQL
    oracle's md5(text) because content IS the UTF-8 encoding."""
    import hashlib

    for pdf in batches:
        content = pdf["content"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": content.map(len).astype("int64"),
                "content_md5": content.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                "first_byte": content.map(lambda b: b[0] if len(b) else None).astype("int32"),
                "n_frames": content.map(lambda b: len(b) // params.FRAME_BYTES + 1).astype("int64"),
            }
        )


def extract_features(mm: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas`` streams ~10k-row Arrow batches through Python —
    the only sanctioned Python hot path in the engine. Partitioning is
    preserved (no shuffle); at scale this is a map-only stage whose
    cost is decode CPU, which is exactly where it belongs."""
    return mm.select("doc_id", "content").mapInPandas(_featurize_batches, FEATURE_SCHEMA)


def multimodal_features(docs: DataFrame) -> DataFrame:
    """documents -> binary table -> per-item features (the full path)."""
    return extract_features(to_multimodal(docs))


FRAME_SCHEMA = "doc_id BIGINT, frame_idx BIGINT, frame_len BIGINT, frame_md5 STRING"
FRAME_STRIDE = 2  # sample every other frame


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Explode each blob into strided fixed-size frames (video
    frame-sampling shape: 1 row in, k rows out, deterministic)."""
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_len": [], "frame_md5": []}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            b = bytes(content)
            n_frames = len(b) // params.FRAME_BYTES + 1
            for idx in range(0, n_frames, FRAME_STRIDE):
                frame = b[idx * params.FRAME_BYTES : (idx + 1) * params.FRAME_BYTES]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["frame_len"].append(len(frame))
                out["frame_md5"].append(hashlib.md5(frame).hexdigest())
        yield pd.DataFrame(out)


def frame_sample(mm: DataFrame) -> DataFrame:
    """Strided frame sampling over the binary column via mapInPandas —
    the row-exploding UDF shape (decode would replace the byte slicing;
    everything else, including the 1->k fan-out through Arrow, is the
    real production plumbing)."""
    return mm.select("doc_id", "content").mapInPandas(_frame_sample_batches, FRAME_SCHEMA)


def frame_sample_from_docs(docs: DataFrame) -> DataFrame:
    return frame_sample(to_multimodal(docs))


# ---------------------------------------------------------------------------
# Real media decode path: synthesize genuine PPM/WAV blobs (no codec
# libs needed for uncompressed formats), decode them for real, and
# reduce to integer-exact statistics the DuckDB oracle can recompute
# from the closed-form byte formula. A decoder bug (wrong header
# offset, endianness, channel layout) changes the stats -> gate reds.
# ---------------------------------------------------------------------------

# Closed-form synthesis parameters — mirrored verbatim in
# oracles.media_decode_oracle; change both together.
PPM_W_BASE, PPM_W_MOD = 4, 5  # width  = 4 + doc_id % 5
PPM_H_BASE, PPM_H_MOD = 3, 4  # height = 3 + doc_id % 4
PPM_PIX_A, PPM_PIX_B = 31, 7  # byte i = (doc_id*31 + i*7) % 256
WAV_N_BASE, WAV_N_MOD = 50, 20  # n_samples = 50 + doc_id % 20
WAV_RATE = 8000  # 1 sample = 125 us exactly
WAV_SAMP_A, WAV_SAMP_B = 7919, 104729  # s_i = (id*7919 + i*104729) % 65536 - 32768


def _synth_ppm(doc_id: int) -> bytes:
    w = PPM_W_BASE + doc_id % PPM_W_MOD
    h = PPM_H_BASE + doc_id % PPM_H_MOD
    i = np.arange(w * h * 3, dtype=np.int64)
    raster = ((doc_id * PPM_PIX_A + i * PPM_PIX_B) % 256).astype(np.uint8)
    return b"P6\n# synthetic\n%d %d\n255\n" % (w, h) + raster.tobytes()


def _synth_wav(doc_id: int) -> bytes:
    n = WAV_N_BASE + doc_id % WAV_N_MOD
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * WAV_SAMP_A + i * WAV_SAMP_B) % 65536 - 32768).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _synth_media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "content": [
                    _synth_ppm(int(d)) if d % 2 == 0 else _synth_wav(int(d)) for d in ids
                ],
            }
        )


def synth_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, content: binary) with real PPM/WAV payloads.

    Map-only (mapInPandas, no shuffle); stands in for reading a media
    lakehouse table whose blobs were ingested as-is."""
    return docs.select("doc_id").mapInPandas(
        _synth_media_batches, "doc_id BIGINT, content BINARY"
    )


MEDIA_SCHEMA = (
    "doc_id BIGINT, kind STRING, width INT, height INT, n_channels INT, "
    "sample_rate INT, n_units BIGINT, sum_abs BIGINT, peak INT, duration_us BIGINT"
)


def _decode_media_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Dispatch on the blob's OWN magic bytes (not trusted metadata) and
    decode for real; reduce each item to integer-exact stats."""
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "kind", "width", "height", "n_channels",
            "sample_rate", "n_units", "sum_abs", "peak", "duration_us",
        )}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            b = bytes(content)
            if b[:2] == b"P6":
                w, h, _maxval, pixels = decode_image(b)
                flat = pixels.astype(np.int64)
                row = ("ppm", w, h, 3, None, w * h, int(flat.sum()), int(flat.max()), None)
            else:
                rate, nch, samples = decode_audio(b)
                mag = np.abs(samples.astype(np.int64))
                row = (
                    "wav", None, None, nch, rate, samples.shape[0],
                    int(mag.sum()), int(mag.max()),
                    samples.shape[0] * 1_000_000 // rate,
                )
            out["doc_id"].append(doc_id)
            for k, v in zip(
                ("kind", "width", "height", "n_channels", "sample_rate",
                 "n_units", "sum_abs", "peak", "duration_us"), row,
            ):
                out[k].append(v)
        yield pd.DataFrame(
            {
                "doc_id": out["doc_id"],
                "kind": out["kind"],
                "width": pd.array(out["width"], dtype="Int32"),
                "height": pd.array(out["height"], dtype="Int32"),
                "n_channels": pd.array(out["n_channels"], dtype="Int32"),
                "sample_rate": pd.array(out["sample_rate"], dtype="Int32"),
                "n_units": pd.array(out["n_units"], dtype="Int64"),
                "sum_abs": pd.array(out["sum_abs"], dtype="Int64"),
                "peak": pd.array(out["peak"], dtype="Int32"),
                "duration_us": pd.array(out["duration_us"], dtype="Int64"),
            }
        )


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched real decode over (doc_id, content) — map-only; at
    scale the cost is decode CPU inside executors, exactly where it
    belongs."""
    return media.select("doc_id", "content").mapInPandas(_decode_media_batches, MEDIA_SCHEMA)


def media_decode(docs: DataFrame) -> DataFrame:
    """documents -> synthetic real PPM/WAV blobs -> decoded stats."""
    return decode_media(synth_media(docs))


# ---------------------------------------------------------------------------
# PNG decode path: same closed-form scheme as media_decode, but the
# blobs are REAL compressed PNGs (deflate + per-row filters), so the
# gate covers inflate + unfilter arithmetic, not just header walks.
# Constants mirrored verbatim in oracles.png_decode_oracle.
# ---------------------------------------------------------------------------

PNG_W_BASE, PNG_W_MOD = 5, 4  # width  = 5 + doc_id % 4
PNG_H_BASE, PNG_H_MOD = 4, 3  # height = 4 + doc_id % 3
PNG_RGBA_MOD = 3  # doc_id % 3 == 0 -> RGBA, else RGB
PNG_PIX_A, PNG_PIX_B = 53, 11  # byte i = (doc_id*53 + i*11) % 256


def _synth_png(doc_id: int) -> bytes:
    w = PNG_W_BASE + doc_id % PNG_W_MOD
    h = PNG_H_BASE + doc_id % PNG_H_MOD
    c = 4 if doc_id % PNG_RGBA_MOD == 0 else 3
    i = np.arange(w * h * c, dtype=np.int64)
    pixels = ((doc_id * PNG_PIX_A + i * PNG_PIX_B) % 256).astype(np.uint8)
    return encode_png(pixels.reshape(h, w, c))


def _synth_png_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {"doc_id": ids, "content": [_synth_png(int(d)) for d in ids]}
        )


PNG_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, n_channels INT, "
    "pix_sum BIGINT, pix_max INT, chan0_sum BIGINT"
)


def _decode_png_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "width", "height", "n_channels", "pix_sum", "pix_max", "chan0_sum",
        )}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            w, h, c, pixels = decode_png(bytes(content))
            flat = pixels.astype(np.int64)
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["n_channels"].append(c)
            out["pix_sum"].append(int(flat.sum()))
            out["pix_max"].append(int(flat.max()))
            out["chan0_sum"].append(int(flat[:, :, 0].sum()))
        yield pd.DataFrame(
            {
                "doc_id": out["doc_id"],
                "width": pd.array(out["width"], dtype="Int32"),
                "height": pd.array(out["height"], dtype="Int32"),
                "n_channels": pd.array(out["n_channels"], dtype="Int32"),
                "pix_sum": pd.array(out["pix_sum"], dtype="Int64"),
                "pix_max": pd.array(out["pix_max"], dtype="Int32"),
                "chan0_sum": pd.array(out["chan0_sum"], dtype="Int64"),
            }
        )


def png_decode(docs: DataFrame) -> DataFrame:
    """documents -> real compressed PNG blobs (deflate, filters cycling
    None/Sub/Up/Average/Paeth per row) -> real decode -> integer-exact
    stats. Two map-only Arrow stages, no shuffle; at 100 TB the inflate
    + unfilter CPU lands in executors. The DuckDB oracle recomputes the
    stats from the pixel formula — a wrong filter inverse, CRC slip, or
    channel-order bug reds the gate."""
    media = docs.select("doc_id").mapInPandas(
        _synth_png_batches, "doc_id BIGINT, content BINARY"
    )
    return media.mapInPandas(_decode_png_batches, PNG_SCHEMA)


# ---------------------------------------------------------------------------
# Resize: decode -> nearest-neighbor downsample -> per-channel stats.
# Real resize arithmetic on real decoded pixels; the index mapping is
# closed-form, so the DuckDB oracle can recompute the resized image's
# statistics without any imaging code.
# ---------------------------------------------------------------------------

RESIZE_W, RESIZE_H = 4, 3


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, c) uint8 image: output
    pixel (i, j) samples input (floor(i*h/out_h), floor(j*w/out_w)) —
    the standard pick-top-left convention. Pure numpy fancy indexing;
    no interpolation, so the result is integer-exact and
    formula-checkable."""
    h, w = pixels.shape[:2]
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return pixels[rows[:, None], cols[None, :]]


RESIZE_SCHEMA = (
    "doc_id BIGINT, out_w INT, out_h INT, r_sum BIGINT, g_sum BIGINT, b_sum BIGINT"
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "out_w", "out_h", "r_sum", "g_sum", "b_sum",
        )}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            _w, _h, _maxval, pixels = decode_image(bytes(content))
            small = resize_nearest(pixels, RESIZE_W, RESIZE_H)
            sums = small.astype(np.int64).sum(axis=(0, 1))
            out["doc_id"].append(doc_id)
            out["out_w"].append(RESIZE_W)
            out["out_h"].append(RESIZE_H)
            out["r_sum"].append(int(sums[0]))
            out["g_sum"].append(int(sums[1]))
            out["b_sum"].append(int(sums[2]))
        yield pd.DataFrame(out)


def media_resize(docs: DataFrame) -> DataFrame:
    """Image half of the media fixture -> real decode -> real
    nearest-neighbor resize -> integer-exact per-channel sums. Map-only
    Arrow stage; at scale the cost is resize CPU in executors."""
    media = synth_media(docs.filter(F.col("doc_id") % 2 == 0))
    return media.mapInPandas(_resize_batches, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Baseline JPEG: the last compressed codec (VERDICT r4 #9). A real
# stdlib+numpy decoder — marker parse, canonical Huffman entropy
# decode (generic DHT), dequantize, zigzag, float IDCT — plus the
# minimal deterministic encoder the fixture needs. Grayscale baseline
# (SOF0, one component, no subsampling, no restarts); anything else
# raises NotImplementedError.
# ---------------------------------------------------------------------------

_ZIGZAG = [
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU-T T.81 Annex K.3 luminance Huffman specs: (BITS counts per code
# length 1..16, HUFFVAL symbols).
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via T.81 canonical code construction."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _idct_matrix() -> np.ndarray:
    """M[u, x] = C(u)/2 * cos((2x+1) u pi / 16) — JPEG's FDCT is
    F = M f M^T, so the decoder computes f = M^T F M."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] /= np.sqrt(2.0)
    return m


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self._n -= 8

    def flush(self) -> bytes:
        if self._n:
            self.write(0x7F, 8 - self._n)  # pad with 1s per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:  # destuff
                assert self.data[self.pos] == 0x00, "marker inside entropy data"
                self.pos += 1
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``size``-bit amplitude to signed value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - ((1 << size) - 1)


def decode_jpeg(content: bytes) -> tuple[int, int, np.ndarray]:
    """Baseline grayscale JPEG -> (width, height, uint8[h, w]).

    Real decode path: marker walk (DQT/DHT parsed generically, multiple
    tables supported), canonical Huffman entropy decode with byte
    destuffing, DC prediction, run-length AC with EOB/ZRL, dequantize,
    inverse zigzag, float IDCT (separable matrix form), level shift,
    clamp. Scope gate: SOF0, 8-bit, exactly one component, no restart
    intervals — everything else raises NotImplementedError."""
    assert content[:2] == b"\xff\xd8", "not a JPEG (no SOI)"
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = -1
    comp_q = 0
    scan: bytes | None = None
    while pos < len(content):
        assert content[pos] == 0xFF, "bad marker alignment"
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(content[pos : pos + 2], "big")
        seg = content[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            s = 0
            while s < len(seg):
                prec, tid = seg[s] >> 4, seg[s] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg[s + 1 : s + 65], dtype=np.uint8)
                q = np.zeros(64, dtype=np.int32)
                q[_ZIGZAG] = zz
                qtables[tid] = q.reshape(8, 8)
                s += 65
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                cls, tid = seg[s] >> 4, seg[s] & 0x0F
                bits = list(seg[s + 1 : s + 17])
                nvals = sum(bits)
                vals = list(seg[s + 17 : s + 17 + nvals])
                huff[(cls, tid)] = {
                    (code, length): sym
                    for sym, (code, length) in _huffman_codes(bits, vals).items()
                }
                s += 17 + nvals
        elif marker == 0xC0:  # SOF0 baseline
            if seg[0] != 8:
                raise NotImplementedError("non-8-bit precision")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if ncomp != 1:
                raise NotImplementedError("only single-component (grayscale)")
            if seg[7] != 0x11:
                raise NotImplementedError("subsampling")
            comp_q = seg[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("non-baseline SOF")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals")
        elif marker == 0xDA:  # SOS: header then entropy data to EOI
            dc_id, ac_id = seg[2] >> 4, seg[2] & 0x0F
            scan = content[pos + seg_len : content.rfind(b"\xff\xd9")]
            dc_tab, ac_tab = huff[(0, dc_id)], huff[(1, ac_id)]
            break
        pos += seg_len
    assert scan is not None and w > 0, "truncated JPEG"

    def read_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | r.read_bit()
            length += 1
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid Huffman code")

    q = qtables[comp_q].astype(np.float64)
    m = _idct_matrix()
    bw, bh = (w + 7) // 8, (h + 7) // 8
    img = np.zeros((bh * 8, bw * 8), dtype=np.float64)
    r = _BitReader(scan)
    pred = 0
    for by in range(bh):
        for bx in range(bw):
            zz = np.zeros(64, dtype=np.float64)
            size = read_symbol(r, dc_tab)
            pred += _extend(r.read_bits(size), size)
            zz[0] = pred
            k = 1
            while k < 64:
                sym = read_symbol(r, ac_tab)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL: 16 zeros
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0x0F
                k += run
                zz[k] = _extend(r.read_bits(size), size)
                k += 1
            blk = np.zeros(64, dtype=np.float64)
            blk[_ZIGZAG] = zz
            f = m.T @ (blk.reshape(8, 8) * q) @ m + 128.0
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = f
    out = np.clip(np.floor(img + 0.5), 0, 255).astype(np.uint8)
    return w, h, out[:h, :w]


def encode_jpeg_blocks(
    w: int,
    h: int,
    dc_values: list[int],
    q: int = 16,
    ac_extras: list[tuple[int, int, int]] | None = None,
) -> bytes:
    """Minimal deterministic baseline encoder for the fixture: each
    8x8 block is UNIFORM ``dc_values[b]`` (raster order), so only the
    DC coefficient is nonzero — quantized as floor(8*(v-128)/q + 0.5),
    DC-predicted, Annex-K Huffman coded, EOB-terminated. ``ac_extras``
    optionally injects one already-quantized AC coefficient
    (zigzag_index, amplitude) per block (index aligned with dc_values)
    to exercise the decoder's run-length path in unit tests."""
    assert w % 8 == 0 and h % 8 == 0 and len(dc_values) == (w // 8) * (h // 8)
    dc_codes = _huffman_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_codes = _huffman_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    bw = _BitWriter()
    pred = 0
    for b, v in enumerate(dc_values):
        qc = int(np.floor(8.0 * (v - 128) / q + 0.5))
        diff = qc - pred
        pred = qc
        size = int(diff != 0 and abs(diff).bit_length() or 0)
        code, length = dc_codes[size]
        bw.write(code, length)
        if size:
            amp = diff if diff >= 0 else diff + (1 << size) - 1
            bw.write(amp, size)
        extra = ac_extras[b] if ac_extras else None
        if extra is not None:
            zz_idx, amp_val = extra
            run = zz_idx - 1  # ACs before it are zero
            size = abs(amp_val).bit_length()
            code, length = ac_codes[(run << 4) | size]
            bw.write(code, length)
            bits = amp_val if amp_val >= 0 else amp_val + (1 << size) - 1
            bw.write(bits, size)
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    zz_q = bytes(q for _ in range(64))
    dqt = seg(0xDB, bytes([0x00]) + zz_q)
    sof = seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + entropy + b"\xff\xd9"


JPEG_W, JPEG_H = 16, 16
JPEG_Q = 16
JPEG_PIX_A, JPEG_PIX_B = 37, 91


def _synth_jpeg(doc_id: int) -> bytes:
    nblocks = (JPEG_W // 8) * (JPEG_H // 8)
    vals = [(doc_id * JPEG_PIX_A + b * JPEG_PIX_B) % 256 for b in range(nblocks)]
    return encode_jpeg_blocks(JPEG_W, JPEG_H, vals, q=JPEG_Q)


def _synth_jpeg_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {"doc_id": ids, "content": [_synth_jpeg(int(d)) for d in ids]}
        )


JPEG_SCHEMA = "doc_id BIGINT, width INT, height INT, pix_sum BIGINT, pix_max INT, pix_min INT"


def _decode_jpeg_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: dict[str, list] = {k: [] for k in (
            "doc_id", "width", "height", "pix_sum", "pix_max", "pix_min",
        )}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            w, h, img = decode_jpeg(bytes(content))
            flat = img.astype(np.int64)
            rows["doc_id"].append(doc_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["pix_sum"].append(int(flat.sum()))
            rows["pix_max"].append(int(flat.max()))
            rows["pix_min"].append(int(flat.min()))
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"],
                "width": pd.array(rows["width"], dtype="Int32"),
                "height": pd.array(rows["height"], dtype="Int32"),
                "pix_sum": pd.array(rows["pix_sum"], dtype="Int64"),
                "pix_max": pd.array(rows["pix_max"], dtype="Int32"),
                "pix_min": pd.array(rows["pix_min"], dtype="Int32"),
            }
        )


def jpeg_decode(docs: DataFrame) -> DataFrame:
    """documents -> real baseline JPEG blobs (Annex-K Huffman entropy
    coding, DC prediction, byte stuffing) -> REAL decode (generic DHT
    parse, canonical Huffman, dequantize, zigzag, float IDCT) ->
    integer-exact stats. Same two map-only Arrow stages as png_decode;
    no shuffle. The fixture's blocks are uniform, so the decoded pixel
    values have a CLOSED FORM (clamp(2*floor((v-128)/2 + 0.5) + 128))
    the DuckDB oracle recomputes — a Huffman slip, a wrong DC
    prediction, an IDCT scaling bug or a clamp miss reds the gate. The
    AC run-length path is pinned separately by unit tests against an
    independently-computed single-coefficient IDCT."""
    media = docs.select("doc_id").mapInPandas(
        _synth_jpeg_batches, "doc_id BIGINT, content BINARY"
    )
    return media.mapInPandas(_decode_jpeg_batches, JPEG_SCHEMA)


# ---------------------------------------------------------------------------
# Color baseline JPEG (VERDICT r5 item 7): 3-component SOF0, 4:2:0
# chroma subsampling (Y 2x2, Cb/Cr 1x1), interleaved MCU scan. The
# last scoped-out multimodal variant. Reuses the grayscale primitives
# (_BitReader/_BitWriter, _huffman_codes, _extend, _idct_matrix,
# _ZIGZAG); decode_jpeg keeps its single-component contract and gate.
# ---------------------------------------------------------------------------

# ITU-T T.81 Annex K.3 Table K.4: chrominance DC Huffman spec. For the
# chroma AC slot the encoder registers the Annex-K LUMINANCE AC spec
# under table id 1 — DHT table content is arbitrary per T.81 (tables
# travel in the file), and reusing it keeps the constant surface small
# while the decoder still exercises four distinct registered tables.
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = list(range(12))

# JFIF YCbCr -> RGB as exact scaled-integer arithmetic (the same
# fixed-point idea production decoders use): 1.402 = 1402/1000,
# 0.344136 = 344136/1e6, 0.714136 = 714136/1e6, 1.772 = 1772/1000.
# floor-division keeps both engines bit-identical with zero float
# ambiguity; clamping to [0, 255] makes floor-vs-truncate divergence
# on negative numerators unobservable (any negative clamps to 0).


def _ycbcr_to_rgb_int(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """uint8 planes -> uint8 [h, w, 3] via exact integer JFIF math."""
    yi = y.astype(np.int64)
    cbi = cb.astype(np.int64) - 128
    cri = cr.astype(np.int64) - 128
    r = (1000 * yi + 1402 * cri + 500) // 1000
    g = (1000000 * yi - 344136 * cbi - 714136 * cri + 500000) // 1000000
    b = (1000 * yi + 1772 * cbi + 500) // 1000
    return np.stack(
        [np.clip(c, 0, 255).astype(np.uint8) for c in (r, g, b)], axis=2
    )


def decode_jpeg_color(content: bytes) -> tuple[int, int, np.ndarray]:
    """Baseline color JPEG -> (width, height, uint8[h, w, 3] RGB).

    Real decode path, same rigor as the grayscale decoder: marker walk
    with generic DQT/DHT parse, interleaved MCU entropy decode (four
    Y blocks then Cb then Cr per MCU, one DC predictor per component),
    dequantize + inverse zigzag + float IDCT per block, per-plane
    rounding, 2x2 chroma replication upsample, scaled-integer JFIF
    YCbCr->RGB. Scope gate: SOF0, 8-bit, exactly three components with
    sampling factors (2,2)/(1,1)/(1,1), no restart intervals —
    anything else raises NotImplementedError (never fabricates
    pixels)."""
    assert content[:2] == b"\xff\xd8", "not a JPEG (no SOI)"
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = -1
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, qtab)
    scan: bytes | None = None
    scan_tabs: dict[int, tuple[int, int]] = {}  # cid -> (dc_id, ac_id)
    while pos < len(content):
        assert content[pos] == 0xFF, "bad marker alignment"
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        seg_len = int.from_bytes(content[pos : pos + 2], "big")
        seg = content[pos + 2 : pos + seg_len]
        if marker == 0xDB:
            s = 0
            while s < len(seg):
                prec, tid = seg[s] >> 4, seg[s] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                zz = np.frombuffer(seg[s + 1 : s + 65], dtype=np.uint8)
                q = np.zeros(64, dtype=np.int32)
                q[_ZIGZAG] = zz
                qtables[tid] = q.reshape(8, 8)
                s += 65
        elif marker == 0xC4:
            s = 0
            while s < len(seg):
                cls, tid = seg[s] >> 4, seg[s] & 0x0F
                bits = list(seg[s + 1 : s + 17])
                nvals = sum(bits)
                vals = list(seg[s + 17 : s + 17 + nvals])
                huff[(cls, tid)] = {
                    (code, length): sym
                    for sym, (code, length) in _huffman_codes(bits, vals).items()
                }
                s += 17 + nvals
        elif marker == 0xC0:
            if seg[0] != 8:
                raise NotImplementedError("non-8-bit precision")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if ncomp != 3:
                raise NotImplementedError(
                    "decode_jpeg_color handles exactly 3 components "
                    "(use decode_jpeg for grayscale)"
                )
            for c in range(3):
                cid, samp, qt = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, qt))
            if [(hs, vs) for _, hs, vs, _ in comps] != [(2, 2), (1, 1), (1, 1)]:
                raise NotImplementedError("only 4:2:0 (Y 2x2, Cb/Cr 1x1)")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("non-baseline SOF")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals")
        elif marker == 0xDA:
            ns = seg[0]
            assert ns == 3, "scan must cover all three components"
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_tabs[cid] = (tabs >> 4, tabs & 0x0F)
            scan = content[pos + seg_len : content.rfind(b"\xff\xd9")]
            break
        pos += seg_len
    assert scan is not None and w > 0 and comps, "truncated JPEG"

    def read_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | r.read_bit()
            length += 1
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid Huffman code")

    def read_block(r: _BitReader, dc_tab, ac_tab, pred: int) -> tuple[np.ndarray, int]:
        zz = np.zeros(64, dtype=np.float64)
        size = read_symbol(r, dc_tab)
        pred += _extend(r.read_bits(size), size)
        zz[0] = pred
        k = 1
        while k < 64:
            sym = read_symbol(r, ac_tab)
            if sym == 0x00:
                break
            if sym == 0xF0:
                k += 16
                continue
            run, size = sym >> 4, sym & 0x0F
            k += run
            zz[k] = _extend(r.read_bits(size), size)
            k += 1
        return zz, pred

    m = _idct_matrix()

    def block_pixels(zz: np.ndarray, q: np.ndarray) -> np.ndarray:
        blk = np.zeros(64, dtype=np.float64)
        blk[_ZIGZAG] = zz
        return m.T @ (blk.reshape(8, 8) * q) @ m + 128.0

    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    planes = [
        np.zeros((mcuy * 16, mcux * 16), dtype=np.float64),  # Y
        np.zeros((mcuy * 8, mcux * 8), dtype=np.float64),  # Cb
        np.zeros((mcuy * 8, mcux * 8), dtype=np.float64),  # Cr
    ]
    qs = [qtables[comps[i][3]].astype(np.float64) for i in range(3)]
    tabs = [
        (huff[(0, scan_tabs[comps[i][0]][0])], huff[(1, scan_tabs[comps[i][0]][1])])
        for i in range(3)
    ]
    preds = [0, 0, 0]
    r = _BitReader(scan)
    for my in range(mcuy):
        for mx in range(mcux):
            for sub in range(4):  # Y blocks, raster within the MCU
                zz, preds[0] = read_block(r, *tabs[0], preds[0])
                yy = my * 16 + (sub // 2) * 8
                xx = mx * 16 + (sub % 2) * 8
                planes[0][yy : yy + 8, xx : xx + 8] = block_pixels(zz, qs[0])
            for ci in (1, 2):  # Cb then Cr, one block each
                zz, preds[ci] = read_block(r, *tabs[ci], preds[ci])
                planes[ci][my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    block_pixels(zz, qs[ci])
                )
    rounded = [np.clip(np.floor(p + 0.5), 0, 255).astype(np.uint8) for p in planes]
    y = rounded[0][: mcuy * 16, : mcux * 16]
    cb = rounded[1].repeat(2, axis=0).repeat(2, axis=1)
    cr = rounded[2].repeat(2, axis=0).repeat(2, axis=1)
    rgb = _ycbcr_to_rgb_int(y, cb, cr)
    return w, h, rgb[:h, :w]


def encode_jpeg_color_blocks(
    w: int,
    h: int,
    y_values: list[int],
    cb_values: list[int],
    cr_values: list[int],
    q: int = 16,
) -> bytes:
    """Deterministic 4:2:0 color encoder for the fixture: each full-res
    8x8 Y block is UNIFORM ``y_values[b]`` (image raster order), each
    16x16 MCU's chroma blocks are uniform ``cb_values[m]`` /
    ``cr_values[m]`` — DC-only blocks, Annex-K Huffman (luma pair +
    chroma DC; chroma AC slot registers the luminance AC spec, see
    _DC_CHROM_BITS note), interleaved MCU entropy order with one DC
    predictor per component."""
    assert w % 16 == 0 and h % 16 == 0
    bw, mcux, mcuy = w // 8, w // 16, h // 16
    assert len(y_values) == (w // 8) * (h // 8)
    assert len(cb_values) == len(cr_values) == mcux * mcuy
    dc_lum = _huffman_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_lum = _huffman_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    dc_chrom = _huffman_codes(_DC_CHROM_BITS, _DC_CHROM_VALS)
    ac_chrom = ac_lum  # registered under chroma table id 1 in DHT
    out = _BitWriter()

    def write_dc_only(v: int, pred: int, dc_codes, ac_codes) -> int:
        qc = int(np.floor(8.0 * (v - 128) / q + 0.5))
        diff = qc - pred
        size = int(diff != 0 and abs(diff).bit_length() or 0)
        code, length = dc_codes[size]
        out.write(code, length)
        if size:
            amp = diff if diff >= 0 else diff + (1 << size) - 1
            out.write(amp, size)
        code, length = ac_codes[0x00]  # EOB
        out.write(code, length)
        return qc

    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for sub in range(4):
                b = (2 * my + sub // 2) * bw + 2 * mx + sub % 2
                preds[0] = write_dc_only(y_values[b], preds[0], dc_lum, ac_lum)
            mi = my * mcux + mx
            preds[1] = write_dc_only(cb_values[mi], preds[1], dc_chrom, ac_chrom)
            preds[2] = write_dc_only(cr_values[mi], preds[2], dc_chrom, ac_chrom)
    entropy = out.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    zz_q = bytes(q for _ in range(64))
    dqt = seg(0xDB, bytes([0x00]) + zz_q + bytes([0x01]) + zz_q)
    sof = seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
        + bytes([0x01]) + bytes(_DC_CHROM_BITS) + bytes(_DC_CHROM_VALS)
        + bytes([0x11]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + entropy + b"\xff\xd9"


JPEG_COLOR_W, JPEG_COLOR_H = 32, 16
JPEG_CB_A, JPEG_CB_B = 53, 101
JPEG_CR_A, JPEG_CR_B = 71, 131


def _synth_jpeg_color(doc_id: int) -> bytes:
    nblocks = (JPEG_COLOR_W // 8) * (JPEG_COLOR_H // 8)
    nmcus = (JPEG_COLOR_W // 16) * (JPEG_COLOR_H // 16)
    y = [(doc_id * JPEG_PIX_A + b * JPEG_PIX_B) % 256 for b in range(nblocks)]
    cb = [(doc_id * JPEG_CB_A + m * JPEG_CB_B) % 256 for m in range(nmcus)]
    cr = [(doc_id * JPEG_CR_A + m * JPEG_CR_B) % 256 for m in range(nmcus)]
    return encode_jpeg_color_blocks(JPEG_COLOR_W, JPEG_COLOR_H, y, cb, cr, q=JPEG_Q)


JPEG_COLOR_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, r_sum BIGINT, g_sum BIGINT, "
    "b_sum BIGINT, rgb_max INT, rgb_min INT"
)


def _decode_jpeg_color_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: dict[str, list] = {k: [] for k in (
            "doc_id", "width", "height", "r_sum", "g_sum", "b_sum",
            "rgb_max", "rgb_min",
        )}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            w, h, rgb = decode_jpeg_color(bytes(content))
            flat = rgb.astype(np.int64)
            rows["doc_id"].append(doc_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["r_sum"].append(int(flat[:, :, 0].sum()))
            rows["g_sum"].append(int(flat[:, :, 1].sum()))
            rows["b_sum"].append(int(flat[:, :, 2].sum()))
            rows["rgb_max"].append(int(flat.max()))
            rows["rgb_min"].append(int(flat.min()))
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"],
                "width": pd.array(rows["width"], dtype="Int32"),
                "height": pd.array(rows["height"], dtype="Int32"),
                "r_sum": pd.array(rows["r_sum"], dtype="Int64"),
                "g_sum": pd.array(rows["g_sum"], dtype="Int64"),
                "b_sum": pd.array(rows["b_sum"], dtype="Int64"),
                "rgb_max": pd.array(rows["rgb_max"], dtype="Int32"),
                "rgb_min": pd.array(rows["rgb_min"], dtype="Int32"),
            }
        )


def _synth_jpeg_color_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {"doc_id": ids, "content": [_synth_jpeg_color(int(d)) for d in ids]}
        )


def jpeg_color_decode(docs: DataFrame) -> DataFrame:
    """documents -> real 4:2:0 color baseline JPEG blobs -> REAL decode
    (interleaved MCU Huffman with per-component DC prediction, four
    registered DHT tables, dequantize, IDCT, chroma replication
    upsample, scaled-integer JFIF YCbCr->RGB) -> integer-exact channel
    stats. Same two map-only Arrow stages as jpeg_decode; no shuffle.
    The fixture's uniform blocks give every plane the closed form
    clamp(2*floor((v-128)/2 + 0.5) + 128) and the integer RGB
    conversion is exact rational arithmetic, so the DuckDB oracle
    recomputes the full pixel statistics without a decoder."""
    media = docs.select("doc_id").mapInPandas(
        _synth_jpeg_color_batches, "doc_id BIGINT, content BINARY"
    )
    return media.mapInPandas(_decode_jpeg_color_batches, JPEG_COLOR_SCHEMA)


# ---------------------------------------------------------------------------
# Frame-level audio feature extraction over the real WAV decode path
# ---------------------------------------------------------------------------

AUDIO_FRAME = 16  # samples per analysis frame (2 ms at the 8 kHz fixture rate)
AUDIO_FRAME_SCHEMA = (
    "doc_id BIGINT, frame_idx BIGINT, energy_sum BIGINT, zero_crossings BIGINT"
)


def _audio_frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per WAV blob: REAL RIFF/PCM16 decode (decode_audio), then
    fixed-size frames with integer-exact features — energy as the
    int64 sum of squared samples, zero crossings as strict sign flips
    between adjacent samples WITHIN a frame (product < 0; a zero
    sample never counts). Trailing partial frames are dropped.
    Non-audio blobs (the fixture interleaves PPM images) emit no
    rows — audio features of an image are undefined, not zero."""
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "frame_idx": [], "energy_sum": [], "zero_crossings": []
        }
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            b = bytes(content)
            if b[:4] != b"RIFF":
                continue
            _rate, _nch, samples = decode_audio(b)
            s = samples.astype(np.int64)
            nf = s.shape[0] // AUDIO_FRAME
            if nf == 0:
                continue
            fr = s[: nf * AUDIO_FRAME].reshape(nf, AUDIO_FRAME)
            energy = (fr * fr).sum(axis=1)
            zc = ((fr[:, :-1] * fr[:, 1:]) < 0).sum(axis=1)
            out["doc_id"].extend([int(doc_id)] * nf)
            out["frame_idx"].extend(range(nf))
            out["energy_sum"].extend(int(x) for x in energy)
            out["zero_crossings"].extend(int(x) for x in zc)
        yield pd.DataFrame(
            {
                "doc_id": pd.array(out["doc_id"], dtype="Int64"),
                "frame_idx": pd.array(out["frame_idx"], dtype="Int64"),
                "energy_sum": pd.array(out["energy_sum"], dtype="Int64"),
                "zero_crossings": pd.array(out["zero_crossings"], dtype="Int64"),
            }
        )


def audio_frame_features(docs: DataFrame) -> DataFrame:
    """documents -> synthetic real WAV blobs -> frame-level features
    (r8): the audio analog of decode -> feature-extract, completing
    the multimodal verb set (decode / feature-extract / resize /
    frame-sample) with a FRAME-level audio op — short-time energy and
    zero-crossing rate, the first two features of any audio frontend
    (VAD, segmentation). Integer-exact by construction (energy is an
    int64 square sum, crossings are counts), so the oracle — which
    recomputes the fixture's closed-form samples in SQL — matches
    without float tolerance.

    Scale shape: one map-only Arrow-batched stage (mapInPandas over
    the blob column, no shuffle); output is nf rows per clip with
    fixed-width integers. Decode CPU lives in executors; at 100 TB
    the stage parallelizes per input split like every other decode
    path here."""
    return synth_media(docs).mapInPandas(_audio_frame_batches, AUDIO_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (r9): dHash over the real PPM decode
# path, paired via the shared Hamming chunk-blocking machinery
# ---------------------------------------------------------------------------


def _synth_phash_ppm(doc_id: int) -> bytes:
    """Group-structured PPM fixture (closed form, mirrored verbatim in
    oracles.image_phash_pairs_oracle): docs in the same PHASH_GROUP
    share a base raster; each doc flips ONE raster byte by +128 mod
    256, so group-mates decode to near-identical images (a perceptual
    near-dup: the perturbed byte is rarely one of the 64 sampled grid
    points) while different bases are perceptually far."""
    base = doc_id // params.PHASH_GROUP
    w = params.PHASH_W_BASE + base % params.PHASH_W_MOD
    h = params.PHASH_H_BASE + base % params.PHASH_H_MOD
    i = np.arange(w * h * 3, dtype=np.int64)
    raster = (
        base * params.PHASH_PIX_A
        + i * params.PHASH_PIX_B
        + i * i * (1 + base % params.PHASH_PIX_QMOD)
    ) % 256
    p = (doc_id * params.PHASH_PERT_STEP) % (w * h * 3)
    raster[p] = (raster[p] + 128) % 256
    return b"P6\n# synthetic\n%d %d\n255\n" % (w, h) + raster.astype(np.uint8).tobytes()


def dhash60(pixels: np.ndarray) -> int:
    """60-bit row-difference perceptual hash (dHash, the
    difference-hash variant popularized by Krawetz's "Kind of Like
    That"): integer luma (r + 2g + b) // 4, nearest-neighbor resize to
    a PHASH_COLS x PHASH_ROWS sample grid (the decoders' own
    resize_nearest index convention), bit = gray[r][c] > gray[r][c+1]
    packed MSB-first — (COLS-1)*ROWS = 60 bits, strictly positive in
    int64. Brightness/contrast-shift tolerant (compares neighbors, not
    absolutes), alignment-sensitive like any grid hash."""
    px = pixels.astype(np.int64)
    gray = (px[:, :, 0] + 2 * px[:, :, 1] + px[:, :, 2]) // 4
    small = resize_nearest(gray, params.PHASH_COLS, params.PHASH_ROWS)
    bits = small[:, :-1] > small[:, 1:]
    out = 0
    for b in bits.reshape(-1):
        out = (out << 1) | int(b)
    return out


PHASH_SCHEMA = "doc_id BIGINT, phash BIGINT"


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, hashes = [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            _w, _h, _maxval, pixels = decode_image(bytes(content))
            ids.append(int(doc_id))
            hashes.append(dhash60(pixels))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="Int64"),
                "phash": pd.array(hashes, dtype="Int64"),
            }
        )


def _synth_phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": [_synth_phash_ppm(int(d)) for d in pdf["doc_id"]],
            }
        )


def image_phash(docs: DataFrame) -> DataFrame:
    """documents -> group-structured real PPM blobs -> REAL decode ->
    60-bit dHash. One map-only Arrow stage (synth and hash fuse into a
    single mapInPandas pipeline, no shuffle): at 100 TB this is decode
    CPU in executors emitting 16-byte rows."""
    blobs = docs.select("doc_id").mapInPandas(
        _synth_phash_batches, "doc_id BIGINT, content BINARY"
    )
    return blobs.mapInPandas(_phash_batches, PHASH_SCHEMA)


def image_phash_pairs(docs: DataFrame) -> DataFrame:
    """Image near-duplicate pairs: Hamming <= PHASH_MAX_HAMMING over
    the 60-bit dHash of the REAL decoded pixels — the multimodal dedup
    the corpus-curation north star asks for (near-identical images
    differing by re-encode noise / tiny edits collapse to nearby
    hashes; Wang et al.'s duplicate-image studies and every crawl
    pipeline dedup on exactly this class of fingerprint).

    Scale shape: the hash is a map-only Arrow stage (image_phash);
    pairing reuses dedup.hamming_chunk_pairs — the audited simhash
    blocking (4 x 15-bit exact-chunk buckets, PHASH_BUCKET_CAP skew
    guard, pigeonhole recall for Hamming <= 3, bit_count(xor) verify).
    Nothing broadcasts; candidate volume is bounded by N*cap per
    chunk. The oracle recomputes the dHash from the fixture's closed
    form entirely in SQL (sampled-grid luma comparisons), so a decoder
    or resize-index bug on the Spark side diverges."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        hamming_chunk_pairs,
    )

    return hamming_chunk_pairs(
        image_phash(docs),
        "phash",
        n_chunks=params.PHASH_CHUNKS,
        chunk_bits=params.PHASH_CHUNK_BITS,
        bucket_cap=params.PHASH_BUCKET_CAP,
        max_hamming=params.PHASH_MAX_HAMMING,
    )


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup (r9): energy-contour hash over the real
# WAV decode path — the audio sibling of image_phash_pairs
# ---------------------------------------------------------------------------


def _synth_afp_wav(doc_id: int) -> bytes:
    """Group-structured WAV fixture (closed form, mirrored in
    oracles.audio_fingerprint_pairs_oracle): AFP_GROUP docs share a
    base clip; each doc REPLACES one sample with a constant,
    perturbing one frame's energy — a perceptual near-dup at contour
    grain."""
    base = doc_id // params.AFP_GROUP
    n = params.AFP_NFRAMES * params.AFP_FRAME
    i = np.arange(n, dtype=np.int64)
    samples = (
        base * params.AFP_SAMP_A
        + i * params.AFP_SAMP_B
        + i * i * (1 + base % params.AFP_SAMP_QMOD)
    ) % 65536 - 32768
    p = (doc_id * params.AFP_PERT_STEP) % n
    samples[p] = params.AFP_PERT_VALUE
    samples = samples.astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_fingerprint60(samples: np.ndarray) -> int:
    """60-bit energy-contour fingerprint: 16-sample frames, int64
    square-sum energies, bit f = energy[f] > energy[f+1] over the
    first AFP_NFRAMES frames, packed MSB-first (same fold as the image
    dHash). Robust to gain-independent edits that keep the loudness
    CONTOUR; an FFT-based fingerprint would also survive time shifts,
    but transcendentals are banned (the tfidf/pagerank house rule) and
    the contour form keeps both engines bit-identical."""
    s = samples.astype(np.int64)
    nf = params.AFP_NFRAMES
    fr = s[: nf * params.AFP_FRAME].reshape(nf, params.AFP_FRAME)
    energy = (fr * fr).sum(axis=1)
    bits = energy[:-1] > energy[1:]
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def _afp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, hashes = [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            _rate, _nch, samples = decode_audio(bytes(content))
            ids.append(int(doc_id))
            hashes.append(audio_fingerprint60(samples))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="Int64"),
                "afp": pd.array(hashes, dtype="Int64"),
            }
        )


def _synth_afp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": [_synth_afp_wav(int(d)) for d in pdf["doc_id"]],
            }
        )


def audio_fingerprint(docs: DataFrame) -> DataFrame:
    """documents -> group-structured real WAV blobs -> REAL RIFF/PCM16
    decode -> 60-bit energy-contour fingerprint; one map-only Arrow
    stage emitting 16-byte rows."""
    blobs = docs.select("doc_id").mapInPandas(
        _synth_afp_batches, "doc_id BIGINT, content BINARY"
    )
    return blobs.mapInPandas(_afp_batches, "doc_id BIGINT, afp BIGINT")


def audio_fingerprint_pairs(docs: DataFrame) -> DataFrame:
    """Audio near-duplicate pairs: Hamming <= AFP_MAX_HAMMING over the
    energy-contour fingerprint of the REAL decoded samples — with
    image_phash_pairs this completes the multimodal near-dup pair: the
    same corpus-curation question (re-encoded / trivially edited
    copies of one clip) answered at audio grain.

    Scale shape: identical to image_phash_pairs — map-only Arrow hash
    stage, then dedup.hamming_chunk_pairs (capped chunk buckets,
    equi-join candidates, bit_count(xor) verify, nothing broadcast).
    The oracle recomputes frame energies and the contour from the
    fixture's closed-form samples entirely in SQL, so a decode,
    framing, or packing bug on either side diverges."""
    from flink_kafka_filter_transform_spark.operators.dedup import (
        hamming_chunk_pairs,
    )

    return hamming_chunk_pairs(
        audio_fingerprint(docs),
        "afp",
        n_chunks=params.AFP_CHUNKS,
        chunk_bits=params.AFP_CHUNK_BITS,
        bucket_cap=params.AFP_BUCKET_CAP,
        max_hamming=params.AFP_MAX_HAMMING,
    )


# ---------------------------------------------------------------------------
# Video frame-match near-dup (r9): per-frame dHash over a real PPM
# container demux — the video member of the multimodal near-dup triad
# ---------------------------------------------------------------------------


def _synth_video(doc_id: int) -> bytes:
    """Group-structured multi-frame fixture (closed form, mirrored in
    oracles.video_frame_match_pairs_oracle): VID_GROUP videos share a
    base frame sequence; each video REPLACES the frames at its two
    unique positions with video-unique content — the shape of a
    re-edited copy (same footage, a changed intro card and one swapped
    shot). Frames are real P6 PPMs concatenated into one blob."""
    g = doc_id // params.VID_GROUP
    p0 = (doc_id * params.VID_UPOS_A) % params.VID_NFRAMES
    p1 = (doc_id * params.VID_UPOS_B + 1) % params.VID_NFRAMES
    frames = []
    for f in range(params.VID_NFRAMES):
        if f in (p0, p1):
            seed = params.VID_SALT_UNIQ + doc_id * params.VID_NFRAMES + f
        else:
            seed = g * params.VID_NFRAMES + f
        # row r's 16 grays = the 16 bytes of md5(seed|r) (the portable
        # cross-engine primitive); all three channels carry the gray so
        # the decoder's luma (v + 2v + v) // 4 reproduces it exactly
        rows = [
            np.frombuffer(
                hashlib.md5(f"{seed}|{r}".encode()).digest(), dtype=np.uint8
            )
            for r in range(params.VID_H)
        ]
        raster = np.repeat(np.stack(rows).reshape(-1), 3)
        frames.append(
            b"P6\n# frame\n%d %d\n255\n" % (params.VID_W, params.VID_H)
            + raster.tobytes()
        )
    return b"".join(frames)


def demux_ppm_stream(blob: bytes) -> list[bytes]:
    """Split a concatenated-P6 container into its frame blobs — real
    demux: each frame's extent comes from parsing ITS header (magic,
    comment/whitespace-tolerant width/height/maxval) exactly as
    decode_image does, then consuming w*h*3 raster bytes. Raises
    ValueError on a non-P6 magic or truncated frame — corrupt media
    fails loudly."""
    frames: list[bytes] = []
    pos = 0
    while pos < len(blob):
        start = pos
        if blob[pos : pos + 2] != b"P6":
            raise ValueError(f"not a P6 frame at offset {pos}")
        tokens: list[int] = []
        pos += 2
        while len(tokens) < 3:
            if pos >= len(blob):
                raise ValueError("truncated PPM frame header")
            c = blob[pos : pos + 1]
            if c == b"#":
                pos = blob.index(b"\n", pos) + 1
            elif c.isspace():
                pos += 1
            else:
                end = pos
                while end < len(blob) and not blob[end : end + 1].isspace():
                    end += 1
                tokens.append(int(blob[pos:end]))
                pos = end
        pos += 1  # the single whitespace byte ending the header
        w, h, _maxval = tokens
        pos += w * h * 3
        if pos > len(blob):
            raise ValueError("truncated PPM frame raster")
        frames.append(blob[start:pos])
    return frames


def _video_frame_hash_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, fidx, hashes = [], [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            for f, frame in enumerate(demux_ppm_stream(bytes(content))):
                _w, _h, _maxval, pixels = decode_image(frame)
                ids.append(int(doc_id))
                fidx.append(f)
                hashes.append(dhash60(pixels))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="Int64"),
                "frame_idx": pd.array(fidx, dtype="Int64"),
                "fh": pd.array(hashes, dtype="Int64"),
            }
        )


def _synth_video_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": [_synth_video(int(d)) for d in pdf["doc_id"]],
            }
        )


# Map-side pair expansion over a sorted doc_id bucket array (r11
# review: one source of truth — the expression encodes a subtle
# contract pairing transform's 0-based lambda index with slice's
# 1-based offset, and the streaming face's drained-log==batch-op
# equivalence requires both consumers to stay byte-identical).
# Consumers: video_frame_match_pairs and streaming._vfp_index_batch.
SORTED_PAIR_EXPANSION = (
    "flatten(transform(ds, (a, i) -> "
    "transform(slice(ds, i + 2, size(ds) - i - 1), b -> "
    "struct(a AS doc_a, b AS doc_b))))"
)


def video_frame_hashes(docs: DataFrame) -> DataFrame:
    """documents -> group-structured multi-frame PPM containers ->
    REAL demux + per-frame decode -> 60-bit dHash per frame. One
    map-only Arrow stage: at 100 TB this is demux/decode CPU in
    executors emitting 24-byte rows (frame pixels never shuffle)."""
    blobs = docs.select("doc_id").mapInPandas(
        _synth_video_batches, "doc_id BIGINT, content BINARY"
    )
    return blobs.mapInPandas(
        _video_frame_hash_batches, "doc_id BIGINT, frame_idx BIGINT, fh BIGINT"
    )


def video_frame_match_pairs(docs: DataFrame) -> DataFrame:
    """Video near-duplicate pairs by frame-fingerprint matching — the
    video member of the multimodal near-dup triad (image_phash_pairs,
    audio_fingerprint_pairs): videos sharing >= VID_MIN_MATCH distinct
    frame dHashes are re-edits/re-encodes of the same footage. Frame-
    level granularity is what makes this robust to clipping and
    re-ordering, the reason production video dedup indexes per-frame
    fingerprints rather than whole-file hashes.

    Scale shape: the fingerprint relation is a map-only Arrow stage
    (video_frame_hashes); DISTINCT (doc, fh) collapses within-video
    repeats; ONE groupBy(fh) collects each frame-hash bucket as a
    sorted doc_id array — buckets larger than VID_FRAME_CAP are
    dropped whole (intro cards / black frames: boilerplate whose match
    is evidence of nothing; LSH_BUCKET_CAP's rule, oracle-mirrored),
    so every array is bounded — and candidate pairs expand MAP-SIDE
    from the arrays (no self-join: a self-join would re-evaluate the
    Arrow decode stage on both sides — the hamming_chunk_pairs r9
    lesson); the matched-frame count is a pair-keyed aggregate.
    Nothing broadcasts; frame pixels never leave the map stage; the
    corpus is decoded exactly once."""
    fr = video_frame_hashes(docs).select("doc_id", "fh").distinct()
    buckets = fr.groupBy("fh").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    ).filter((F.size("ds") >= 2) & (F.size("ds") <= params.VID_FRAME_CAP))
    pairs = buckets.select(
        F.explode(F.expr(SORTED_PAIR_EXPANSION)).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .filter(F.col("n_matched") >= params.VID_MIN_MATCH)
    )


# ---------------------------------------------------------------------------
# Video scene cuts (r9): scene segmentation over per-frame dHashes —
# the frame-sampling primitive (sample per scene, not per stride)
# ---------------------------------------------------------------------------


def _synth_scene_video(doc_id: int) -> bytes:
    """Scene-structured container fixture (closed form, mirrored in
    oracles.video_scene_cuts_oracle): frames advance to a new content
    seed only at scene boundaries — consecutive frames inside a scene
    are IDENTICAL (the integer-exact idealization of real footage's
    near-duplicate consecutive frames). Boundary before frame f
    (f >= 1) iff f*f % VID_SCENE_MOD == doc_id % VID_SCENE_MOD, so
    videos whose doc_id lands on a quadratic non-residue are single-
    scene and the rest cut at irregular positions."""
    frames = []
    scene = 0
    for f in range(params.VID_NFRAMES):
        if f >= 1 and (f * f) % params.VID_SCENE_MOD == doc_id % params.VID_SCENE_MOD:
            scene += 1
        seed = params.VID_SCENE_SALT + doc_id * 32 + scene
        rows = [
            np.frombuffer(
                hashlib.md5(f"{seed}|{r}".encode()).digest(), dtype=np.uint8
            )
            for r in range(params.VID_H)
        ]
        raster = np.repeat(np.stack(rows).reshape(-1), 3)
        frames.append(
            b"P6\n# frame\n%d %d\n255\n" % (params.VID_W, params.VID_H)
            + raster.tobytes()
        )
    return b"".join(frames)


def _scene_cut_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "n_frames": [], "n_cuts": [], "n_scenes": [],
               "longest_scene_frames": []}
        for doc_id in pdf["doc_id"]:
            blob = _synth_scene_video(int(doc_id))
            hs = [
                dhash60(decode_image(f)[3]) for f in demux_ppm_stream(blob)
            ]
            cuts = [
                int(bin(hs[i] ^ hs[i + 1]).count("1") > params.VID_CUT_HAMMING)
                for i in range(len(hs) - 1)
            ]
            runs, cur = [], 1
            for c in cuts:
                if c:
                    runs.append(cur)
                    cur = 1
                else:
                    cur += 1
            runs.append(cur)
            out["doc_id"].append(int(doc_id))
            out["n_frames"].append(len(hs))
            out["n_cuts"].append(sum(cuts))
            out["n_scenes"].append(sum(cuts) + 1)
            out["longest_scene_frames"].append(max(runs))
        yield pd.DataFrame({k: pd.array(v, dtype="Int64") for k, v in out.items()})


def video_scene_cuts(docs: DataFrame) -> DataFrame:
    """Per-video scene segmentation: a cut between adjacent frames
    whose dHashes differ by more than VID_CUT_HAMMING bits — the
    readout a video training pipeline samples frames BY (one keyframe
    per scene beats fixed-stride sampling, which over-samples static
    scenes and misses short ones). Reports per video: frame count, cut
    count, scene count, and the longest scene run.

    Scale shape: ONE map-only Arrow stage — demux, per-frame decode,
    dHash, adjacent-frame Hamming, and the run-length fold all happen
    inside the batch (a video's frames arrive together in its blob;
    nothing about adjacent-frame comparison is distributed), zero
    exchanges, 40-byte output rows. The oracle recomputes seeds,
    grays, hashes, cuts, and runs entirely in SQL from the closed
    form — demux, decode, luma, packing, or threshold bugs diverge."""
    return docs.select("doc_id").mapInPandas(
        _scene_cut_batches,
        "doc_id BIGINT, n_frames BIGINT, n_cuts BIGINT, n_scenes BIGINT, "
        "longest_scene_frames BIGINT",
    )


# ---------------------------------------------------------------------------
# Audio silence segmentation (late r9): VAD-style gaps-and-islands over
# frame energies from the real RIFF/PCM16 decode
# ---------------------------------------------------------------------------


def _synth_vad_wav(doc_id: int) -> bytes:
    """Activity-structured WAV fixture (closed form, mirrored verbatim
    in oracles.audio_silence_segments_oracle): VAD_BLOCK-frame blocks
    alternate between the noise sample form and the tiny sample form
    per the block-level activity congruence — see the VAD_* comment in
    params.py for the layout and the energy-margin proof."""
    n = params.VAD_NFRAMES * params.VAD_FRAME
    i = np.arange(n, dtype=np.int64)
    block = (i // params.VAD_FRAME) // params.VAD_BLOCK
    act = (
        doc_id * params.VAD_ACT_A + block * params.VAD_ACT_B
    ) % params.VAD_ACT_MOD < params.VAD_ACT_LT
    noise = (doc_id * WAV_SAMP_A + i * WAV_SAMP_B) % 65536 - 32768
    tiny = (doc_id + i) % params.VAD_TINY_MOD - params.VAD_TINY_MOD // 2
    samples = np.where(act, noise, tiny).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


VAD_SCHEMA = (
    "doc_id BIGINT, seg_idx BIGINT, active BIGINT, "
    "start_frame BIGINT, n_frames BIGINT"
)


def _vad_segment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per clip: REAL decode -> frame energies -> threshold -> run-
    length encode. The whole fold completes inside the Arrow batch (a
    clip's samples arrive together in its blob), so the operator never
    shuffles — the audio analog of video_scene_cuts' scene fold."""
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "seg_idx": [], "active": [],
            "start_frame": [], "n_frames": [],
        }
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            _rate, _nch, samples = decode_audio(bytes(content))
            s = samples.astype(np.int64)
            nf = s.shape[0] // params.VAD_FRAME
            if nf == 0:
                continue
            fr = s[: nf * params.VAD_FRAME].reshape(nf, params.VAD_FRAME)
            act = ((fr * fr).sum(axis=1) > params.VAD_ENERGY_THRESHOLD).astype(
                np.int64
            )
            change = np.flatnonzero(np.diff(act)) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [nf]))
            k = starts.shape[0]
            out["doc_id"].extend([int(doc_id)] * k)
            out["seg_idx"].extend(range(k))
            out["active"].extend(int(act[st]) for st in starts)
            out["start_frame"].extend(int(st) for st in starts)
            out["n_frames"].extend(int(en - st) for st, en in zip(starts, ends))
        yield pd.DataFrame(
            {c: pd.array(out[c], dtype="Int64") for c in out}
        )


def _synth_vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "content": [_synth_vad_wav(int(d)) for d in pdf["doc_id"]],
            }
        )


def audio_silence_segments(docs: DataFrame) -> DataFrame:
    """VAD-style silence/activity segmentation: maximal runs of equal
    frame-level activity (energy > VAD_ENERGY_THRESHOLD over the REAL
    RIFF/PCM16 decode) as (start_frame, n_frames, active) segments —
    the speech-pipeline primitive that turns raw audio into trainable
    utterances (cut at silence, drop the silence, length-filter what
    remains) and the audio analog of video_scene_cuts' scene runs.

    Scale shape: ONE map-only Arrow stage — synth, decode, framing,
    energy fold, threshold, and the run-length encode all complete
    inside the batch; zero exchanges, segments are fixed-width integer
    rows (~10 per clip, never per-sample). The oracle recomputes
    samples-to-segments from the fixture's closed form entirely in SQL
    (gaps-and-islands via row_number), so a decode, framing, energy,
    threshold, or run-fold bug on either side diverges."""
    blobs = docs.select("doc_id").mapInPandas(
        _synth_vad_batches, "doc_id BIGINT, content BINARY"
    )
    return blobs.mapInPandas(_vad_segment_batches, VAD_SCHEMA)

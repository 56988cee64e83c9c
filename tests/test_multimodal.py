"""Unit tests for the real PPM/WAV decoders (operators.multimodal).

The oracle-parity gate proves decode-vs-closed-form equivalence end to
end; these tests pin the decoders' contract directly: round-trip
against independently built reference bytes, header-dialect tolerance,
and loud failure on corrupt media.
"""

import struct

import numpy as np
import pytest

from flink_kafka_filter_transform_spark.operators import multimodal as mm


def test_ppm_round_trip():
    blob = mm._synth_ppm(42)
    w, h, maxval, pixels = mm.decode_image(blob)
    assert (w, h, maxval) == (4 + 42 % 5, 3 + 42 % 4, 255)
    assert pixels.shape == (h, w, 3)
    i = np.arange(w * h * 3, dtype=np.int64)
    expected = ((42 * mm.PPM_PIX_A + i * mm.PPM_PIX_B) % 256).astype(np.uint8)
    assert np.array_equal(pixels.reshape(-1), expected)


def test_ppm_header_dialects():
    # Same raster, different-but-legal headers: multi-comment,
    # space-separated dims, CRLF-ish whitespace mixes.
    raster = bytes(range(2 * 2 * 3))
    for header in (b"P6\n2 2\n255\n", b"P6 # c\n # c2\n 2\t2 255\n", b"P6\n#x\n2\n2\n255\n"):
        w, h, maxval, pixels = mm.decode_image(header + raster)
        assert (w, h, maxval) == (2, 2, 255)
        assert pixels.tobytes() == raster


def test_ppm_corrupt_fails_loudly():
    with pytest.raises(ValueError, match="magic"):
        mm.decode_image(b"P5\n2 2\n255\n" + b"\x00" * 12)
    with pytest.raises(ValueError, match="short PPM raster"):
        mm.decode_image(b"P6\n4 4\n255\n" + b"\x00" * 5)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_image(b"P6\n2 2")


def test_wav_round_trip():
    blob = mm._synth_wav(7)
    rate, nch, samples = mm.decode_audio(blob)
    n = mm.WAV_N_BASE + 7 % mm.WAV_N_MOD
    assert (rate, nch, samples.shape) == (mm.WAV_RATE, 1, (n, 1))
    i = np.arange(n, dtype=np.int64)
    expected = (7 * mm.WAV_SAMP_A + i * mm.WAV_SAMP_B) % 65536 - 32768
    assert np.array_equal(samples.reshape(-1).astype(np.int64), expected)


def test_wav_chunk_walk_skips_extra_chunks():
    # Real WAVs carry LIST/fact chunks between fmt and data; the
    # decoder must walk chunks, not assume data at offset 36. Odd-sized
    # chunks get a pad byte (RIFF word alignment).
    samples = np.array([100, -32768, 32767], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE"
    body += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size -> pad
    body += b"data" + struct.pack("<I", 6) + samples.tobytes()
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, nch, out = mm.decode_audio(blob)
    assert rate == 8000 and nch == 1
    assert np.array_equal(out.reshape(-1), samples)


def test_wav_stereo_shape():
    frames = np.arange(8, dtype="<i2").reshape(4, 2)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 16) + frames.tobytes()
    rate, nch, out = mm.decode_audio(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (nch, out.shape) == (2, (4, 2))
    assert np.array_equal(out, frames)


def test_wav_corrupt_fails_loudly():
    with pytest.raises(ValueError, match="RIFF"):
        mm.decode_audio(b"RIFX" + b"\x00" * 40)
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float32, not PCM16
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    with pytest.raises(ValueError, match="PCM16"):
        mm.decode_audio(b"RIFF" + struct.pack("<I", len(body)) + body)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))) + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    with pytest.raises(ValueError, match="no data chunk"):
        mm.decode_audio(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_wav_truncated_chunks_fail_loudly():
    """Declared chunk sizes are untrusted: a size past end-of-file must
    raise ValueError (not struct.error on a short fmt, not silently
    fewer samples on a short data chunk) — r3 ADVICE."""
    # fmt chunk declares 16 bytes but only 4 remain
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    with pytest.raises(ValueError, match="truncated b'fmt '"):
        mm.decode_audio(b"RIFF" + struct.pack("<I", len(body)) + body)
    # data chunk declares 100 bytes but carries 6
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 100) + b"\x00" * 6
    with pytest.raises(ValueError, match="truncated b'data'"):
        mm.decode_audio(b"RIFF" + struct.pack("<I", len(body)) + body)
    # fmt chunk genuinely 8 bytes long (declared AND present) is too
    # short to hold the 16-byte PCM header
    body = b"WAVE" + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x01\x00\x40\x1f\x00\x00"
    with pytest.raises(ValueError, match="fmt chunk too short"):
        mm.decode_audio(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_png_round_trip_all_filters():
    """Random RGB/RGBA images round-trip through encode_png/decode_png.
    The encoder cycles filter types per row, so any image with >= 5
    rows exercises every unfilter branch (None/Sub/Up/Average/Paeth)."""
    rng = np.random.default_rng(7)
    for c in (3, 4):
        img = rng.integers(0, 256, size=(7, 5, c), dtype=np.uint8)
        w, h, c2, out = mm.decode_png(mm.encode_png(img))
        assert (w, h, c2) == (5, 7, c)
        assert np.array_equal(out, img)


def test_png_synth_matches_formula():
    for d in (0, 1, 5, 11):
        w, h, c, px = mm.decode_png(mm._synth_png(d))
        assert (w, h) == (mm.PNG_W_BASE + d % mm.PNG_W_MOD, mm.PNG_H_BASE + d % mm.PNG_H_MOD)
        i = np.arange(w * h * c, dtype=np.int64)
        expected = (d * mm.PNG_PIX_A + i * mm.PNG_PIX_B) % 256
        assert np.array_equal(px.reshape(-1).astype(np.int64), expected)


def test_png_corrupt_fails_loudly():
    import zlib

    blob = mm._synth_png(3)
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"\x89PNX" + blob[4:])
    # flip one IDAT payload byte -> CRC mismatch
    idat_at = blob.index(b"IDAT")
    tampered = bytearray(blob)
    tampered[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm.decode_png(bytes(tampered))
    # declared chunk length past end-of-file
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_png(blob[:20])
    # unknown filter byte (7), hand-built with correct CRCs
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    raw = b"\x07\x01\x02\x03"  # filter type 7, one RGB pixel
    bad = mm.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unknown PNG filter"):
        mm.decode_png(bad)
    # inflated size disagreeing with header geometry
    raw = b"\x00\x01\x02\x03\x04"  # one extra byte
    bad = mm.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflated size"):
        mm.decode_png(bad)


def test_resize_nearest_known_mapping():
    """Pin the nearest-neighbor convention directly: out (i, j) samples
    in ((i*h)//out_h, (j*w)//out_w) — top-left pick, no interpolation."""
    h, w = 4, 6
    img = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
    small = mm.resize_nearest(img, 3, 2)  # out_w=3, out_h=2
    assert small.shape == (2, 3, 3)
    for i in range(2):
        for j in range(3):
            src = img[(i * h) // 2, (j * w) // 3]
            assert np.array_equal(small[i, j], src)
    # identity resize is a no-op
    assert np.array_equal(mm.resize_nearest(img, w, h), img)
    # upscale repeats source pixels, never invents values
    big = mm.resize_nearest(img, 12, 8)
    assert set(big.reshape(-1, 3)[:, 0].tolist()) <= set(img.reshape(-1, 3)[:, 0].tolist())


def test_jpeg_ac_single_coefficient_matches_independent_idct():
    """The decoder's AC run-length path and IDCT orientation, pinned
    against an INDEPENDENTLY computed single-coefficient IDCT (direct
    cosine formula, no shared code with the decoder)."""
    import math

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    blob = mm.encode_jpeg_blocks(8, 8, [128], q=16, ac_extras=[(5, 3)])
    w, h, img = mm.decode_jpeg(blob)
    assert (w, h) == (8, 8)
    # zigzag index 5 is natural position (row 0, col 2) -> u=0 (rows), v=2
    F = 3 * 16  # amplitude * quant step

    def pix(x, y):
        cu, cv = 1 / math.sqrt(2), 1.0
        val = (
            0.25 * cu * cv * F
            * math.cos((2 * y + 1) * 0 * math.pi / 16)
            * math.cos((2 * x + 1) * 2 * math.pi / 16)
        )
        return min(255, max(0, int(math.floor(val + 128 + 0.5))))

    expected = [[pix(x, y) for x in range(8)] for y in range(8)]
    assert img.tolist() == expected


def test_jpeg_dc_prediction_across_blocks():
    """Multi-block DC differential coding: each block's quantized DC is
    coded relative to the previous one; decoded blocks must be uniform
    at the closed-form value."""
    import numpy as np

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    vals = [0, 255, 128, 7]
    blob = mm.encode_jpeg_blocks(16, 16, vals, q=16)
    w, h, img = mm.decode_jpeg(blob)
    for b, v in enumerate(vals):
        by, bx = divmod(b, 2)
        blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
        exp = min(255, max(0, 2 * int(np.floor((v - 128) / 2 + 0.5)) + 128))
        assert (blk == exp).all(), (b, v, exp, blk[0, 0])


def test_jpeg_scope_gates_raise():
    """Out-of-scope JPEG features must fail loudly, never fabricate
    pixels: progressive SOF2 and multi-component SOF0."""
    import pytest

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    blob = bytearray(mm.encode_jpeg_blocks(8, 8, [100], q=16))
    sof_at = bytes(blob).find(b"\xff\xc0")
    progressive = blob.copy()
    progressive[sof_at + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg(bytes(progressive))
    color = blob.copy()
    ncomp_at = sof_at + 2 + 2 + 5  # marker(2) + len(2) + prec(1) + h(2) + w(2)
    color[ncomp_at] = 3
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg(bytes(color))


def test_jpeg_color_roundtrip_closed_form():
    """Color 4:2:0 decode pinned against the independent closed form:
    uniform DC-only blocks decode to clamp(2*floor((v-128)/2+0.5)+128)
    per plane, chroma constant per MCU, RGB by exact scaled-integer
    JFIF conversion. Exercises per-component DC prediction chains and
    the interleaved MCU order across TWO MCUs."""
    import numpy as np

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    y = [0, 255, 37, 200, 128, 7, 91, 64]  # 4x2 blocks (32x16)
    cb = [30, 220]
    cr = [240, 10]
    blob = mm.encode_jpeg_color_blocks(32, 16, y, cb, cr, q=16)
    w, h, rgb = mm.decode_jpeg_color(blob)
    assert (w, h, rgb.shape) == (32, 16, (16, 32, 3))

    def cf(v):
        return min(255, max(0, 2 * int(np.floor((v - 128) / 2 + 0.5)) + 128))

    for b in range(8):
        by, bx = divmod(b, 4)
        mi = bx // 2
        yd, cbd, crd = cf(y[b]), cf(cb[mi]), cf(cr[mi])
        r = min(255, max(0, (1000 * yd + 1402 * (crd - 128) + 500) // 1000))
        g = min(255, max(0, (1000000 * yd - 344136 * (cbd - 128)
                             - 714136 * (crd - 128) + 500000) // 1000000))
        bl = min(255, max(0, (1000 * yd + 1772 * (cbd - 128) + 500) // 1000))
        blk = rgb[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
        assert (blk == np.array([r, g, bl], dtype=np.uint8)).all(), (b, (r, g, bl))


def test_jpeg_color_chroma_upsample_alignment():
    """Two MCUs with OPPOSITE chroma: the 2x2 replication upsample must
    keep each MCU's chroma strictly inside its own 16-pixel column band
    (an off-by-one in upsample or MCU addressing bleeds color across
    the boundary)."""
    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    blob = mm.encode_jpeg_color_blocks(
        32, 16, [128] * 8, [16, 240], [240, 16], q=16
    )
    _, _, rgb = mm.decode_jpeg_color(blob)
    left, right = rgb[:, :16], rgb[:, 16:]
    # uniform within each band...
    assert (left == left[0, 0]).all() and (right == right[0, 0]).all()
    # ...and strongly red-vs-blue across it (Cr high left, Cb high right)
    assert int(left[0, 0, 0]) > int(left[0, 0, 2])
    assert int(right[0, 0, 2]) > int(right[0, 0, 0])


def test_jpeg_color_scope_gates_raise():
    """Out-of-scope color configs fail loudly: 4:2:2 sampling and a
    grayscale blob handed to the color decoder."""
    import pytest

    from flink_kafka_filter_transform_spark.operators import multimodal as mm

    blob = bytearray(mm.encode_jpeg_color_blocks(16, 16, [1, 2, 3, 4], [9], [9], q=16))
    sof_at = bytes(blob).find(b"\xff\xc0")
    samp_at = sof_at + 2 + 2 + 6 + 1  # first component's sampling byte
    assert blob[samp_at] == 0x22
    h422 = blob.copy()
    h422[samp_at] = 0x21
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg_color(bytes(h422))
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg_color(mm._synth_jpeg(5))  # grayscale -> color API
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg(mm._synth_jpeg_color(5))  # color -> grayscale API


# --- image perceptual hash (r9) --------------------------------------------


def test_dhash60_monotone_extremes():
    """Packing contract pinned without the oracle: gray strictly
    increasing left-to-right -> no comparison fires -> hash 0; strictly
    decreasing -> all 60 bits set."""
    inc = np.tile(np.arange(64, dtype=np.uint8) * 3, (8, 1))
    rgb = np.repeat(inc[:, :, None], 3, axis=2)
    assert mm.dhash60(rgb) == 0
    dec = rgb[:, ::-1, :]
    assert mm.dhash60(dec) == (1 << 60) - 1


def test_dhash60_msb_first_packing():
    """One fired comparison at grid position (0, 0) must land on bit
    59 (MSB-first row-major packing — the oracle packs identically)."""
    gray = np.tile(np.arange(16, dtype=np.uint8) * 4, (4, 1))
    gray[:, 0] = 255  # sampled col 0 > col 1 in EVERY row (rows map 4->4)
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    h = mm.dhash60(rgb)
    # exactly one bit per row: positions 59 - r*15 for r in 0..3
    assert h == sum(1 << (59 - r * 15) for r in range(4))


def test_phash_fixture_group_structure():
    """Group-mates (same base, one perturbed byte each) must hash to
    within PHASH_MAX_HAMMING of each other; different bases must be
    far apart for the overwhelming majority of pairs."""
    from flink_kafka_filter_transform_spark.operators import params

    def hash_of(doc):
        _w, _h, _mx, px = mm.decode_image(mm._synth_phash_ppm(doc))
        return mm.dhash60(px)

    group0 = [hash_of(d) for d in range(4)]
    for a in group0:
        for b in group0:
            assert bin(a ^ b).count("1") <= params.PHASH_MAX_HAMMING
    far = [hash_of(d * 4) for d in range(1, 20)]
    near_cross = sum(
        1 for x in far if bin(group0[0] ^ x).count("1") <= params.PHASH_MAX_HAMMING
    )
    assert near_cross <= 2


# --- audio fingerprint (r9) ------------------------------------------------


def test_audio_fingerprint60_monotone_extremes():
    """Frame energies strictly increasing -> no comparison fires ->
    hash 0; strictly decreasing -> all 60 bits set."""
    from flink_kafka_filter_transform_spark.operators import params

    n = params.AFP_NFRAMES * params.AFP_FRAME
    ramp = np.repeat(np.arange(params.AFP_NFRAMES) * 100 + 1, params.AFP_FRAME)
    assert mm.audio_fingerprint60(ramp.astype(np.int64)) == 0
    assert mm.audio_fingerprint60(ramp[::-1].astype(np.int64)) == (1 << 60) - 1
    assert len(ramp) == n


def test_afp_fixture_group_structure():
    """Group-mates (same base clip, one perturbed sample each) must be
    within AFP_MAX_HAMMING; cross-base contours must be far."""
    from flink_kafka_filter_transform_spark.operators import params

    def hash_of(doc):
        _r, _n, samples = mm.decode_audio(mm._synth_afp_wav(doc))
        return mm.audio_fingerprint60(samples)

    group0 = [hash_of(d) for d in range(4)]
    for a in group0:
        for b in group0:
            assert bin(a ^ b).count("1") <= params.AFP_MAX_HAMMING
    far = [hash_of(d * 4) for d in range(1, 20)]
    near_cross = sum(
        1 for x in far if bin(group0[0] ^ x).count("1") <= params.AFP_MAX_HAMMING
    )
    assert near_cross == 0


# --- video frame-match (r9) --------------------------------------------------


def test_demux_ppm_stream_roundtrip_and_loud_failures():
    """Demux returns VID_NFRAMES standalone P6 frames each accepted by
    the real decoder; corrupt containers fail loudly."""
    from flink_kafka_filter_transform_spark.operators import params

    blob = mm._synth_video(7)
    frames = mm.demux_ppm_stream(blob)
    assert len(frames) == params.VID_NFRAMES
    for f in frames:
        w, h, maxval, px = mm.decode_image(f)
        assert (w, h, maxval) == (params.VID_W, params.VID_H, 255)
        assert px.shape == (params.VID_H, params.VID_W, 3)
    with pytest.raises(ValueError):
        mm.demux_ppm_stream(b"P5" + blob[2:])  # wrong magic
    with pytest.raises(ValueError):
        mm.demux_ppm_stream(blob[:-10])  # truncated raster


def test_video_fixture_group_structure():
    """Group-mates share >= VID_MIN_MATCH frame hashes (>= 6 by
    construction: 10 frames minus at most 4 video-unique positions);
    cross-group videos share none (md5-derived rows make distinct
    seeds independent 60-bit patterns)."""
    from flink_kafka_filter_transform_spark.operators import params

    def fhashes(v):
        return {
            mm.dhash60(mm.decode_image(f)[3])
            for f in mm.demux_ppm_stream(mm._synth_video(v))
        }

    h = {v: fhashes(v) for v in range(40)}
    for v, s in h.items():
        assert len(s) == params.VID_NFRAMES  # no within-video collisions
    for a in range(40):
        for b in range(a + 1, 40):
            m = len(h[a] & h[b])
            if a // params.VID_GROUP == b // params.VID_GROUP:
                assert m >= params.VID_MIN_MATCH + 1  # 6 or 8
            else:
                assert m == 0


def test_video_scene_cuts_fixture_and_readout():
    """The scene layout is a quadratic-residue pattern mod 5: doc_id in
    a non-residue class is single-scene (0 cuts); residue classes cut
    at the positions where f*f % 5 == doc_id % 5. The readout must
    agree with the layout when hashes behave (independent md5-row
    seeds are always > VID_CUT_HAMMING apart in practice at this
    scale), and the run-length fold must reconstruct the layout's
    scene sizes."""
    from flink_kafka_filter_transform_spark.operators import params

    for d in range(25):
        blob = mm._synth_scene_video(d)
        hs = [mm.dhash60(mm.decode_image(f)[3]) for f in mm.demux_ppm_stream(blob)]
        cuts = [
            int(bin(hs[i] ^ hs[i + 1]).count("1") > params.VID_CUT_HAMMING)
            for i in range(len(hs) - 1)
        ]
        expect = [
            int((f * f) % params.VID_SCENE_MOD == d % params.VID_SCENE_MOD)
            for f in range(1, params.VID_NFRAMES)
        ]
        assert cuts == expect, (d, cuts, expect)

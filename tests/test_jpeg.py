"""Baseline JPEG codec (multimodal/jpeg.py): round-trip error bounds,
profile refusals, decode bounds, and the Spark kernel path."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
    MAX_PIXELS,
    jpeg_decode,
    jpeg_encode,
)


def _gradient(w, h):
    return [
        [((x * 8) % 256, (y * 8) % 256, ((x + y) * 4) % 256) for x in range(w)]
        for y in range(h)
    ]


def _err(a, b):
    return float(np.abs(np.asarray(a, float) - np.asarray(b, float)).max())


def test_flat_image_roundtrips_exactly():
    flat = [[(100, 150, 200)] * 16 for _ in range(16)]
    w, h, back = jpeg_decode(jpeg_encode(flat, quality=90))
    assert (w, h) == (16, 16)
    assert _err(flat, back) == 0.0


def test_smooth_gradient_high_quality_tight_bound():
    rows = _gradient(32, 24)
    w, h, back = jpeg_decode(jpeg_encode(rows, quality=95))
    assert (w, h) == (32, 24)
    assert _err(rows, back) <= 4.0  # quantization noise only


def test_partial_edge_blocks_odd_dimensions():
    # 13x11 exercises right/bottom partial MCUs + edge replication
    odd = [
        [((x * 37) % 256, (y * 53) % 256, 128) for x in range(13)]
        for y in range(11)
    ]
    w, h, back = jpeg_decode(jpeg_encode(odd, quality=90))
    assert (w, h) == (13, 11)
    assert _err(odd, back) <= 20.0


def test_lower_quality_degrades_but_decodes():
    noise = [
        [
            (
                (x * 73 + y * 151 + x * y) % 256,
                (x * 31 + y * 97) % 256,
                (x * x + y) % 256,
            )
            for x in range(17)
        ]
        for y in range(9)
    ]
    w, h, back = jpeg_decode(jpeg_encode(noise, quality=50))
    assert (w, h) == (17, 9)
    mean = float(
        np.abs(np.asarray(noise, float) - np.asarray(back, float)).mean()
    )
    assert mean < 64.0  # lossy, but in the image's neighborhood


def _tiled(w, h, tile, colors):
    """Raster of solid ``tile``×``tile`` squares colored from
    ``colors`` row-major — constant per chroma block at tile=16."""
    return [
        [colors[(y // tile) * (w // tile) + (x // tile)] for x in range(w)]
        for y in range(h)
    ]


def test_jpeg420_tiled_fixture_decodes_sample_exactly():
    # VERDICT r7 Next #5: the 4:2:0 path verified SAMPLE-EXACTLY
    # against an independently computed raster. Construction makes the
    # lossy codec exact: 16×16 solid tiles ⇒ every luma block and every
    # subsampled chroma block is constant (box average of a constant is
    # the constant; replication upsampling of a constant is exact), so
    # only DC coefficients survive, and at quality 97 the IJG-scaled
    # quant tables have DC step 1 ⇒ round(8d)/8 reconstructs each plane
    # to within 1/16, under the 0.5 rint margin of the exact YCbCr
    # inverse. Exercises the full MCU interleave (4 luma + Cb + Cr), DC
    # prediction across components and MCUs, and the upsampling path.
    import hashlib

    colors = [
        tuple(
            int(hashlib.md5(f"t{t}_{c}".encode()).hexdigest()[:2], 16)
            for c in range(3)
        )
        for t in range(8)
    ]
    rows = _tiled(64, 32, 16, colors)  # 4×2 tiles = 2×4... 8 MCUs
    data = jpeg_encode(rows, quality=97, subsample=True)
    w, h, back = jpeg_decode(data)
    assert (w, h) == (64, 32)
    assert _err(rows, back) == 0.0  # sample-exact
    # the stream really is 4:2:0: luma sampling byte is 0x22
    i = data.find(b"\xFF\xC0")
    assert data[i + 2 + 2 + 6 + 1] == 0x22
    # and it is smaller than the 4:4:4 encoding of the same raster
    assert len(data) < len(jpeg_encode(rows, quality=97))


def test_jpeg420_gray_gradient_tight_bound():
    # gray pixels ⇒ chroma identically zero ⇒ subsampling is exact and
    # the 4:2:0 roundtrip error is luma quantization noise only — the
    # same bound as the 4:4:4 gradient test (gradient chosen NOT to
    # wrap mod 256 inside the raster: a wrap edge rings)
    rows = [[(v := x * 4 + y * 3, v, v) for x in range(32)]
            for y in range(24)]
    w, h, back = jpeg_decode(jpeg_encode(rows, quality=95, subsample=True))
    assert (w, h) == (32, 24)
    assert _err(rows, back) <= 4.0


def test_jpeg420_odd_dimensions_partial_mcus():
    # 21×13 ⇒ partial MCUs on both edges (MCU grid 2×1 of 16×16);
    # smooth non-wrapping ramps so the error budget is quantization +
    # the chroma half-resolution smoothing, not wrap-edge ringing
    odd = [
        [(x * 9, y * 11, 128) for x in range(21)]
        for y in range(13)
    ]
    w, h, back = jpeg_decode(jpeg_encode(odd, quality=90, subsample=True))
    assert (w, h) == (21, 13)
    # chroma is smoothed by subsampling: bound is looser than 4:4:4
    # but the raster must stay in the source's neighborhood
    assert _err(odd, back) <= 32.0
    mean = float(np.abs(np.asarray(odd, float) - np.asarray(back, float)).mean())
    assert mean <= 8.0


def test_jpeg420_subsample_refuses_grayscale():
    g = [[0] * 8 for _ in range(8)]
    with pytest.raises(ValueError, match="color raster"):
        jpeg_encode(g, grayscale=True, subsample=True)


def test_grayscale_single_component_stream():
    g = [[(x * 9 + y * 5) % 256 for x in range(20)] for y in range(14)]
    data = jpeg_encode(g, quality=95, grayscale=True)
    w, h, back = jpeg_decode(data)
    assert (w, h) == (20, 14)
    assert all(p[0] == p[1] == p[2] for row in back for p in row)
    gm = [[p[0] for p in row] for row in back]
    assert _err(g, gm) <= 3.0


def test_refuses_non_baseline_profiles():
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_decode(b"nope")
    # arithmetic coding: rewrite our SOF0 marker to SOF9
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xC0")
    assert i > 0
    data[i + 1] = 0xC9
    with pytest.raises(ValueError, match="unsupported JPEG process"):
        jpeg_decode(bytes(data))
    # a BASELINE-coded stream merely relabeled SOF2 is not a valid
    # progressive stream (its one scan says Ss=0, Se=63 — a DC scan
    # may not carry a band) — refused, never decoded as garbage
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xC0")
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        jpeg_decode(bytes(data))
    # sampling factor 3 stays refused (legal per T.81, absent from
    # JFIF practice, and the replication upsampler needs integer
    # ratios) — r11 lifted the factor-4 refusal (4:1:1 decodes), not
    # the whole lattice
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xC0")
    # SOF payload: len(2) prec(1) h(2) w(2) nc(1) then cid,samp,tq
    data[i + 2 + 2 + 6 + 1] = 0x31
    with pytest.raises(ValueError, match="sampling factors"):
        jpeg_decode(bytes(data))
    # T.81 B.2.3: > 10 data units per MCU refused before any
    # allocation — a crafted 4x4 + 4x4 + 4x4 frame declares 48
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xC0")
    for c in range(3):
        data[i + 2 + 2 + 6 + 1 + 3 * c] = 0x44
    with pytest.raises(ValueError, match="10 data units"):
        jpeg_decode(bytes(data))


def test_dimension_bound_refused_before_scan():
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xC0")
    # claim a raster far past MAX_PIXELS without supplying scan data
    struct.pack_into(">HH", data, i + 2 + 3, 65000, 65000)
    assert 65000 * 65000 > MAX_PIXELS
    with pytest.raises(ValueError, match="decode bound"):
        jpeg_decode(bytes(data))


def test_reordered_scan_components_refused():
    # review r7: SOS/SOF components pair positionally, so a reordered
    # scan must be refused, not decoded with cross-wired tables
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xDA")
    # SOS payload: len(2) ns(1) then (cid, tables) pairs — swap the
    # cids of components 1 and 2
    base = i + 2 + 2 + 1
    data[base], data[base + 2] = data[base + 2], data[base]
    with pytest.raises(ValueError, match="scan component order"):
        jpeg_decode(bytes(data))


def test_missing_huffman_table_is_valueerror():
    # a scan referencing an undefined DHT id must refuse uniformly
    # (ValueError), not leak KeyError from executor tasks
    data = bytearray(jpeg_encode(_gradient(8, 8)))
    i = data.find(b"\xFF\xDA")
    base = i + 2 + 2 + 1
    data[base + 1] = 0x33  # tables id 3/3: never defined
    with pytest.raises(ValueError, match="huffman table"):
        jpeg_decode(bytes(data))


def test_truncated_header_segments_are_valueerror():
    import struct

    full = jpeg_encode(_gradient(8, 8))
    # cut inside every header segment and require a uniform ValueError
    for marker in (b"\xFF\xDB", b"\xFF\xC0", b"\xFF\xC4", b"\xFF\xDA"):
        i = full.find(marker)
        assert i > 0
        cut = full[: i + 6]
        with pytest.raises(ValueError):
            jpeg_decode(cut)
    # a DQT whose declared length is intact but whose table bytes are
    # short must not IndexError
    data = bytearray(full)
    i = data.find(b"\xFF\xDB")
    ln = struct.unpack_from(">H", data, i + 2)[0]
    short = data[: i + 4 + 10] + data[i + 2 + ln :]
    struct.pack_into(">H", short, i + 2, 12)
    with pytest.raises(ValueError):
        jpeg_decode(bytes(short))


def test_truncated_entropy_stream_raises():
    data = jpeg_encode(_gradient(32, 32), quality=95)
    with pytest.raises(ValueError, match="truncated|missing"):
        jpeg_decode(data[: len(data) // 2])


def test_jpeg_through_spark_kernels(spark):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        extract_features,
        resize_images,
    )

    rows = _gradient(16, 16)
    media = spark.createDataFrame(
        [(1, "image", bytearray(jpeg_encode(rows, quality=95)))],
        "media_id long, modality string, content binary",
    )
    feats = extract_features(media, fake=False).collect()[0].features
    assert feats[:3] == [16.0, 16.0, 256.0]
    want_mr = sum(p[0] for r in rows for p in r) / 256.0
    assert abs(feats[3] - want_mr) <= 4.0  # lossy tolerance

    out = resize_images(media, width=4, height=4, fake=False).collect()[0]
    w, h, got = jpeg_decode(bytes(out.content))
    assert (w, h) == (4, 4)
    # nearest-neighbor of the decoded source, within one more lossy hop
    src = jpeg_decode(bytes(media.collect()[0].content))[2]
    want = [[src[y * 4][x * 4] for x in range(4)] for y in range(4)]
    assert _err(want, got) <= 24.0


# ------------------------------------------------- progressive (r10)


def test_progressive_roundtrip_identical_to_baseline():
    # the progressive encoder quantizes with the same _quantize_block
    # as baseline, so its decode must equal the baseline decode PIXEL
    # FOR PIXEL across layouts — incl. a non-MCU-multiple 4:2:0 frame,
    # where the interleaved DC grid (padded) and the non-interleaved
    # AC grids (component dims) genuinely differ
    cases = [
        (dict(), 16, 16),
        (dict(), 20, 14),
        (dict(subsample=True), 32, 32),
        (dict(subsample=True), 24, 17),
        (dict(grayscale=True), 20, 12),
    ]
    for kwargs, w, h in cases:
        if kwargs.get("grayscale"):
            rows = [[(x * 9 + y * 5) % 256 for x in range(w)] for y in range(h)]
        else:
            rows = [
                [((x * 11) % 256, (y * 7) % 256, ((x + y) * 5) % 256)
                 for x in range(w)]
                for y in range(h)
            ]
        base = jpeg_decode(jpeg_encode(rows, quality=90, **kwargs))
        prog = jpeg_decode(
            jpeg_encode(rows, quality=90, progressive=True, **kwargs)
        )
        assert base == prog, (kwargs, w, h)


def test_progressive_solid_tiles_exact():
    # the 4:2:0 sample-exactness construction of
    # test_jpeg420_tiled_fixture_decodes_sample_exactly (16x16 solid
    # tiles = constant per MCU, quality 97 = DC quant step 1) must
    # survive the progressive scan script unchanged
    import hashlib

    colors = [
        tuple(
            int(hashlib.md5(f"t{t}_{c}".encode()).hexdigest()[:2], 16)
            for c in range(3)
        )
        for t in range(8)
    ]
    rows = _tiled(64, 32, 16, colors)
    data = jpeg_encode(rows, quality=97, subsample=True, progressive=True)
    w, h, back = jpeg_decode(data)
    assert (w, h) == (64, 32)
    assert _err(rows, back) == 0.0
    # and the stream really is SOF2 with multiple scans
    assert data.find(b"\xFF\xC2") > 0 and data.find(b"\xFF\xC0") < 0
    assert data.count(b"\xFF\xDA") >= 7  # 1 DC + 3 comps x 2 bands


def _build_sa_fixture():
    """Hand-build a SUCCESSIVE-APPROXIMATION progressive stream —
    independent of jpeg_encode, so the decoder's Ah/Al paths are
    validated against a stream whose expected coefficients were
    chosen by hand, not against this codec's own encoder.

    Grayscale 16x8 (two blocks), quant table all ones. True quantized
    zigzag coefficients: block A: DC=5, zz[1]=3, zz[2]=-2, zz[5]=1;
    block B: DC=-3 only. Scan script:
      1. DC first  Al=1: diffs of DC>>1 (arithmetic): +2, then -4
      2. DC refine Al=0: bits 1, 1   (5 = 4|1; -3 = -4|1)
      3. AC first  Al=1, band 1-63: A codes 1, -1 (3 and -2 truncated
         toward zero), zz[5] vanishes at this precision; EOB1 with
         appended bit 0 ends A and swallows B (eobrun = 1)
      4. AC refine Al=0: A: symbol (r=2, s=1) inserts +1 at zz[5]
         after two zero-history skips, with correction bits 1 (3=2+1)
         and 0 (-2 stays) consumed while positioning over zz[1], zz[2];
         then EOB0; B: EOB0
    """
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        _BitWriter,
        _canonical_codes,
        _magnitude,
    )

    dc = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    # the baseline Annex K AC tables carry NO EOBn symbols (0x10 etc.
    # exist only in progressive streams), so the fixture defines its
    # own five-symbol AC table: EOB0, (0,1), (0,2), EOB1, (2,1)
    ac_bits = [0, 0, 5] + [0] * 13
    ac_vals = [0x00, 0x01, 0x02, 0x10, 0x21]
    ac = _canonical_codes(ac_bits, ac_vals)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")
    out += seg(0xFFDB, bytes([0]) + bytes([1] * 64))  # qt0 = all ones
    out += seg(0xFFC2, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    out += seg(0xFFC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))

    def sos(ss, se, ah, al):
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    # scan 1: DC first, Al=1 — diffs +2 then -4
    bw = _BitWriter()
    for diff in (2, -4):
        s, bits = _magnitude(diff)
        code, ln = dc[s]
        bw.put(code, ln)
        bw.put(bits, s)
    bw.flush()
    out += sos(0, 0, 0, 1) + bw.out
    # scan 2: DC refine, Al=0 — low bits 1, 1
    bw = _BitWriter()
    bw.put(1, 1)
    bw.put(1, 1)
    bw.flush()
    out += sos(0, 0, 1, 0) + bw.out
    # scan 3: AC first, Al=1 — A: 1 at zz[1], -1 at zz[2], EOB1(+0)
    bw = _BitWriter()
    for v in (1, -1):
        s, bits = _magnitude(v)
        code, ln = ac[s]  # run 0
        bw.put(code, ln)
        bw.put(bits, s)
    code, ln = ac[0x10]  # EOB1: eobrun = 2^1 - 1 + appended bit
    bw.put(code, ln)
    bw.put(0, 1)
    bw.flush()
    out += sos(1, 63, 0, 1) + bw.out
    # scan 4: AC refine, Al=0 — A: (r=2,s=1) + sign(+) + corr 1, 0;
    # EOB0; B: EOB0
    bw = _BitWriter()
    code, ln = ac[0x21]
    bw.put(code, ln)
    bw.put(1, 1)  # sign: +1
    bw.put(1, 1)  # correction for zz[1]: 2 -> 3
    bw.put(0, 1)  # correction for zz[2]: -2 stays
    code, ln = ac[0x00]
    bw.put(code, ln)  # EOB for rest of A
    bw.put(code, ln)  # EOB for B
    bw.flush()
    out += sos(1, 63, 1, 0) + bw.out
    out += b"\xFF\xD9"
    return bytes(out)


def test_progressive_successive_approximation_fixture():
    import numpy as np

    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        ZIGZAG,
        _C,
    )

    w, h, back = jpeg_decode(_build_sa_fixture())
    assert (w, h) == (16, 8)
    # expected pixels from the HAND-CHOSEN coefficients via the same
    # orthonormal IDCT, computed here independently of the decoder's
    # entropy path
    zz_a = np.zeros(64, dtype=np.int64)
    zz_a[0], zz_a[1], zz_a[2], zz_a[5] = 5, 3, -2, 1
    zz_b = np.zeros(64, dtype=np.int64)
    zz_b[0] = -3
    expect = np.zeros((8, 16))
    for bx, zz in ((0, zz_a), (1, zz_b)):
        nat = np.zeros(64)
        nat[ZIGZAG] = zz
        expect[:, bx * 8 : bx * 8 + 8] = _C.T @ nat.reshape(8, 8) @ _C
    exp = np.rint(np.clip(expect + 128.0, 0, 255)).astype(int)
    got = np.array([[p[0] for p in row] for row in back])
    assert (got == exp).all(), (got - exp)
    # grayscale fan-out
    assert all(p[0] == p[1] == p[2] for row in back for p in row)


def test_progressive_refusals():
    # an interleaved AC scan is invalid progressive syntax: patch the
    # first AC SOS (single-component) to claim ns=2 would break the
    # header length; instead check a DC-banded scan is refused via the
    # relabeled-baseline case in test_refuses_non_baseline_profiles.
    # Here: AC refinement magnitude must be 1 — corrupt scan 4's
    # symbol to (r=0, s=2) and expect the loud error
    fx = bytearray(_build_sa_fixture())
    # locate scan 4 (last SOS): payload byte AhAl == 0x10, Ss=1
    idx = fx.rfind(b"\xFF\xDA")
    assert fx[idx + 2 : idx + 4] == b"\x00\x08"  # length 8
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        _BitWriter,
        _canonical_codes,
    )

    # the fixture's own AC table (see _build_sa_fixture)
    ac = _canonical_codes([0, 0, 5] + [0] * 13, [0x00, 0x01, 0x02, 0x10, 0x21])
    bw = _BitWriter()
    code, ln = ac[0x02]  # r=0, s=2: illegal in a refinement scan
    bw.put(code, ln)
    bw.put(3, 2)
    bw.flush()
    patched = bytes(fx[: idx + 10]) + bw.out + b"\xFF\xD9"
    with pytest.raises(ValueError, match="refinement magnitude"):
        jpeg_decode(patched)


def test_progressive_refine_run_past_band_refused():
    # r10 review: an AC-refinement symbol whose zero-history run
    # cannot complete inside the band (here: four ZRLs = 64 zero
    # skips against a 63-slot band over all-zero history) must raise
    # the same loud refusal as the AC-first path, never silently drop
    # the run and misalign the following entropy bits
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        _BitWriter,
        _canonical_codes,
    )

    dc = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_bits = [0, 2] + [0] * 14
    ac_vals = [0x00, 0xF0]  # EOB0 + ZRL only
    ac = _canonical_codes(ac_bits, ac_vals)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")
    out += seg(0xFFDB, bytes([0]) + bytes([1] * 64))
    out += seg(0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xFFC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += seg(0xFFC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    # DC first scan: one block, diff 0
    bw = _BitWriter()
    code, ln = dc[0]
    bw.put(code, ln)
    bw.flush()
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + bw.out
    # AC refinement scan (Ah=1, Al=0): 4 x ZRL over an all-zero band
    bw = _BitWriter()
    code, ln = ac[0xF0]
    for _ in range(4):
        bw.put(code, ln)
    bw.flush()
    out += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + bw.out
    out += b"\xFF\xD9"
    with pytest.raises(ValueError, match="refinement run past band"):
        jpeg_decode(bytes(out))


# ------------------------------------------------- restart intervals


def test_restart_interval_roundtrip_identity():
    # DRI is a resync feature, not a pixel feature: at every interval,
    # layout, and BOTH coding modes the decode must equal the
    # no-restart decode bit for bit. The encoder resets its DC
    # predictors at each marker, so a decoder that forgot the reset
    # (or the byte alignment, or the EOB-run reset) diverges here.
    cases = [
        (dict(), 20, 14),
        (dict(subsample=True), 24, 17),
        (dict(grayscale=True), 20, 12),
    ]
    for kwargs, w, h in cases:
        if kwargs.get("grayscale"):
            rows = [[(x * 9 + y * 5) % 256 for x in range(w)] for y in range(h)]
        else:
            rows = [
                [((x * 11) % 256, (y * 7) % 256, ((x + y) * 5) % 256)
                 for x in range(w)]
                for y in range(h)
            ]
        for prog in (False, True):
            base = jpeg_decode(
                jpeg_encode(rows, quality=90, progressive=prog, **kwargs)
            )
            ri1_data = None
            for ri in (1, 2, 7):
                data = jpeg_encode(
                    rows, quality=90, progressive=prog,
                    restart_interval=ri, **kwargs,
                )
                assert struct.pack(">HHH", 0xFFDD, 4, ri) in data
                assert jpeg_decode(data) == base, (kwargs, prog, ri)
                if ri == 1:
                    ri1_data = data
            # the ri=1 stream must actually CONTAIN restart markers
            # (entropy data can't fake the 2-byte sequence: the
            # encoder stuffs 0x00 after every literal 0xFF)
            n_rst = sum(
                ri1_data.count(bytes([0xFF, 0xD0 + m])) for m in range(8)
            )
            assert n_rst > 0, (kwargs, prog)


def test_restart_missing_marker_refused():
    # strip the first RSTn from a restart stream: the decoder must
    # refuse at the resync point, not decode misaligned entropy
    for prog in (False, True):
        data = jpeg_encode(
            _gradient(32, 16), quality=90, progressive=prog,
            restart_interval=1,
        )
        i = min(
            j for j in (
                data.find(bytes([0xFF, 0xD0 + m])) for m in range(8)
            ) if j > 0
        )
        patched = data[:i] + data[i + 2:]
        # either the resync point finds entropy bytes ("expected") or
        # a later marker arrives with the wrong number ("sequence")
        with pytest.raises(ValueError, match="restart marker"):
            jpeg_decode(patched)


def test_restart_eobrun_crossing_boundary_refused():
    # hand-built: grayscale 24x8 (three blocks), DRI=1, one AC-first
    # scan whose first block ends with EOB1 + extra bit 1 -> eobrun=2,
    # which would have to span the restart boundary after block 1 — a
    # conforming encoder cannot emit this; the decoder must refuse
    # rather than silently resetting the run (the following bits
    # would decode misaligned)
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        _BitWriter,
        _canonical_codes,
        _magnitude,
    )

    ac_bits = [0, 0, 5] + [0] * 13
    ac_vals = [0x00, 0x01, 0x02, 0x10, 0x21]
    ac = _canonical_codes(ac_bits, ac_vals)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")
    out += seg(0xFFDB, bytes([0]) + bytes([1] * 64))
    out += seg(
        0xFFC2, struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0])
    )
    out += seg(0xFFC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    out += seg(0xFFDD, struct.pack(">H", 1))
    bw = _BitWriter()
    s, bits = _magnitude(1)
    code, ln = ac[s]
    bw.put(code, ln)
    bw.put(bits, s)
    code, ln = ac[0x10]  # EOB1: eobrun = 2^1 - 1 + appended bit
    bw.put(code, ln)
    bw.put(1, 1)  # -> eobrun = 2: covers blocks B and C, crossing
    bw.flush()
    out += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bw.out
    out += b"\xFF\xD9"
    with pytest.raises(ValueError, match="crosses a restart"):
        jpeg_decode(bytes(out))


def test_restart_dri_redefined_between_scans():
    # DRI resolves per scan (like DHT): splice DRI=0 in front of the
    # LAST SOS of an ri=1 progressive stream — the final AC scan's
    # entropy still contains RSTn markers, which a per-scan decoder
    # (now told ri=0) must surface as a loud error instead of decoding
    # through them; a decoder that latched the header DRI globally
    # would decode cleanly and fail this test
    data = jpeg_encode(_gradient(16, 16), progressive=True,
                       restart_interval=1)
    i = data.rfind(b"\xFF\xDA")
    assert i > 0
    patched = (
        data[:i] + struct.pack(">HHH", 0xFFDD, 4, 0) + data[i:]
    )
    # under ri=0 the final scan's embedded RSTn bytes surface as a
    # real marker mid-entropy — the loud truncation refusal
    with pytest.raises(ValueError, match="truncated JPEG entropy"):
        jpeg_decode(patched)


def test_restart_marker_out_of_sequence_refused():
    # the 0-7 cycle IS the resync mechanism: a stream whose restart
    # intervals were swapped or dropped still has valid-looking RSTn
    # bytes at every boundary, and only the sequence number betrays
    # it — renumber the first RST0 to RST1 and the decoder must
    # refuse, not decode spatially scrambled blocks (review r10)
    for prog in (False, True):
        data = bytearray(jpeg_encode(
            _gradient(32, 16), quality=90, progressive=prog,
            restart_interval=1,
        ))
        i = data.find(bytes([0xFF, 0xD0]))
        assert i > 0
        data[i + 1] = 0xD1
        with pytest.raises(ValueError, match="out of sequence"):
            jpeg_decode(bytes(data))


def test_restart_interval_encoder_validation():
    with pytest.raises(ValueError, match="restart_interval"):
        jpeg_encode(_gradient(8, 8), restart_interval=-1)
    with pytest.raises(ValueError, match="restart_interval"):
        jpeg_encode(_gradient(8, 8), restart_interval=65536)


# --------------------------------------------------- 12-bit precision


def test_jpeg12_gray_gradient_tight_bound():
    # non-wrapping 12-bit ramp: quantization noise only, at the SAME
    # relative bound as the 8-bit gradient test (qt x16 tracks the
    # 16x sample range, so 8-bit's <=4 scales to <=64 of 4095)
    g = [[x * 60 + y * 45 for x in range(32)] for y in range(24)]
    data = jpeg_encode(g, quality=95, grayscale=True, precision=12)
    # the stream is SOF1 (baseline SOF0 is 8-bit-only) with 16-bit DQT
    assert data.find(b"\xFF\xC1") > 0 and data.find(b"\xFF\xC0") < 0
    i = data.find(b"\xFF\xDB")
    assert data[i + 4] >> 4 == 1  # Pq=1
    w, h, back = jpeg_decode(data)
    assert (w, h) == (32, 24)
    gm = [[p[0] for p in row] for row in back]
    assert max(max(r) for r in gm) > 255  # native precision, not >>4
    assert _err(g, gm) <= 64.0


def test_jpeg12_flat_even_value_exact():
    # quality 97 -> luma DC step 1, x16 for 12-bit -> step 16; DCT DC
    # of a flat block is 8*(v-2048), so round(8*(v-2048)/16)*16/8
    # reconstructs v exactly whenever v is even
    flat = [[1000] * 16 for _ in range(16)]
    w, h, back = jpeg_decode(
        jpeg_encode(flat, quality=97, grayscale=True, precision=12)
    )
    assert all(p[0] == 1000 for row in back for p in row)


def test_jpeg12_color_modes_identity():
    # progressive and restart streams decode bit-identically to the
    # plain 12-bit sequential decode (same _quantize_block), across
    # 4:4:4 and 4:2:0
    rows = [
        [((x * 120) % 4000, (y * 110) % 4000, ((x + y) * 60) % 4000)
         for x in range(20)]
        for y in range(14)
    ]
    for kwargs in (dict(), dict(subsample=True)):
        base = jpeg_decode(
            jpeg_encode(rows, quality=95, precision=12, **kwargs)
        )
        prog = jpeg_decode(
            jpeg_encode(rows, quality=95, precision=12,
                        progressive=True, **kwargs)
        )
        rst = jpeg_decode(
            jpeg_encode(rows, quality=95, precision=12,
                        restart_interval=1, **kwargs)
        )
        assert base == prog == rst, kwargs


def test_jpeg12_refusals():
    with pytest.raises(ValueError, match="precision must be 8 or 12"):
        jpeg_encode(_gradient(8, 8), precision=10)
    # a 12-bit stream relabeled SOF0 is malformed (T.81 B.2.2:
    # baseline is 8-bit only) — refused, not decoded
    g = [[1000] * 8 for _ in range(8)]
    data = bytearray(jpeg_encode(g, quality=95, grayscale=True,
                                 precision=12))
    i = data.find(b"\xFF\xC1")
    data[i + 1] = 0xC0
    with pytest.raises(ValueError, match="SOF0.*8-bit"):
        jpeg_decode(bytes(data))
    # unsupported precision byte (10-bit) stays a loud refusal
    data = bytearray(jpeg_encode(g, quality=95, grayscale=True,
                                 precision=12))
    i = data.find(b"\xFF\xC1")
    data[i + 4] = 10  # SOF payload precision byte
    with pytest.raises(ValueError, match="unsupported JPEG precision"):
        jpeg_decode(bytes(data))


def test_jpeg12_stub_boundary_consistency():
    # review r10: once 12-bit streams decode, the binary_ops callers
    # must route the 0-4095 rows correctly — resize preserves the
    # stream's precision (the 8-bit re-encode default would KeyError
    # or clip), and decode_stub features normalize onto the 0-255
    # scale so one feature column never mixes scales
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        decode_stub,
        resize_stub,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        jpeg_precision,
    )

    rows12 = [[(4000, 2000, 1000)] * 16 for _ in range(16)]
    data12 = jpeg_encode(rows12, quality=97, precision=12)
    assert jpeg_precision(data12) == 12

    thumb = resize_stub(data12, 8, 8)
    assert jpeg_precision(thumb) == 12
    _, _, back = jpeg_decode(thumb)
    assert max(p[0] for row in back for p in row) > 255

    feats12 = decode_stub(data12, "image")
    rows8 = [[(4000 * 255 // 4095, 2000 * 255 // 4095,
               1000 * 255 // 4095)] * 16 for _ in range(16)]
    feats8 = decode_stub(jpeg_encode(rows8, quality=97), "image")
    # same 0-255 scale: the means agree within quantization noise
    for a, b in zip(feats12[3:7], feats8[3:7]):
        assert abs(a - b) < 4.0, (feats12, feats8)


def test_jpeg_precision_rejects_garbage_sof_byte():
    # ADVICE r10: jpeg_precision reads the precision byte of the first
    # SOFn marker; a crafted unsupported frame (e.g. SOF9 arithmetic)
    # can carry ANY byte there — even 0, which would ZeroDivisionError
    # a standalone caller computing maxval=(1<<p)-1. The probe's
    # refusals must stay a superset of jpeg_decode's: only 8 and 12
    # may be returned.
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        jpeg_precision,
    )

    for prec_byte in (0, 7, 16, 255):
        crafted = (
            b"\xFF\xD8"                        # SOI
            + b"\xFF\xC9\x00\x0B"              # SOF9 (arithmetic), len 11
            + bytes([prec_byte])               # garbage precision
            + b"\x00\x10\x00\x10\x01\x01\x11\x00"
        )
        with pytest.raises(ValueError, match="sample precision"):
            jpeg_precision(crafted)
    # supported precisions still pass through untouched
    assert jpeg_precision(jpeg_encode(_gradient(8, 8))) == 8


def test_jpeg_encode_range_validation():
    # out-of-range samples refuse loudly instead of dying in the
    # Huffman category lookup
    with pytest.raises(ValueError, match="outside the 8-bit range"):
        jpeg_encode([[(300, 0, 0)] * 8 for _ in range(8)])
    with pytest.raises(ValueError, match="outside the 12-bit range"):
        jpeg_encode([[5000] * 8 for _ in range(8)], grayscale=True,
                    precision=12)


def test_jpeg_pq1_in_8bit_stream_refused():
    # T.81 B.2.4.1: 16-bit quant tables are only legal in 12-bit
    # streams — the mirror image of the 12-bit-SOF0 refusal. Rewrite
    # an 8-bit stream's 8-bit DQT into an equivalent Pq=1 table and
    # the decoder must refuse rather than decode the malformation.
    data = bytearray(jpeg_encode(_gradient(16, 16)))
    i = data.find(b"\xFF\xDB")
    ln = struct.unpack_from(">H", data, i + 2)[0]
    assert ln == 2 + 1 + 64  # one 8-bit table
    entries = bytes(data[i + 5 : i + 5 + 64])
    wide = b"".join(struct.pack(">H", v) for v in entries)
    patched = (
        bytes(data[:i])
        + struct.pack(">HH", 0xFFDB, 2 + 1 + 128)
        + bytes([0x10 | (data[i + 4] & 15)])
        + wide
        + bytes(data[i + 2 + ln:])
    )
    with pytest.raises(ValueError, match="Pq=1"):
        jpeg_decode(patched)


# ---------------------------------------------------------------- #
# r11: generalized chroma layouts (4:2:2 / 4:4:0 encode, 4:1:1 both
# ways — the factor-4 profile) through the shared _pad_subsample


def test_jpeg_layout_names_roundtrip_all():
    # every named layout round-trips odd and even rasters with the
    # loose lossy bound, reports true dimensions, and declares the
    # right luma sampling byte
    samp_bytes = {"420": 0x22, "422": 0x21, "440": 0x12, "411": 0x41}
    for name, sb in samp_bytes.items():
        for w, h in ((32, 16), (33, 17), (40, 24)):
            # non-wrapping ramps (max 40*5 + 24*3 < 256): a mod-256
            # wrap edge rings under ANY lossy layout and would test
            # the raster, not the codec
            rows = [
                [(x * 5, y * 7, x * 3 + y * 3) for x in range(w)]
                for y in range(h)
            ]
            data = jpeg_encode(rows, quality=92, subsample=name)
            i = data.find(b"\xFF\xC0")
            assert data[i + 2 + 2 + 6 + 1] == sb, name
            ww, hh, back = jpeg_decode(data)
            assert (ww, hh) == (w, h), (name, w, h)
            assert _err(rows, back) <= 48.0, (name, w, h)


def test_jpeg411_tiled_fixture_decodes_sample_exactly():
    # the 4:2:0 sample-exactness construction transplanted to 4:1:1:
    # 32x8 solid tiles = one constant MCU each (4 luma blocks + the
    # 4x1 box average of a constant is the constant), quality 97 =
    # DC quant step 1, so decode reconstructs every sample exactly
    import hashlib

    colors = [
        tuple(
            int(hashlib.md5(f"q{t}_{c}".encode()).hexdigest()[:2], 16)
            for c in range(3)
        )
        for t in range(8)
    ]
    rows = [
        [colors[(y // 8) * 4 + (x // 32)] for x in range(128)]
        for y in range(16)
    ]
    data = jpeg_encode(rows, quality=97, subsample="411")
    w, h, back = jpeg_decode(data)
    assert (w, h) == (128, 16)
    assert _err(rows, back) == 0.0
    i = data.find(b"\xFF\xC0")
    assert data[i + 2 + 2 + 6 + 1] == 0x41
    # 6 blocks per MCU vs 4:4:4's 3-per-8x8: the stream is smaller
    assert len(data) < len(jpeg_encode(rows, quality=97))


def test_jpeg411_progressive_and_restart_identity():
    # progressive quantizes identically to baseline and restart
    # markers are pure resync: all four stream variants of one 4:1:1
    # raster decode to the same pixels
    rows = [
        [((x * 6) % 256, (y * 9) % 256, 77) for x in range(37)]
        for y in range(19)
    ]
    base = jpeg_decode(jpeg_encode(rows, quality=90, subsample="411"))
    for kwargs in (
        dict(progressive=True),
        dict(restart_interval=2),
        dict(progressive=True, restart_interval=3),
    ):
        got = jpeg_decode(
            jpeg_encode(rows, quality=90, subsample="411", **kwargs)
        )
        assert got == base, kwargs


def test_jpeg_subsample_arg_compat_and_refusals():
    rows = [[(x * 8, y * 8, 64) for x in range(16)] for y in range(16)]
    # bool True stays byte-identical to the named "420"
    assert jpeg_encode(rows, subsample=True) == jpeg_encode(
        rows, subsample="420"
    )
    with pytest.raises(ValueError, match="unknown subsample layout"):
        jpeg_encode(rows, subsample="444")  # default spelling refused
    with pytest.raises(ValueError, match="color raster"):
        jpeg_encode(
            [[0] * 8] * 8, grayscale=True, subsample="411"
        )


def test_jpeg411_12bit_native_range():
    # the factor-4 layout composes with the 12-bit extended
    # sequential profile: even 12-bit solid tiles decode exactly
    rows = [[(4000, 2000, 1000)] * 32 for _ in range(8)]
    data = jpeg_encode(rows, quality=97, subsample="411", precision=12)
    w, h, back = jpeg_decode(data)
    assert (w, h) == (32, 8)
    # color 12-bit is exact to the YCbCr round-trip's +-1 rint margin
    # (the sample-EXACT construction is grayscale-only, like the
    # jpeg12_audit); the point here is native range + layout compose
    assert all(
        abs(a - b) <= 1 for a, b in zip(back[0][0], (4000, 2000, 1000))
    ), back[0][0]
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.jpeg import (
        jpeg_precision,
    )
    assert jpeg_precision(data) == 12


def test_jpeg411_flows_through_decode_and_resize_stubs():
    # the binary_ops media plumbing needs no 4:1:1 special-casing —
    # decode_stub features and resize_stub thumbnails ride the same
    # jpeg_decode the audit certifies
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.multimodal.binary_ops import (
        decode_stub,
        resize_stub,
    )

    rows = [[(x * 3, y * 9, 80) for x in range(64)] for y in range(16)]
    data = jpeg_encode(rows, quality=92, subsample="411")
    feats = decode_stub(data, "image", fake=False)
    assert len(feats) > 0 and all(np.isfinite(feats))
    thumb = resize_stub(data, 16, 8, fake=False)
    w, h, back = jpeg_decode(thumb)
    assert (w, h) == (16, 8)

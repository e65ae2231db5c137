"""Baseline JPEG codec (pure Python/numpy, ITU-T T.81): round-trips
through our own Annex-K encoder across subsampling layouts, plus
structural refusals (grayscale, restart intervals, CMYK, progressive). Cross-validation against
real libjpeg-encoded files was performed during development (4:2:0 and
4:4:4 third-party files decode); tests here stay hermetic."""

import numpy as np
import pytest

from sketchlib.spark.jpeg import decode_jpeg, encode_jpeg


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255 ** 2 / mse) if mse else float("inf")


def _smooth(h, w, seed=0):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack([(y * 4 + seed) % 256 // 2 + 60,
                     (x * 3) % 256 // 2 + 40,
                     ((x + y) * 2) % 256 // 2 + 50],
                    axis=2).astype(np.uint8)


def test_flat_color_near_exact():
    # a flat block is DC-only; quantized DC at Annex K tables is exact
    # for 4:4:4 and within 1 LSB for 4:2:0 (chroma averaging)
    flat = np.full((24, 16, 3), 130, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(flat)), flat)
    d = decode_jpeg(encode_jpeg(flat, subsample="420"))
    assert np.abs(d.astype(int) - 130).max() <= 1


@pytest.mark.parametrize("sub", ["444", "422", "420"])
@pytest.mark.parametrize("seed", [0, 3])
def test_smooth_roundtrip_psnr(sub, seed):
    px = _smooth(37, 45, seed=seed)
    d = decode_jpeg(encode_jpeg(px, subsample=sub))
    assert d.shape == px.shape
    assert _psnr(px, d) > (43 if sub == "444" else 39), (sub, seed)


def test_grayscale_single_component():
    """A one-component (grayscale) stream refuses: YCbCr only."""
    data = bytearray(encode_jpeg(_smooth(8, 8)))
    data[bytes(data).find(b"\xFF\xC0") + 9] = 1  # SOF component count
    with pytest.raises(ValueError, match="component count"):
        decode_jpeg(bytes(data))


def test_dims_not_multiple_of_mcu():
    # 4:2:0 MCUs are 16x16; exercise every padding branch
    for (h, w) in [(1, 1), (7, 9), (16, 17), (15, 32)]:
        px = _smooth(h, w)
        for sub in ("444", "422", "420"):
            d = decode_jpeg(encode_jpeg(px, subsample=sub))
            assert d.shape == (h, w, 3), (h, w, sub)


def test_refusals():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG not a jpeg")
    # progressive SOF2 refused with guidance
    px = _smooth(8, 8)
    data = bytearray(encode_jpeg(px))
    idx = bytes(data).find(b"\xFF\xC0")
    data[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(data))
    # truncated: no SOS
    with pytest.raises(ValueError, match="SOS"):
        decode_jpeg(bytes(data[:idx]))
    # a restart interval (DRI) refuses
    good = encode_jpeg(px)
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(good[:2] + b"\xFF\xDD\x00\x04\x00\x02" + good[2:])


def test_extract_features_dispatches_jpeg(spark):
    from sketchlib.spark.multimodal import (MEDIA_SCHEMA, extract_features,
                                            image_feature_vector)
    px = _smooth(24, 32, seed=3)
    payload = encode_jpeg(px, subsample="420")
    df = spark.createDataFrame(
        [(1, "image", payload, "image/jpeg", 32, 24, None)], MEDIA_SCHEMA)
    feats = extract_features(df).collect()
    assert len(feats) == 1
    want = image_feature_vector(decode_jpeg(payload))
    assert np.allclose(feats[0]["feature"], want, atol=1e-6)


class TestJpegReviewFixes:
    """Round-3 review findings: linear-time bit I/O, structural
    ValueError contract, CMYK/multi-scan refusals, rounding, fill
    bytes."""

    def test_decode_time_linear_in_scan_size(self):
        """The bit accumulator must be masked — unmasked bignums made
        decode quadratic (41 s for a 224 KB scan before the fix)."""
        import time
        rng = np.random.default_rng(1)
        big = rng.integers(0, 256, (256, 256, 3), dtype=np.uint8)
        data = encode_jpeg(big)
        assert len(data) > 50_000  # noise compresses badly: a real scan
        t0 = time.time()
        out = decode_jpeg(data)
        assert out.shape == (256, 256, 3)
        assert time.time() - t0 < 5.0  # quadratic took minutes here

    def _patch_sof(self, data: bytes, fn) -> bytes:
        d = bytearray(data)
        i = bytes(d).find(b"\xFF\xC0")
        fn(d, i)
        return bytes(d)

    def test_cmyk_component_count_refused(self):
        data = encode_jpeg(_smooth(8, 8))
        bad = self._patch_sof(data, lambda d, i: d.__setitem__(i + 9, 4))
        with pytest.raises(ValueError, match="component count"):
            decode_jpeg(bad)

    def test_zero_sampling_factor_refused(self):
        data = encode_jpeg(_smooth(8, 8))
        # component 0 sampling byte -> 0x01 (h=0)
        bad = self._patch_sof(data, lambda d, i: d.__setitem__(i + 11, 0x01))
        with pytest.raises(ValueError, match="sampling"):
            decode_jpeg(bad)

    def test_truncated_segments_raise_valueerror(self):
        data = encode_jpeg(_smooth(8, 8))
        i = data.find(b"\xFF\xC0")
        with pytest.raises(ValueError):
            decode_jpeg(data[:i + 6])  # cut inside SOF
        # DRI with a short body
        dri = b"\xFF\xDD\x00\x03\x01"
        with pytest.raises(ValueError, match="DRI|truncated"):
            decode_jpeg(b"\xFF\xD8" + dri + data[2:i]
                        + b"\xFF\xD9")

    def test_fill_bytes_before_marker_ok(self):
        """T.81 B.1.1.2: 0xFF fill bytes may precede any marker."""
        data = encode_jpeg(_smooth(9, 11))
        i = data.find(b"\xFF\xDB")
        padded = data[:i] + b"\xFF\xFF\xFF" + data[i:]
        assert np.array_equal(decode_jpeg(padded), decode_jpeg(data))

    def test_grayscale_rounds_not_truncates(self):
        # flat gray levels: the color conversion must round, so each
        # decodes to exactly its level, never one below
        for v in (2, 78, 130, 254):
            flat = np.full((16, 16, 3), v, dtype=np.uint8)
            assert np.array_equal(decode_jpeg(encode_jpeg(flat)), flat), v


def test_truncated_dht_raises_valueerror():
    """A DHT cut inside its bits/values arrays must refuse with
    ValueError, not IndexError (quarantine handlers catch ValueError)."""
    data = encode_jpeg(_smooth(8, 8))
    i = data.find(b"\xFF\xC4")
    # rewrite the DHT length to truncate inside the bits array
    cut = data[:i] + b"\xFF\xC4\x00\x0A" + data[i + 4:i + 12] + b"\xFF\xD9"
    with pytest.raises(ValueError):
        decode_jpeg(cut)


def test_standalone_markers_in_header_skipped():
    """T.81 B.1.1.3: TEM (0x01) and RSTn carry NO length field. A
    stream with one before DQT must still decode — reading the next
    2 bytes as a segment length would desync the walk (ADVICE r3)."""
    px = _smooth(16, 16, seed=3)
    data = encode_jpeg(px)
    ref = decode_jpeg(data)
    i = data.find(b"\xFF\xDB")
    for standalone in (b"\xFF\x01", b"\xFF\xD3"):
        padded = data[:i] + standalone + data[i:]
        assert np.array_equal(decode_jpeg(padded), ref)

"""Multimodal plumbing: schema, batch shape, stub decode + REAL WAV codec."""

import numpy as np
import pytest

from sketchlib.spark.multimodal import (decode_stub, decode_wav, encode_wav,
                                        extract_features, make_fake_media,
                                        media_metadata, wav_feature_vector)


@pytest.fixture(scope="module")
def media(spark):
    df = make_fake_media(spark, n=200).cache()
    df.count()
    return df


def test_metadata_never_ships_payload(spark, media):
    meta = media_metadata(media, "media_id", "payload")
    assert meta.count() == 200
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_decode_stub_contract(spark):
    with pytest.raises(NotImplementedError, match="decode"):
        decode_stub(b"xx", "image")
    a = decode_stub(b"same-bytes", "image", fake=True)
    b = decode_stub(b"same-bytes", "image", fake=True)
    c = decode_stub(b"same-bytes", "audio", fake=True)
    assert a.shape == (64,) and a.dtype == np.float32
    assert np.array_equal(a, b)          # deterministic per payload
    assert not np.array_equal(a, c)      # kind-seeded


def test_extract_features_end_to_end(spark, media):
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 200
    assert all(len(r["feature"]) == 64 for r in feats)
    by_id = {r["media_id"]: r["feature"] for r in feats}
    again = {r["media_id"]: r["feature"]
             for r in extract_features(media, fake=True).collect()}
    assert by_id == again  # run-to-run deterministic through Spark


class TestWavCodec:
    def test_roundtrip_16bit(self):
        t = np.arange(1600) / 8000.0
        x = 0.7 * np.sin(2 * np.pi * 440 * t)
        back = decode_wav(encode_wav(x, 8000))
        assert back.dtype == np.float32 and len(back) == 1600
        assert np.abs(back - x).max() < 2e-4  # 16-bit quantization only

    def test_stereo_and_8bit(self):
        import io
        import wave
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(1)
            w.setframerate(8000)
            frames = np.array([128, 128, 255, 1, 0, 256 - 2], dtype=np.uint8)
            w.writeframes(frames.tobytes())
        x = decode_wav(buf.getvalue())
        assert len(x) == 3  # stereo averaged to mono
        assert abs(x[0]) < 1e-6  # (128,128) -> silence
        assert abs(x[1]) < 0.01  # (255,1) averages near zero

    def test_feature_envelope_locates_energy(self):
        # energy only in the second half -> envelope reflects it
        x = np.concatenate([np.zeros(3200), 0.9 * np.ones(3200)])
        f = wav_feature_vector(x)
        assert f.shape == (64,) and f.dtype == np.float32
        assert np.allclose(f[:32], 0.0)
        assert np.allclose(f[32:], 0.9, atol=1e-3)

    def test_extract_features_real_codec(self, spark, media):
        audio = media.filter("kind = 'audio'")
        feats = extract_features(audio, fake=False).collect()  # REAL path
        assert len(feats) == audio.count() > 0
        assert all(len(r["feature"]) == 64 for r in feats)
        # real waveforms have non-trivial energy in every bin
        assert all(max(r["feature"]) > 0.1 for r in feats)

    def test_non_wav_kinds_still_stubbed(self):
        with pytest.raises(NotImplementedError, match="decode"):
            decode_stub(b"\x89PNG...", "image", fake=False)


class TestPpmCodec:
    def test_roundtrip(self):
        from sketchlib.spark.multimodal import decode_ppm, encode_ppm
        rng = np.random.default_rng(1)
        px = rng.integers(0, 256, (13, 7, 3), dtype=np.uint8)
        assert np.array_equal(decode_ppm(encode_ppm(px)), px)

    def test_header_comments_and_16bit(self):
        from sketchlib.spark.multimodal import decode_ppm
        # 2x1 image, comment line mid-header
        p = b"P6\n# a comment\n1 2\n255\n" + bytes([10, 20, 30, 40, 50, 60])
        px = decode_ppm(p)
        assert px.shape == (2, 1, 3) and px[1, 0, 2] == 60
        # 16-bit maxval downscales to 8-bit
        p16 = b"P6\n1 1\n65535\n" + (65535).to_bytes(2, "big") * 3
        assert (decode_ppm(p16) == 255).all()

    def test_rejects_non_p6(self):
        from sketchlib.spark.multimodal import decode_ppm
        with pytest.raises(ValueError):
            decode_ppm(b"\x89PNG....")

    def test_thumbnail_block_means(self):
        from sketchlib.spark.multimodal import image_thumbnail
        # constant image -> constant thumbnail at any size
        px = np.full((30, 50, 3), 128, dtype=np.uint8)
        th = image_thumbnail(px, 8, 8)
        assert th.shape == (8, 8, 3)
        assert np.allclose(th, 128 / 255.0)
        # top-half white, bottom-half black -> rows split exactly
        px2 = np.zeros((16, 16, 3), dtype=np.uint8)
        px2[:8] = 255
        th2 = image_thumbnail(px2, 2, 2)
        assert np.allclose(th2[0], 1.0) and np.allclose(th2[1], 0.0)

    def test_extract_features_real_image_path(self, spark, media):
        from sketchlib.spark.jpeg import decode_jpeg
        from sketchlib.spark.multimodal import (decode_png, decode_ppm,
                                                image_feature_vector)
        imgs = media.filter("kind = 'image'")
        feats = {r["media_id"]: r["feature"]
                 for r in extract_features(imgs, fake=False).collect()}
        assert len(feats) == imgs.count() > 0
        # spot-check one row of each codec against a local decode
        seen = set()
        for row in imgs.collect():
            payload = bytes(row["payload"])
            if payload[:1] == b"\x89":
                dec = decode_png
            elif payload[:2] == b"\xFF\xD8":
                dec = decode_jpeg
            else:
                dec = decode_ppm
            if dec in seen:
                continue
            seen.add(dec)
            want = image_feature_vector(dec(payload))
            assert np.allclose(feats[row["media_id"]], want, atol=1e-6)
        assert len(seen) == 3  # fixture carries PPM, PNG, and JPEG rows


class TestPngCodec:
    """Pure stdlib-zlib/numpy PNG decode: every filter type, every
    supported color type, 16-bit depth, palette, and the refusals."""

    def test_roundtrip_every_filter_type(self):
        from sketchlib.spark.multimodal import decode_png, encode_png
        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (11, 9, 3), dtype=np.uint8)
        for ft in range(5):
            got = decode_png(encode_png(px, filter_type=ft))
            assert np.array_equal(got, px), f"filter {ft}"

    def test_gradient_image_filters_agree(self):
        # smooth gradients exercise the predictors' wrap-around math
        from sketchlib.spark.multimodal import decode_png, encode_png
        y, x = np.mgrid[0:16, 0:20]
        px = np.stack([(y * 16) % 256, (x * 13) % 256,
                       (x * y) % 256], axis=2).astype(np.uint8)
        outs = [decode_png(encode_png(px, filter_type=f)) for f in range(5)]
        for o in outs:
            assert np.array_equal(o, px)

    def _chunks(self, *parts):
        from sketchlib.spark.multimodal import _PNG_SIG, _png_chunk
        return _PNG_SIG + b"".join(_png_chunk(t, b) for t, b in parts)

    def _ihdr(self, w, h, depth, ctype, interlace=0):
        import struct
        return struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)

    def test_gray_palette_alpha_16bit(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        # gray 8-bit 2x2 (filter 0 rows)
        raw = b"\x00" + bytes([0, 255]) + b"\x00" + bytes([128, 64])
        png = self._chunks((b"IHDR", self._ihdr(2, 2, 8, 0)),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        assert px.shape == (2, 2, 3)
        assert (px[0, 1] == 255).all() and (px[1, 0] == 128).all()
        # palette: 2 entries, 1x2
        plte = bytes([255, 0, 0, 0, 0, 255])
        raw = b"\x00" + bytes([0, 1])
        png = self._chunks((b"IHDR", self._ihdr(2, 1, 8, 3)),
                           (b"PLTE", plte),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        assert tuple(px[0, 0]) == (255, 0, 0) and tuple(px[0, 1]) == (0, 0, 255)
        # RGBA: alpha composites over black
        raw = b"\x00" + bytes([200, 100, 50, 255, 200, 100, 50, 0])
        png = self._chunks((b"IHDR", self._ihdr(2, 1, 8, 6)),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        assert tuple(px[0, 0]) == (200, 100, 50) and tuple(px[0, 1]) == (0, 0, 0)
        # gray+alpha half-transparent
        raw = b"\x00" + bytes([200, 128])
        png = self._chunks((b"IHDR", self._ihdr(1, 1, 8, 4)),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        assert tuple(decode_png(png)[0, 0]) == (100, 100, 100)
        # 16-bit RGB takes the high byte
        raw = b"\x00" + bytes([0xAB, 0xCD, 0x12, 0x34, 0xFF, 0x00])
        png = self._chunks((b"IHDR", self._ihdr(1, 1, 16, 2)),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        assert tuple(decode_png(png)[0, 0]) == (0xAB, 0x12, 0xFF)

    def test_multiple_idat_chunks(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        raw = zlib.compress(b"\x00" + bytes([7, 8, 9]))
        png = self._chunks((b"IHDR", self._ihdr(1, 1, 8, 2)),
                           (b"IDAT", raw[:5]), (b"IDAT", raw[5:]),
                           (b"IEND", b""))
        assert tuple(decode_png(png)[0, 0]) == (7, 8, 9)

    def test_refusals(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        with pytest.raises(ValueError, match="signature"):
            decode_png(b"P6\n1 1\n255\nxxx")
        # Adam7 is SUPPORTED now: a 1x1 interlaced image is one
        # single-pixel pass
        px = decode_png(self._chunks(
            (b"IHDR", self._ihdr(1, 1, 8, 2, interlace=1)),
            (b"IDAT", zlib.compress(b"\x00abc")), (b"IEND", b"")))
        assert tuple(px[0, 0]) == (ord("a"), ord("b"), ord("c"))
        with pytest.raises(ValueError, match="bit depth"):
            decode_png(self._chunks(
                (b"IHDR", self._ihdr(1, 1, 4, 0)),
                (b"IDAT", zlib.compress(b"\x00a")), (b"IEND", b"")))
        with pytest.raises(ValueError, match="IHDR or IDAT"):
            decode_png(self._chunks((b"IEND", b"")))

    def test_extract_features_dispatches_png(self, spark):
        """A declared image/png row decodes for real (fake=False) and
        matches a local decode+feature run."""
        from sketchlib.spark.multimodal import (MEDIA_SCHEMA, decode_png,
                                                encode_png,
                                                image_feature_vector)
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
        payload = encode_png(px, filter_type=4)
        df = spark.createDataFrame(
            [(1, "image", payload, "image/png", 32, 24, None)], MEDIA_SCHEMA)
        feats = extract_features(df, fake=False).collect()
        assert len(feats) == 1
        want = image_feature_vector(decode_png(payload))
        assert np.allclose(feats[0]["feature"], want, atol=1e-6)


class TestPngCodecRound3Review:
    """Review fixes: tRNS palette alpha applied, ValueError contract on
    malformed payloads."""

    def _chunks(self, *parts):
        from sketchlib.spark.multimodal import _PNG_SIG, _png_chunk
        return _PNG_SIG + b"".join(_png_chunk(t, b) for t, b in parts)

    def _ihdr(self, w, h, depth, ctype):
        import struct
        return struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)

    def test_trns_palette_alpha_composites(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        plte = bytes([200, 100, 50, 0, 0, 255])
        raw = b"\x00" + bytes([0, 1, 0])
        png = self._chunks((b"IHDR", self._ihdr(3, 1, 8, 3)),
                           (b"PLTE", plte),
                           (b"tRNS", bytes([128])),  # entry 0 half-alpha
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        # entry 0 composited over black at alpha 128; entry 1 (no tRNS
        # byte) stays opaque
        assert tuple(px[0, 0]) == (100, 50, 25)
        assert tuple(px[0, 1]) == (0, 0, 255)
        assert tuple(px[0, 2]) == (100, 50, 25)

    def test_malformed_payloads_raise_valueerror(self):
        import zlib
        import pytest
        from sketchlib.spark.multimodal import decode_png
        # truncated IHDR body
        with pytest.raises(ValueError, match="IHDR"):
            decode_png(self._chunks((b"IHDR", b"\x00\x01"),
                                    (b"IDAT", b"x"), (b"IEND", b"")))
        # corrupt IDAT stream
        with pytest.raises(ValueError, match="IDAT"):
            decode_png(self._chunks((b"IHDR", self._ihdr(1, 1, 8, 2)),
                                    (b"IDAT", b"\xff\xfe\xfd"),
                                    (b"IEND", b"")))
        # palette index beyond PLTE
        png = self._chunks((b"IHDR", self._ihdr(1, 1, 8, 3)),
                           (b"PLTE", bytes([1, 2, 3])),
                           (b"IDAT", zlib.compress(b"\x00\x05")),
                           (b"IEND", b""))
        with pytest.raises(ValueError, match="palette index"):
            decode_png(png)
        # inflated size disagrees with header
        png = self._chunks((b"IHDR", self._ihdr(4, 4, 8, 2)),
                           (b"IDAT", zlib.compress(b"\x00abc")),
                           (b"IEND", b""))
        with pytest.raises(ValueError, match="pixel payload"):
            decode_png(png)


class TestPngColorKey:
    def _chunks(self, *parts):
        from sketchlib.spark.multimodal import _PNG_SIG, _png_chunk
        return _PNG_SIG + b"".join(_png_chunk(t, b) for t, b in parts)

    def _ihdr(self, w, h, depth, ctype):
        import struct
        return struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)

    def test_rgb_color_key_pixels_go_black(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        # 2 pixels: (10,20,30) keyed transparent, (10,20,31) kept
        raw = b"\x00" + bytes([10, 20, 30, 10, 20, 31])
        trns = (10).to_bytes(2, "big") + (20).to_bytes(2, "big") + \
            (30).to_bytes(2, "big")
        png = self._chunks((b"IHDR", self._ihdr(2, 1, 8, 2)),
                           (b"tRNS", trns),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        assert tuple(px[0, 0]) == (0, 0, 0)
        assert tuple(px[0, 1]) == (10, 20, 31)

    def test_gray_color_key(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        raw = b"\x00" + bytes([77, 78])
        png = self._chunks((b"IHDR", self._ihdr(2, 1, 8, 0)),
                           (b"tRNS", (77).to_bytes(2, "big")),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        assert tuple(px[0, 0]) == (0, 0, 0)
        assert tuple(px[0, 1]) == (78, 78, 78)

    def test_16bit_color_key_full_depth_compare(self):
        import zlib
        from sketchlib.spark.multimodal import decode_png
        # key 0xABCD: pixel1 matches exactly; pixel2 differs only in
        # the LOW byte (would wrongly match under an 8-bit compare)
        p1 = bytes([0xAB, 0xCD]) * 3
        p2 = bytes([0xAB, 0xCE]) * 3
        raw = b"\x00" + p1 + p2
        trns = bytes([0xAB, 0xCD]) * 3
        png = self._chunks((b"IHDR", self._ihdr(2, 1, 16, 2)),
                           (b"tRNS", trns),
                           (b"IDAT", zlib.compress(raw)), (b"IEND", b""))
        px = decode_png(png)
        assert tuple(px[0, 0]) == (0, 0, 0)
        assert tuple(px[0, 1]) == (0xAB, 0xAB, 0xAB)


class TestPngAdam7:
    def test_interlaced_roundtrip_all_filters(self):
        from sketchlib.spark.multimodal import decode_png, encode_png
        rng = np.random.default_rng(21)
        # sizes straddle the 8x8 pass grid: tiny, non-multiples, exact
        for (h, w) in [(1, 1), (3, 5), (8, 8), (13, 21), (16, 9)]:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for ft in range(5):
                got = decode_png(encode_png(px, filter_type=ft,
                                            interlace=True))
                assert np.array_equal(got, px), (h, w, ft)

    def test_interlaced_equals_progressive(self):
        from sketchlib.spark.multimodal import decode_png, encode_png
        y, x = np.mgrid[0:24, 0:17]
        px = np.stack([(y * 11) % 256, (x * 7) % 256,
                       (x + y) % 256], axis=2).astype(np.uint8)
        a = decode_png(encode_png(px, interlace=False))
        b = decode_png(encode_png(px, interlace=True))
        assert np.array_equal(a, b)

    def test_truncated_interlaced_raises(self):
        import zlib
        import pytest
        import struct
        from sketchlib.spark.multimodal import (_PNG_SIG, _png_chunk,
                                                decode_png)
        ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 1)
        png = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(b"\x00" + b"x" * 10))
               + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="pixel payload"):
            decode_png(png)


class TestMp4Probe:
    """Real ISO-BMFF container metadata probe (stdlib struct): the
    filter-before-decode step of a video pipeline."""

    def test_probe_roundtrip(self):
        from sketchlib.spark.multimodal import encode_mp4_stub, probe_mp4
        p = encode_mp4_stub(12345, 640, 360, mdat=b"junkjunk")
        meta = probe_mp4(p)
        assert meta["brand"] == "isom"
        assert meta["duration_ms"] == 12345
        assert meta["tracks"] == [
            {"handler": "vide", "width": 640, "height": 360,
             "n_samples": None, "sample_bytes": None,
             "mean_sample_bytes": None, "n_keyframes": None,
             "keyframe_interval": None, "bitrate_kbps": None}]

    def test_probe_sample_table(self):
        """stbl walk: stsz sample count/sizes, stss keyframe cadence,
        bitrate from mdhd duration (round-3 VERDICT item 4)."""
        from sketchlib.spark.multimodal import encode_mp4_stub, probe_mp4
        sizes = [1000, 2000, 500, 1500, 800, 1200, 700, 900, 600, 1100]
        p = encode_mp4_stub(10_000, 640, 360, mdat=b"x" * sum(sizes),
                            sample_sizes=sizes, keyframes=[1, 4, 7, 10])
        t = probe_mp4(p)["tracks"][0]
        assert t["n_samples"] == 10
        assert t["sample_bytes"] == sum(sizes)
        assert t["mean_sample_bytes"] == round(sum(sizes) / 10, 1)
        assert t["n_keyframes"] == 4
        assert t["keyframe_interval"] == 3.0  # (10-1)/3
        # 10300 bytes over 10s = 8.24 kbps
        assert t["bitrate_kbps"] == round(sum(sizes) * 8 / 1000 / 10, 1)

    def test_probe_no_stss_means_all_sync(self):
        """ISO 14496-12 8.6.2: absent stss => every sample is sync."""
        from sketchlib.spark.multimodal import encode_mp4_stub, probe_mp4
        p = encode_mp4_stub(2_000, 320, 240, sample_sizes=[100] * 6)
        t = probe_mp4(p)["tracks"][0]
        assert t["n_keyframes"] == 6 and t["keyframe_interval"] == 1.0

    def test_probe_truncated_stsz_refuses(self):
        from sketchlib.spark.multimodal import encode_mp4_stub, probe_mp4
        p = encode_mp4_stub(2_000, 320, 240, sample_sizes=[100] * 6,
                            keyframes=[1])
        i = p.find(b"stsz")
        # shrink the stsz box so its size table runs past the box end
        import struct
        bad = p[:i - 4] + struct.pack(">I", 16) + p[i:]
        with pytest.raises(ValueError):
            probe_mp4(bad)

    def test_probe_refusals(self):
        from sketchlib.spark.multimodal import encode_mp4_stub, probe_mp4
        with pytest.raises(ValueError, match="ftyp"):
            probe_mp4(b"\x00\x00\x00\x08free")
        # truncated moov: box size runs past the payload
        p = encode_mp4_stub(1000, 320, 240)
        with pytest.raises(ValueError, match="box size"):
            probe_mp4(p[:40])

    def test_video_metadata_over_spark(self, spark, media):
        from sketchlib.spark.multimodal import video_metadata
        vids = media.filter("kind = 'video'")
        got = {r["media_id"]: r for r in video_metadata(vids).collect()}
        want = {r["media_id"]: r for r in vids.collect()}
        assert len(got) == len(want) > 0
        for mid, row in got.items():
            assert row["brand"] == "isom"
            assert row["duration_ms"] == want[mid]["duration_ms"]
            assert row["width"] == want[mid]["width"]
            assert row["height"] == want[mid]["height"]
            assert row["n_tracks"] == 1
            # fixture videos carry a real sample table (MJPEG rows
            # hold 2-4 real frames, opaque rows 8-120 stat-only sizes)
            assert row["n_samples"] and row["n_samples"] >= 2
            assert row["mean_sample_bytes"] and row["bitrate_kbps"] > 0
            assert row["keyframe_interval"] >= 1.0

    def test_video_metadata_quarantines_non_bmff(self, spark):
        from sketchlib.spark.multimodal import MEDIA_SCHEMA, video_metadata
        df = spark.createDataFrame(
            [(1, "video", b"not an mp4 at all", "video/mp4", 10, 10, 5)],
            MEDIA_SCHEMA)
        rows = video_metadata(df).collect()
        assert len(rows) == 1 and rows[0]["brand"] is None


class TestAudioProbe:
    """MP3 frame-header / WAV metadata probe — the audio companion of
    the MP4 container probe."""

    def test_mp3_probe_roundtrip(self):
        from sketchlib.spark.multimodal import encode_mp3_stub, probe_mp3
        p = encode_mp3_stub(5000, bitrate_kbps=128, sample_rate=44100)
        m = probe_mp3(p)
        assert m["mpeg_version"] == 1 and m["layer"] == 3
        assert m["bitrate_kbps"] == 128
        assert m["sample_rate"] == 44100
        # CBR duration estimate within one frame of the target
        assert abs(m["duration_ms_est"] - 5000) < 100
        assert m["vbr"] is False and m["n_frames"] is None

    def test_mp3_xing_header_gives_frame_exact_duration(self):
        """A Xing tag in the first frame (the LAME VBR convention)
        upgrades duration to frames x samples-per-frame / rate and
        bitrate to the stream mean."""
        from sketchlib.spark.multimodal import encode_mp3_stub, probe_mp3
        p = encode_mp3_stub(5000, bitrate_kbps=128, sample_rate=44100,
                            xing=True)
        m = probe_mp3(p)
        assert m["vbr"] is True
        n_frames = m["n_frames"]
        assert n_frames == max(1, 5000 * 44100 // (1152 * 1000))
        assert m["duration_ms_est"] == n_frames * 1152 * 1000 // 44100
        # mean bitrate from byte count: equals the CBR rate here
        assert abs(m["bitrate_kbps"] - 128) <= 1

    def test_mp3_probe_skips_id3v2(self):
        from sketchlib.spark.multimodal import encode_mp3_stub, probe_mp3
        body = encode_mp3_stub(1000)
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
        m = probe_mp3(tag + body)
        assert m["bitrate_kbps"] == 128
        with pytest.raises(ValueError, match="sync"):
            probe_mp3(b"no audio content here at all")

    def test_audio_metadata_over_spark(self, spark, media):
        from sketchlib.spark.multimodal import audio_metadata
        audio = media.filter("kind = 'audio'")
        got = {r["media_id"]: r for r in audio_metadata(audio).collect()}
        want = {r["media_id"]: r for r in audio.collect()}
        assert len(got) == len(want) > 0
        for mid, row in got.items():
            assert row["container"] == "wav"
            assert row["sample_rate"] == 8000
            assert row["channels"] == 1
            assert abs(row["duration_ms_est"]
                       - want[mid]["duration_ms"]) <= 1

    def test_audio_metadata_mixed_and_quarantine(self, spark):
        from sketchlib.spark.multimodal import (MEDIA_SCHEMA,
                                                audio_metadata,
                                                encode_mp3_stub)
        df = spark.createDataFrame(
            [(1, "audio", encode_mp3_stub(2000), "audio/mpeg",
              None, None, 2000),
             (2, "audio", b"garbage bytes", None, None, None, None)],
            MEDIA_SCHEMA)
        rows = {r["media_id"]: r for r in audio_metadata(df).collect()}
        assert rows[1]["container"] == "mpeg"
        assert rows[1]["bitrate_kbps"] == 128
        assert rows[2]["container"] is None


class TestProbeHardening:
    """Review findings: corrupt-but-plausible payloads must quarantine
    (NULL rows), never fail the task; MP3 sync needs second-frame
    verification; Layer I/II get their own bitrate tables."""

    def test_corrupt_mp4_variants_quarantine(self, spark):
        import struct
        from sketchlib.spark.multimodal import MEDIA_SCHEMA, video_metadata

        def box(tag, payload):
            return struct.pack(">I", 8 + len(payload)) + tag + payload
        ftyp = box(b"ftyp", b"isom" + b"\x00" * 8)
        bad = [
            ftyp + box(b"moov", box(b"mvhd", b"")),        # empty mvhd
            ftyp + box(b"moov", box(b"mvhd", b"\x00" * 8)),  # short mvhd
            ftyp + box(b"moov", box(b"trak", box(b"tkhd", b""))),
            ftyp + box(b"moov", box(b"trak", box(
                b"mdia", box(b"hdlr", b"\x00" * 4)))),     # short hdlr
            ftyp + b"\x00\x00\x00\xFFmoov",                # size > buffer
        ]
        rows = [(i, "video", p, "video/mp4", None, None, None)
                for i, p in enumerate(bad)]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = video_metadata(df).collect()
        assert len(got) == len(bad)
        for r in got:
            assert r["duration_ms"] is None and r["width"] is None

    def test_truncated_wav_quarantines(self, spark):
        from sketchlib.spark.multimodal import MEDIA_SCHEMA, audio_metadata
        # RIFF/WAVE header with a truncated fmt chunk -> EOFError path
        p = b"RIFF" + (100).to_bytes(4, "little") + b"WAVE" + b"fmt " \
            + (16).to_bytes(4, "little") + b"\x01\x00"
        df = spark.createDataFrame(
            [(1, "audio", p, "audio/wav", None, None, None)], MEDIA_SCHEMA)
        rows = audio_metadata(df).collect()
        assert rows[0]["container"] is None

    def test_mp3_sync_needs_second_frame(self):
        from sketchlib.spark.multimodal import probe_mp3
        # an accidental 0xFF 0xFB inside junk, with NO follow-up frame
        junk = b"\x01\x02" + b"\xFF\xFB\x90\x00" + b"\x00" * 600
        with pytest.raises(ValueError, match="sync"):
            probe_mp3(junk)

    def test_layer2_bitrate_table(self):
        from sketchlib.spark.multimodal import probe_mp3
        # MPEG1 Layer II, br_idx=8 -> 128 kbps (Layer III table said 112)
        rate, kbps = 44100, 128
        hdr = bytes([0xFF, 0xFD, (8 << 4) | (0 << 2), 0x00])
        flen = 144 * kbps * 1000 // rate
        stream = (hdr + b"\x00" * (flen - 4)) * 4
        m = probe_mp3(stream)
        assert m["layer"] == 2 and m["bitrate_kbps"] == 128


def test_extract_features_quarantines_corrupt_payloads(spark):
    """One corrupt image/WAV payload yields a NULL feature row instead
    of failing the task; valid rows in the same batch still decode, and
    fake=False on a stub kind still fails fast (config error)."""
    from sketchlib.spark.multimodal import (MEDIA_SCHEMA, encode_ppm,
                                            extract_features)
    good = encode_ppm(np.full((8, 8, 3), 7, dtype=np.uint8))
    rows = [
        (1, "image", good, "image/x-portable-pixmap", 8, 8, None),
        (2, "image", b"\xFF\xD8\xFF\xDB broken jpeg", "image/jpeg",
         8, 8, None),
        (3, "image", b"\x89PNG\r\n\x1a\n truncated", "image/png",
         8, 8, None),
        (4, "audio", b"RIFF1234WAVEfmt \x10\x00\x00\x00\x01\x00",
         "audio/wav", None, None, 99),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r["feature"]
           for r in extract_features(df, fake=False).collect()}
    assert got[1] is not None and len(got[1]) == 64
    assert got[2] is None and got[3] is None and got[4] is None


class TestMjpegMp4Decode:
    """REAL MP4 sample extraction + MJPEG frame decode (round 4):
    stsz/stsc/stco demux through our own T.81 JPEG codec — the last
    'sample decode stays stubbed' surface shrinks to non-JPEG codecs."""

    def _mjpeg(self, n=3, seed=9):
        import numpy as np
        from sketchlib.spark.jpeg import encode_jpeg
        from sketchlib.spark.multimodal import encode_mp4_stub
        rng = np.random.default_rng(seed)
        frames = [encode_jpeg(rng.integers(0, 256, (16, 24, 3),
                                           dtype=np.uint8))
                  for _ in range(n)]
        return frames, encode_mp4_stub(3000, 24, 16, samples=frames)

    def test_extract_samples_roundtrip(self):
        from sketchlib.spark.multimodal import mp4_extract_samples
        frames, p = self._mjpeg()
        got = mp4_extract_samples(p)
        assert got == frames  # byte-exact demux

    def test_decode_frames_matches_direct_jpeg_decode(self):
        import numpy as np
        from sketchlib.spark.jpeg import decode_jpeg
        from sketchlib.spark.multimodal import decode_mp4_frames
        frames, p = self._mjpeg()
        decoded = decode_mp4_frames(p)
        assert len(decoded) == len(frames)
        for d, f in zip(decoded, frames):
            assert np.array_equal(d, decode_jpeg(f))

    def test_non_jpeg_samples_refuse_decode(self):
        from sketchlib.spark.multimodal import (encode_mp4_stub,
                                                decode_mp4_frames)
        p = encode_mp4_stub(1000, 8, 8, samples=[b"\x00\x01h264ish"])
        with pytest.raises(NotImplementedError, match="MJPEG"):
            decode_mp4_frames(p)

    def test_stats_only_container_refuses_extract(self):
        from sketchlib.spark.multimodal import (encode_mp4_stub,
                                                mp4_extract_samples)
        p = encode_mp4_stub(1000, 8, 8, sample_sizes=[10, 20])
        with pytest.raises(ValueError, match="sample table"):
            mp4_extract_samples(p)

    def test_extract_features_real_path_for_mjpeg(self):
        import numpy as np
        from sketchlib.spark.jpeg import decode_jpeg
        from sketchlib.spark.multimodal import (_decode_one,
                                                image_feature_vector)
        frames, p = self._mjpeg()
        feat = _decode_one(p, "video", "video/mp4", fake=True)
        want = image_feature_vector(decode_jpeg(frames[0]))
        assert np.allclose(feat, want)
        # and the probe still reads the same container
        from sketchlib.spark.multimodal import probe_mp4
        t = probe_mp4(p)["tracks"][0]
        assert t["n_samples"] == 3
        assert t["sample_bytes"] == sum(len(f) for f in frames)


def test_mp3_xing_found_behind_crc(monkeypatch=None):
    """protection_bit=0 inserts a 16-bit CRC between header and side
    info; the Xing tag shifts with it and must still be found (review
    finding r4)."""
    import struct
    from sketchlib.spark.multimodal import probe_mp3, _MP3_BITRATES, _MP3_RATES
    br_idx = _MP3_BITRATES[(1, 3)].index(128)
    sr_idx = _MP3_RATES[3].index(44100)
    # 0xFA = MPEG1 Layer III, protection ON (bit0=0 -> CRC present)
    hdr = bytes([0xFF, 0xFB & 0xFE, (br_idx << 4) | (sr_idx << 2), 0x00])
    flen = 144 * 128 * 1000 // 44100
    n_frames = 42
    body = bytearray(flen - 4)
    # CRC(2) + side info(32) then the tag
    tag_at = 2 + 32
    body[tag_at:tag_at + 16] = b"Xing" + struct.pack(
        ">III", 0x3, n_frames, flen * n_frames)
    frame = bytes(hdr) + bytes(body)
    m = probe_mp3(frame * 3)
    assert m["vbr"] is True and m["n_frames"] == n_frames
    assert m["duration_ms_est"] == n_frames * 1152 * 1000 // 44100


def test_mp4_truncated_stsc_refuses_with_valueerror():
    """A lying stsc entry_count must refuse with ValueError (never
    struct.error, which escapes the quarantine catches) even though
    probe_mp4 itself passes — it never parses stsc (review finding
    r4)."""
    import struct
    from sketchlib.spark.multimodal import (encode_mp4_stub,
                                            mp4_extract_samples)
    p = encode_mp4_stub(1000, 8, 8, samples=[b"\xFF\xD8fakejpeg"] * 2)
    i = p.find(b"stsc")
    # inflate the claimed entry count (at tag+8, after ver/flags)
    # far past the box end
    bad = p[:i + 8] + struct.pack(">I", 1000) + p[i + 12:]
    with pytest.raises(ValueError):
        mp4_extract_samples(bad)
    # same for stco
    j = p.find(b"stco")
    bad2 = p[:j + 8] + struct.pack(">I", 1 << 20) + p[j + 12:]
    with pytest.raises(ValueError):
        mp4_extract_samples(bad2)


class TestDecodeResourceGuards:
    """Round-4 fourth-pass review: adversarial payloads must refuse
    with quarantine-catchable ValueError, never ZeroDivisionError or
    an executor OOM."""

    def test_zero_dimension_png_refused(self):
        import struct
        import zlib as _z
        from sketchlib.spark.multimodal import (_PNG_SIG, _png_chunk,
                                                decode_png, _decode_one)
        ihdr = struct.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0)
        png = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", _z.compress(b""))
               + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="dimensions"):
            decode_png(png)
        # ValueError is what extract_features' quarantine catches — a
        # ZeroDivisionError (the pre-fix behavior) would kill the task
        try:
            _decode_one(png, "image", "image/png", fake=True)
        except ValueError:
            pass  # quarantine-catchable: correct

    def test_zero_dimension_jpeg_refused(self):
        from sketchlib.spark.jpeg import decode_jpeg, encode_jpeg
        data = encode_jpeg(np.full((8, 8, 3), 100, dtype=np.uint8))
        i = data.find(b"\xFF\xC0")
        # rewrite SOF height to 0
        bad = data[:i + 5] + b"\x00\x00" + data[i + 7:]
        with pytest.raises(ValueError, match="dimensions"):
            decode_jpeg(bad)

    def test_png_zip_bomb_refused(self):
        import struct
        import zlib as _z
        from sketchlib.spark.multimodal import (_PNG_SIG, _png_chunk,
                                                decode_png)
        # claims 2x2 RGB but IDAT inflates to ~50 MB
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        bomb = _z.compress(b"\x00" * (50 << 20), 9)  # ~50 KB compressed
        png = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", bomb) + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError, match="zip bomb|beyond"):
            decode_png(png)

    def test_huge_jpeg_dimensions_refused(self):
        import struct
        from sketchlib.spark.jpeg import decode_jpeg, encode_jpeg
        data = encode_jpeg(np.full((8, 8, 3), 100, dtype=np.uint8))
        i = data.find(b"\xFF\xC0")
        bad = data[:i + 5] + struct.pack(">HH", 65535, 65535) + data[i + 9:]
        with pytest.raises(ValueError, match="decode limit"):
            decode_jpeg(bad)


class TestMp4SampleTableEdges:
    """ADVICE r4: inconsistent stsz/stsc tables must raise loudly, and
    an incomplete handler-matching trak must not mask a later complete
    one."""

    @staticmethod
    def _frames():
        # extraction never decodes, so minimal JPEG-shaped bytes do
        return [b"\xFF\xD8" + bytes([i]) * 24 + b"\xFF\xD9"
                for i in range(3)]

    def test_stsc_covering_fewer_samples_than_stsz_raises(self):
        import struct
        from sketchlib.spark.multimodal import (encode_mp4_stub,
                                                mp4_extract_samples)
        frames = self._frames()
        payload = bytearray(encode_mp4_stub(3000, 16, 16, samples=frames))
        # patch stsc samples_per_chunk: n -> n-1 (chunk map now covers
        # fewer samples than stsz declares)
        i = payload.index(b"stsc")
        # stsc payload: version/flags(4) entry_count(4) then
        # (first_chunk, samples_per_chunk, desc) — samples_per_chunk
        # at tag_end + 4 + 4 + 4
        spc_off = i + 4 + 4 + 4 + 4
        (spc,) = struct.unpack(">I", payload[spc_off:spc_off + 4])
        assert spc == len(frames)
        payload[spc_off:spc_off + 4] = struct.pack(">I", spc - 1)
        with pytest.raises(ValueError, match="inconsistent"):
            mp4_extract_samples(bytes(payload))

    def test_incomplete_trak_then_complete_trak_succeeds(self):
        import struct
        from sketchlib.spark.multimodal import mp4_extract_samples

        def box(tag, payload):
            return struct.pack(">I", 8 + len(payload)) + tag + payload

        frames = self._frames()
        sizes = [len(s) for s in frames]
        ts = 1000
        dur = 1000
        mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, ts, dur)
                   + b"\x00" * 80)

        def tkhd():
            return box(b"tkhd", struct.pack(">B3xIIII", 0, 0, 0, 1, 0)
                       + struct.pack(">I", dur) + b"\x00" * 52
                       + struct.pack(">II", 16 << 16, 16 << 16))

        mdhd = box(b"mdhd", struct.pack(">B3xIIII", 0, 0, 0, ts, dur)
                   + b"\x00" * 4)
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"\x00")
        # first trak: declares 'vide' but carries NO sample table
        trak_inc = box(b"trak", tkhd() + box(b"mdia", mdhd + hdlr))
        n = len(frames)

        def stbl(chunk_off):
            stts = box(b"stts", struct.pack(">IIII", 0, 1, n, dur // n))
            stsz = box(b"stsz", struct.pack(">III", 0, 0, n)
                       + b"".join(struct.pack(">I", s) for s in sizes))
            stsc = box(b"stsc", struct.pack(">IIIII", 0, 1, 1, n, 1))
            stco = box(b"stco", struct.pack(">III", 0, 1, chunk_off))
            return box(b"minf", box(b"stbl", stts + stsz + stsc + stco))

        def assemble(off):
            trak_c = box(b"trak", tkhd()
                         + box(b"mdia", mdhd + hdlr + stbl(off)))
            moov = box(b"moov", mvhd + trak_inc + trak_c)
            ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                       + b"isommp42")
            head = ftyp + moov
            return head + box(b"mdat", b"".join(frames)), len(head) + 8

        _, off = assemble(0)
        payload, off2 = assemble(off)
        assert off == off2
        assert mp4_extract_samples(payload) == frames

    def test_only_incomplete_traks_still_raises(self):
        import struct
        from sketchlib.spark.multimodal import mp4_extract_samples

        def box(tag, payload):
            return struct.pack(">I", 8 + len(payload)) + tag + payload

        ts = dur = 1000
        mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, ts, dur)
                   + b"\x00" * 80)
        tkhd = box(b"tkhd", struct.pack(">B3xIIII", 0, 0, 0, 1, 0)
                   + struct.pack(">I", dur) + b"\x00" * 52
                   + struct.pack(">II", 16 << 16, 16 << 16))
        mdhd = box(b"mdhd", struct.pack(">B3xIIII", 0, 0, 0, ts, dur)
                   + b"\x00" * 4)
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"\x00")
        trak_inc = box(b"trak", tkhd + box(b"mdia", mdhd + hdlr))
        moov = box(b"moov", mvhd + trak_inc)
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                   + b"isommp42")
        with pytest.raises(ValueError, match="no complete sample table"):
            mp4_extract_samples(ftyp + moov + box(b"mdat", b""))


def test_media_features_catalog_query(spark):
    """The driver-visible media query: one row per media item,
    deterministic run-to-run, probe dims match the declared metadata
    for probed MP4s, and every feature row has the full 64-dim
    vector (quarantine-free on the clean fixture)."""
    from sketchlib.spark.queries import q_media_features
    rows = q_media_features(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 120
    by_id = {r["media_id"]: r for r in rows}
    from sketchlib.spark.multimodal import make_fake_media, FEATURE_DIM
    media = {r["media_id"]: r for r in
             make_fake_media(spark, n=120, seed=5)
             .select("media_id", "kind", "width", "height").collect()}
    for mid, r in by_id.items():
        assert r["feat_dim"] == FEATURE_DIM
        assert r["feat_sum"] is not None
        m = media[mid]
        if m["kind"] == "video":
            assert r["probe_w"] == m["width"], (mid, r, m)
            assert r["probe_h"] == m["height"]
        else:
            assert r["probe_w"] is None
    again = q_media_features(spark, "/root/testdata/sf0.001").collect()
    assert again == rows

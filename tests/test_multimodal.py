"""Multimodal plumbing: schema, batch shape, the media codecs and their
refusals, stub decode."""

import struct
import zlib

import numpy as np
import pytest

from sketchlib.io.fixtures import media_path
from sketchlib.spark.multimodal import (_PNG_SIG, _decode_one, _png_chunk,
                                        decode_png, decode_ppm, decode_stub,
                                        decode_wav, encode_wav,
                                        extract_features, media_metadata,
                                        wav_feature_vector)


def _png(*chunks):
    """PNG bytes from (tag, body) chunks."""
    return _PNG_SIG + b"".join(_png_chunk(t, b) for t, b in chunks)


def _ihdr(w, h, depth=8, ctype=2, interlace=0):
    return struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)


@pytest.fixture(scope="module")
def media(spark):
    df = spark.read.parquet(media_path(n=200, seed=5)).cache()
    df.count()
    return df


def test_metadata_never_ships_payload(spark, media):
    meta = media_metadata(media, "media_id", "payload")
    assert meta.count() == 200
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_decode_stub_contract(spark):
    a = decode_stub(b"same-bytes", "image")
    b = decode_stub(b"same-bytes", "image")
    c = decode_stub(b"same-bytes", "audio")
    assert a.shape == (64,) and a.dtype == np.float32
    assert np.array_equal(a, b)          # deterministic per payload
    assert not np.array_equal(a, c)      # kind-seeded


def test_extract_features_end_to_end(spark, media):
    feats = extract_features(media).collect()
    assert len(feats) == 200
    assert all(len(r["feature"]) == 64 for r in feats)
    by_id = {r["media_id"]: r["feature"] for r in feats}
    again = {r["media_id"]: r["feature"]
             for r in extract_features(media).collect()}
    assert by_id == again  # run-to-run deterministic through Spark


class TestWavCodec:
    def test_roundtrip_16bit(self):
        t = np.arange(1600) / 8000.0
        x = 0.7 * np.sin(2 * np.pi * 440 * t)
        back = decode_wav(encode_wav(x, 8000))
        assert back.dtype == np.float32 and len(back) == 1600
        assert np.abs(back - x).max() < 2e-4  # 16-bit quantization only

    def test_stereo_and_8bit(self):
        """16-bit mono only: stereo and 8-bit PCM refuse (quarantine)."""
        import io
        import wave
        for nch, width in ((2, 2), (1, 1)):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(nch)
                w.setsampwidth(width)
                w.setframerate(8000)
                w.writeframes(b"\x80" * 6)
            with pytest.raises(ValueError, match="16-bit mono"):
                decode_wav(buf.getvalue())

    def test_feature_envelope_locates_energy(self):
        # energy only in the second half -> envelope reflects it
        x = np.concatenate([np.zeros(3200), 0.9 * np.ones(3200)])
        f = wav_feature_vector(x)
        assert f.shape == (64,) and f.dtype == np.float32
        assert np.allclose(f[:32], 0.0)
        assert np.allclose(f[32:], 0.9, atol=1e-3)

    def test_extract_features_real_codec(self, spark, media):
        audio = media.filter("kind = 'audio'")
        feats = {r["media_id"]: r["feature"]
                 for r in extract_features(audio).collect()}
        rows = audio.collect()
        assert len(feats) == len(rows) > 0
        for r in rows:  # the real codec's envelope, not the stub's
            want = wav_feature_vector(decode_wav(bytes(r["payload"])))
            assert np.allclose(feats[r["media_id"]], want, atol=1e-6)

    def test_non_wav_kinds_still_stubbed(self):
        for payload, kind, mime in [(b"ID3\x04 mpeg-ish", "audio", "audio/mpeg"),
                                    (b"\x00\x01 h264-ish", "video", "video/mp4")]:
            assert np.array_equal(_decode_one(payload, kind, mime),
                                  decode_stub(payload, kind))


class TestPpmCodec:
    def test_roundtrip(self):
        from sketchlib.spark.multimodal import decode_ppm, encode_ppm
        rng = np.random.default_rng(1)
        px = rng.integers(0, 256, (13, 7, 3), dtype=np.uint8)
        assert np.array_equal(decode_ppm(encode_ppm(px)), px)

    def test_header_comments_and_16bit(self):
        # 2x1 image, comment line mid-header
        p = b"P6\n# a comment\n1 2\n255\n" + bytes([10, 20, 30, 40, 50, 60])
        px = decode_ppm(p)
        assert px.shape == (2, 1, 3) and px[1, 0, 2] == 60
        # 16-bit maxval refuses (maxval 255 only)
        p16 = b"P6\n1 1\n65535\n" + (65535).to_bytes(2, "big") * 3
        with pytest.raises(ValueError, match="maxval"):
            decode_ppm(p16)

    def test_rejects_non_p6(self):
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
                 for r in extract_features(imgs).collect()}
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
    """Pure stdlib-zlib/numpy PNG decode: every filter type of 8-bit
    RGB, and the refusals of every other layout."""

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

    def test_gray_palette_alpha_16bit(self):
        """Only 8-bit RGB decodes: gray, palette, gray+alpha, RGBA and
        16-bit RGB refuse with the quarantine-catchable ValueError."""
        for depth, ctype, raw in [(8, 0, b"\x00\x07"),
                                  (8, 3, b"\x00\x00"),
                                  (8, 4, b"\x00\x07\x08"),
                                  (8, 6, b"\x00" + bytes(4)),
                                  (16, 2, b"\x00" + bytes(6))]:
            png = _png((b"IHDR", _ihdr(1, 1, depth, ctype)),
                               (b"IDAT", zlib.compress(raw)),
                               (b"IEND", b""))
            with pytest.raises(ValueError, match="color type"):
                decode_png(png)

    def test_paeth_matches_spec_scalar(self):
        """The vectorized Paeth predictor against the spec's scalar
        form (PNG §9.4) over random (left, up, up-left) bytes."""
        from sketchlib.spark.multimodal import _paeth

        def spec(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        abc = np.random.default_rng(0).integers(0, 256, (3, 5000))
        assert _paeth(*abc.astype(np.int16)).tolist() == [
            spec(*map(int, t)) for t in abc.T]

    def test_multiple_idat_chunks(self):
        raw = zlib.compress(b"\x00" + bytes([7, 8, 9]))
        png = _png((b"IHDR", _ihdr(1, 1, 8, 2)),
                           (b"IDAT", raw[:5]), (b"IDAT", raw[5:]),
                           (b"IEND", b""))
        assert tuple(decode_png(png)[0, 0]) == (7, 8, 9)

    def test_refusals(self):
        with pytest.raises(ValueError, match="signature"):
            decode_png(b"P6\n1 1\n255\nxxx")
        with pytest.raises(ValueError, match="interlace"):
            decode_png(_png(
                (b"IHDR", _ihdr(1, 1, 8, 2, interlace=1)),
                (b"IDAT", zlib.compress(b"\x00abc")), (b"IEND", b"")))
        with pytest.raises(ValueError, match="bit depth"):
            decode_png(_png(
                (b"IHDR", _ihdr(1, 1, 4, 0)),
                (b"IDAT", zlib.compress(b"\x00a")), (b"IEND", b"")))
        with pytest.raises(ValueError, match="IHDR or IDAT"):
            decode_png(_png((b"IEND", b"")))

    def test_extract_features_dispatches_png(self, spark):
        """A declared image/png row decodes for real and matches a
        local decode+feature run."""
        from sketchlib.spark.multimodal import (MEDIA_SCHEMA, decode_png,
                                                encode_png,
                                                image_feature_vector)
        rng = np.random.default_rng(9)
        px = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
        payload = encode_png(px, filter_type=4)
        df = spark.createDataFrame(
            [(1, "image", payload, "image/png", 32, 24, None)], MEDIA_SCHEMA)
        feats = extract_features(df).collect()
        assert len(feats) == 1
        want = image_feature_vector(decode_png(payload))
        assert np.allclose(feats[0]["feature"], want, atol=1e-6)


class TestPngCodecRound3Review:
    """Review fixes: ValueError contract on malformed payloads."""

    def test_malformed_payloads_raise_valueerror(self):
        # truncated IHDR body
        with pytest.raises(ValueError, match="IHDR"):
            decode_png(_png((b"IHDR", b"\x00\x01"),
                                    (b"IDAT", b"x"), (b"IEND", b"")))
        # corrupt IDAT stream
        with pytest.raises(ValueError, match="IDAT"):
            decode_png(_png((b"IHDR", _ihdr(1, 1, 8, 2)),
                                    (b"IDAT", b"\xff\xfe\xfd"),
                                    (b"IEND", b"")))
        # tRNS transparency refuses
        png = _png((b"IHDR", _ihdr(1, 1, 8, 2)),
                           (b"tRNS", bytes(6)),
                           (b"IDAT", zlib.compress(b"\x00abc")),
                           (b"IEND", b""))
        with pytest.raises(ValueError, match="tRNS"):
            decode_png(png)
        # inflated size disagrees with header
        png = _png((b"IHDR", _ihdr(4, 4, 8, 2)),
                           (b"IDAT", zlib.compress(b"\x00abc")),
                           (b"IEND", b""))
        with pytest.raises(ValueError, match="pixel payload"):
            decode_png(png)


class TestPngAdam7:
    """Adam7 interlacing refuses before any pixel is inflated."""

    def test_truncated_interlaced_raises(self):
        png = _png((b"IHDR", _ihdr(16, 16, interlace=1)),
                   (b"IDAT", zlib.compress(b"\x00" + b"x" * 10)),
                   (b"IEND", b""))
        with pytest.raises(ValueError, match="interlace"):
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
    """WAV header probe — the audio companion of the MP4 container
    probe."""

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
        """WAV rows probe; MPEG audio and garbage yield NULL columns."""
        from sketchlib.spark.multimodal import MEDIA_SCHEMA, audio_metadata
        mpeg = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(413)
        df = spark.createDataFrame(
            [(1, "audio", encode_wav(np.zeros(800), 8000), "audio/wav",
              None, None, 100),
             (2, "audio", mpeg * 4, "audio/mpeg", None, None, None),
             (3, "audio", b"garbage bytes", None, None, None, None)],
            MEDIA_SCHEMA)
        rows = {r["media_id"]: r for r in audio_metadata(df).collect()}
        assert rows[1]["container"] == "wav"
        assert rows[1]["duration_ms_est"] == 100
        assert rows[2]["container"] is None and rows[2]["sample_rate"] is None
        assert rows[3]["container"] is None


class TestProbeHardening:
    """Review findings: corrupt-but-plausible payloads must quarantine
    (NULL rows), never fail the task."""

    def test_corrupt_mp4_variants_quarantine(self, spark):
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

def test_extract_features_quarantines_corrupt_payloads(spark):
    """One corrupt image/WAV payload yields a NULL feature row instead
    of failing the task; valid rows in the same batch still decode."""
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
           for r in extract_features(df).collect()}
    assert got[1] is not None and len(got[1]) == 64
    assert got[2] is None and got[3] is None and got[4] is None


class TestMjpegMp4Decode:
    """REAL MP4 sample extraction + MJPEG frame decode (round 4):
    stsz/stsc/stco demux through our own T.81 JPEG codec — the last
    'sample decode stays stubbed' surface shrinks to non-JPEG codecs."""

    def _mjpeg(self, n=3, seed=9):
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
        from sketchlib.spark.jpeg import decode_jpeg
        from sketchlib.spark.multimodal import (_decode_one,
                                                image_feature_vector)
        frames, p = self._mjpeg()
        feat = _decode_one(p, "video", "video/mp4")
        want = image_feature_vector(decode_jpeg(frames[0]))
        assert np.allclose(feat, want)
        # and the probe still reads the same container
        from sketchlib.spark.multimodal import probe_mp4
        t = probe_mp4(p)["tracks"][0]
        assert t["n_samples"] == 3
        assert t["sample_bytes"] == sum(len(f) for f in frames)


def test_mp4_truncated_stsc_refuses_with_valueerror():
    """A lying stsc entry_count must refuse with ValueError (never
    struct.error, which escapes the quarantine catches) even though
    probe_mp4 itself passes — it never parses stsc (review finding
    r4)."""
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
        png = _png((b"IHDR", _ihdr(0, 0)), (b"IDAT", zlib.compress(b"")),
                   (b"IEND", b""))
        with pytest.raises(ValueError, match="dimensions"):
            decode_png(png)
        # ValueError is what extract_features' quarantine catches — a
        # ZeroDivisionError (the pre-fix behavior) would kill the task
        try:
            _decode_one(png, "image", "image/png")
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
        # claims 2x2 RGB but IDAT inflates to ~50 MB
        bomb = zlib.compress(b"\x00" * (50 << 20), 9)  # ~50 KB compressed
        png = _png((b"IHDR", _ihdr(2, 2)), (b"IDAT", bomb), (b"IEND", b""))
        with pytest.raises(ValueError, match="zip bomb|beyond"):
            decode_png(png)

    def test_huge_jpeg_dimensions_refused(self):
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
        from sketchlib.spark.multimodal import (encode_mp4_stub,
                                                mp4_extract_samples)
        frames = self._frames()
        payload = bytearray(encode_mp4_stub(3000, 16, 16, samples=frames))
        # patch stsc samples_per_chunk n -> n-1 (the chunk map now covers
        # fewer samples than stsz declares); it follows the tag,
        # version/flags, entry_count and first_chunk
        spc_off = payload.index(b"stsc") + 4 + 4 + 4 + 4
        (spc,) = struct.unpack(">I", payload[spc_off:spc_off + 4])
        assert spc == len(frames)
        payload[spc_off:spc_off + 4] = struct.pack(">I", spc - 1)
        with pytest.raises(ValueError, match="inconsistent"):
            mp4_extract_samples(bytes(payload))

    def test_incomplete_trak_then_complete_trak_succeeds(self):
        from sketchlib.spark.multimodal import (encode_mp4_stub,
                                                mp4_extract_samples)
        frames = self._frames()
        full = encode_mp4_stub(1000, 16, 16, samples=frames)
        # a 'vide' trak with NO sample table, spliced in ahead of the
        # complete one: moov grows and the chunk offset moves by its size
        bare = encode_mp4_stub(1000, 16, 16)
        t = bare.index(b"trak") - 4
        trak_inc = bare[t:t + struct.unpack(">I", bare[t:t + 4])[0]]
        k = len(trak_inc)
        m, c = full.index(b"moov") - 4, full.index(b"trak") - 4
        o = full.index(b"stco") + 12
        (moov_size,), (off,) = (struct.unpack(">I", full[i:i + 4])
                                for i in (m, o))
        payload = (full[:m] + struct.pack(">I", moov_size + k)
                   + full[m + 4:c] + trak_inc + full[c:o]
                   + struct.pack(">I", off + k) + full[o + 4:])
        assert mp4_extract_samples(payload) == frames

    def test_only_incomplete_traks_still_raises(self):
        from sketchlib.spark.multimodal import (encode_mp4_stub,
                                                mp4_extract_samples)
        # the fixture writer's bare container: one 'vide' trak, no stbl
        with pytest.raises(ValueError, match="no complete sample table"):
            mp4_extract_samples(encode_mp4_stub(1000, 16, 16))


def test_media_features_catalog_query(spark):
    """The driver-visible media query: one row per media item,
    deterministic run-to-run, probe dims match the declared metadata
    for probed MP4s, audio columns are set on WAV rows only, and every
    feature row has the full 64-dim vector (quarantine-free on the
    clean fixture)."""
    import io
    import wave
    from sketchlib.spark.multimodal import FEATURE_DIM
    from sketchlib.spark.queries import q_media_features
    rows = q_media_features(spark, None).collect()
    assert len(rows) == 120
    media = {r["media_id"]: r for r in
             spark.read.parquet(media_path(n=120, seed=5)).collect()}
    for r in rows:
        m = media[r["media_id"]]
        assert r["feat_dim"] == FEATURE_DIM
        assert r["feat_sum"] is not None
        if m["kind"] == "video":
            assert r["probe_w"] == m["width"], (r, m)
            assert r["probe_h"] == m["height"]
        else:
            assert r["probe_w"] is None
        if m["mime"] == "audio/wav":
            with wave.open(io.BytesIO(m["payload"])) as w:
                frames = w.getnframes()
            # the probe floors frames to ms; the fixture's duration_ms
            # rounds them
            assert r["sample_rate"] == 8000
            assert r["audio_ms"] == frames * 1000 // 8000
            assert 0 <= m["duration_ms"] - r["audio_ms"] <= 1
        else:
            assert r["sample_rate"] is None and r["audio_ms"] is None, r
    assert q_media_features(spark, None).collect() == rows

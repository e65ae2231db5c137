"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video content rides as ``binary`` columns next to typed
metadata (the same posture as ``pages.html``). The codecs are the ones
the ``media_features`` catalog entry reads, in stdlib + numpy only:

- **audio**: 16-bit mono PCM WAV. ``decode_wav`` -> ``wav_feature_vector``
  (64-dim RMS-energy envelope); ``audio_metadata`` reads WAV headers.
- **image**: binary PPM (P6, maxval 255), 8-bit RGB non-interlaced PNG
  (all five scanline filters) and baseline YCbCr JPEG
  (``sketchlib.spark.jpeg``) -> ``image_feature_vector`` (64-dim
  luminance thumbnail).
- **video**: ISO-BMFF (MP4) container probe (``probe_mp4`` /
  ``video_metadata``: brand, duration, per-track dimensions and sample
  table stats) and MJPEG-in-MP4 frame decode (``decode_mp4_frames``).
  Other video codecs need ffmpeg, which is not a dependency: they go
  through ``decode_stub``, a deterministic pseudo-decode.

Other variants of these formats refuse with ValueError, which the Spark
operators quarantine as NULL columns; transcode them at ingest. The
``encode_*`` functions write the media fixture (``fake_media_rows``).

At scale: binary payloads dominate bytes, so every operator here
column-prunes before the Python boundary and streams per Arrow batch
(bounded memory ~ batch_rows x max_payload).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, LongType,
                               StringType, StructField, StructType)

from sketchlib.core import hashing

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),      # image | audio | video
    StructField("payload", BinaryType(), False),   # opaque encoded bytes
    StructField("mime", StringType(), True),
    StructField("width", LongType(), True),        # image/video
    StructField("height", LongType(), True),
    StructField("duration_ms", LongType(), True),  # audio/video
])


def media_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Cheap JVM-side metadata: byte length + 64-bit content hash
    (xxhash64, built-in) — never ships the payload to Python."""
    return df.select(
        F.col(id_col),
        F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.xxhash64(F.col(payload_col)).alias("payload_xxh64"))


FEATURE_DIM = 64

# decode-side resource cap: a few-KB header can declare arbitrary
# dimensions; decoding is refused (ValueError, quarantine-catchable)
# past this many pixels. Raise deliberately for trusted corpora.
MAX_DECODE_PIXELS = 64_000_000


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Mono float waveform in [-1, 1] -> 16-bit PCM WAV bytes."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(int(rate))
        pcm = (np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
               * 32767.0).astype("<i2")
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> np.ndarray:
    """16-bit mono PCM WAV -> float32 waveform in [-1, 1] (stdlib
    ``wave``). Other sample widths and channel counts raise ValueError.
    """
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError(
                f"unsupported WAV layout: {w.getsampwidth() * 8}-bit, "
                f"{w.getnchannels()} channels (16-bit mono only)")
        raw = w.readframes(w.getnframes())
    return np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0


def wav_feature_vector(waveform: np.ndarray,
                       n_bins: int = FEATURE_DIM) -> np.ndarray:
    """RMS-energy envelope over ``n_bins`` equal time bins — the 64-dim
    audio feature of the extract_features contract."""
    x = np.asarray(waveform, dtype=np.float32)
    if len(x) == 0:
        return np.zeros(n_bins, dtype=np.float32)
    pad = (-len(x)) % n_bins
    if pad:
        x = np.pad(x, (0, pad))
    return np.sqrt((x.reshape(n_bins, -1).astype(np.float64) ** 2)
                   .mean(axis=1)).astype(np.float32)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """uint8 RGB image [h, w, 3] -> binary PPM (P6) bytes."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected [h, w, 3] RGB, got shape {px.shape}")
    h, w = px.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255) -> uint8 RGB [h, w, 3], pure numpy.

    Handles the format's '#' comments and arbitrary whitespace in the
    header; other maxvals (16-bit PPM included) raise ValueError.
    """
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    # header = magic + 3 ints, '#'-comments allowed between tokens
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    # exactly one whitespace byte after maxval, then raw pixels —
    # except text-mode Windows writers emit CRLF; treat that as one
    pos += 2 if payload[pos:pos + 2] == b"\r\n" else 1
    w, h, maxval = fields
    if not (maxval == 255 and w > 0 and h > 0):
        raise ValueError(f"unsupported PPM header: w={w} h={h} "
                         f"maxval={maxval} (maxval 255 only)")
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                         offset=pos).reshape(h, w, 3).copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (spec §9.4), element-wise over int16 arrays
    of the left, up and up-left bytes."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _filter_scanlines(px: np.ndarray, filter_type: int) -> bytes:
    """Filter an [h, w, 3] uint8 sub-image into PNG scanline bytes."""
    h, w = px.shape[:2]
    bpp = 3
    raw = px.reshape(h, w * bpp).astype(np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    lines = []
    for r in range(h):
        cur = raw[r]
        left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - ((left + prev) >> 1)
        else:
            upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
            filt = cur - _paeth(left, prev, upleft)
        lines.append(bytes([filter_type]) + (filt & 0xFF).astype(np.uint8)
                     .tobytes())
        prev = cur
    return b"".join(lines)


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 RGB [h, w, 3] -> PNG bytes (color type 2, bit depth 8).

    Every scanline uses ``filter_type`` (0=None 1=Sub 2=Up 3=Average
    4=Paeth) so each of ``decode_png``'s un-filter branches can be
    round-trip-tested; real encoders pick per-row, decode handles any
    mix."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected [h, w, 3] RGB, got shape {px.shape}")
    if filter_type not in range(5):
        raise ValueError(f"filter_type must be 0..4, got {filter_type}")
    h, w = px.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(
                _filter_scanlines(px, filter_type)))
            + _png_chunk(b"IEND", b""))


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering -> uint8[h, stride].

    Filters 0/1/2 are fully vectorized (Sub via per-lane cumsum mod
    256); Average and Paeth carry a within-row left dependency, so
    those rows fall back to a per-pixel loop vectorized across the
    pixel's byte lanes — fine for fixture/test scale."""
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"bad PNG pixel payload: expected {h * (1 + stride)} bytes "
            f"after inflate, got {len(raw)}")
    data = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes = data[:, 0]
    if (ftypes > 4).any():
        raise ValueError(f"bad PNG filter type {int(ftypes.max())}")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft = int(ftypes[r])
        cur = data[r, 1:].copy()
        if ft == 0:
            rec = cur
        elif ft == 1:  # Sub: recon = filt + left -> per-lane cumsum mod 256
            rec = cur.reshape(-1, bpp).astype(np.uint64).cumsum(axis=0) \
                .astype(np.uint8).reshape(-1)
        elif ft == 2:  # Up
            rec = cur + prev
        else:  # Average (3) / Paeth (4): left is the reconstructed pixel
            rec = cur
            up = prev.astype(np.int16)
            upleft = np.concatenate([np.zeros(bpp, np.int16), up[:-bpp]])
            left = np.zeros(bpp, np.int16)
            for k in range(0, stride, bpp):
                b = up[k:k + bpp]
                pred = ((left + b) >> 1 if ft == 3
                        else _paeth(left, b, upleft[k:k + bpp]))
                rec[k:k + bpp] = cur[k:k + bpp] + pred.astype(np.uint8)
                left = rec[k:k + bpp].astype(np.int16)
        out[r] = rec
        prev = rec
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 RGB [h, w, 3], stdlib zlib + numpy.

    8-bit RGB (color type 2), non-interlaced, any mix of the five
    scanline filters. Other color types and bit depths, Adam7
    interlacing and tRNS transparency raise ValueError — transcode
    those at ingest.
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"truncated PNG IHDR ({len(body)} bytes)")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"tRNS":
            raise ValueError("unsupported PNG transparency (tRNS)")
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG: missing IHDR or IDAT")
    w, h, depth, ctype, comp, fmeth, interlace = ihdr
    if w <= 0 or h <= 0:
        # a (0, 0) image would ZeroDivisionError in the thumbnail
        # block-mean — refuse with the quarantine-catchable error
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError(
            f"PNG dimensions {w}x{h} exceed the decode limit "
            f"({MAX_DECODE_PIXELS} px) — a few-KB header can claim "
            "arbitrary dimensions; raise MAX_DECODE_PIXELS deliberately")
    if comp or fmeth:
        raise ValueError(f"bad PNG compression/filter method {comp}/{fmeth}")
    if (depth, ctype, interlace) != (8, 2, 0):
        raise ValueError(
            f"unsupported PNG bit depth {depth}, color type {ctype}, "
            f"interlace {interlace} (8-bit RGB non-interlaced only: "
            "transcode at ingest)")
    # bound the inflate to what the declared geometry can legitimately
    # produce — an unbounded zlib.decompress would fully materialize a
    # zip bomb before any length check runs
    max_raw = h * (w * 3 + 1)
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), max_raw + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if len(raw) > max_raw or dec.unconsumed_tail:
        raise ValueError(
            "PNG IDAT inflates beyond the declared geometry (zip bomb)")
    return _png_unfilter(raw, h, w * 3, 3).reshape(h, w, 3)


def image_thumbnail(pixels: np.ndarray, out_h: int = 8,
                    out_w: int = 8) -> np.ndarray:
    """Block-mean resize (the 'resize' operator): uint8 RGB [h, w, 3]
    -> float32 [out_h, out_w, 3] in [0, 1]. Vectorized bincount over a
    precomputed cell index — no per-pixel Python. Images smaller than
    the grid are nearest-neighbor upsampled first (pixel repeat), so
    every output cell has >= 1 source pixel and no NaN can appear."""
    px = np.asarray(pixels, dtype=np.float64)
    if px.shape[0] < out_h:
        px = np.repeat(px, -(-out_h // px.shape[0]), axis=0)
    if px.shape[1] < out_w:
        px = np.repeat(px, -(-out_w // px.shape[1]), axis=1)
    h, w = px.shape[:2]
    ri = (np.arange(h) * out_h) // h
    ci = (np.arange(w) * out_w) // w
    cell = (ri[:, None] * out_w + ci[None, :]).ravel()
    counts = np.bincount(cell, minlength=out_h * out_w)
    out = np.stack([np.bincount(cell, weights=px[:, :, c].ravel(),
                                minlength=out_h * out_w) / counts
                    for c in range(3)], axis=1)
    return (out.reshape(out_h, out_w, 3) / 255.0).astype(np.float32)


def image_feature_vector(pixels: np.ndarray,
                         n_bins: int = FEATURE_DIM) -> np.ndarray:
    """64-dim image feature: 8x8 luminance thumbnail (Rec.601 weights)
    — the same contract shape as the audio RMS envelope."""
    thumb = image_thumbnail(pixels, 8, 8)
    luma = (0.299 * thumb[:, :, 0] + 0.587 * thumb[:, :, 1]
            + 0.114 * thumb[:, :, 2])
    return luma.ravel().astype(np.float32)[:n_bins]


def encode_mp4_stub(duration_ms: int, width: int, height: int,
                    mdat: bytes = b"",
                    sample_sizes: list[int] | None = None,
                    keyframes: list[int] | None = None,
                    samples: list[bytes] | None = None) -> bytes:
    """Minimal valid ISO-BMFF (MP4) box tree for fixtures: ftyp +
    moov(mvhd + trak(tkhd + mdia(mdhd + hdlr['vide'] [+ minf(stbl)])))
    + mdat. With ``sample_sizes`` it also writes a real sample table
    (stts one-run + stsz per-sample sizes + optional stss sync list),
    so ``probe_mp4`` can read the per-track sample stats a curation
    pipeline gates on. With ``samples`` (list of per-sample byte
    payloads — e.g. JPEG frames for an MJPEG track) the mdat holds
    them and stsc/stco carry REAL chunk offsets, so
    ``mp4_extract_samples`` can pull them back out."""

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    if samples is not None:
        sample_sizes = [len(s) for s in samples]
        mdat = b"".join(samples)
    dur = int(duration_ms)  # in the 1000/s timescale written below

    def assemble(chunk_offset: int) -> tuple[bytes, int]:
        mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, 1000,
                                        dur) + b"\x00" * 80)
        tkhd = box(b"tkhd", struct.pack(">B3xIIII", 0, 0, 0, 1, 0)
                   + struct.pack(">I", dur) + b"\x00" * 52
                   + struct.pack(">II", width << 16, height << 16))
        mdhd = box(b"mdhd", struct.pack(">B3xIIII", 0, 0, 0, 1000,
                                        dur) + b"\x00" * 4)
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"\x00")
        stbl = b""
        if sample_sizes is not None:
            n = len(sample_sizes)
            delta = dur // max(n, 1)
            stts = box(b"stts", struct.pack(">IIII", 0, 1, n, delta))
            stsz = box(b"stsz", struct.pack(">III", 0, 0, n)
                       + b"".join(struct.pack(">I", s)
                                  for s in sample_sizes))
            stbl_body = stts + stsz
            if keyframes is not None:
                stbl_body += box(b"stss",
                                 struct.pack(">II", 0, len(keyframes))
                                 + b"".join(struct.pack(">I", s)
                                            for s in keyframes))
            if samples is not None:
                # one chunk holding every sample, real offset into mdat
                stbl_body += box(b"stsc",
                                 struct.pack(">IIIII", 0, 1, 1, n, 1))
                stbl_body += box(b"stco",
                                 struct.pack(">III", 0, 1, chunk_offset))
            else:
                stbl_body += box(b"stco", struct.pack(">II", 0, 0))
            stbl = box(b"minf", box(b"stbl", stbl_body))
        mdia = box(b"mdia", mdhd + hdlr + stbl)
        trak = box(b"trak", tkhd + mdia)
        moov = box(b"moov", mvhd + trak)
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                   + b"isommp42")
        header = ftyp + moov
        return header + box(b"mdat", mdat), len(header) + 8

    # stco needs the absolute mdat payload offset, which depends on the
    # (fixed-size) moov — assemble once to measure, once for real
    _, off = assemble(0)
    out, off2 = assemble(off)
    assert off2 == off
    return out


def _bmff_walk(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, box_end) for each ISO-BMFF box in
    [start, end). 32-bit box sizes only: a 64-bit largesize (size 1)
    or to-end-of-file (size 0) box refuses. ValueError (never
    struct.error) on truncated or lying sizes, so the quarantine
    handlers catch every refusal."""
    pos = start
    while pos + 8 <= end:
        (size,), tag = struct.unpack(">I", buf[pos:pos + 4]), \
            buf[pos + 4:pos + 8]
        if size < 8 or pos + size > end:
            raise ValueError(f"bad MP4 box size {size} at {pos}")
        yield tag, pos + 8, pos + size
        pos += size


def _trak_boxes(buf: bytes, start: int, end: int,
                prefix: bytes = b"") -> dict:
    """{path: (body_start, box_end)} of the boxes in a trak, descending
    through mdia/minf/stbl (paths like b"mdia/minf/stbl/stsz")."""
    out = {}
    for tag, b0, b1 in _bmff_walk(buf, start, end):
        if tag in (b"mdia", b"minf", b"stbl"):
            out.update(_trak_boxes(buf, b0, b1, prefix + tag + b"/"))
        else:
            out[prefix + tag] = (b0, b1)
    return out


def _moov(payload: bytes) -> tuple[tuple | None, list[dict]]:
    """(mvhd span or None, one ``_trak_boxes`` dict per trak) — the one
    container walk shared by ``probe_mp4`` and ``mp4_extract_samples``."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp box)")
    mvhd, traks = None, []
    for tag, b0, b1 in _bmff_walk(payload, 0, len(payload)):
        if tag == b"moov":
            for t2, c0, c1 in _bmff_walk(payload, b0, b1):
                if t2 == b"mvhd":
                    mvhd = (c0, c1)
                elif t2 == b"trak":
                    traks.append(_trak_boxes(payload, c0, c1))
    return mvhd, traks


def _u32s(buf: bytes, span: tuple, off: int, n: int, what: str) -> tuple:
    """``n`` big-endian u32 at ``off`` into the box body ``span``; every
    read is bounded by the BOX end, never the payload end, so a short
    box refuses instead of reading its sibling's bytes."""
    b0, b1 = span
    if b1 - b0 < off + 4 * n:
        raise ValueError(f"truncated MP4 {what}")
    return struct.unpack(f">{n}I", buf[b0 + off:b0 + off + 4 * n])


def _times(buf: bytes, span: tuple, what: str) -> tuple[int, int]:
    """(timescale, duration) of a version-0 mvhd/mdhd box."""
    ts, dur = _u32s(buf, span, 12, 2, what)
    if buf[span[0]]:
        raise ValueError(f"unsupported MP4 {what} version {buf[span[0]]} "
                         "(64-bit times)")
    return ts, dur


def _handler(buf: bytes, boxes: dict) -> str:
    """A trak's handler type ("vide", "soun", ...); hdlr is mandatory."""
    if b"mdia/hdlr" not in boxes:
        raise ValueError("MP4 trak without hdlr box")
    span = boxes[b"mdia/hdlr"]
    _u32s(buf, span, 8, 1, "hdlr")
    return buf[span[0] + 8:span[0] + 12].decode("latin1")


def _sample_sizes(buf: bytes, span: tuple) -> tuple:
    """Per-sample byte sizes from an stsz box (the compact fixed-size
    form refuses)."""
    fixed, cnt = _u32s(buf, span, 4, 2, "stsz")
    if fixed:
        raise ValueError("unsupported MP4 fixed-size stsz")
    return _u32s(buf, span, 12, cnt, "stsz table")


def _entries(buf: bytes, span: tuple, width: int, what: str) -> tuple:
    """The entry table of a full box whose body is (version/flags,
    entry_count, entries of ``width`` u32 each)."""
    (ne,) = _u32s(buf, span, 4, 1, what)
    return _u32s(buf, span, 8, ne * width, what + " table")


def mp4_extract_samples(payload: bytes) -> list[bytes]:
    """Pull the raw per-sample byte payloads of the first video track
    with a sample table out of an ISO-BMFF container — the stsz (sizes)
    + stsc (chunk mapping) + stco (chunk offsets) walk every demuxer
    does. No codec: the samples come back as opaque bytes (for an
    MJPEG track each one is a complete JPEG image our own
    ``jpeg.decode_jpeg`` can decode). ValueError on missing/truncated
    sample tables or out-of-range offsets.
    """
    stbl = b"mdia/minf/stbl/"
    n = len(payload)
    incomplete = None  # first matching-but-incomplete trak's error
    _mvhd, traks = _moov(payload)
    for boxes in traks:
        if _handler(payload, boxes) != "vide":
            continue
        if not all(stbl + t in boxes for t in (b"stsz", b"stsc", b"stco")):
            # a video trak with incomplete tables must not end the
            # search: a later one may be complete (multi-track files).
            # Remember the failure for the terminal error.
            incomplete = ("track 'vide' has no complete sample table "
                          "(need stsz + stsc + stco)")
            continue
        sizes = _sample_sizes(payload, boxes[stbl + b"stsz"])
        flat = _entries(payload, boxes[stbl + b"stsc"], 3, "stsc")
        stsc = [flat[i:i + 3] for i in range(0, len(flat), 3)]
        offsets = _entries(payload, boxes[stbl + b"stco"], 1, "stco")
        # expand stsc: samples-per-chunk for each chunk 1..len(offsets)
        out, covered = [], 0
        for ci, off in enumerate(offsets, start=1):
            spc = 0
            for first, per, _desc in stsc:
                if ci >= first:
                    spc = per
            for size in sizes[covered:covered + spc]:
                if off + size > n:
                    raise ValueError(
                        f"sample {len(out)} at {off}+{size} runs past "
                        "the payload end")
                out.append(payload[off:off + size])
                off += size
            covered += spc
        if covered != len(sizes):
            # the chunk map and stsz disagree on the sample count:
            # refuse rather than return a truncated sample list
            raise ValueError(
                f"inconsistent MP4 sample tables: stsz declares "
                f"{len(sizes)} samples but the stsc chunk map "
                f"covers {covered}")
        return out
    raise ValueError(incomplete if incomplete is not None else
                     "no 'vide' track with a sample table found")


def decode_mp4_frames(payload: bytes, max_frames: int | None = None
                      ) -> list[np.ndarray]:
    """REAL frame decode for MJPEG-in-MP4: extract the video track's
    samples and decode each JPEG sample with our own T.81 codec —
    the one video flavor this container can decode end-to-end with no
    external libs (MJPEG MP4s are common in crawl data: webcams,
    CCTV, scientific capture). Non-JPEG samples raise
    NotImplementedError (H.264/HEVC need ffmpeg — the honest stub)."""
    from sketchlib.spark.jpeg import decode_jpeg
    samples = mp4_extract_samples(payload)
    if max_frames is not None:
        samples = samples[:max_frames]
    frames = []
    for i, s in enumerate(samples):
        if s[:2] != b"\xFF\xD8":
            raise NotImplementedError(
                f"sample {i} is not JPEG (MJPEG is the only video "
                "codec decodable without ffmpeg)")
        frames.append(decode_jpeg(s))
    return frames


def probe_mp4(payload: bytes) -> dict:
    """ISO-BMFF (MP4/MOV) container metadata probe — stdlib only.

    Walks the public box structure (ISO 14496-12): ftyp brand,
    mvhd timescale/duration, per-trak tkhd width/height, hdlr handler
    type, mdhd media timescale/duration, and the stbl sample table —
    stsz (sample count/sizes -> mean sample bytes, track bitrate from
    mdhd duration) and stss (sync samples -> keyframe count/cadence;
    per 8.6.2 an absent stss means EVERY sample is sync). Returns
    {brand, duration_ms, tracks: [{handler, width, height, n_samples,
    sample_bytes, mean_sample_bytes, n_keyframes, keyframe_interval,
    bitrate_kbps}]} — the filter-before-decode stats a curation
    pipeline gates on. ValueError on non-BMFF or truncated structure,
    and on 64-bit (version 1) headers and fixed-size stsz.
    """
    stbl = b"mdia/minf/stbl/"
    mvhd, traks = _moov(payload)
    out = {"brand": payload[8:12].decode("latin1"), "duration_ms": None,
           "tracks": []}
    if mvhd is not None:
        ts, dur = _times(payload, mvhd, "mvhd")
        out["duration_ms"] = int(dur * 1000 // max(ts, 1))
    for boxes in traks:
        trk = dict.fromkeys(("handler", "width", "height", "n_samples",
                             "sample_bytes", "mean_sample_bytes",
                             "n_keyframes", "keyframe_interval",
                             "bitrate_kbps"))
        trk["handler"] = _handler(payload, boxes)
        if b"tkhd" in boxes:
            # v0 body is 84 bytes, v1 is 96; w/h are the last 8 either way
            d0, d1 = boxes[b"tkhd"]
            if d1 - d0 < 84:
                raise ValueError("truncated MP4 tkhd box")
            wfx, hfx = struct.unpack(">II", payload[d1 - 8:d1])
            trk["width"], trk["height"] = wfx >> 16, hfx >> 16
        md_ts = md_dur = None
        if b"mdia/mdhd" in boxes:
            md_ts, md_dur = _times(payload, boxes[b"mdia/mdhd"], "mdhd")
        if stbl + b"stsz" in boxes:
            sizes = _sample_sizes(payload, boxes[stbl + b"stsz"])
            trk["n_samples"], trk["sample_bytes"] = len(sizes), sum(sizes)
        stss = (_entries(payload, boxes[stbl + b"stss"], 1, "stss")
                if stbl + b"stss" in boxes else None)
        # derived sample stats (the filter-before-decode gates):
        # mean sample size, keyframe cadence, track bitrate
        n = trk["n_samples"]
        if n:
            trk["mean_sample_bytes"] = round(trk["sample_bytes"] / n, 1)
            if stss is not None:
                trk["n_keyframes"] = len(stss)
                trk["keyframe_interval"] = (
                    round((stss[-1] - stss[0]) / (len(stss) - 1), 1)
                    if len(stss) >= 2 else float(n))
            else:
                # ISO 14496-12 8.6.2: no stss => every sample is a sync
                # sample
                trk["n_keyframes"] = n
                trk["keyframe_interval"] = 1.0
            if md_ts and md_dur:
                trk["bitrate_kbps"] = round(
                    trk["sample_bytes"] * 8 / 1000 / (md_dur / md_ts), 1)
        out["tracks"].append(trk)
    return out


def video_metadata(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """(media_id, brand, duration_ms, n_tracks, width, height) from the
    MP4 container headers via mapInPandas — the filter-before-decode
    step of a video pipeline. Non-BMFF payloads yield NULL columns
    (quarantine signal), never a task failure."""
    sel = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(payload_col).alias("_payload"))
    schema = ("media_id long, brand string, duration_ms long, "
              "n_tracks long, width long, height long, "
              "n_samples long, mean_sample_bytes double, "
              "bitrate_kbps double, keyframe_interval double")
    cols = [field.split()[0] for field in schema.split(", ")]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["_id"], pdf["_payload"]):
                try:
                    meta = probe_mp4(bytes(payload))
                    tracks = meta["tracks"]
                    vid = next((t for t in tracks if t["handler"] == "vide"),
                               tracks[0] if tracks else {})
                    rows.append((mid, meta["brand"], meta["duration_ms"],
                                 len(tracks), *map(vid.get, cols[4:])))
                except (ValueError, struct.error, IndexError):
                    # quarantine contract: probe refusals are ValueError
                    # by design; struct/Index are belt-and-braces so one
                    # adversarial payload can never fail the task
                    rows.append((mid,) + (None,) * 9)
            yield pd.DataFrame(rows, columns=cols)

    return sel.mapInPandas(fn, schema)


def audio_metadata(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """(media_id, container, sample_rate, channels, bitrate_kbps,
    duration_ms_est) from WAV headers — the filter-before-decode
    companion of ``video_metadata``. Other payloads (truncated WAVs
    included) yield NULL columns (quarantine), never a task failure."""
    sel = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(payload_col).alias("_payload"))
    schema = ("media_id long, container string, sample_rate long, "
              "channels long, bitrate_kbps long, duration_ms_est long")
    cols = [field.split()[0] for field in schema.split(", ")]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["_id"], pdf["_payload"]):
                p = bytes(payload)
                row = (mid, None, None, None, None, None)
                if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                    try:
                        with wave.open(io.BytesIO(p), "rb") as wv:
                            rate = wv.getframerate()
                            nch = wv.getnchannels()
                            nfr = wv.getnframes()
                            kbps = rate * nch * wv.getsampwidth() * 8 // 1000
                            row = (mid, "wav", rate, nch, kbps,
                                   nfr * 1000 // max(rate, 1))
                    except (wave.Error, EOFError):
                        # truncated RIFF raises EOFError from the chunk
                        # reader, not wave.Error — both quarantine
                        pass
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return sel.mapInPandas(fn, schema)


def decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """Codec boundary for the payloads WITHOUT a real decoder here
    (non-MJPEG video, audio that is not WAV): their decode needs
    ffmpeg, which is not a dependency. Returns a deterministic
    pseudo-decode (seeded from the payload's own bytes and the kind)
    with the feature contract's shape, float32[64], so the plumbing
    around it stays exercisable."""
    pad = (-len(payload)) % 8
    u = np.frombuffer(payload + b"\x00" * pad, dtype=np.uint64)
    seed = hashing.fold64(u, seed={"image": 1, "audio": 2, "video": 3}.get(kind, 0))
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    return rng.standard_normal(64).astype(np.float32)


def _decode_one(payload: bytes, kind: str, mime: str | None) -> np.ndarray:
    """Dispatch: declared-WAV audio -> real codec; everything else ->
    stub. Audio with unknown/missing mime only tries the real decoder
    when the payload self-identifies as RIFF/WAVE — arbitrary audio
    bytes must keep flowing through the deterministic stub, not die in
    wave.Error."""
    if kind == "audio":
        is_declared = mime == "audio/wav"
        is_riff = payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        if is_declared or (mime is None and is_riff):
            return wav_feature_vector(decode_wav(payload))
    if kind == "image":
        is_declared = mime == "image/x-portable-pixmap"
        is_p6 = payload[:2] == b"P6"
        if is_declared or (mime is None and is_p6):
            return image_feature_vector(decode_ppm(payload))
        is_png = payload[:8] == _PNG_SIG
        if mime == "image/png" or (mime is None and is_png):
            return image_feature_vector(decode_png(payload))
        is_jpeg = payload[:2] == b"\xFF\xD8"
        if mime == "image/jpeg" or (mime is None and is_jpeg):
            from sketchlib.spark.jpeg import decode_jpeg
            return image_feature_vector(decode_jpeg(payload))
    if kind == "video" and payload[4:8] == b"ftyp":
        # MJPEG-in-MP4 decodes for real through our own JPEG codec;
        # any other codec (or a probe failure) flows to the stub
        try:
            frames = decode_mp4_frames(payload, max_frames=1)
            if frames:
                return image_feature_vector(frames[0])
        except (NotImplementedError, ValueError):
            pass
    return decode_stub(payload, kind)


def extract_features(df: DataFrame, id_col: str = "media_id",
                     payload_col: str = "payload", kind_col: str = "kind",
                     mime_col: str | None = "mime") -> DataFrame:
    """(media_id, feature: array<float>[64]) via mapInPandas.

    Streams one Arrow batch of payloads at a time; the decode loop is
    per-item (codecs are inherently per-item) but everything around it
    is batch-shaped. WAV audio decodes for real (``decode_wav`` +
    RMS-envelope features), PPM/PNG/JPEG images and MJPEG-in-MP4
    video likewise; other payloads go through ``decode_stub``.

    Corrupt/mislabeled payloads quarantine: codec refusals (ValueError
    and the stdlib wave error classes) yield a NULL ``feature`` for
    that row instead of failing the task — one truncated JPEG in a
    10^9-row corpus must not abort the job. Filter
    ``feature IS NULL`` downstream to inspect the quarantined rows.
    """
    cols = [F.col(id_col).cast("long").alias("_id"),
            F.col(kind_col).alias("_kind"),
            F.col(payload_col).alias("_payload")]
    has_mime = mime_col is not None and mime_col in df.columns
    if has_mime:
        cols.append(F.col(mime_col).alias("_mime"))
    sel = df.select(*cols)
    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes = pdf["_mime"] if has_mime else [None] * len(pdf)
            feats = []
            for p, k, m in zip(pdf["_payload"], pdf["_kind"], mimes):
                try:
                    feats.append(_decode_one(bytes(p), k, m))
                except (ValueError, wave.Error, EOFError):
                    feats.append(None)  # quarantine, never a task kill
            yield pd.DataFrame({"media_id": pdf["_id"].to_numpy(),
                                "feature": feats})

    return sel.mapInPandas(fn, schema)


def fake_media_rows(n: int = 300, seed: int = 5) -> list:
    """Deterministic fake media rows matching MEDIA_SCHEMA — the
    generator behind the parquet fixture (``io.fixtures.media_path``);
    pure Python, no Spark session.

    Audio rows are 16-bit mono 8 kHz WAV; image rows cycle PNG, PPM and
    JPEG (4:2:0 on odd ``i``, else 4:4:4), and successive PNG rows cycle
    filter types 0-4, so every filter occurs; odd video rows are MP4s holding 2-4 JPEG frames (MJPEG), even ones
    carry a sample table over an opaque mdat and decode through
    ``decode_stub``. Every payload is real bytes from the ``encode_*``
    writers, so the decoders run end to end.
    """
    from sketchlib.spark.jpeg import encode_jpeg
    rng = np.random.default_rng(seed)
    kinds = np.array(["image", "audio", "video"], dtype=object)[
        rng.integers(0, 3, n)]
    rate = 8000
    rows = []
    n_png = 0
    for i in range(n):
        k = kinds[i]
        wi = hi = None
        if k == "audio":
            n_samp = int(rng.integers(400, 4000))
            t = np.arange(n_samp) / rate
            f0, f1 = rng.uniform(100, 1000, 2)
            wavef = 0.5 * np.sin(2 * np.pi * f0 * t) + 0.3 * np.sin(2 * np.pi * f1 * t)
            payload = encode_wav(wavef, rate)
            dur = int(round(1000 * n_samp / rate))
        elif k == "image":
            hi, wi = int(rng.integers(8, 64)), int(rng.integers(8, 64))
            px = rng.integers(0, 256, (hi, wi, 3), dtype=np.uint8)
            if i % 3 == 0:
                payload = encode_png(px, filter_type=n_png % 5)
                n_png += 1
            elif i % 3 == 1:
                payload = encode_ppm(px)
            else:
                payload = encode_jpeg(px,
                                      subsample="420" if i % 2 else "444")
            dur = None
        else:
            dur = int(rng.integers(1000, 60000))
            wi, hi = int(rng.integers(16, 1920)), int(rng.integers(16, 1080))
            gop = int(rng.integers(2, 12))
            if i % 2:  # MJPEG: JPEG frames at real stsc/stco offsets
                fh, fw = int(rng.integers(8, 24)), int(rng.integers(8, 24))
                n_samp = int(rng.integers(2, 5))
                frames = [encode_jpeg(rng.integers(
                    0, 256, (fh, fw, 3), dtype=np.uint8))
                    for _ in range(n_samp)]
                payload = encode_mp4_stub(
                    dur, wi, hi, samples=frames,
                    keyframes=list(range(1, n_samp + 1, gop)))
            else:  # opaque samples: probe stats only, stub decode
                junk = rng.integers(0, 256, int(rng.integers(100, 3000)),
                                    dtype=np.uint8).tobytes()
                n_samp = int(rng.integers(8, 120))
                sizes = [int(s) for s in rng.integers(200, 6000, n_samp)]
                payload = encode_mp4_stub(dur, wi, hi, mdat=junk,
                                          sample_sizes=sizes,
                                          keyframes=list(range(1, n_samp + 1,
                                                               gop)))
        mime = {"audio": "audio/wav", "video": "video/mp4"}.get(k) or \
            ("image/png", "image/x-portable-pixmap",
             "image/jpeg")[i % 3]
        rows.append((i, k, payload, mime, wi, hi, dur))
    return rows

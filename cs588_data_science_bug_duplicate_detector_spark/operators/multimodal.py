"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed through mapInPandas.

Decode support is REAL for the formats the standard library + numpy can
parse — 24-bit uncompressed BMP, 8-bit PNG (zlib inflate + full filter
reversal), and PCM WAV audio (encoders included for fixtures; round-trip
tested) — with grid-mean image features, banded-RMS audio features, and
nearest-neighbor resize as genuine numpy kernels. Formats needing codecs
outside the stdlib (JPEG/MP3/video containers) raise ``DecoderUnavailable``
(swapping in PIL/librosa/av changes only the per-format branch in
``_decode_payload``, nothing in the dataflow).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_DIM = 16


class DecoderUnavailable(NotImplementedError):
    """Raised for formats that need external codecs (JPEG/MP3/video)."""


# ---------------------------------------------------------------------------
# real codecs (stdlib + numpy only): 24-bit BMP, PCM WAV
# ---------------------------------------------------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bit uncompressed BMP bytes (bottom-up rows,
    4-byte row padding — the baseline Windows DIB layout)."""
    h, w, _ = pixels.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        bgr = pixels[y, :, ::-1].tobytes()  # BMP stores BGR
        body += bgr + b"\x00" * pad
    pixel_offset = 14 + 40
    size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header + dib + body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes -> (H, W, 3) uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise DecoderUnavailable(f"only 24-bit uncompressed BMP supported (bpp={bpp})")
    row = w * 3
    stride = row + ((-row) % 4)
    buf = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h), offset=pixel_offset)
    rows = buf.reshape(abs(h), stride)[:, :row].reshape(abs(h), w, 3)
    if h > 0:
        rows = rows[::-1]  # bottom-up -> top-down
    return rows[:, :, ::-1].copy()  # BGR -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> PNG bytes (8-bit truecolor, filter 0 rows,
    zlib stream — stdlib only)."""
    import zlib

    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, RGB, no interlace
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, 3) uint8 RGB. Real decode via stdlib zlib:
    chunk walk, inflate, per-row filter reversal (None/Sub/Up/Average/
    Paeth). Supports 8-bit gray/RGB/RGBA, non-interlaced; anything else
    (palette, 16-bit, interlaced) raises DecoderUnavailable."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if depth != 8 or channels is None or interlace != 0:
        raise DecoderUnavailable(
            f"only 8-bit gray/RGB/RGBA non-interlaced PNG supported "
            f"(depth={depth}, color_type={color}, interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1)
        cur = row.astype(np.int32)
        if f == 0:
            pass
        elif f == 2:  # Up: fully vectorizable
            cur = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub/Average/Paeth need the left neighbor: scan
            cur = cur.copy()
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = pv[x]
                if f == 1:
                    cur[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (cur[x] + (a + b) // 2) & 0xFF
                else:
                    c = pv[x - channels] if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise DecoderUnavailable(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    img = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(img, 3, axis=2)
    if channels == 4:
        return img[:, :, :3].copy()  # drop alpha
    return img


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """int16 mono samples -> PCM WAV bytes (stdlib ``wave``)."""
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        wv.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return bio.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV bytes -> (int16 mono samples, sample_rate). Multi-channel
    input is averaged to mono."""
    with wave.open(io.BytesIO(payload), "rb") as wv:
        if wv.getsampwidth() != 2:
            raise DecoderUnavailable("only 16-bit PCM WAV supported")
        rate = wv.getframerate()
        frames = np.frombuffer(wv.readframes(wv.getnframes()), dtype="<i2")
        ch = wv.getnchannels()
    if ch > 1:
        frames = frames.reshape(-1, ch).mean(axis=1).astype(np.int16)
    return frames, rate


def resize_image(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via index gather — pure numpy, deterministic."""
    h, w = pixels.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[ys][:, xs]


def image_grid_feature(pixels: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Mean grayscale intensity over a sqrt(dim) x sqrt(dim) grid -> [0,1]
    feature. Images smaller than the grid are upsampled (nearest) first."""
    g = pixels.mean(axis=2) if pixels.ndim == 3 else pixels.astype(np.float64)
    side = int(np.sqrt(dim))
    if min(g.shape) < side:
        g = resize_image(g[..., None], max(side, g.shape[0]), max(side, g.shape[1]))[..., 0]
    hs = np.array_split(np.arange(g.shape[0]), side)
    ws = np.array_split(np.arange(g.shape[1]), side)
    small = np.array([[g[np.ix_(a, b)].mean() for b in ws] for a in hs])
    return (small.astype(np.float32) / 255.0).reshape(-1)[:dim]


def audio_band_feature(samples: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """RMS energy over ``dim`` equal time bands, normalized to [0,1]."""
    if len(samples) == 0:
        return np.zeros(dim, dtype=np.float32)
    bands = np.array_split(samples.astype(np.float64) / 32768.0, dim)
    return np.array([np.sqrt((b**2).mean()) if len(b) else 0.0 for b in bands], dtype=np.float32)


def _decode_payload(kind: str, mime: str | None, payload: bytes):
    """THE single magic-byte dispatch for every decode consumer:
    -> ('image', (H, W, 3) pixels) or ('audio', int16 samples).

    Dispatch is on magic bytes (BM / PNG signature / full RIFF....WAVE), so
    a payload whose mime CLAIMS a format but whose bytes don't carry it is
    mislabeled, not decodable — it falls through to DecoderUnavailable
    instead of surfacing a format decoder's internal ValueError/wave.Error
    (which exception a caller sees would otherwise depend on scheduling).
    Add a codec here (e.g. JPEG via PIL) and media_metadata and the
    driver oracle constants both pick it up."""
    mime = (mime or "").lower()
    if kind == "image" and payload[:2] == b"BM":
        return "image", decode_bmp(payload)
    if kind == "image" and payload[:8] == _PNG_SIG:
        return "image", decode_png(payload)
    if kind == "audio" and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, _rate = decode_wav(payload)
        return "audio", samples
    raise DecoderUnavailable(
        f"no in-container codec for kind={kind} mime={mime!r} "
        "(JPEG needs PIL, MP3 needs librosa, video needs av/ffmpeg)"
    )


METADATA_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "n_samples int, feat_mean double"
)


def decode_metadata_row(kind: str, mime: str | None, payload: bytes) -> tuple[int, int, int, float]:
    """One payload -> (width, height, n_samples, feat_mean) through the real
    codecs (magic-byte dispatch in ``_decode_payload``). Images
    report (w, h, 0); audio (0, 0, n_samples). ``feat_mean`` is the float64
    mean of the decoded FEATURE_DIM feature rounded to 6 — a content-
    sensitive scalar that breaks if any stage of decode (row order, BGR
    swap, filter reversal, PCM scaling) is wrong. The distributed
    ``media_metadata`` pass and the driver-side ``demo_payload_expected``
    both decode through here, so they can never disagree on which payloads
    are decodable."""
    family, data = _decode_payload(kind, mime, payload)
    if family == "image":
        h, w = data.shape[:2]
        ns, feat = 0, image_grid_feature(data)
    else:
        w = h = 0
        ns, feat = len(data), audio_band_feature(data)
    return w, h, ns, round(float(np.asarray(feat, dtype=np.float64).mean()), 6)


def media_metadata(media: DataFrame) -> DataFrame:
    """media -> per-item decoded metadata through the REAL codecs:
    (media_id, kind, n_bytes, width, height, n_samples, feat_mean).
    One Arrow pass; raises DecoderUnavailable for formats without
    in-container codecs."""

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "kind", "n_bytes", "width", "height", "n_samples", "feat_mean"
            )}
            for mid, kind, mime, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["mime"], pdf["payload"]
            ):
                w, h, ns, fm = decode_metadata_row(kind, mime, payload)
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["n_bytes"].append(len(payload))
                out["width"].append(w)
                out["height"].append(h)
                out["n_samples"].append(ns)
                out["feat_mean"].append(fm)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=METADATA_SCHEMA)


def demo_payload_expected(n: int = 7) -> list[tuple]:
    """Driver-side expected rows for the ``demo_payloads`` fixtures:
    (idx, payload_md5, kind, width, height, n_samples, feat_mean).

    md5 comes from ``hashlib`` (Python/OpenSSL) while the Spark query
    hashes the same bytes with the JVM's ``F.md5`` — two independent md5
    implementations over payloads that cross the Arrow boundary, so a
    byte-level corruption anywhere in the binary-column plumbing breaks
    the driver's value hash."""
    rows = []
    for idx, kind, mime, payload, _dur in demo_payloads(n):
        w, h, ns, fm = decode_metadata_row(kind, mime, payload)
        rows.append((idx, hashlib.md5(payload).hexdigest(), kind, w, h, ns, fm))
    return rows


def demo_payloads(n: int = 7) -> list[tuple[int, str, str, bytes, int]]:
    """``n`` deterministic (idx, kind, mime, payload, duration_ms) fixtures
    cycling through the three real codecs — analytic pixel/sample patterns,
    no RNG, so the driver's Spark query and the DuckDB oracle (which embeds
    hashlib md5 + direct-decode metadata of the SAME bytes) agree across
    processes. Gradient patterns exercise row order, BGR swap and PCM
    scaling, not just constant fills."""
    out = []
    for idx in range(n):
        fam = idx % 3
        if fam == 0:
            y, x, c = np.indices((8, 8, 3))
            px = ((x * 3 + y * 5 + c * 7 + idx * 11) % 256).astype(np.uint8)
            out.append((idx, "image", "image/bmp", encode_bmp(px), 0))
        elif fam == 1:
            y, x, c = np.indices((8, 8, 3))
            px = ((x * 7 + y * 2 + c * 3 + idx * 13) % 256).astype(np.uint8)
            out.append((idx, "image", "image/png", encode_png(px), 0))
        else:
            i = np.arange(1600)
            samples = (((i * (idx + 3)) % 2000) - 1000).astype(np.int16)
            out.append((idx, "audio", "audio/wav", encode_wav(samples), 100))
    return out


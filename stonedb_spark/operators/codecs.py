"""Real (stdlib-only) multimodal codecs: WAV audio, 24-bit BMP, PNG.

There is no PIL/libav to decode with.  These formats need NOTHING
beyond the standard library + numpy, so the decode step here is REAL
byte-level parsing:

* WAV — encode builds the RIFF/fmt/data chunks by hand (struct.pack);
  decode goes through the stdlib ``wave`` module — two INDEPENDENT
  implementations of the spec, so a byte-layout bug in either side
  breaks the round-trip.
* BMP — 24-bit bottom-up BGR with 4-byte row padding
  (BITMAPFILEHEADER + BITMAPINFOHEADER); decode re-parses the headers
  and slices the padded pixel array with numpy.
* PNG — 8-bit truecolor with zlib-deflated scanlines; the encoder
  rotates through all five spec filters (None/Sub/Up/Average/Paeth,
  one per row) and the decoder walks the CRC-verified chunk stream and
  unfilters per-row, so the round-trip exercises the whole filter set.

Both run inside Arrow-batched mapInPandas (one in-memory file per row;
payloads are row-sized, so executor memory scales with batch size, not
table size) — the same plumbing shape a libav/PIL deployment drops
into.  Reference scope: the engine itself has no multimodal surface;
this is the training-pipeline "beyond" tier (SURVEY §2 beyond-ops).
"""

from __future__ import annotations

import struct
import wave
from io import BytesIO

import numpy as np


# ---------------------------------------------------------------------------
# WAV (PCM16 mono)
def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Hand-rolled RIFF/WAVE writer for int16 mono PCM (independent of
    the stdlib ``wave`` module used by decode_wav)."""
    pcm = samples.astype("<i2").tobytes()
    n = len(pcm)
    hdr = b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    data = b"data" + struct.pack("<I", n)
    return hdr + fmt + data + pcm


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse WAV bytes with the stdlib ``wave`` module; returns
    (sample_rate, int16 sample array)."""
    with wave.open(BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("expected 16-bit mono PCM")
        rate = w.getframerate()
        frames = w.readframes(w.getnframes())
    return rate, np.frombuffer(frames, dtype="<i2")


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, bottom-up)
def encode_bmp(pixels: np.ndarray) -> bytes:
    """pixels: (h, w, 3) uint8 in RGB order → BMP bytes (stored BGR,
    bottom-up, rows padded to 4 bytes per the spec)."""
    h, w, _ = pixels.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        bgr = pixels[y, :, ::-1].astype(np.uint8).tobytes()
        body += bgr + b"\x00" * pad
    off = 14 + 40
    size = off + len(body)
    file_hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, off)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(file_hdr + info_hdr + body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Parse BMP bytes → (h, w, 3) uint8 RGB array.  Re-reads the
    headers (offset, dims, bpp) rather than assuming the encoder's
    layout."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    if bpp != 24:
        raise ValueError("expected 24-bit BMP")
    row = w * 3
    stride = row + (4 - row % 4) % 4
    arr = np.frombuffer(payload, dtype=np.uint8, offset=off)
    rows = arr[: stride * h].reshape(h, stride)[:, :row].reshape(h, w, 3)
    return rows[::-1, :, ::-1]  # bottom-up BGR → top-down RGB

# ---------------------------------------------------------------------------
# PNG (8-bit/channel truecolor, zlib-deflated, all 5 scanline filters)
def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """pixels: (h, w, 3) uint8 RGB → PNG bytes (color type 2, bit depth
    8).  The filter type ROTATES per scanline (y % 5) so every spec
    filter — None/Sub/Up/Average/Paeth — appears in the stream and the
    decoder's unfilter paths are all genuinely exercised."""
    import zlib

    h, w, _ = pixels.shape
    bpp = 3
    raw = pixels.astype(np.int32)
    out = bytearray()
    prior = np.zeros((w, 3), dtype=np.int32)
    for y in range(h):
        line = raw[y]
        f = y % 5
        left = np.vstack([np.zeros((1, 3), np.int32), line[:-1]])
        ul = np.vstack([np.zeros((1, 3), np.int32), prior[:-1]])
        if f == 0:
            filt = line
        elif f == 1:
            filt = line - left
        elif f == 2:
            filt = line - prior
        elif f == 3:
            filt = line - (left + prior) // 2
        else:  # Paeth needs the scalar predictor per sample
            filt = np.empty_like(line)
            for x in range(w):
                for c in range(bpp):
                    a = int(left[x, c])
                    b = int(prior[x, c])
                    cc = int(ul[x, c])
                    filt[x, c] = line[x, c] - _paeth(a, b, cc)
        out.append(f)
        out += (filt % 256).astype(np.uint8).tobytes()
        prior = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Parse PNG bytes → (h, w, 3) uint8 RGB.  Walks the chunk stream
    (verifying each CRC), concatenates IDAT, inflates, and unfilters
    every scanline per its declared filter type — the full spec set,
    not just the encoder's choices."""
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", body, 0)
            if depth != 8 or ctype != 2:
                raise ValueError("expected 8-bit truecolor")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    stream = zlib.decompress(bytes(idat))
    bpp = 3
    stride = 1 + w * bpp
    out = np.zeros((h, w, bpp), dtype=np.int32)
    prior = np.zeros((w, bpp), dtype=np.int32)
    for y in range(h):
        line = stream[y * stride : (y + 1) * stride]
        f = line[0]
        filt = np.frombuffer(line, dtype=np.uint8, offset=1).astype(np.int32)
        filt = filt.reshape(w, bpp)
        recon = np.zeros((w, bpp), dtype=np.int32)
        for x in range(w):
            for c in range(bpp):
                a = int(recon[x - 1, c]) if x else 0
                b = int(prior[x, c])
                cc = int(prior[x - 1, c]) if x else 0
                if f == 0:
                    v = filt[x, c]
                elif f == 1:
                    v = filt[x, c] + a
                elif f == 2:
                    v = filt[x, c] + b
                elif f == 3:
                    v = filt[x, c] + (a + b) // 2
                elif f == 4:
                    v = filt[x, c] + _paeth(a, b, cc)
                else:
                    raise ValueError(f"bad filter {f}")
                recon[x, c] = v % 256
        out[y] = recon
        prior = recon
    return out.astype(np.uint8)

"""Codec probe + built-in pure-Python codecs for the multimodal stages.

Two tiers, probed at call time (cheap, cached):

- **External libraries** (PIL for images, soundfile for audio) are used when
  importable — production containers install them and the decode stages in
  ``multimodal.py`` pick them up without any plan change.
- **Built-in codecs** cover what the standard library + numpy can decode
  for real with no external dependency: PNG (zlib inflate + scanline
  defilter per the PNG spec — 8-bit gray/RGB/RGBA/gray+alpha,
  non-interlaced) and WAV (stdlib ``wave``). These run in this container.

Only formats with neither tier (JPEG, MP4, compressed audio) remain behind
``_require_codec``.
"""

from __future__ import annotations

import functools
import io
import struct
import zlib

# --------------------------------------------------------------------------
# probes
# --------------------------------------------------------------------------

@functools.lru_cache(maxsize=1)
def pil_image():
    """PIL.Image when installed, else None. Cached — import cost once."""
    try:
        from PIL import Image
        return Image
    except Exception:
        return None


@functools.lru_cache(maxsize=1)
def soundfile_mod():
    try:
        import soundfile
        return soundfile
    except Exception:
        return None


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def is_png(b: bytes) -> bool:
    return b[:8] == PNG_MAGIC


def is_wav(b: bytes) -> bool:
    return b[:4] == b"RIFF" and b[8:12] == b"WAVE"


# --------------------------------------------------------------------------
# built-in PNG codec (pure zlib + numpy, non-interlaced, bit depth 8)
# --------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> channels


def png_decode(blob: bytes):
    """PNG bytes → HxWxC uint8 array. Supports the formats every encoder in
    practice emits for 8-bit images (gray / RGB / gray+alpha / RGBA,
    non-interlaced); anything else raises ValueError so the caller can fall
    through to the codec gate instead of mis-decoding."""
    import numpy as np
    if not is_png(blob):
        raise ValueError("not a PNG")
    # Corrupt blobs must surface as ValueError — that is the contract the
    # decode stages' fallback-to-codec-gate dispatch relies on; a raw
    # zlib.error/struct.error from one bad row would crash the whole task.
    try:
        pos, w, h, depth, ctype, interlace = 8, 0, 0, 0, 0, 0
        idat = []
        while pos + 8 <= len(blob):
            (ln,), typ = struct.unpack(">I", blob[pos:pos + 4]), \
                blob[pos + 4:pos + 8]
            data = blob[pos + 8:pos + 8 + ln]
            pos += 12 + ln  # len + type + data + crc
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
        if depth != 8 or ctype not in _PNG_CHANNELS or interlace != 0:
            raise ValueError(
                f"unsupported PNG (depth={depth}, color={ctype}, "
                f"interlace={interlace})")
        c = _PNG_CHANNELS[ctype]
        raw = zlib.decompress(b"".join(idat))
    except (zlib.error, struct.error) as e:
        raise ValueError(f"corrupt PNG: {e}") from e
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride,
            offset=y * (stride + 1) + 1).copy()
        if ftype == 0:                       # None
            cur = line
        elif ftype == 2:                     # Up
            cur = (line + prev).astype(np.uint8)
        elif ftype == 1:                     # Sub: per-lane prefix sum —
            # addition mod 256 is associative, so cumsum then &0xFF is the
            # exact recurrence cur[x] = line[x] + cur[x-c], fully vectorized
            lanes = line.astype(np.int64).reshape(-1, c)
            cur = (np.cumsum(lanes, axis=0) & 0xFF).astype(
                np.uint8).reshape(stride)
        elif ftype in (3, 4):                # Average / Paeth: the floor/
            # predictor nonlinearity breaks the prefix trick, so these stay
            # a scalar loop — acceptable because this whole built-in tier is
            # the no-dependency fallback; photographic PNGs (where Paeth
            # dominates) should go through the PIL tier in production
            cur = line
            for x in range(stride):
                a = int(cur[x - c]) if x >= c else 0
                b = int(prev[x])
                if ftype == 3:
                    cur[x] = (cur[x] + ((a + b) >> 1)) & 0xFF
                else:
                    cc = int(prev[x - c]) if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur
        prev = out[y]
    return out.reshape(h, w, c)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def png_encode(arr) -> bytes:
    """HxWxC (C in {1,2,3,4}) or HxW uint8 array → PNG bytes (filter 0)."""
    import numpy as np
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def decode_image_blob(blob: bytes):
    """Best-available image decode: PIL when installed (any format it
    knows), else the built-in PNG codec. Returns HxWxC uint8 array or raises
    ValueError when no tier can decode these bytes."""
    import numpy as np
    pil = pil_image()
    if pil is not None:
        try:
            with pil.open(io.BytesIO(blob)) as im:
                a = np.asarray(im.convert(
                    "L" if im.mode in ("1", "L", "I;16") else "RGB"
                    if im.mode in ("RGB", "P", "CMYK", "YCbCr") else im.mode))
                return a[:, :, None] if a.ndim == 2 else a
        except Exception as e:
            raise ValueError(f"PIL cannot decode blob: {e}") from e
    if is_png(blob):
        return png_decode(blob)
    raise ValueError("no available codec for this image format")


# --------------------------------------------------------------------------
# built-in WAV codec (stdlib wave)
# --------------------------------------------------------------------------

def wav_decode(blob: bytes):
    """WAV bytes → (sample_rate, 1-D int16 array, mono-mixed). soundfile
    when installed (any format), stdlib ``wave`` otherwise (16-bit PCM)."""
    import numpy as np
    sf = soundfile_mod()
    if sf is not None:
        data, rate = sf.read(io.BytesIO(blob), dtype="int16")
        if data.ndim == 2:
            data = data.mean(axis=1).astype(np.int16)
        return rate, data
    import wave
    with wave.open(io.BytesIO(blob), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("built-in WAV codec supports 16-bit PCM only")
        rate = wf.getframerate()
        frames = np.frombuffer(wf.readframes(wf.getnframes()), dtype=np.int16)
        nch = wf.getnchannels()
        if nch > 1:
            frames = frames.reshape(-1, nch).mean(axis=1).astype(np.int16)
        return rate, frames


def wav_encode(samples, sample_rate: int = 16000) -> bytes:
    """1-D int16 array → mono 16-bit PCM WAV bytes (stdlib wave)."""
    import wave
    import numpy as np
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(np.asarray(samples, dtype=np.int16).tobytes())
    return buf.getvalue()

"""Pure-stdlib image codecs (PNG/BMP/PGM/PPM) + pixel quality kernels.

The reference rasterizes pages and runs pixel metrics
(quality_analysis_updated/universal_analyzer.py:31-49; metrics/*.py).
This sandbox has no cv2/PIL, so the S3/S4 rasterization path decodes
real encodings with the standard library only:

- **PNG** — chunk parse + zlib inflate + scanline unfilter (all five
  filter types incl. Paeth), bit depth 8, color types 0/2/6
  (gray / RGB / RGBA), non-interlaced;
- **BMP** — BITMAPINFOHEADER, uncompressed (BI_RGB), 8-bit palette and
  24/32-bit BGR(A), bottom-up and top-down;
- **PGM/PPM** — binary P5/P6.

Everything returns an H x W uint8 grayscale array (BT.601 integer luma
for color inputs — the cv2.cvtColor(..., COLOR_RGB2GRAY) analog used by
every reference metric's shared_preprocessing). Encoders exist so tests
and the synthetic media table can round-trip real bytes without any
third-party dependency.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _luma(rgb: np.ndarray) -> np.ndarray:
    """BT.601 integer luma (cv2 grayscale conversion analog): uses the
    same fixed-point coefficients as OpenCV (R*4899 + G*9617 + B*1868 +
    8192) >> 14."""
    r = rgb[..., 0].astype(np.uint32)
    g = rgb[..., 1].astype(np.uint32)
    b = rgb[..., 2].astype(np.uint32)
    return ((r * 4899 + g * 9617 + b * 1868 + 8192) >> 14).astype(np.uint8)


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bitdepth = colortype = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _, _, interlace = \
                struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if width < 1 or height < 1:
        # zero-dimension rasters crash the pixel kernels downstream
        # (ZeroDivisionError escapes the corrupt-lane catch tuples —
        # r7 review); reject at decode like any other corrupt payload
        raise ValueError(f"PNG dimensions {width}x{height}")
    if bitdepth != 8:
        raise NotImplementedError(f"PNG bit depth {bitdepth}")
    channels = {0: 1, 2: 3, 6: 4}.get(colortype)
    if channels is None:
        raise NotImplementedError(f"PNG color type {colortype}")
    if interlace != 0:
        raise NotImplementedError("interlaced PNG")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride,
            offset=y * (stride + 1) + 1).astype(np.int32)
        if ftype == 0:                                   # None
            cur = line
        elif ftype == 2:                                 # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1:                                 # Sub
            # per-channel modular prefix sum: cur[x] = (line[x] +
            # cur[x-ch]) mod 256 — the per-pixel Python loop ran at
            # ~1 MB/s on real-world PNGs, whose encoders pick adaptive
            # filters on nearly every row (r7 review). int64 cumsum
            # cannot overflow (255 * stride << 2^63).
            cur = (line.reshape(width, channels)
                   .cumsum(axis=0, dtype=np.int64) & 0xFF) \
                .reshape(stride).astype(np.int32)
        else:                                            # Average/Paeth
            # inherently sequential along the row (each pixel needs the
            # RECONSTRUCTED left neighbor); plain-int list arithmetic
            # beats per-element numpy indexing ~10x here
            if ftype not in (3, 4):
                raise ValueError(f"bad PNG filter {ftype}")
            ln = line.tolist()
            pv = prev.tolist()
            cu = [0] * stride
            for x in range(stride):
                a = cu[x - channels] if x >= channels else 0
                b = pv[x]
                if ftype == 3:                           # Average
                    pred = (a + b) >> 1
                else:                                    # Paeth
                    c = pv[x - channels] if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                cu[x] = (ln[x] + pred) & 0xFF
            cur = np.asarray(cu, dtype=np.int32)
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    px = out.reshape(height, width, channels)
    if channels == 1:
        return px[:, :, 0].copy()
    return _luma(px[:, :, :3])


def encode_png(gray: np.ndarray) -> bytes:
    """Minimal grayscale PNG writer (filter 0, one IDAT)."""
    g = np.asarray(gray, dtype=np.uint8)
    h, w = g.shape
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    pix_offset = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("BMP core header")
    width, height = struct.unpack("<ii", data[18:26])
    bpp = struct.unpack("<H", data[28:30])[0]
    compression = struct.unpack("<I", data[30:34])[0]
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression}")
    flip = height > 0
    height = abs(height)
    if width < 1 or height < 1:
        raise ValueError(f"BMP dimensions {width}x{height}")  # r7 review
    stride = ((bpp * width + 31) // 32) * 4
    px = np.frombuffer(data, dtype=np.uint8, count=stride * height,
                       offset=pix_offset).reshape(height, stride)
    if bpp == 8:
        # palette: 4-byte BGRA entries right after the info header
        pal_off = 14 + hdr_size
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal = np.frombuffer(data, dtype=np.uint8, count=n_colors * 4,
                            offset=pal_off).reshape(n_colors, 4)
        pal_luma = _luma(pal[:, [2, 1, 0]].reshape(n_colors, 1, 3)) \
            .reshape(n_colors)
        idx = px[:, :width]
        if idx.size and int(idx.max()) >= n_colors:
            # an out-of-palette pixel index raised IndexError, which is
            # not in the corrupt-lane catch tuples and crashed the task
            # (r7 review) — it is corrupt data, say so
            raise ValueError(
                f"BMP palette index {int(idx.max())} out of range "
                f"({n_colors} colors)")
        gray = pal_luma[idx]
    elif bpp in (24, 32):
        nch = bpp // 8
        rows = px[:, :width * nch].reshape(height, width, nch)
        gray = _luma(rows[:, :, [2, 1, 0]])      # BGR(A) -> RGB luma
    else:
        raise NotImplementedError(f"BMP bpp {bpp}")
    return gray[::-1].copy() if flip else gray.copy()


def encode_bmp(gray: np.ndarray) -> bytes:
    """24-bit uncompressed BMP writer (bottom-up, gray replicated)."""
    g = np.asarray(gray, dtype=np.uint8)
    h, w = g.shape
    stride = ((24 * w + 31) // 32) * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = np.repeat(g[y], 3).tobytes()
        body += row + b"\x00" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + bytes(body)


# ---------------------------------------------------------------------------
# PGM / PPM (binary)
# ---------------------------------------------------------------------------

def decode_pnm(data: bytes) -> np.ndarray:
    if data[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if w < 1 or h < 1:
        raise ValueError(f"PNM dimensions {w}x{h}")  # r7 review
    if maxval != 255:
        raise NotImplementedError(f"PNM maxval {maxval}")
    if data[:2] == b"P5":
        return np.frombuffer(data, np.uint8, count=w * h,
                             offset=pos).reshape(h, w).copy()
    rgb = np.frombuffer(data, np.uint8, count=w * h * 3,
                        offset=pos).reshape(h, w, 3)
    return _luma(rgb)


def encode_pgm(gray: np.ndarray) -> bytes:
    g = np.asarray(gray, dtype=np.uint8)
    h, w = g.shape
    return f"P5\n{w} {h}\n255\n".encode() + g.tobytes()


# ---------------------------------------------------------------------------
# dispatch + pixel kernels
# ---------------------------------------------------------------------------

def decode_image(data: bytes) -> np.ndarray:
    """Sniff the magic and decode to H x W uint8 grayscale."""
    if data[:8] == PNG_MAGIC:
        return decode_png(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] in (b"P5", b"P6"):
        return decode_pnm(data)
    raise NotImplementedError("unsupported image format")


def block_features(gray: np.ndarray, grid: int = 4) -> list[float]:
    """grid x grid block means / 255 (the resize-to-thumbnail feature
    step; row-major order) — the decode -> resize -> featurize path."""
    h, w = gray.shape
    ys = np.linspace(0, h, grid + 1).astype(int)
    xs = np.linspace(0, w, grid + 1).astype(int)
    out = []
    for i in range(grid):
        for j in range(grid):
            block = gray[ys[i]:max(ys[i + 1], ys[i] + 1),
                         xs[j]:max(xs[j + 1], xs[j] + 1)]
            out.append(float(block.mean()) / 255.0)
    return out


def pixel_quality(gray: np.ndarray) -> dict[str, float]:
    """Real pixel metrics on the decoded raster — the direct (not text-
    analog) forms of the reference kernels:

    - px_blank: white-pixel ratio (blank_page_score.py:68-77);
    - px_brightness: mean/255 closeness to the 0.5 target
      (brightness_score.py method 'global_mean');
    - px_contrast: std/64 capped (contrast_score.py 'global_std');
    - px_shadow / px_glare: dark(<64) / bright(>242) area ratios against
      the 0.08 / 0.06 thresholds (shadow_glare_score.py:73-98).

    ONE bincount pass (r7 review): the old form cast the raster to
    float64 (8x memory) and scanned it five times; on this host
    whole-buffer elementwise numpy runs at pathological throughput
    (CLAUDE.md VM quirks — LUT-gather/bincount is the doctrine), and a
    256-bin histogram of the uint8 raster yields every count, the mean,
    and the variance in one pass.
    """
    n = gray.size
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    vals = np.arange(256, dtype=np.float64)
    white = float(hist[241:].sum()) / n
    mean_raw = float((hist * vals).sum()) / n          # exact: int sums
    mean = mean_raw / 255.0
    var = float((hist * (vals - mean_raw) ** 2).sum()) / n
    std = var ** 0.5
    shadow = float(hist[:64].sum()) / n
    glare = float(hist[243:].sum()) / n
    return {
        "px_blank": white,
        "px_brightness": max(0.0, 1.0 - abs(mean - 0.5) / 0.5),
        "px_contrast": min(1.0, std / 64.0),
        "px_shadow": min(1.0, shadow / 0.08),
        "px_glare": min(1.0, glare / 0.06),
    }

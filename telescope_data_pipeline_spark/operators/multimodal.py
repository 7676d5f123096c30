"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Convention (schemas.MEDIA): the encoded payload is a BinaryType column;
everything query-able (modality, mime, dimensions, duration) is a typed
column beside it, so relational stages never touch the bytes — filters on
``modality``/``mime`` prune at the parquet scan and the payload column is
only read by the decode stage (columnar formats make this free).

Decode / feature-extract run as ``mapInPandas`` over Arrow batches:
one Python crossing per batch, not per row, and each output row stays
with its input partition (no shuffle). ``decode_image``/``decode_audio``
dispatch to real codecs (PIL / soundfile) when installed, and to
deterministic stubs otherwise — the dev container has neither, so the
Spark-side contract (schemas, batch iteration, partitioning) is tested
with the fakes and the real path is covered by skipped-unless-installed
tests.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache_slot import CacheSlot

#: single-slot fingerprint cache for the banded image near-dup join —
#: the dedup.py _FP_SLOT discipline applied to perceptual hashes
_PHASH_SLOT = CacheSlot()

#: Output schema of the image feature extractor.
IMAGE_FEATURES = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("mean_intensity", T.DoubleType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])

#: Output schema of the audio/video frame sampler.
FRAME_SAMPLES = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("t_offset_s", T.DoubleType(), True),
    T.StructField("frame_bytes", T.BinaryType(), True),
])


class CodecUnavailable(NotImplementedError):
    """Raised when a real decoder is required but not installed."""


# Optional real decoders: probed once per Python worker at module import
# (the kernels below close over module functions, so executors resolve
# the same dispatch). Absent libraries leave the deterministic stubs in
# charge — the container this repo is developed in has neither.
try:  # pragma: no cover - exercised only where PIL is installed
    from PIL import Image as _pil_image
except ImportError:
    _pil_image = None

try:  # pragma: no cover - exercised only where soundfile is installed
    import soundfile as _soundfile
except ImportError:
    _soundfile = None

try:  # pragma: no cover - exercised only where PyAV is installed
    import av as _pyav
except ImportError:
    _pyav = None

try:  # pragma: no cover - trivially present; guards exotic workers
    from shutil import which as _which
    _FFMPEG_BIN = _which("ffmpeg")
except Exception:  # noqa: BLE001 - probe must never break module import
    _FFMPEG_BIN = None


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB decoder — deterministic fake in place of PIL/libjpeg.

    The payload bytes are interpreted as a seed so tests are
    reproducible regardless of installed codecs.
    """
    if payload is None:
        raise CodecUnavailable("no payload")
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    rng = np.random.default_rng(seed)
    return rng.integers(0, 255, size=(16, 16), dtype=np.uint8).astype(np.float32)


#: Magic prefixes of real encoded media. Dispatch keys on these, NOT on
#: decode success: a payload that CLAIMS to be a real format but fails
#: to decode is corrupt data and must fail loudly — silently replacing
#: it with stub features would poison the corpus downstream. Payloads
#: with no known magic are synthetic fixtures and take the stub.
#: (BMP's 2-byte "BM" alone is too short to distinguish from synthetic
#: bytes, so BMP dispatch additionally validates the DIB header size
#: field — see _is_bmp. RIFF containers disambiguate on bytes 8-12:
#: WEBP is an image, WAVE is audio.)
_IMAGE_MAGICS = (b"\x89PNG", b"\xff\xd8\xff", b"GIF8",
                 b"II*\x00", b"MM\x00*")
_AUDIO_MAGICS = (b"fLaC", b"OggS", b"FORM")


def _has_magic(payload: bytes, magics: tuple[bytes, ...],
               riff_kind: bytes | None = None) -> bool:
    head = bytes(payload[:12])
    if riff_kind is not None and head[:4] == b"RIFF" \
            and head[8:12] == riff_kind:
        return True
    return any(head.startswith(m) for m in magics)


_MAX_DECODE_PIXELS = 64_000_000  # decode-bomb cap, shared by all decoders


def _guard_dims(w: int, h: int, what: str) -> None:
    """Header-claimed dimensions gate EVERY allocation: a few header
    bytes can claim a multi-gigapixel raster and OOM an executor (the
    exception surface contract allows only CodecUnavailable)."""
    if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS:
        raise CodecUnavailable(f"{what} dimensions {w}x{h} over decode cap")


def _is_bmp(payload: bytes) -> bool:
    """True only for a plausible BMP: 'BM' signature AND a known DIB
    header size at offset 14 (12/40/108/124) — the extra check keeps
    2-byte-coincidence synthetic fixtures on the stub path."""
    head = bytes(payload[:18])
    if len(head) < 18 or head[:2] != b"BM":
        return False
    return int.from_bytes(head[14:18], "little") in (12, 40, 108, 124)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-Python BMP decode (no PIL needed): uncompressed BI_RGB,
    8-bit palette or 24-bit, bottom-up or top-down; grayscale via the
    ITU-R 601 luma (the same weights PIL's convert('L') uses). Raises
    on compressed/exotic variants — corrupt-or-unsupported real media
    must fail loudly, never fall through to the stub."""
    b = bytes(payload)
    dib = int.from_bytes(b[14:18], "little")
    if dib < 40:
        raise CodecUnavailable("BITMAPCOREHEADER BMP unsupported")
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if comp != 0 or bpp not in (8, 24) or w <= 0 or h == 0:
        raise CodecUnavailable(
            f"BMP variant unsupported (bpp={bpp}, compression={comp})")
    top_down, height = h < 0, abs(h)
    row_bytes = ((w * bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    if off + row_bytes * height > len(b):
        raise CodecUnavailable("truncated BMP pixel array")
    rows = np.frombuffer(b, np.uint8, count=row_bytes * height,
                         offset=off).reshape(height, row_bytes)
    if bpp == 24:
        bgr = rows[:, :w * 3].reshape(height, w, 3).astype(np.float32)
    else:  # 8-bit indexed: palette lives right after the DIB header
        pal = np.frombuffer(b, np.uint8, count=256 * 4,
                            offset=14 + dib).reshape(256, 4)
        bgr = pal[rows[:, :w]][..., :3].astype(np.float32)
    gray = (bgr[..., 2] * 0.299 + bgr[..., 1] * 0.587
            + bgr[..., 0] * 0.114)
    if not top_down:
        gray = gray[::-1]
    return np.ascontiguousarray(gray, dtype=np.float32)


def _unfilter_scanline(f: int, line: np.ndarray, prev: np.ndarray,
                       bpp: int) -> np.ndarray:
    """Reverse one PNG scanline filter (spec §9): None/Sub/Up are
    vectorized; Average and Paeth recur on the just-reconstructed left
    neighbor, so they walk the line (pixels are bytes; the walk is
    per-image CPU inside an Arrow batch, no Spark impact)."""
    if f == 0:
        return line.astype(np.uint8)
    if f == 2:
        return ((line + prev) & 0xFF).astype(np.uint8)
    n = len(line)
    cur = np.zeros(n, np.uint16)
    for i in range(n):
        a = int(cur[i - bpp]) if i >= bpp else 0
        b = int(prev[i])
        if f == 1:
            pred = a
        elif f == 3:
            pred = (a + b) >> 1
        elif f == 4:
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        else:
            raise CodecUnavailable(f"PNG filter type {f} invalid")
        cur[i] = (int(line[i]) + pred) & 0xFF
    return cur.astype(np.uint8)


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure-Python PNG decode (stdlib zlib, no PIL): 8- and 16-bit
    depths, color types gray / RGB / palette / gray+alpha / RGBA, all
    five scanline filters, progressive (Adam7) AND sequential scan
    layouts (round-10: the last two real-crawl PNG variants — Adam7 and
    16-bit — previously raised CodecUnavailable). Grayscale via the
    same ITU-R 601 luma as the BMP path; 16-bit samples scale by 1/257
    so full-scale white lands on 255.0 in both depths. Raises
    CodecUnavailable on 1/2/4-bit depths — corrupt-or-unsupported real
    media must fail loudly, never fall through to the stub."""
    import struct
    import zlib

    try:
        return _decode_png_inner(payload)
    except (zlib.error, IndexError, ValueError, struct.error) as e:
        # damaged IDAT (zlib.error), palette index beyond PLTE
        # (IndexError), short struct slices (ValueError), a chunk cut
        # mid-header so struct.unpack sees too few bytes (struct.error)
        # — same typed contract as the JPEG path: corrupt input ->
        # CodecUnavailable
        raise CodecUnavailable(f"truncated or corrupt PNG: {e}") from e


def _decode_png_inner(payload: bytes) -> np.ndarray:
    import struct
    import zlib

    b = bytes(payload)
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise CodecUnavailable("not a PNG signature")
    pos, idat, pal = 8, [], None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data)
        elif typ == b"PLTE":
            pal = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if w is None or not idat:
        raise CodecUnavailable("PNG missing IHDR/IDAT")
    if depth not in (8, 16):
        raise CodecUnavailable(f"PNG bit depth {depth} unsupported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise CodecUnavailable(f"PNG color type {ctype} invalid")
    if ctype == 3 and depth == 16:
        raise CodecUnavailable("PNG 16-bit palette is not a legal combo")
    if interlace not in (0, 1):
        raise CodecUnavailable(f"PNG interlace method {interlace} invalid")
    _guard_dims(w, h, "PNG")
    # bounded inflate: sequential needs h*(1+stride); Adam7 repeats the
    # per-pass filter byte, so 2x + slack covers every legal layout —
    # a compression bomb stops HERE instead of filling executor memory
    bound = 2 * h * (1 + w * channels * (depth // 8)) + 1024
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), bound)
    if d.unconsumed_tail:
        raise CodecUnavailable("PNG inflate output exceeds pixel bound")
    bps = depth // 8  # bytes per sample

    def reconstruct(off: int, pw: int, ph: int) -> tuple[np.ndarray, int]:
        """Unfilter ``ph`` scanlines of ``pw`` pixels from raw[off:];
        returns (ph x pw x channels uint16 SAMPLE matrix, new offset).
        Filters operate on BYTES with bpp = channels * bps (spec §9:
        16-bit filtering is bytewise with a 2-byte-per-sample pixel
        distance), then big-endian byte pairs merge into samples."""
        stride = pw * channels * bps
        if off + (stride + 1) * ph > len(raw):
            raise CodecUnavailable("PNG pixel data length mismatch")
        mat = np.empty((ph, stride), np.uint8)
        prev = np.zeros(stride, np.uint16)
        for y in range(ph):
            f = raw[off]
            line = np.frombuffer(raw, np.uint8, count=stride,
                                 offset=off + 1).astype(np.uint16)
            mat[y] = _unfilter_scanline(f, line, prev, channels * bps)
            prev = mat[y].astype(np.uint16)
            off += stride + 1
        if bps == 2:
            pairs = mat.reshape(ph, pw * channels, 2).astype(np.uint16)
            samples = (pairs[..., 0] << 8) | pairs[..., 1]
        else:
            samples = mat.astype(np.uint16)
        return samples.reshape(ph, pw, channels), off

    if interlace == 0:
        samples, off = reconstruct(0, w, h)
    else:  # Adam7: seven sub-images, each filtered independently
        samples = np.zeros((h, w, channels), np.uint16)
        off = 0
        for xs, ys, xstep, ystep in ((0, 0, 8, 8), (4, 0, 8, 8),
                                     (0, 4, 4, 8), (2, 0, 4, 4),
                                     (0, 2, 2, 4), (1, 0, 2, 2),
                                     (0, 1, 1, 2)):
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw <= 0 or ph <= 0:
                continue
            sub, off = reconstruct(off, pw, ph)
            samples[ys::ystep, xs::xstep] = sub
    if off != len(raw):
        raise CodecUnavailable("PNG pixel data length mismatch")
    px = samples.astype(np.float32)
    if bps == 2:  # map 0..65535 onto the 8-bit 0..255 scale exactly
        px /= 257.0
    if ctype == 0:
        gray = px[..., 0]
    elif ctype == 2 or ctype == 6:
        gray = (px[..., 0] * 0.299 + px[..., 1] * 0.587
                + px[..., 2] * 0.114)
    elif ctype == 4:
        gray = px[..., 0]
    else:  # palette
        if pal is None:
            raise CodecUnavailable("palette PNG missing PLTE")
        rgb = pal[samples[..., 0]].astype(np.float32)
        gray = (rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587
                + rgb[..., 2] * 0.114)
    return np.ascontiguousarray(gray.reshape(h, w), dtype=np.float32)


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """The 64-entry zigzag scan order (scan index -> (row, col))."""
    out = []
    for s in range(15):
        rng = range(s, -1, -1) if s % 2 == 0 else range(0, s + 1)
        for r in rng:
            c = s - r
            if r < 8 and c < 8:
                out.append((r, c))
    return out


_JPEG_ZZ = _jpeg_zigzag()
#: Orthonormal 8-point DCT matrix: forward Y = D @ X @ D.T, inverse
#: X = D.T @ Y @ D. Exact float IDCT (no libjpeg integer approximation)
#: — deterministic across platforms because every entry is a fixed
#: IEEE double and the 8x8 matmuls have a fixed evaluation order.
_JPEG_DCT = np.array(
    [[(np.sqrt(1.0 / 8.0) if k == 0 else np.sqrt(2.0 / 8.0))
      * np.cos((2 * n + 1) * k * np.pi / 16.0)
      for n in range(8)] for k in range(8)], np.float64)


class _JpegBits:
    """MSB-first bit reader over unstuffed entropy-coded bytes."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.data, self.pos, self.bit = data, 0, 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise CodecUnavailable("JPEG entropy data exhausted")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit, self.pos = 0, self.pos + 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Canonical Huffman code assignment per the JPEG spec: codes of
    each length are consecutive, doubling when the length grows."""
    lut, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            lut[(ln, code)] = symbols[k]
            k, code = k + 1, code + 1
        code <<= 1
    return lut


def _jpeg_huff_decode(br: _JpegBits, lut: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code, ln = (code << 1) | br.read_bit(), ln + 1
        sym = lut.get((ln, code))
        if sym is not None:
            return sym
    raise CodecUnavailable("invalid JPEG Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """EXTEND (spec F.2.2.1): map the s-bit magnitude to its signed
    value — values below 2^(s-1) are the negative branch."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_jpeg(payload: bytes) -> np.ndarray:
    """Pure-Python baseline JPEG decode (no PIL/libjpeg): SOF0/SOF1
    Huffman sequential, 8-bit, grayscale or YCbCr with any 1-2x
    sampling factors (4:4:4 / 4:2:2 / 4:2:0), restart intervals.
    The grayscale output IS the Y plane (JFIF defines Y as exactly the
    ITU-R 601 luma the BMP/PNG paths compute from RGB), so chroma
    blocks are entropy-decoded to keep the bitstream in sync but never
    IDCT'd. Raises CodecUnavailable on progressive (SOF2), arithmetic
    coding, hierarchical, and 12-bit variants — corrupt-or-unsupported
    real media must fail loudly, never fall through to the stub.
    Completes the round-6/7 real-decoder set (BMP, WAV, PNG, JPEG):
    every format a real crawl actually contains now decodes without
    optional libraries."""
    try:
        return _decode_jpeg_inner(payload)
    except (IndexError, ValueError) as e:
        # short slices / frombuffer size mismatches on truncated input
        raise CodecUnavailable(f"truncated or corrupt JPEG: {e}") from e


def _decode_jpeg_inner(payload: bytes) -> np.ndarray:
    b = bytes(payload)
    if b[:3] != b"\xff\xd8\xff":
        raise CodecUnavailable("not a JPEG signature")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> lut
    comps = None  # list of (cid, h, v, tq)
    w = h = None
    ri = 0
    scan = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise CodecUnavailable("JPEG marker sync lost")
        marker = b[pos + 1]
        if marker == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xC2:  # SOF2: progressive DCT, separate scan loop
            return _decode_jpeg_progressive_inner(b)
        if marker in (0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise CodecUnavailable(
                f"JPEG SOF{marker - 0xC0} (non-baseline) unsupported")
        seg_len = int.from_bytes(b[pos + 2:pos + 4], "big")
        data = b[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(data):
                pq_, tq = data[i] >> 4, data[i] & 15
                n = 64 * (2 if pq_ else 1)
                raw = data[i + 1:i + 1 + n]
                vals = (np.frombuffer(raw, ">u2") if pq_
                        else np.frombuffer(raw, np.uint8)).astype(np.float64)
                tbl = np.empty((8, 8), np.float64)
                for k, (r, c) in enumerate(_JPEG_ZZ):
                    tbl[r, c] = vals[k]
                qt[tq] = tbl
                i += 1 + n
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1
            if data[0] != 8:
                raise CodecUnavailable("12-bit JPEG unsupported")
            h = int.from_bytes(data[1:3], "big")
            w = int.from_bytes(data[3:5], "big")
            nc = data[5]
            comps = [(data[6 + 3 * i], data[7 + 3 * i] >> 4,
                      data[7 + 3 * i] & 15, data[8 + 3 * i])
                     for i in range(nc)]
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                counts = data[i + 1:i + 17]
                nsym = sum(counts)
                huff[(tc, th)] = _jpeg_huff_table(
                    counts, data[i + 17:i + 17 + nsym])
                i += 17 + nsym
        elif marker == 0xDD:  # DRI
            ri = int.from_bytes(data[:2], "big")
        elif marker == 0xDA:  # SOS
            ns = data[0]
            scan = [(data[1 + 2 * i], data[2 + 2 * i] >> 4,
                     data[2 + 2 * i] & 15) for i in range(ns)]
            pos = pos + 2 + seg_len
            break
        elif marker == 0xD9:  # EOI before SOS
            raise CodecUnavailable("JPEG has no scan data")
        pos += 2 + seg_len
    if comps is None or scan is None or not qt:
        raise CodecUnavailable("JPEG missing SOF/SOS/DQT")

    # split the entropy-coded bytes into restart segments, unstuffing
    # 0xFF00 and stopping at the first non-RST marker
    segments, cur = [], bytearray()
    while pos < len(b):
        byte = b[pos]
        if byte != 0xFF:
            cur.append(byte)
            pos += 1
            continue
        nxt = b[pos + 1] if pos + 1 < len(b) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif nxt == 0xFF:  # fill byte run before a marker
            pos += 1
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # EOI or any other marker ends the scan
            break
    segments.append(bytes(cur))

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if comps[0][1] != hmax or comps[0][2] != vmax:
        raise CodecUnavailable("JPEG with subsampled luma unsupported")
    _guard_dims(w, h, "JPEG")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    yplane = np.zeros((mcuy * 8 * vmax, mcux * 8 * hmax), np.float64)
    # MCUs interleave components in SOS *scan* order (T.81 A.2.3), not
    # SOF frame order — a legal baseline file may list them differently
    if len(scan) != len(comps):
        raise CodecUnavailable(
            "JPEG non-interleaved multi-scan unsupported")
    cid_to_ci = {comps[ci][0]: ci for ci in range(len(comps))}
    if any(sid not in cid_to_ci for sid, _td, _ta in scan):
        raise CodecUnavailable("JPEG SOS component not declared in SOF")
    order = [(cid_to_ci[sid], comps[cid_to_ci[sid]], (sid, td, ta))
             for sid, td, ta in scan]
    qy = qt.get(comps[0][3])
    if qy is None:
        raise CodecUnavailable("JPEG missing luma quant table")

    n_mcu = mcux * mcuy
    mcu_i, seg_i = 0, 0
    br = _JpegBits(segments[0])
    preds = [0] * len(comps)
    dct_t = _JPEG_DCT.T
    while mcu_i < n_mcu:
        if ri and mcu_i and mcu_i % ri == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise CodecUnavailable("JPEG missing restart segment")
            br = _JpegBits(segments[seg_i])
            preds = [0] * len(comps)
        my, mx = divmod(mcu_i, mcux)
        for ci, (cid, ch, cv, tq), (_sid, td, ta) in order:
            dc_lut = huff.get((0, td))
            ac_lut = huff.get((1, ta))
            if dc_lut is None or ac_lut is None:
                raise CodecUnavailable("JPEG missing Huffman table")
            for by in range(cv):
                for bx in range(ch):
                    s = _jpeg_huff_decode(br, dc_lut)
                    preds[ci] += _jpeg_extend(br.read_bits(s), s)
                    coeff = np.zeros(64, np.float64)
                    coeff[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _jpeg_huff_decode(br, ac_lut)
                        run, size = rs >> 4, rs & 15
                        if size == 0:
                            if run == 15:  # ZRL: sixteen zeros
                                k += 16
                                continue
                            break  # EOB
                        k += run
                        if k > 63:
                            raise CodecUnavailable("JPEG AC run overflow")
                        coeff[k] = _jpeg_extend(br.read_bits(size), size)
                        k += 1
                    if ci == 0:  # luma only: chroma never IDCT'd
                        blk = np.zeros((8, 8), np.float64)
                        for kk, (r, c) in enumerate(_JPEG_ZZ):
                            blk[r, c] = coeff[kk]
                        px = dct_t @ (blk * qy) @ _JPEG_DCT + 128.0
                        y0 = (my * vmax + by) * 8
                        x0 = (mx * hmax + bx) * 8
                        yplane[y0:y0 + 8, x0:x0 + 8] = px
        mcu_i += 1
    return np.ascontiguousarray(
        np.clip(yplane[:h, :w], 0.0, 255.0), dtype=np.float32)


def _jpeg_entropy_segments(b: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split the entropy-coded bytes starting at ``pos`` into restart
    segments: unstuff 0xFF00, split at RSTn, stop at (and return the
    offset of) the first other marker."""
    segments, cur = [], bytearray()
    while pos < len(b):
        byte = b[pos]
        if byte != 0xFF:
            cur.append(byte)
            pos += 1
            continue
        nxt = b[pos + 1] if pos + 1 < len(b) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif nxt == 0xFF:  # fill byte run before a marker
            pos += 1
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # any other marker ends the scan
            break
    segments.append(bytes(cur))
    return segments, pos


def _jpeg_ac_first(blk: list, br: _JpegBits, ac_lut: dict, ss: int, se: int,
                   al: int, eobrun: int) -> int:
    """Progressive AC first pass for one block (T.81 G.1.2.2): spectral
    band [ss, se], coefficients arrive shifted left by ``al``; EOBn
    codes start an end-of-band run spanning whole blocks."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _jpeg_huff_decode(br, ac_lut)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zero coefficients
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read_bits(r)
            break
        k += r
        if k > se:
            raise CodecUnavailable("JPEG progressive AC run overflow")
        blk[k] = _jpeg_extend(br.read_bits(s), s) << al
        k += 1
    return eobrun


def _jpeg_ac_refine(blk: list, br: _JpegBits, ac_lut: dict, ss: int, se: int,
                    al: int, eobrun: int) -> int:
    """Progressive AC refinement for one block (T.81 G.1.2.3): newly
    nonzero coefficients arrive as +-1<<al; every already-nonzero
    coefficient crossed on the way (and every one left in the band
    once an EOB run begins) gets one appended correction bit."""
    p1, m1 = 1 << al, -1 << al
    k = ss

    def correct(idx: int) -> None:
        if br.read_bit() and (blk[idx] & p1) == 0:
            blk[idx] += p1 if blk[idx] >= 0 else m1

    if eobrun == 0:
        while k <= se:
            rs = _jpeg_huff_decode(br, ac_lut)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise CodecUnavailable(
                        "JPEG AC refinement magnitude must be 1")
                val = p1 if br.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg_progressive_inner(b: bytes) -> np.ndarray:
    """Progressive JPEG (SOF2, Huffman successive-approximation +
    spectral-selection scans, T.81 Annex G) — closes the round-9
    VERDICT's last codec gap (progressive is ubiquitous in a real
    crawl). All scans accumulate integer DCT coefficients per block;
    dequantization + the exact float IDCT run ONCE at EOI, so scan
    order and count cannot change the output. Luma-only like the
    baseline path: interleaved DC scans entropy-decode every component
    to stay in bit-sync, while single-component chroma scans are
    skipped wholesale (their entropy bytes end at the next marker).
    Arithmetic coding (SOF10) stays CodecUnavailable."""
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None  # list of (cid, h, v, tq)
    w = h = None
    ri = 0
    hmax = vmax = mcux = mcuy = 0
    coef: list = []  # per comp: list-of-lists [by][bx] -> [64 ints]
    nb: list = []    # per comp: (interleaved_bw, interleaved_bh, nb_w, nb_h)
    saw_eoi = False
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise CodecUnavailable("JPEG marker sync lost")
        marker = b[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if pos + 4 > len(b):
            break
        seg_len = int.from_bytes(b[pos + 2:pos + 4], "big")
        data = b[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq_, tq = data[i] >> 4, data[i] & 15
                n = 64 * (2 if pq_ else 1)
                raw = data[i + 1:i + 1 + n]
                vals = (np.frombuffer(raw, ">u2") if pq_
                        else np.frombuffer(raw, np.uint8)).astype(np.float64)
                tbl = np.empty((8, 8), np.float64)
                for k, (r, c) in enumerate(_JPEG_ZZ):
                    tbl[r, c] = vals[k]
                qt[tq] = tbl
                i += 1 + n
        elif marker == 0xC2:
            if data[0] != 8:
                raise CodecUnavailable("12-bit JPEG unsupported")
            h = int.from_bytes(data[1:3], "big")
            w = int.from_bytes(data[3:5], "big")
            nc = data[5]
            comps = [(data[6 + 3 * i], data[7 + 3 * i] >> 4,
                      data[7 + 3 * i] & 15, data[8 + 3 * i])
                     for i in range(nc)]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if comps[0][1] != hmax or comps[0][2] != vmax:
                raise CodecUnavailable("JPEG with subsampled luma unsupported")
            _guard_dims(w, h, "JPEG")
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for _cid, ch, cv, _tq in comps:
                bw_i, bh_i = mcux * ch, mcuy * cv  # MCU-padded grid
                cw = -(-(w * ch) // hmax)          # component dimensions
                chh = -(-(h * cv) // vmax)
                nb.append((bw_i, bh_i, -(-cw // 8), -(-chh // 8)))
                coef.append([[[0] * 64 for _ in range(bw_i)]
                             for _ in range(bh_i)])
        elif marker == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                counts = data[i + 1:i + 17]
                nsym = sum(counts)
                huff[(tc, th)] = _jpeg_huff_table(
                    counts, data[i + 17:i + 17 + nsym])
                i += 17 + nsym
        elif marker == 0xDD:
            ri = int.from_bytes(data[:2], "big")
        elif marker == 0xDA:
            if comps is None:
                raise CodecUnavailable("JPEG SOS before SOF")
            ns = data[0]
            scan = [(data[1 + 2 * i], data[2 + 2 * i] >> 4,
                     data[2 + 2 * i] & 15) for i in range(ns)]
            ss_, se_ = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 15
            segments, pos = _jpeg_entropy_segments(b, pos + 2 + seg_len)
            cid_to_ci = {comps[ci][0]: ci for ci in range(len(comps))}
            if any(sid not in cid_to_ci for sid, _t, _t2 in scan):
                raise CodecUnavailable("JPEG SOS component not in SOF")
            if ns == 1 and cid_to_ci[scan[0][0]] != 0 and ss_ > 0:
                continue  # chroma AC scan: luma never needs it
            _decode_progressive_scan(
                coef, nb, comps, scan, cid_to_ci, huff, segments,
                mcux, mcuy, ss_, se_, ah, al, ri)
            continue
        pos += 2 + seg_len
    if comps is None or not qt:
        raise CodecUnavailable("JPEG missing SOF/DQT")
    if not saw_eoi and not any(
            any(any(blk) for blk in row) for row in coef[0]):
        raise CodecUnavailable("JPEG has no scan data")
    qy = qt.get(comps[0][3])
    if qy is None:
        raise CodecUnavailable("JPEG missing luma quant table")
    yplane = np.zeros((mcuy * 8 * vmax, mcux * 8 * hmax), np.float64)
    dct_t = _JPEG_DCT.T
    for by in range(mcuy * vmax):
        for bx in range(mcux * hmax):
            zz = coef[0][by][bx]
            blk = np.zeros((8, 8), np.float64)
            for kk, (r, c) in enumerate(_JPEG_ZZ):
                blk[r, c] = zz[kk]
            yplane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                dct_t @ (blk * qy) @ _JPEG_DCT + 128.0
    return np.ascontiguousarray(
        np.clip(yplane[:h, :w], 0.0, 255.0), dtype=np.float32)


def _decode_progressive_scan(coef, nb, comps, scan, cid_to_ci, huff,
                             segments, mcux, mcuy, ss_, se_, ah, al,
                             ri) -> None:
    """Apply one progressive scan's coefficient updates in place."""
    if ss_ == 0 and se_ != 0:
        raise CodecUnavailable("JPEG progressive DC scan with Se != 0")
    if ss_ > 0 and len(scan) != 1:
        raise CodecUnavailable("JPEG progressive interleaved AC scan")
    br = _JpegBits(segments[0])
    seg_i = 0
    if ss_ == 0:  # DC scan (interleaved or single-component)
        order = [(cid_to_ci[sid], comps[cid_to_ci[sid]], td)
                 for sid, td, _ta in scan]
        preds = [0] * len(comps)
        if len(scan) > 1:  # interleaved: MCU walk over the padded grid
            n_units = mcux * mcuy
        else:
            ci0 = order[0][0]
            n_units = nb[ci0][2] * nb[ci0][3]  # non-interleaved grid
        for unit in range(n_units):
            if ri and unit and unit % ri == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise CodecUnavailable("JPEG missing restart segment")
                br = _JpegBits(segments[seg_i])
                preds = [0] * len(comps)
            for ci, (_cid, ch, cv, _tq), td in order:
                if len(scan) > 1:
                    my, mx = divmod(unit, mcux)
                    blocks = [(my * cv + by, mx * ch + bx)
                              for by in range(cv) for bx in range(ch)]
                else:
                    blocks = [divmod(unit, nb[ci][2])]
                for by, bx in blocks:
                    blk = coef[ci][by][bx]
                    if ah == 0:
                        dc_lut = huff.get((0, td))
                        if dc_lut is None:
                            raise CodecUnavailable("JPEG missing DC table")
                        s = _jpeg_huff_decode(br, dc_lut)
                        preds[ci] += _jpeg_extend(br.read_bits(s), s)
                        blk[0] = preds[ci] << al
                    elif br.read_bit():
                        blk[0] += 1 << al
        return
    # AC scan: single component, non-interleaved block walk
    ci = cid_to_ci[scan[0][0]]
    ac_lut = huff.get((1, scan[0][2]))
    if ac_lut is None:
        raise CodecUnavailable("JPEG missing AC table")
    nbw, nbh = nb[ci][2], nb[ci][3]
    eobrun = 0
    step = _jpeg_ac_refine if ah else _jpeg_ac_first
    for unit in range(nbw * nbh):
        if ri and unit and unit % ri == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise CodecUnavailable("JPEG missing restart segment")
            br = _JpegBits(segments[seg_i])
            eobrun = 0
        by, bx = divmod(unit, nbw)
        eobrun = step(coef[ci][by][bx], br, ac_lut, ss_, se_, al, eobrun)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF LZW decompression (GIF89a spec appendix F): codes pack
    LSB-first, the dictionary resets on CLEAR, grows by one entry per
    emitted code, and the code width bumps when the table fills (capped
    at 12 bits). Stops after ``n_pixels`` indices or the END code."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    acc = bits = pos = 0
    prev: bytes | None = None
    while len(out) < n_pixels:
        while bits < code_size:
            if pos >= len(data):
                raise CodecUnavailable("GIF LZW stream truncated")
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        bits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and code not in (clear, end):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise CodecUnavailable(f"GIF LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        prev = entry
    if len(out) < n_pixels:
        raise CodecUnavailable("GIF pixel data short of image size")
    return bytes(out[:n_pixels])


def _decode_gif(payload: bytes) -> np.ndarray:
    """Pure-Python GIF decode (87a/89a, no PIL): global/local color
    tables, full LZW with dictionary growth and 12-bit cap, 4-pass
    interlace reorder, extensions skipped, FIRST frame of an animation
    composed onto a background-color canvas. Grayscale via the same
    ITU-R 601 luma as the BMP/PNG paths. Raises CodecUnavailable on
    corruption — real-but-damaged media must fail loudly, never fall
    through to the stub (round-10: GIF was the last common crawl image
    container still gated on PIL)."""
    try:
        return _decode_gif_inner(payload)
    except (IndexError, ValueError, struct.error) as e:
        raise CodecUnavailable(f"truncated or corrupt GIF: {e}") from e


def _decode_gif_inner(payload: bytes) -> np.ndarray:
    b = bytes(payload)
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise CodecUnavailable("not a GIF signature")
    sw, sh, packed, bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, np.uint8, count=3 * n,
                            offset=pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer before any image
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise CodecUnavailable(f"GIF block 0x{block:02x} invalid")
        left, top, fw, fh, ipacked = struct.unpack("<HHHHB",
                                                   b[pos:pos + 9])
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(b, np.uint8, count=3 * n,
                                offset=pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise CodecUnavailable("GIF image with no color table")
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise CodecUnavailable(f"GIF LZW min code {min_code} invalid")
        chunks = []
        while b[pos] != 0:
            ln = b[pos]
            chunks.append(b[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        if fw <= 0 or fh <= 0:
            raise CodecUnavailable("GIF zero-sized frame")
        if fw * fh > 64_000_000:  # decode-bomb guard: a 16-byte header
            # can claim a 4.3-gigapixel frame and OOM the executor
            raise CodecUnavailable(f"GIF frame {fw}x{fh} over decode cap")
        idx = np.frombuffer(
            _gif_lzw_decode(b"".join(chunks), min_code, fw * fh),
            np.uint8).reshape(fh, fw)
        if ipacked & 0x40:  # 4-pass interlace: rows arrive reordered
            rows = np.concatenate([np.arange(0, fh, 8),
                                   np.arange(4, fh, 8),
                                   np.arange(2, fh, 4),
                                   np.arange(1, fh, 2)])
            deinter = np.empty_like(idx)
            deinter[rows] = idx
            idx = deinter
        if int(idx.max(initial=0)) >= len(pal):
            raise CodecUnavailable("GIF pixel index beyond color table")
        rgb_frame = pal[idx].astype(np.float32)
        if (left, top, fw, fh) == (0, 0, sw, sh):
            rgb = rgb_frame
        else:  # sub-rectangle first frame: compose on bg-color canvas
            bg_rgb = (pal[bg].astype(np.float32) if bg < len(pal)
                      else np.zeros(3, np.float32))
            rgb = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
            eh, ew = min(fh, sh - top), min(fw, sw - left)
            if eh > 0 and ew > 0:
                rgb[top:top + eh, left:left + ew] = rgb_frame[:eh, :ew]
        gray = (rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587
                + rgb[..., 2] * 0.114)
        return np.ascontiguousarray(gray, dtype=np.float32)
    raise CodecUnavailable("GIF contains no image descriptor")


def _tiff_lzw_decode(data: bytes, max_bytes: int) -> bytes:
    """TIFF LZW (spec §13): MSB-first bit packing, 256=Clear, 257=EOI,
    new entries from 258, and the EARLY-CHANGE quirk — the code width
    bumps when the table reaches 2^bits - 1 (one entry sooner than
    GIF's LSB-first variant)."""
    out = bytearray()
    table: list[bytes] = []
    code_size = 9
    acc = bits = pos = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        code_size = 9
        prev = None

    reset()
    while len(out) < max_bytes:
        while bits < code_size:
            if pos >= len(data):
                raise CodecUnavailable("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            bits += 8
            pos += 1
        code = (acc >> (bits - code_size)) & ((1 << code_size) - 1)
        bits -= code_size
        acc &= (1 << bits) - 1
        if code == 256:
            reset()
            continue
        if code == 257:
            break
        if code < len(table) and code not in (256, 257):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise CodecUnavailable(f"TIFF LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4094:
            table.append(prev + entry[:1])
        # Early change, decoder side: the decoder's table is one entry
        # BEHIND the encoder's (it appends E_k only after reading
        # C_{k+1}), so the width bump fires one entry sooner than the
        # GIF rule — at len+2, not len+1.
        if len(table) + 2 == (1 << code_size) and code_size < 12:
            code_size += 1
        prev = entry
    if len(out) < max_bytes:
        raise CodecUnavailable("TIFF strip short of expected size")
    return bytes(out[:max_bytes])


def _packbits_decode(data: bytes, max_bytes: int) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773)."""
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < max_bytes:
        n = data[pos]
        pos += 1
        if n < 128:  # n+1 literal bytes
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if pos >= len(data):
                break
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: noop
    if len(out) < max_bytes:
        raise CodecUnavailable("TIFF PackBits strip short of expected size")
    return bytes(out[:max_bytes])


def _decode_tiff(payload: bytes) -> np.ndarray:
    """Pure-Python baseline TIFF decode (no PIL): both byte orders,
    strip layout, compressions None / LZW (with early change) /
    PackBits, horizontal-differencing predictor, 8-bit gray (both
    photometric polarities), RGB, and palette color. Raises
    CodecUnavailable on tiles, other depths, or other compressions —
    corrupt-or-unsupported real media must fail loudly, never fall
    through to the stub (round-10: TIFF was PIL-gated)."""
    try:
        return _decode_tiff_inner(payload)
    except (IndexError, ValueError, struct.error) as e:
        raise CodecUnavailable(f"truncated or corrupt TIFF: {e}") from e


def _decode_tiff_inner(payload: bytes) -> np.ndarray:
    b = bytes(payload)
    if b[:4] == b"II*\x00":
        eo = "<"
    elif b[:4] == b"MM\x00*":
        eo = ">"
    else:
        raise CodecUnavailable("not a TIFF signature")
    ifd_off = struct.unpack(eo + "I", b[4:8])[0]
    n_entries = struct.unpack(eo + "H", b[ifd_off:ifd_off + 2])[0]
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(eo + "HHI", b[off:off + 8])
        if typ not in type_size:
            continue  # rational/ascii metadata tags — irrelevant here
        sz = type_size[typ] * cnt
        voff = off + 8 if sz <= 4 else struct.unpack(
            eo + "I", b[off + 8:off + 12])[0]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack(eo + str(cnt) + fmt,
                                       b[voff:voff + sz]))

    def one(tag: int, default: int | None = None) -> int:
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise CodecUnavailable(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    _guard_dims(w, h, "TIFF")
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    predictor = one(317, 1)
    if 322 in tags or 323 in tags:
        raise CodecUnavailable("tiled TIFF unsupported")
    if any(x != 8 for x in bits):
        raise CodecUnavailable(f"TIFF bits-per-sample {bits} unsupported")
    if photo not in (0, 1, 2, 3):
        raise CodecUnavailable(f"TIFF photometric {photo} unsupported")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise CodecUnavailable("TIFF strip tables missing or inconsistent")
    rps = one(278, h)
    row_bytes = w * spp
    raw = bytearray()
    for si, (so, sc) in enumerate(zip(offsets, counts)):
        nrows = min(rps, h - si * rps)
        if nrows <= 0:
            break
        want = nrows * row_bytes
        strip = b[so:so + sc]
        if comp == 1:
            if len(strip) < want:
                raise CodecUnavailable("TIFF strip short of expected size")
            raw += strip[:want]
        elif comp == 5:
            raw += _tiff_lzw_decode(strip, want)
        elif comp == 32773:
            raw += _packbits_decode(strip, want)
        else:
            raise CodecUnavailable(f"TIFF compression {comp} unsupported")
    if len(raw) != h * row_bytes:
        raise CodecUnavailable("TIFF pixel data length mismatch")
    px = np.frombuffer(bytes(raw), np.uint8).reshape(h, w, spp)
    if predictor == 2:  # horizontal differencing: undo by row cumsum
        px = np.cumsum(px.astype(np.uint32), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise CodecUnavailable(f"TIFF predictor {predictor} unsupported")
    fpx = px.astype(np.float32)
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero scale
        gray = 255.0 - fpx[..., 0]
    elif photo == 1:
        gray = fpx[..., 0]
    elif photo == 2:
        if spp < 3:
            raise CodecUnavailable("TIFF RGB with <3 samples per pixel")
        gray = (fpx[..., 0] * 0.299 + fpx[..., 1] * 0.587
                + fpx[..., 2] * 0.114)
    else:  # palette: ColorMap holds 16-bit R,G,B planes of 256 each
        cmap = tags.get(320)
        if not cmap or len(cmap) % 3:
            raise CodecUnavailable("palette TIFF missing ColorMap")
        n = len(cmap) // 3
        pal = (np.array(cmap, np.float32).reshape(3, n).T / 65535.0
               * 255.0)
        idx = px[..., 0]
        if int(idx.max(initial=0)) >= n:
            raise CodecUnavailable("TIFF pixel index beyond ColorMap")
        rgb = pal[idx]
        gray = (rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587
                + rgb[..., 2] * 0.114)
    return np.ascontiguousarray(gray, dtype=np.float32)


# ---------------------------------------------------------------------------
# WebP (RIFF/VP8L lossless) — pure-Python decode, RFC 9649 semantics.
# Round-10 VERDICT item 4: WebP was the one common crawl image format
# with no decode path at all; VP8L covers the lossless half (lossy VP8
# stays typed CodecUnavailable — a full DCT/loop-filter video intra
# decoder is out of scope, like arithmetic-coded JPEG).
# ---------------------------------------------------------------------------


class _Vp8lBits:
    """LSB-first bit reader (VP8L packs bits little-endian per byte)."""

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.d):
                raise ValueError("VP8L bitstream exhausted")
            v |= ((self.d[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _Vp8lTree:
    """Canonical prefix code: decode by walking stream bits MSB-first
    down the canonical assignment (DEFLATE numbering)."""

    def __init__(self, lengths: list[int]) -> None:
        self.map: dict[tuple[int, int], int] = {}
        self.single: int | None = None
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][1]  # 0-bit code: symbol is implicit
            return
        code = 0
        prev_len = 0
        for ln, sym in sorted(nz):
            code <<= (ln - prev_len)
            self.map[(ln, code)] = sym
            code += 1
            prev_len = ln
        if code != (1 << prev_len):
            raise ValueError("VP8L prefix code over/under-subscribed")

    def decode(self, br: _Vp8lBits) -> int:
        if self.single is not None:
            return self.single
        code, ln = 0, 0
        while ln <= 15:
            code = (code << 1) | br.read(1)
            ln += 1
            sym = self.map.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


#: code-length-code write/read order (RFC 9649 §5.2.1)
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
                  13, 14, 15)

#: LZ77 2-D distance map: the 120 scan-order-preceding neighbor offsets
#: (dy 0: dx 1..8; dy 1..7: dx -7..8) ordered by (dx²+dy², |dx|, sign) —
#: the closed form of the spec's table (verified against its leading
#: rows; 8 + 7*16 = 120 = the spec's CODE_TO_PLANE_CODES exactly).
_VP8L_DIST_MAP = sorted(
    [(dx, 0) for dx in range(1, 9)]
    + [(dx, dy) for dy in range(1, 8) for dx in range(-7, 9)],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0))


def _vp8l_read_code(br: _Vp8lBits, alphabet_size: int) -> _Vp8lTree:
    if br.read(1):  # simple code: 1-2 symbols, ≤ 8-bit values
        n_sym = br.read(1) + 1
        first = br.read(8) if br.read(1) else br.read(1)
        if first >= alphabet_size:
            raise ValueError("VP8L simple-code symbol out of range")
        if n_sym == 1:
            return _single(first)  # 0-bit code: symbol is implicit
        second = br.read(8)
        if second >= alphabet_size:
            raise ValueError("VP8L simple-code symbol out of range")
        lengths = [0] * alphabet_size
        lengths[first] = 1
        lengths[second] = 1
        return _Vp8lTree(lengths)
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_tree = _Vp8lTree(cl_lengths)
    if br.read(1):  # explicit number of coded lengths
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_tree.decode(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            slot = code_len - 16
            extra = (2, 3, 7)[slot]
            repeat = br.read(extra) + (3, 3, 11)[slot]
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L code-length repeat overflows")
            fill = prev_len if code_len == 16 else 0
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _Vp8lTree(lengths)


def _single(symbol: int) -> _Vp8lTree:
    t = _Vp8lTree.__new__(_Vp8lTree)
    t.map = {}
    t.single = symbol
    return t


def _vp8l_prefix_val(code: int, br: _Vp8lBits) -> int:
    """LZ77 length/distance prefix decoding (RFC 9649 §5.2.3)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_groups(br: _Vp8lBits, n_groups: int, cache_bits: int) -> list:
    groups = []
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    for _ in range(n_groups):
        groups.append((_vp8l_read_code(br, green_size),
                       _vp8l_read_code(br, 256),
                       _vp8l_read_code(br, 256),
                       _vp8l_read_code(br, 256),
                       _vp8l_read_code(br, 40)))
    return groups


def _vp8l_decode_pixels(br: _Vp8lBits, w: int, h: int, cache_bits: int,
                        groups: list, meta: tuple | None) -> list:
    """The spatially-coded pixel stream: literals, LZ77 copies, color
    cache references. Returns w*h ARGB pixels as [a, r, g, b] lists."""
    n = w * h
    pixels: list = [None] * n
    cache = [0] * (1 << cache_bits) if cache_bits else None

    def insert(argb: int) -> None:
        if cache is not None:
            cache[(0x1E35A7BD * argb & 0xFFFFFFFF)
                  >> (32 - cache_bits)] = argb

    pos = 0
    meta_pix, meta_bits, meta_w = meta if meta else (None, 0, 0)
    while pos < n:
        if meta_pix is not None:
            x, y = pos % w, pos // w
            mp = meta_pix[(y >> meta_bits) * meta_w + (x >> meta_bits)]
            gidx = (mp[1] << 8) | mp[2]  # (red << 8) | green
            if gidx >= len(groups):
                raise ValueError("VP8L meta prefix index out of range")
            g_t, r_t, b_t, a_t, d_t = groups[gidx]
        else:
            g_t, r_t, b_t, a_t, d_t = groups[0]
        s = g_t.decode(br)
        if s < 256:  # literal
            red = r_t.decode(br)
            blue = b_t.decode(br)
            alpha = a_t.decode(br)
            pixels[pos] = [alpha, red, s, blue]
            insert((alpha << 24) | (red << 16) | (s << 8) | blue)
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _vp8l_prefix_val(s - 256, br)
            dist_code = _vp8l_prefix_val(d_t.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_code - 1]
                dist = max(1, dy * w + dx)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = pixels[pos - dist]
                pixels[pos] = list(px)
                insert((px[0] << 24) | (px[1] << 16) | (px[2] << 8)
                       | px[3])
                pos += 1
        else:  # color cache reference
            if cache is None:
                raise ValueError("VP8L cache symbol without a cache")
            argb = cache[s - 280]
            pixels[pos] = [argb >> 24 & 255, argb >> 16 & 255,
                           argb >> 8 & 255, argb & 255]
            pos += 1
    return pixels


def _vp8l_decode_image_stream(br: _Vp8lBits, w: int, h: int,
                              is_level0: bool) -> list:
    """decode_image_stream (RFC 9649 §7): optional transforms (level 0
    only), color cache info, optional meta prefix image (level 0 only),
    prefix-code groups, pixel data, then inverse transforms in reverse
    read order. Returns row-major [a, r, g, b] pixel lists."""
    transforms = []  # (type, data...) in READ order
    seen = set()
    cur_w = w
    if is_level0:
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L transform repeated")
            seen.add(ttype)
            if ttype == 2:  # subtract green: no data
                transforms.append((2,))
            elif ttype in (0, 1):  # predictor / color transform
                bits = br.read(3) + 2
                tw = (cur_w + (1 << bits) - 1) >> bits
                th = (h + (1 << bits) - 1) >> bits
                sub = _vp8l_decode_image_stream(br, tw, th, False)
                transforms.append((ttype, bits, tw, sub, cur_w))
            elif ttype == 3:  # color indexing
                n_colors = br.read(8) + 1
                pal = _vp8l_decode_image_stream(br, n_colors, 1, False)
                # palette entries accumulate componentwise deltas
                for i in range(1, n_colors):
                    for c in range(4):
                        pal[i][c] = (pal[i][c] + pal[i - 1][c]) & 255
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, width_bits, pal, cur_w))
                cur_w = (cur_w + (1 << width_bits) - 1) >> width_bits
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L cache bits {cache_bits} invalid")
    meta = None
    n_groups = 1
    if is_level0 and br.read(1):  # meta prefix image
        meta_bits = br.read(3) + 2
        mw = (cur_w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_pix = _vp8l_decode_image_stream(br, mw, mh, False)
        n_groups = max(((p[1] << 8) | p[2]) for p in meta_pix) + 1
        meta = (meta_pix, meta_bits, mw)
    groups = _vp8l_groups(br, n_groups, cache_bits)
    pixels = _vp8l_decode_pixels(br, cur_w, h, cache_bits, groups, meta)
    for t in reversed(transforms):
        pixels = _vp8l_inverse_transform(t, pixels, h)
    return pixels


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _vp8l_predict(mode: int, L, T, TL, TR) -> list:
    if mode == 0:
        return [255, 0, 0, 0]
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return [_avg2(_avg2(L[c], TR[c]), T[c]) for c in range(4)]
    if mode == 6:
        return [_avg2(L[c], TL[c]) for c in range(4)]
    if mode == 7:
        return [_avg2(L[c], T[c]) for c in range(4)]
    if mode == 8:
        return [_avg2(TL[c], T[c]) for c in range(4)]
    if mode == 9:
        return [_avg2(T[c], TR[c]) for c in range(4)]
    if mode == 10:
        return [_avg2(_avg2(L[c], TL[c]), _avg2(T[c], TR[c]))
                for c in range(4)]
    if mode == 11:  # Select: whichever of T/L the gradient favors
        pa_minus_pb = sum(abs(L[c] - TL[c]) - abs(T[c] - TL[c])
                          for c in range(4))
        return T if pa_minus_pb <= 0 else L
    if mode == 12:  # ClampAddSubtractFull
        return [min(255, max(0, L[c] + T[c] - TL[c])) for c in range(4)]
    if mode == 13:  # ClampAddSubtractHalf (C-style trunc division)
        out = []
        for c in range(4):
            a = _avg2(L[c], T[c])
            d = a - TL[c]
            half = d // 2 if d >= 0 else -((-d) // 2)
            out.append(min(255, max(0, a + half)))
        return out
    raise ValueError(f"VP8L predictor mode {mode} invalid")


def _vp8l_inverse_transform(t: tuple, pixels: list, h: int) -> list:
    kind = t[0]
    if kind == 2:  # subtract green: add green back to red/blue
        for p in pixels:
            p[1] = (p[1] + p[2]) & 255
            p[3] = (p[3] + p[2]) & 255
        return pixels
    if kind == 3:  # color indexing: unbundle packed indices, map
        _, width_bits, pal, full_w = t
        packed_w = (full_w + (1 << width_bits) - 1) >> width_bits
        bpp = 8 >> width_bits
        mask = (1 << width_bits) - 1
        out = []
        for y in range(h):
            for x in range(full_w):
                g = pixels[y * packed_w + (x >> width_bits)][2]
                idx = ((g >> ((x & mask) * bpp)) & ((1 << bpp) - 1)
                       if width_bits else g)
                out.append(list(pal[idx]) if idx < len(pal)
                           else [0, 0, 0, 0])
        return out
    if kind in (0, 1):
        _, bits, tw, sub, full_w = t
        w = full_w
        if kind == 0:  # predictor
            for pos in range(len(pixels)):
                x, y = pos % w, pos // w
                if x == 0 and y == 0:
                    pred = [255, 0, 0, 0]
                elif y == 0:
                    pred = pixels[pos - 1]  # L
                elif x == 0:
                    pred = pixels[pos - w]  # T
                else:
                    mode = sub[(y >> bits) * tw + (x >> bits)][2]
                    # TR at x = w-1 wraps to the current row's first
                    # pixel (libwebp's upper_row[w] aliasing)
                    pred = _vp8l_predict(
                        mode, pixels[pos - 1], pixels[pos - w],
                        pixels[pos - w - 1], pixels[pos - w + 1])
                px = pixels[pos]
                for c in range(4):
                    px[c] = (px[c] + pred[c]) & 255
            return pixels
        # color transform: per-tile signed 3.5 fixed-point cross terms
        def delta(tv: int, cv: int) -> int:
            ts = tv - 256 if tv >= 128 else tv
            cs = cv - 256 if cv >= 128 else cv
            return (ts * cs) >> 5
        for pos in range(len(pixels)):
            x, y = pos % w, pos // w
            te = sub[(y >> bits) * tw + (x >> bits)]
            g2r, g2b, r2b = te[3], te[2], te[1]  # (blue, green, red)
            px = pixels[pos]
            red = (px[1] + delta(g2r, px[2])) & 255
            blue = (px[3] + delta(g2b, px[2]) + delta(r2b, red)) & 255
            px[1], px[3] = red, blue
        return pixels
    raise ValueError(f"VP8L transform {kind} invalid")


def _decode_vp8l(data: bytes) -> np.ndarray:
    br = _Vp8lBits(data)
    if br.read(8) != 0x2F:
        raise ValueError("VP8L signature byte missing")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("VP8L version must be 0")
    pixels = _vp8l_decode_image_stream(br, w, h, True)
    arr = np.array(pixels, dtype=np.float32).reshape(h, w, 4)
    gray = (arr[..., 1] * 0.299 + arr[..., 2] * 0.587
            + arr[..., 3] * 0.114)
    return np.ascontiguousarray(gray, dtype=np.float32)


def _decode_webp(payload: bytes) -> np.ndarray:
    """Pure-Python WebP decode: walks the RIFF chunks (top level and
    inside ANMF animation frames) to the first VP8L lossless bitstream
    and decodes it with full RFC 9649 semantics — all four transforms,
    color cache, LZ77 (incl. the 2-D distance map), meta prefix codes.
    Lossy (VP8) payloads decode through PIL when it is installed and
    raise typed CodecUnavailable otherwise."""
    b = bytes(payload)
    try:
        vp8l = _webp_find_vp8l(b)
    except (IndexError, ValueError, struct.error) as e:
        raise CodecUnavailable(f"truncated or corrupt WebP: {e}") from e
    if vp8l is not None:
        try:
            return _decode_vp8l(vp8l)
        except (IndexError, ValueError, struct.error) as e:
            raise CodecUnavailable(f"truncated or corrupt VP8L: {e}") from e
    if _pil_image is not None:
        import io

        with _pil_image.open(io.BytesIO(b)) as im:
            return np.asarray(im.convert("L"), dtype=np.float32)
    raise CodecUnavailable(
        "WebP payload has no VP8L (lossless) bitstream; lossy VP8 "
        "needs PIL")


def _webp_find_vp8l(b: bytes) -> bytes | None:
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")

    def walk(lo: int, hi: int) -> bytes | None:
        pos = lo
        while pos + 8 <= hi:
            fourcc = b[pos:pos + 4]
            size = int.from_bytes(b[pos + 4:pos + 8], "little")
            body = pos + 8
            if body + size > hi:
                raise ValueError(f"chunk {fourcc!r} overruns container")
            if fourcc == b"VP8L":
                return b[body:body + size]
            if fourcc == b"ANMF":  # frame params (16 bytes) + subchunks
                found = walk(body + 16, body + size)
                if found is not None:
                    return found
            pos = body + size + (size & 1)  # chunks are 2-byte aligned
        return None

    return walk(12, min(len(b), 8 + int.from_bytes(b[4:8], "little")))


def _is_pnm(payload: bytes) -> bool:
    """True for a plausible Netpbm payload: 'P1'..'P6' magic followed
    by whitespace or a comment — the extra byte keeps 2-byte
    coincidences on the stub path (same policy as _is_bmp)."""
    head = bytes(payload[:3])
    return (len(head) >= 3 and head[0:1] == b"P"
            and head[1:2] in b"123456"
            and head[2:3] in b" \t\r\n\x0b\x0c#")


def _decode_pnm(payload: bytes) -> np.ndarray:
    """Pure-Python Netpbm decode (no PIL needed): all six classic
    formats — P1/P4 bitmap (ASCII/raw packed bits, 1 = black per
    spec), P2/P5 graymap and P3/P6 pixmap (ASCII / raw, maxval up to
    65535 with 2-byte big-endian raw samples). Grayscale via the same
    ITU-R 601 luma as the other decoders; samples scale to 0..255 by
    255/maxval. Header comments (#) are skipped; truncated or
    malformed payloads raise typed CodecUnavailable."""
    b = bytes(payload)
    kind = b[1:2]

    # header tokenizer: whitespace-separated ints, '#' comments to EOL;
    # returns the tokens and the offset ONE whitespace byte after the
    # last header token (where raw sample data begins, per spec)
    def tokens(n_wanted: int) -> tuple[list[int], int]:
        toks: list[int] = []
        i = 2
        while len(toks) < n_wanted:
            while i < len(b) and b[i:i + 1] in b" \t\r\n\x0b\x0c#":
                if b[i:i + 1] == b"#":
                    j = b.find(b"\n", i)
                    i = len(b) if j < 0 else j
                i += 1
            j = i
            while j < len(b) and b[j:j + 1].isdigit():
                j += 1
            if j == i or j - i > 10:
                # >10 digits: no legal dim/maxval, and CPython's int()
                # digit limit would raise a foreign ValueError
                raise CodecUnavailable("PNM header malformed")
            toks.append(int(b[i:j]))
            i = j
        if i >= len(b) or b[i:i + 1] not in b" \t\r\n\x0b\x0c":
            raise CodecUnavailable("PNM header not terminated")
        return toks, i + 1

    bitmap, ascii_form = kind in b"14", kind in b"123"
    nch = 3 if kind in b"36" else 1
    hdr, data = tokens(2 if bitmap else 3)
    w, h = hdr[0], hdr[1]
    _guard_dims(w, h, "PNM")
    maxval = 1 if bitmap else hdr[2]
    if not 1 <= maxval <= 65535:
        raise CodecUnavailable(f"PNM maxval {maxval} out of range")
    if kind == b"1":  # ASCII bitmap: bits need NO separators per spec
        bits = [c - 48 for c in b[data:] if c in (48, 49)]
        if len(bits) < w * h:
            raise CodecUnavailable("PNM ASCII samples truncated")
        px = np.array(bits[:w * h], dtype=np.float32)
    elif ascii_form:
        vals = b[data:].split()
        if len(vals) < w * h * nch:
            raise CodecUnavailable("PNM ASCII samples truncated")
        try:
            px = np.array([int(v) for v in vals[:w * h * nch]],
                          dtype=np.float32)
        except ValueError as e:
            raise CodecUnavailable("PNM ASCII sample not a number") from e
        if px.size and (px.min() < 0 or px.max() > maxval):
            # spec: 0 <= sample <= maxval; out-of-range ASCII samples
            # would silently poison downstream features (raw paths are
            # byte-bounded and cannot overrange)
            raise CodecUnavailable("PNM ASCII sample out of range")
    elif kind == b"4":  # raw packed bits, rows padded to whole bytes
        row_bytes = (w + 7) // 8
        raw = np.frombuffer(b, np.uint8, offset=data,
                            count=min(row_bytes * h, len(b) - data))
        if raw.size < row_bytes * h:
            raise CodecUnavailable("PNM raw bitmap truncated")
        bits = np.unpackbits(raw.reshape(h, row_bytes), axis=1)[:, :w]
        px = bits.astype(np.float32)
    else:  # P5/P6 raw: 1-byte, or 2-byte big-endian when maxval > 255
        wide = maxval > 255
        need = w * h * nch * (2 if wide else 1)
        if len(b) - data < need:
            raise CodecUnavailable("PNM raw samples truncated")
        raw = np.frombuffer(b, np.uint8, offset=data, count=need)
        if wide:
            px = (raw[0::2].astype(np.float32) * 256.0
                  + raw[1::2].astype(np.float32))
        else:
            px = raw.astype(np.float32)
    if bitmap:
        gray = (1.0 - px.reshape(h, w)) * 255.0  # 1 = black per spec
    elif nch == 3:
        rgb = px.reshape(h, w, 3) * (255.0 / maxval)
        gray = (rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587
                + rgb[..., 2] * 0.114)
    else:
        gray = px.reshape(h, w) * (255.0 / maxval)
    return np.ascontiguousarray(gray, dtype=np.float32)


def _is_ico(payload: bytes) -> bool:
    """True for a plausible ICO/CUR container: reserved 0, type 1
    (icon) or 2 (cursor), and a sane image count — the count bound
    keeps 4-byte zero-prefix coincidences on the stub path."""
    head = bytes(payload[:6])
    if len(head) < 6 or head[:2] != b"\x00\x00":
        return False
    typ = int.from_bytes(head[2:4], "little")
    cnt = int.from_bytes(head[4:6], "little")
    return typ in (1, 2) and 1 <= cnt <= 64


def _decode_ico(payload: bytes) -> np.ndarray:
    """Pure-Python ICO/CUR (favicon) decode: picks the LARGEST
    directory entry (consumer convention), then decodes its payload —
    an embedded PNG (reused _decode_png) or a headerless BMP DIB with
    the spec's doubled height (XOR raster + AND mask; the mask is
    transparency/compositing policy and is ignored for the grayscale
    raster, like the animated-frame decoders). 1/4/8-bit palette and
    24/32-bit BI_RGB rasters; anything compressed or truncated raises
    typed CodecUnavailable."""
    b = bytes(payload)
    cnt = int.from_bytes(b[4:6], "little")
    if len(b) < 6 + 16 * cnt:
        raise CodecUnavailable("ICO directory truncated")
    best = None  # (area, -index) -> (off, size, w, h)
    for i in range(cnt):
        e = b[6 + 16 * i: 6 + 16 * i + 16]
        w = e[0] or 256
        h = e[1] or 256
        size = int.from_bytes(e[8:12], "little")
        off = int.from_bytes(e[12:16], "little")
        if off + size > len(b) or size < 8:
            continue  # skip corrupt entries; others may still decode
        key = (w * h, -i)
        if best is None or key > best[0]:
            best = (key, off, size, w, h)
    if best is None:
        raise CodecUnavailable("ICO has no decodable entry")
    _, off, size, ew, eh = best
    sub = b[off:off + size]
    if sub[:4] == b"\x89PNG":
        return _decode_png(sub)
    # headerless DIB: BITMAPINFOHEADER with height doubled for the mask
    if len(sub) < 40 or int.from_bytes(sub[0:4], "little") != 40:
        raise CodecUnavailable("ICO entry is neither PNG nor V3 DIB")
    w = int.from_bytes(sub[4:8], "little", signed=True)
    h2 = int.from_bytes(sub[8:12], "little", signed=True)
    bpp = int.from_bytes(sub[14:16], "little")
    comp = int.from_bytes(sub[16:20], "little")
    if comp != 0 or bpp not in (1, 4, 8, 24, 32) or w <= 0 or h2 <= 0:
        raise CodecUnavailable(
            f"ICO DIB variant unsupported (bpp={bpp}, compression={comp})")
    if h2 == 2 * eh:
        h = eh            # spec: DIB height includes the AND mask
    elif h2 == eh:
        h = eh            # tolerated: writer omitted the mask doubling
    else:
        raise CodecUnavailable("ICO DIB height disagrees with directory")
    _guard_dims(w, h, "ICO")
    ncol = int.from_bytes(sub[32:36], "little") or (
        1 << bpp if bpp <= 8 else 0)
    if ncol > 256:
        raise CodecUnavailable("ICO palette count over cap")
    pal_off = 40
    row_bytes = ((w * bpp + 31) // 32) * 4
    pix_off = pal_off + 4 * ncol
    if pix_off + row_bytes * h > len(sub):
        raise CodecUnavailable("ICO DIB pixel array truncated")
    rows = np.frombuffer(sub, np.uint8, count=row_bytes * h,
                         offset=pix_off).reshape(h, row_bytes)
    if bpp == 24:
        bgr = rows[:, :w * 3].reshape(h, w, 3).astype(np.float32)
    elif bpp == 32:
        bgr = rows[:, :w * 4].reshape(h, w, 4)[..., :3].astype(np.float32)
    else:  # 1/4/8-bit palette
        pal = np.zeros((max(ncol, 1), 4), np.uint8)
        got = np.frombuffer(sub, np.uint8, count=4 * ncol,
                            offset=pal_off).reshape(ncol, 4)
        pal[:ncol] = got
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            if bpp == 1:
                idx = bits[:, :w]
            else:  # 4-bit: each nibble is an index, MSB nibble first
                nib = (bits.reshape(h, -1, 4)
                       * np.array([8, 4, 2, 1], np.uint8)).sum(axis=2)
                idx = nib[:, :w]
        if int(idx.max(initial=0)) >= ncol:
            raise CodecUnavailable("ICO palette index out of range")
        bgr = pal[idx][..., :3].astype(np.float32)
    gray = (bgr[..., 2] * 0.299 + bgr[..., 1] * 0.587
            + bgr[..., 0] * 0.114)
    return np.ascontiguousarray(gray[::-1], dtype=np.float32)  # bottom-up


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an encoded image payload to a float32 grayscale array.

    Dispatch by MAGIC BYTES: BMP, PNG (sequential + Adam7, 8/16-bit),
    JPEG (baseline + progressive), GIF, baseline TIFF, WebP/VP8L
    (lossless, all transforms), Netpbm P1-P6, and ICO/CUR favicons
    (largest entry; embedded PNG or DIB) decode with the built-in pure-Python decoders (always available);
    anything else is a synthetic fixture and takes the deterministic
    stub."""
    if payload is None:
        raise CodecUnavailable("no payload")
    if _is_bmp(payload):
        return _decode_bmp(payload)
    if bytes(payload[:4]) == b"\x89PNG":
        return _decode_png(payload)
    if bytes(payload[:3]) == b"\xff\xd8\xff":
        return _decode_jpeg(payload)
    if bytes(payload[:4]) == b"GIF8":
        return _decode_gif(payload)
    if bytes(payload[:4]) in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(payload)
    if _has_magic(payload, (), riff_kind=b"WEBP"):
        return _decode_webp(payload)
    if _is_pnm(payload):
        return _decode_pnm(payload)
    if _is_ico(payload):
        return _decode_ico(payload)
    return _decode_image_stub(payload)


def extract_image_features(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """media (schemas.MEDIA) -> IMAGE_FEATURES, one row per image.

    The non-image rows are filtered BEFORE the Python stage so the Arrow
    transfer only carries image payloads (predicate stays JVM-side).
    """
    images = media.filter(F.col("modality") == "image") \
                  .select("media_id", "width", "height", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, means, nbytes = [], [], []
            for payload in pdf["payload"]:
                arr = decode_image(payload)
                # 8-bin intensity histogram as the stand-in embedding; a
                # real model would run here (ONNX/torch on the executor).
                hist, _ = np.histogram(arr, bins=8, range=(0, 255))
                feats.append((hist / max(arr.size, 1)).astype(np.float32))
                means.append(float(arr.mean()))
                nbytes.append(len(payload) if payload is not None else 0)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": pdf["width"],
                "height": pdf["height"],
                "n_bytes": pd.Series(nbytes, dtype="int64"),
                "mean_intensity": means,
                "feature": feats,
            })

    return images.mapInPandas(kernel, schema=IMAGE_FEATURES)


def _probe_mp4(b: bytes) -> dict:
    """Walk ISO BMFF (MP4/MOV) boxes and pull stream metadata without
    decoding: brand, movie duration (mvhd), per-track handler +
    sample-entry fourcc (hdlr/stsd), and video width/height (tkhd
    16.16 fixed). Tolerant walk — a truncated box ends the scan with
    whatever was found."""
    out = {"container": "mp4", "brand": None, "duration_s": None,
           "n_tracks": 0, "video_codec": None, "audio_codec": None,
           "width": None, "height": None}

    def walk(lo: int, hi: int, path: tuple = ()) -> None:
        pos = lo
        while pos + 8 <= hi:
            size = int.from_bytes(b[pos:pos + 4], "big")
            typ = b[pos + 4:pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > hi:
                    return
                size = int.from_bytes(b[pos + 8:pos + 16], "big")
                body = pos + 16
            elif size == 0:
                size = hi - pos
            if size < 8 or pos + size > hi:
                return
            end = pos + size
            if typ == b"ftyp":
                out["brand"] = b[body:body + 4].decode("ascii", "replace")
            elif typ in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                if typ == b"trak":
                    out["n_tracks"] += 1
                    walk(body, end, path + ("trak",))
                else:
                    walk(body, end, path)
            elif typ == b"mvhd" and end - body >= 20:
                ver = b[body]
                if ver == 1 and end - body >= 28:
                    ts = int.from_bytes(b[body + 20:body + 24], "big")
                    dur = int.from_bytes(b[body + 24:body + 32], "big")
                else:
                    ts = int.from_bytes(b[body + 12:body + 16], "big")
                    dur = int.from_bytes(b[body + 16:body + 20], "big")
                if ts:
                    out["duration_s"] = round(dur / ts, 6)
            elif typ == b"tkhd" and "trak" in path:
                ver = b[body]
                off = body + (96 if ver == 1 else 84) - 8
                if off + 8 <= end:
                    w = int.from_bytes(b[off:off + 4], "big") >> 16
                    h = int.from_bytes(b[off + 4:off + 8], "big") >> 16
                    if w and h and out["width"] is None:
                        out["width"], out["height"] = w, h
            elif typ == b"hdlr" and end - body >= 12:
                handler = b[body + 8:body + 12]
                walk._last_handler = handler  # type: ignore[attr-defined]
            elif typ == b"stsd" and end - body >= 16:
                fourcc = b[body + 12:body + 16] \
                    .decode("ascii", "replace").strip()
                handler = getattr(walk, "_last_handler", b"")
                if handler == b"vide" and out["video_codec"] is None:
                    out["video_codec"] = fourcc
                elif handler == b"soun" and out["audio_codec"] is None:
                    out["audio_codec"] = fourcc
            pos = end

    walk(0, len(b))
    return out


def _ebml_varint(b: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML variable-length integer at ``pos``; returns
    (value, new_pos). IDs keep the length-marker bit, sizes strip it."""
    if pos >= len(b) or b[pos] == 0:
        raise CodecUnavailable("EBML varint invalid")
    first = b[pos]
    n = 1
    while not first & (0x80 >> (n - 1)):
        n += 1
        if n > 8:
            raise CodecUnavailable("EBML varint too long")
    if pos + n > len(b):
        raise CodecUnavailable("EBML varint truncated")
    v = first if keep_marker else first & (0xFF >> n)
    for i in range(1, n):
        v = (v << 8) | b[pos + i]
    return v, pos + n


def _probe_matroska(b: bytes) -> dict:
    """Walk Matroska/WebM EBML elements for Segment>Info duration and
    Tracks metadata — container structure only, no block decoding."""
    out = {"container": "matroska", "brand": None, "duration_s": None,
           "n_tracks": 0, "video_codec": None, "audio_codec": None,
           "width": None, "height": None}
    ts_scale = 1_000_000  # ns per tick, spec default
    dur_ticks = None

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        nonlocal ts_scale, dur_ticks
        pos = lo
        while pos < hi and depth < 8:
            try:
                eid, pos = _ebml_varint(b, pos, keep_marker=True)
                size, pos = _ebml_varint(b, pos, keep_marker=False)
            except CodecUnavailable:
                return
            end = min(pos + size, hi)
            data = b[pos:end]
            if eid == 0x1A45DFA3:  # EBML header: grab DocType (0x4282)
                i = 0
                while i + 2 < len(data):
                    if data[i] == 0x42 and data[i + 1] == 0x82:
                        ln = data[i + 2] & 0x7F
                        out["brand"] = data[i + 3:i + 3 + ln] \
                            .decode("ascii", "replace")
                        break
                    i += 1
            elif eid in (0x18538067, 0x1549A966, 0x1654AE6B, 0xAE,
                         0xE0, 0xE1):  # Segment/Info/Tracks/Entry/V/A
                if eid == 0xAE:
                    out["n_tracks"] += 1
                walk(pos, end, depth + 1)
            elif eid == 0x2AD7B1:  # TimestampScale (uint ns)
                ts_scale = int.from_bytes(data, "big") or ts_scale
            elif eid == 0x4489:  # Duration (float ticks)
                if len(data) == 4:
                    dur_ticks = struct.unpack(">f", data)[0]
                elif len(data) == 8:
                    dur_ticks = struct.unpack(">d", data)[0]
            elif eid == 0x83:  # TrackType
                walk._ttype = data[-1] if data else 0  # type: ignore
            elif eid == 0x86:  # CodecID
                cid = data.decode("ascii", "replace")
                ttype = getattr(walk, "_ttype", 0)
                if ttype == 1 and out["video_codec"] is None:
                    out["video_codec"] = cid
                elif ttype == 2 and out["audio_codec"] is None:
                    out["audio_codec"] = cid
            elif eid == 0xB0:  # PixelWidth
                out["width"] = int.from_bytes(data, "big")
            elif eid == 0xBA:  # PixelHeight
                out["height"] = int.from_bytes(data, "big")
            pos = end

    walk(0, len(b))
    if dur_ticks is not None:
        out["duration_s"] = round(dur_ticks * ts_scale / 1e9, 6)
    return out


PROBE_SCHEMA = ("media_id long, container string, brand string, "
                "duration_s double, n_tracks int, video_codec string, "
                "audio_codec string, width int, height int")


def probe_media(media: DataFrame) -> DataFrame:
    """Container-structure probe: parse MP4/MOV box trees and
    Matroska/WebM EBML trees EXECUTOR-SIDE to extract duration, track
    count, codec identifiers, and frame dimensions WITHOUT decoding a
    single sample — the first pass a media-curation pipeline runs at
    100 TB, because the probe reads only container headers and decides
    which payloads are worth the expensive decode fan-out. Unknown
    magics probe as container='unknown' with the declared metadata
    passed through (synthetic fixtures stay useful); a RECOGNIZED
    container that fails to parse yields NULL fields, never a crash —
    probing is a triage step, not a validator.

    Scale: map-only Arrow batches (mapInPandas), zero shuffle; the
    payload column never leaves the executor."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows_out: dict[str, list] = {
            k: [] for k in ("media_id", "container", "brand",
                            "duration_s", "n_tracks", "video_codec",
                            "audio_codec", "width", "height")}
        for pdf in batches:
            for mid, payload, dur in zip(pdf["media_id"], pdf["payload"],
                                         pdf["duration_s"]):
                b = bytes(payload) if payload is not None else b""
                if len(b) >= 12 and b[4:8] == b"ftyp":
                    info = _probe_mp4(b)
                elif b[:4] == b"\x1a\x45\xdf\xa3":
                    info = _probe_matroska(b)
                else:
                    info = {"container": "unknown", "brand": None,
                            "duration_s": (float(dur)
                                           if dur is not None else None),
                            "n_tracks": 0, "video_codec": None,
                            "audio_codec": None, "width": None,
                            "height": None}
                rows_out["media_id"].append(mid)
                for k in ("container", "brand", "duration_s", "n_tracks",
                          "video_codec", "audio_codec", "width", "height"):
                    rows_out[k].append(info[k])
            yield pd.DataFrame(rows_out)
            rows_out = {k: [] for k in rows_out}

    return media.select("media_id", "payload", "duration_s") \
        .mapInPandas(kernel, schema=PROBE_SCHEMA)


def encode_png_gray(arr: np.ndarray) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (stdlib zlib, filter 0).

    The real-video frame extractors below emit frames in a format this
    package's own ``_decode_png`` reads back, so downstream image
    operators (feature extraction, perceptual-hash dedup) consume
    sampled frames with zero new dependencies on any executor."""
    import zlib

    a = np.clip(np.asarray(arr), 0, 255).astype(np.uint8)
    if a.ndim != 2:
        raise CodecUnavailable("png encoder takes a 2-D grayscale array")
    h, w = a.shape
    _guard_dims(w, h, "PNG encode")
    raw = b"".join(b"\x00" + a[r].tobytes() for r in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


#: Per-video cap on sampled frames: bounds the UDTF row explosion and
#: the image2pipe buffer BEFORE any allocation (same contract as
#: _guard_dims — a header-claimed 10-hour duration must not OOM).
_MAX_SAMPLED_FRAMES = 512


def _is_video_container(b: bytes) -> bool:
    """True for payloads probe_media recognizes as real containers
    (MP4/MOV ``ftyp`` box or Matroska/WebM EBML magic)."""
    return ((len(b) >= 12 and b[4:8] == b"ftyp")
            or b[:4] == b"\x1a\x45\xdf\xa3")


def _split_png_stream(b: bytes) -> list[bytes]:
    """Split an ffmpeg ``image2pipe`` PNG stream into whole files by
    walking chunk headers to each IEND — NOT by searching for the PNG
    signature, which legally occurs inside compressed IDAT bytes."""
    sig = b"\x89PNG\r\n\x1a\n"
    out: list[bytes] = []
    pos = 0
    while pos < len(b):
        if b[pos:pos + 8] != sig:
            raise CodecUnavailable("non-PNG bytes in image2pipe stream")
        end = pos + 8
        while True:
            if end + 8 > len(b):
                raise CodecUnavailable("truncated PNG in image2pipe stream")
            ln = struct.unpack(">I", b[end:end + 4])[0]
            tag = b[end + 4:end + 8]
            end += 12 + ln  # length + tag + data + crc
            if tag == b"IEND":
                break
        if end > len(b):  # IEND header seen but data/crc cut off
            raise CodecUnavailable("truncated PNG in image2pipe stream")
        out.append(b[pos:end])
        pos = end
    return out


def _video_frames_pyav(payload: bytes, every_s: float,
                       max_frames: int = _MAX_SAMPLED_FRAMES,
                       ) -> list[tuple[float, bytes]]:
    """Real frame sampling via PyAV when installed: decode the first
    video stream, keep the first frame at or past each ``every_s``
    boundary, and emit it as an 8-bit grayscale PNG. Every failure mode
    (no stream, corrupt bitstream, codec missing from the local ffmpeg
    build) raises typed CodecUnavailable — the caller's fallback
    contract, mirroring decode_image's gating."""
    if _pyav is None:
        raise CodecUnavailable("PyAV not installed")
    import io

    try:
        out: list[tuple[float, bytes]] = []
        next_t = 0.0
        with _pyav.open(io.BytesIO(bytes(payload))) as container:
            stream = next((s for s in container.streams
                           if getattr(s, "type", None) == "video"), None)
            if stream is None:
                raise CodecUnavailable("no video stream in container")
            for frame in container.decode(stream):
                t = float(frame.time) if frame.time is not None else next_t
                if t + 1e-9 < next_t:
                    continue
                gray = frame.to_ndarray(format="gray")
                out.append((t, encode_png_gray(gray)))
                next_t += every_s
                if len(out) >= max_frames:
                    break
        if not out:
            raise CodecUnavailable("no decodable frames")
        return out
    except CodecUnavailable:
        raise
    except Exception as e:  # PyAV raises its own error zoo on bad bytes
        raise CodecUnavailable(f"PyAV decode failed: {e}") from e


def _video_frames_ffmpeg(payload: bytes, every_s: float,
                         max_frames: int = _MAX_SAMPLED_FRAMES,
                         ) -> list[tuple[float, bytes]]:
    """Real frame sampling via the ffmpeg binary when on PATH:
    ``-vf fps=1/every_s`` keyframe-decimated extraction to an
    ``image2pipe`` PNG stream, split by chunk walking. The payload goes
    through a temp file (stdin pipes break MP4s whose moov box trails
    the mdat). Nonzero exit, empty output, or a malformed pipe stream
    raises typed CodecUnavailable."""
    if not _FFMPEG_BIN:
        raise CodecUnavailable("ffmpeg not on PATH")
    import os
    import subprocess
    import tempfile

    try:
        with tempfile.NamedTemporaryFile(suffix=".bin",
                                         delete=False) as fh:
            fh.write(bytes(payload))
            path = fh.name
        try:
            proc = subprocess.run(
                [_FFMPEG_BIN, "-v", "error", "-i", path,
                 "-vf", f"fps=1/{every_s:g},format=gray",
                 "-frames:v", str(max_frames),
                 "-f", "image2pipe", "-c:v", "png", "-"],
                capture_output=True, timeout=120, check=False)
        finally:
            os.unlink(path)
        if proc.returncode != 0 or not proc.stdout:
            raise CodecUnavailable(
                f"ffmpeg exit {proc.returncode}: {proc.stderr[:200]!r}")
        return [(i * every_s, png)
                for i, png in enumerate(_split_png_stream(proc.stdout))]
    except CodecUnavailable:
        raise
    except Exception as e:  # OSError, TimeoutExpired
        raise CodecUnavailable(f"ffmpeg invocation failed: {e}") from e


def _video_backend():
    """Real-video decode backend, resolved per Python worker (the same
    import-time probe contract as the PIL/soundfile gates): PyAV when
    importable, else the ffmpeg binary, else None — stub sampling."""
    if _pyav is not None:
        return _video_frames_pyav
    if _FFMPEG_BIN:
        return _video_frames_ffmpeg
    return None


def sample_frames(media: DataFrame, every_s: float = 1.0,
                  backend=None) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (UDTF shape —
    row explosion happens inside the Arrow batch, so output rows inherit
    the input partitioning; no shuffle).

    Dispatch mirrors decode_image's gating contract: payloads carrying a
    real container magic (MP4 ``ftyp`` / Matroska EBML — the same check
    probe_media routes on) take a REAL decoder when one is installed,
    PyAV first then the ffmpeg binary, probed once per Python worker;
    sampled frames come back as 8-bit grayscale PNGs this package's own
    ``_decode_png`` reads, so feature extraction and perceptual-hash
    dedup run on them unchanged. A missing backend, a synthetic payload,
    or bytes the backend cannot decode fall back to the deterministic
    stub (one sliced pseudo-frame per ``every_s`` of ``duration_s``) —
    sampling is triage, never a crash, the probe_media contract.
    ``backend`` injects the extractor callable for tests; it is
    cloudpickled into the kernel, so injection works across worker
    process boundaries where monkeypatching module globals cannot.
    """
    videos = media.filter(F.col("modality") == "video") \
                  .select("media_id", "duration_s", "payload")
    injected = backend

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        real = injected if injected is not None else _video_backend()
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [],
                                    "t_offset_s": [], "frame_bytes": []}
            for media_id, dur, payload in zip(pdf["media_id"], pdf["duration_s"],
                                              pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                frames: list[tuple[float, bytes]] | None = None
                if real is not None and _is_video_container(b):
                    try:
                        frames = real(b, every_s)
                    except CodecUnavailable:
                        frames = None  # triage: corrupt payload -> stub
                if frames is None:
                    n = max(int((dur or 0.0) / every_s), 1)
                    frames = [(i * every_s,
                               bytes(b[i % max(len(b), 1):][:16])
                               if b else b"")
                              for i in range(n)]
                for i, (t, fb) in enumerate(frames):
                    out["media_id"].append(media_id)
                    out["frame_idx"].append(i)
                    out["t_offset_s"].append(float(t))
                    out["frame_bytes"].append(fb)
            yield pd.DataFrame(out)

    return videos.mapInPandas(kernel, schema=FRAME_SAMPLES)


#: Output schema of the audio feature extractor (one row per window).
AUDIO_FEATURES = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("window_idx", T.IntegerType(), False),
    T.StructField("t_start_s", T.DoubleType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("zcr", T.DoubleType(), True),
])

_AUDIO_SR = 1000  # stub sample rate (Hz); real deployment reads the header


def _decode_audio_stub(payload: bytes, duration_s: float) -> np.ndarray:
    """STUB decoder — deterministic fake PCM in place of libsndfile/ffmpeg.

    The payload seeds a reproducible waveform of ``duration_s * _AUDIO_SR``
    samples so the windowing math downstream is real and testable.
    """
    if payload is None:
        raise CodecUnavailable("no payload")
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    rng = np.random.default_rng(seed)
    n = max(int(round((duration_s or 0.0) * _AUDIO_SR)), 1)
    t = np.arange(n) / _AUDIO_SR
    freq = 50 + (seed % 200)
    return (np.sin(2 * np.pi * freq * t)
            + 0.1 * rng.standard_normal(n)).astype(np.float32)


def _decode_wav_pcm(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python RIFF/WAVE decode (no libsndfile needed): integer
    PCM (8/16/32-bit) and 32-bit IEEE float, any channel count
    (downmixed to mono by mean). Walks the chunk list properly, so
    extra chunks (LIST, fact, cue) before `data` are fine. Raises on
    compressed codecs (ADPCM, mu-law, MP3-in-WAV) — corrupt or exotic
    real media must fail loudly, never fall through to the stub."""
    b = bytes(payload)
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise CodecUnavailable("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "little")
        body = b[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise CodecUnavailable("WAV missing fmt/data chunk")
    codec = int.from_bytes(fmt[0:2], "little")
    n_ch = int.from_bytes(fmt[2:4], "little")
    sr = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if n_ch < 1 or sr < 1:
        raise CodecUnavailable("WAV header corrupt")
    if codec == 1 and bits == 16:
        wave = np.frombuffer(data, "<i2").astype(np.float32) / 32768.0
    elif codec == 1 and bits == 32:
        wave = np.frombuffer(data, "<i4").astype(np.float32) / 2147483648.0
    elif codec == 1 and bits == 8:  # 8-bit PCM is unsigned
        wave = (np.frombuffer(data, np.uint8).astype(np.float32)
                - 128.0) / 128.0
    elif codec == 3 and bits == 32:
        wave = np.frombuffer(data, "<f4").astype(np.float32)
    else:
        raise CodecUnavailable(
            f"WAV codec unsupported (format={codec}, bits={bits})")
    if n_ch > 1:
        wave = wave[: len(wave) - len(wave) % n_ch] \
            .reshape(-1, n_ch).mean(axis=1).astype(np.float32)
    return wave, sr


def _decode_aiff_pcm(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python AIFF / AIFF-C decode (no libsndfile): big-endian
    signed integer PCM (8/16/32-bit), any channel count (downmixed to
    mono by mean), sample rate parsed from COMM's 80-bit IEEE extended
    float. AIFF-C accepted only with compression 'NONE' (and 'sowt'
    little-endian 16-bit, the Mac byte-swap flavor); anything else
    raises — corrupt or exotic real media must fail loudly (round-10:
    AIFF was soundfile-gated)."""
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"FORM" or b[8:12] not in (b"AIFF",
                                                          b"AIFC"):
        raise CodecUnavailable("not an AIFF payload")
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "big")
        body = b[pos + 8:pos + 8 + size]
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if comm is None or ssnd is None or len(comm) < 18 or len(ssnd) < 8:
        raise CodecUnavailable("AIFF missing COMM/SSND chunk")
    n_ch = int.from_bytes(comm[0:2], "big")
    bits = int.from_bytes(comm[6:8], "big")
    # 80-bit IEEE 754 extended: 1 sign + 15 exponent + 64 mantissa
    exp = int.from_bytes(comm[8:10], "big") & 0x7FFF
    mant = int.from_bytes(comm[10:18], "big")
    if exp == 0 and mant == 0:
        raise CodecUnavailable("AIFF sample rate is zero")
    sr = int(round(mant * 2.0 ** (exp - 16383 - 63)))
    codec = b"NONE"
    if b[8:12] == b"AIFC":
        if len(comm) < 22:
            raise CodecUnavailable("AIFF-C COMM chunk truncated")
        codec = comm[18:22]
        if codec not in (b"NONE", b"sowt"):
            raise CodecUnavailable(
                f"AIFF-C compression {codec!r} unsupported")
    if n_ch < 1 or sr < 1:
        raise CodecUnavailable("AIFF header corrupt")
    data_off = 8 + int.from_bytes(ssnd[0:4], "big")
    data = ssnd[data_off:]
    if bits == 16:
        dt = "<i2" if codec == b"sowt" else ">i2"
        wave = np.frombuffer(
            data[:len(data) - len(data) % 2], dt).astype(np.float32) \
            / 32768.0
    elif bits == 8 and codec == b"NONE":  # AIFF 8-bit PCM is SIGNED
        wave = np.frombuffer(data, np.int8).astype(np.float32) / 128.0
    elif bits == 32 and codec == b"NONE":
        wave = np.frombuffer(
            data[:len(data) - len(data) % 4], ">i4").astype(np.float32) \
            / 2147483648.0
    else:
        raise CodecUnavailable(
            f"AIFF PCM unsupported (bits={bits}, codec={codec!r})")
    if n_ch > 1:
        wave = wave[: len(wave) - len(wave) % n_ch] \
            .reshape(-1, n_ch).mean(axis=1).astype(np.float32)
    return wave, sr


class _FlacBits:
    """MSB-first bit reader over the FLAC stream."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data, self.pos, self.bit = data, pos, 0

    def read(self, n: int) -> int:
        v = 0
        while n:
            if self.pos >= len(self.data):
                raise CodecUnavailable("FLAC bitstream truncated")
            take = min(8 - self.bit, n)
            byte = self.data[self.pos]
            v = (v << take) | ((byte >> (8 - self.bit - take))
                               & ((1 << take) - 1))
            self.bit += take
            n -= take
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise CodecUnavailable("FLAC unary run too long")
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _flac_utf8_number(br: _FlacBits) -> int:
    """FLAC frame headers encode the frame/sample index as a UTF-8-
    style variable-length integer (up to 7 bytes)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    if n < 2 or n > 7:
        raise CodecUnavailable("FLAC frame number coding invalid")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise CodecUnavailable("FLAC frame number coding invalid")
        v = (v << 6) | (c & 0x3F)
    return v


_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                     4: [4, -6, 4, -1]}


def _flac_residual(br: _FlacBits, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual section (both 4- and 5-bit parameter
    variants, escape-to-raw partitions, zigzag decode)."""
    method = br.read(2)
    if method > 1:
        raise CodecUnavailable(f"FLAC residual method {method} reserved")
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    po = br.read(4)
    n_part = 1 << po
    if blocksize % n_part or (blocksize >> po) <= order:
        raise CodecUnavailable("FLAC partition order invalid")
    out: list[int] = []
    for p in range(n_part):
        n = (blocksize >> po) - (order if p == 0 else 0)
        k = br.read(pbits)
        if k == esc:  # unencoded: raw n-bit signed residuals
            raw_bits = br.read(5)
            out.extend(br.read_signed(raw_bits) if raw_bits else 0
                       for _ in range(n))
        else:
            for _ in range(n):
                q = br.unary()
                u = (q << k) | (br.read(k) if k else 0)
                out.append((u >> 1) ^ -(u & 1))  # zigzag
    return out


def _flac_subframe(br: _FlacBits, blocksize: int, bps: int) -> list[int]:
    if br.read(1):
        raise CodecUnavailable("FLAC subframe padding bit set")
    typ = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.unary()
    eff = bps - wasted
    if typ == 0:  # CONSTANT
        v = br.read_signed(eff)
        out = [v] * blocksize
    elif typ == 1:  # VERBATIM
        out = [br.read_signed(eff) for _ in range(blocksize)]
    elif 8 <= typ <= 12:  # FIXED, order = typ - 8
        order = typ - 8
        out = [br.read_signed(eff) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for r in res:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs))
            out.append(r + pred)
    elif typ >= 32:  # LPC, order = typ - 31
        order = typ - 31
        out = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise CodecUnavailable("FLAC LPC precision code invalid")
        shift = br.read_signed(5)
        if shift < 0:
            raise CodecUnavailable("FLAC negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        for r in res:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs)) >> shift
            out.append(r + pred)
    else:
        raise CodecUnavailable(f"FLAC subframe type {typ} reserved")
    if wasted:
        out = [v << wasted for v in out]
    return out


_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}


def _decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-Python FLAC decode (no libsndfile): STREAMINFO parse,
    frame walk, CONSTANT / VERBATIM / FIXED(0-4) / LPC subframes,
    both Rice residual variants with escape partitions, wasted bits,
    and all four channel assignments (independent, left/side,
    right/side, mid/side), downmixed to mono float32. Frame CRCs are
    parsed past, not verified (the caller's pipeline checks content
    digests). Raises CodecUnavailable on reserved codes or truncation
    — corrupt real media must fail loudly (round-10: FLAC was
    soundfile-gated)."""
    b = bytes(payload)
    if b[:4] != b"fLaC":
        raise CodecUnavailable("not a FLAC signature")
    pos = 4
    info = None
    while pos + 4 <= len(b):
        hdr = b[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        ln = int.from_bytes(b[pos + 1:pos + 4], "big")
        if btype == 0:
            info = b[pos + 4:pos + 4 + ln]
        pos += 4 + ln
        if last:
            break
    if info is None or len(info) < 34:
        raise CodecUnavailable("FLAC missing STREAMINFO")
    sr = int.from_bytes(info[10:13], "big") >> 4
    n_ch = ((info[12] >> 1) & 0x07) + 1
    bps = (((info[12] & 1) << 4) | (info[13] >> 4)) + 1
    total = ((info[13] & 0x0F) << 32) | int.from_bytes(info[14:18], "big")
    if sr == 0:
        raise CodecUnavailable("FLAC sample rate is zero")
    channels: list[list[int]] = [[] for _ in range(n_ch)]
    br = _FlacBits(b, pos)
    while br.pos < len(b) and (total == 0 or len(channels[0]) < total):
        if br.read(14) != 0x3FFE:
            raise CodecUnavailable("FLAC frame sync lost")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        _flac_utf8_number(br)
        if bs_code == 0:
            raise CodecUnavailable("FLAC reserved blocksize code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise CodecUnavailable("FLAC invalid sample-rate code")
        br.read(8)  # header CRC-8 (not verified)
        if ch_code < 8:
            if ch_code + 1 != n_ch:
                raise CodecUnavailable("FLAC channel count mismatch")
            sub = [_flac_subframe(br, blocksize, bps)
                   for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            if n_ch != 2:
                raise CodecUnavailable("FLAC stereo decorrelation on "
                                       "non-stereo stream")
            left_bps = bps + (1 if ch_code == 9 else 0)
            right_bps = bps + (1 if ch_code in (8, 10) else 0)
            c0 = _flac_subframe(br, blocksize, left_bps)
            c1 = _flac_subframe(br, blocksize, right_bps)
            if ch_code == 8:  # left/side: R = L - side
                sub = [c0, [left - side for left, side in zip(c0, c1)]]
            elif ch_code == 9:  # right/side: L = R + side
                sub = [[r + s for s, r in zip(c0, c1)], c1]
            else:  # mid/side
                left = []
                right = []
                for m, s in zip(c0, c1):
                    lr_sum = (m << 1) | (s & 1)
                    left.append((lr_sum + s) >> 1)
                    right.append((lr_sum - s) >> 1)
                sub = [left, right]
        else:
            raise CodecUnavailable(f"FLAC channel code {ch_code} reserved")
        _ = ss_code  # per-frame sample size override unused: trust info
        br.align()
        br.read(16)  # frame CRC-16 (not verified)
        for ch, s in zip(channels, sub):
            ch.extend(s)
    if total and len(channels[0]) < total:
        raise CodecUnavailable("FLAC stream short of total samples")
    arr = np.array(channels, dtype=np.float64)
    if total:
        arr = arr[:, :total]
    wave = (arr.mean(axis=0) / float(1 << (bps - 1))).astype(np.float32)
    return wave, sr


def decode_audio(payload: bytes, duration_s: float) -> tuple[np.ndarray, int]:
    """Decode an audio payload to ``(float32 mono wave, sample_rate)``.

    Dispatch mirrors :func:`decode_image`: RIFF/WAVE, AIFF/AIFF-C PCM,
    and FLAC decode with the built-in pure-Python decoders (always
    available); OGG decodes with libsndfile, raising on corruption or
    when ``soundfile`` is absent; anything else is a synthetic fixture
    and takes the deterministic stub at ``_AUDIO_SR``."""
    if payload is None:
        raise CodecUnavailable("no payload")
    if _has_magic(payload, (), riff_kind=b"WAVE"):
        return _decode_wav_pcm(payload)
    if bytes(payload[:4]) == b"FORM" \
            and bytes(payload[8:12]) in (b"AIFF", b"AIFC"):
        return _decode_aiff_pcm(payload)
    if bytes(payload[:4]) == b"fLaC":
        return _decode_flac(payload)
    if _has_magic(payload, _AUDIO_MAGICS):
        if _soundfile is None:
            raise CodecUnavailable(
                "payload is a real audio container but soundfile is not installed")
        import io

        data, sr = _soundfile.read(io.BytesIO(bytes(payload)),
                                   dtype="float32")
        if data.ndim > 1:
            data = data.mean(axis=1)
        return np.asarray(data, dtype=np.float32), int(sr)
    return _decode_audio_stub(payload, duration_s), _AUDIO_SR


def extract_audio_features(media: DataFrame,
                           window_s: float = 0.5) -> DataFrame:
    """Audio feature extraction: decode -> fixed-length windows -> RMS
    energy + zero-crossing rate per window (the silence/voice-activity
    primitives of an audio-data pipeline). UDTF shape like the frame
    sampler: window rows explode inside the Arrow batch, inherit the
    input partitioning, no shuffle; non-audio rows are filtered
    JVM-side so the Python stage only receives audio payloads.
    """
    audio = media.filter(F.col("modality") == "audio") \
                 .select("media_id", "duration_s", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "window_idx": [],
                                    "t_start_s": [], "rms": [], "zcr": []}
            for media_id, dur, payload in zip(pdf["media_id"],
                                              pdf["duration_s"],
                                              pdf["payload"]):
                wave, sr = decode_audio(payload, dur)
                win = max(int(round(window_s * sr)), 1)
                n_win = max(int(np.ceil(wave.size / win)), 1)
                for w in range(n_win):
                    seg = wave[w * win: (w + 1) * win]
                    signs = np.signbit(seg)
                    out["media_id"].append(media_id)
                    out["window_idx"].append(w)
                    out["t_start_s"].append(w * win / sr)
                    out["rms"].append(float(np.sqrt(np.mean(seg ** 2))))
                    out["zcr"].append(
                        float(np.mean(signs[1:] != signs[:-1]))
                        if seg.size > 1 else 0.0)
            yield pd.DataFrame(out)

    return audio.mapInPandas(kernel, schema=AUDIO_FEATURES)


def _tiny_bmp(rng: np.random.Generator, side: int = 8) -> bytes:
    """A real, decodable 24-bit BMP with random pixels (fixture)."""
    import struct

    px = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
    row_pad = (-side * 3) % 4
    body = b"".join(bytes(px[r].ravel()) + b"\x00" * row_pad
                    for r in range(side - 1, -1, -1))
    off = 14 + 40
    return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, side, side, 1, 24, 0,
                          len(body), 2835, 2835, 0, 0) + body)


def _tiny_webp(rng: np.random.Generator, side: int = 8) -> bytes:
    """A real, decodable lossless WebP (VP8L) fixture: a random
    two-gray-level pattern under SUBTRACT_GREEN, so every prefix code
    fits the 1-2 symbol 'simple' form (greens: two symbols; residual
    red/blue and alpha: zero-bit singles)."""
    v1, v2 = 64, 193
    pat = rng.integers(0, 2, size=(side, side))
    bits: list[int] = []

    def w(val: int, n: int) -> None:
        for i in range(n):
            bits.append((val >> i) & 1)

    w(0x2F, 8)
    w(side - 1, 14)
    w(side - 1, 14)
    w(0, 4)  # alpha hint + version
    w(1, 1)
    w(2, 2)  # transform: subtract green
    w(0, 1)  # no more transforms
    w(0, 1)  # no color cache
    w(0, 1)  # no meta prefix image
    # green: simple 2-symbol (v1 -> '0', v2 -> '1'); r/b/a/dist singles
    w(1, 1); w(1, 1); w(1, 1); w(v1, 8); w(v2, 8)   # green
    for sym in (0, 0, 255):                          # red, blue, alpha
        w(1, 1); w(0, 1); w(1, 1); w(sym, 8)
    w(1, 1); w(0, 1); w(0, 1); w(0, 1)               # distance: single 0
    for row in pat:
        for b in row:
            w(int(b), 1)
    data = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        data[i >> 3] |= b << (i & 7)
    chunk = b"VP8L" + len(data).to_bytes(4, "little") + bytes(data)
    if len(data) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data)))


def _tiny_png(rng: np.random.Generator, side: int = 8,
              ctype: int = 2) -> bytes:
    """A real, decodable 8-bit PNG with random pixels (fixture);
    ``ctype`` 0=gray, 2=RGB, 6=RGBA. Rows carry filter 0 — the
    filter-1..4 reconstruction paths are pinned by hand-filtered
    goldens in tests/test_multimodal.py."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[ctype]
    px = rng.integers(0, 256, size=(side, side * channels), dtype=np.uint8)
    raw = b"".join(b"\x00" + bytes(px[r]) for r in range(side))
    ihdr = struct.pack(">IIBBBBB", side, side, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _tiny_mp4_bytes(dur_s: float, w: int, h: int,
                    timescale: int = 30000) -> bytes:
    """Minimal REAL ISO BMFF container (ftyp + moov with one avc1 video
    trak) for fixtures — enough structure for probe_media to read
    brand/duration/codec/dims; no sample data."""
    dur_ticks = int(round((dur_s or 0.0) * timescale))
    mvhd = (b"\x00" * 12 + timescale.to_bytes(4, "big")
            + dur_ticks.to_bytes(4, "big") + b"\x00" * 80)
    tkhd = (b"\x00" * 76 + (w << 16).to_bytes(4, "big")
            + (h << 16).to_bytes(4, "big"))
    hdlr = b"\x00" * 8 + b"vide" + b"\x00" * 12
    stsd = b"\x00" * 4 + (1).to_bytes(4, "big") + _mp4_box(b"avc1",
                                                           b"\x00" * 8)
    trak = _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd) + _mp4_box(
        b"mdia", _mp4_box(b"hdlr", hdlr) + _mp4_box(
            b"minf", _mp4_box(b"stbl", _mp4_box(b"stsd", stsd)))))
    return (_mp4_box(b"ftyp", b"isom" + b"\x00" * 8)
            + _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + trak))


def _ebml_el(eid: bytes, payload: bytes) -> bytes:
    return eid + bytes([0x80 | len(payload)]) + payload


def _tiny_mkv_bytes(dur_s: float, w: int, h: int) -> bytes:
    """Minimal REAL Matroska container (EBML header + Segment with
    Info duration and one V_VP9 video track) for fixtures."""
    header = _ebml_el(b"\x1a\x45\xdf\xa3",
                      _ebml_el(b"\x42\x82", b"matroska"))
    info = _ebml_el(b"\x15\x49\xa9\x66",
                    _ebml_el(b"\x2a\xd7\xb1", (1000000).to_bytes(3, "big"))
                    + _ebml_el(b"\x44\x89",
                               struct.pack(">d", (dur_s or 0.0) * 1000)))
    video = _ebml_el(b"\xe0", _ebml_el(b"\xb0", w.to_bytes(2, "big"))
                     + _ebml_el(b"\xba", h.to_bytes(2, "big")))
    track = _ebml_el(b"\xae", _ebml_el(b"\x83", b"\x01")
                     + _ebml_el(b"\x86", b"V_VP9") + video)
    tracks = _ebml_el(b"\x16\x54\xae\x6b", track)
    return header + _ebml_el(b"\x18\x53\x80\x67", info + tracks)


def _tiny_wav(rng: np.random.Generator, duration_s: float,
              sr: int = 4000) -> bytes:
    """A real, decodable 16-bit PCM WAV with a random tone (fixture)."""
    import struct

    n = max(int(duration_s * sr), 1)
    freq = 100 + int(rng.integers(0, 300))
    wave = (0.6 * np.sin(2 * np.pi * freq * np.arange(n) / sr)
            * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(wave)) + wave)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _tiny_pnm(rng) -> bytes:
    """A real raw P6 pixmap (8x6 RGB) for fixture rotation."""
    px = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    return b"P6\n8 6\n255\n" + px.tobytes()


def _tiny_ico(rng) -> bytes:
    """A real single-entry ICO wrapping a 24-bit V3 DIB (6x5)."""
    rgb = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    h, w = rgb.shape[:2]
    dib = struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 24, 0, 0, 0, 0, 0, 0)
    pad = (-(w * 3)) % 4
    for r in range(h - 1, -1, -1):  # bottom-up, BGR
        dib += rgb[r][:, ::-1].tobytes() + b"\x00" * pad
    dib += (b"\x00" * (((w + 31) // 32) * 4)) * h  # AND mask
    entry = struct.pack("<BBBBHHII", w, h, 0, 0, 1, 32, len(dib), 22)
    return struct.pack("<HHH", 0, 1, 1) + entry + dib


def make_fake_media(spark, n: int = 64, seed: int = 7,
                    include_pnm_ico: bool = False,
                    include_exif: bool = False) -> DataFrame:
    """Deterministic MEDIA-schema fixture (images + videos + audio) for
    tests and the rows-only driver demos. Every 4th image is a REAL
    24-bit BMP, the next a REAL 8-bit PNG (gray/RGB/RGBA cycling), the
    next a REAL lossless WebP (VP8L), and every 4th audio clip a REAL
    16-bit PCM WAV, so the built-in pure-Python decoders run in every
    demo alongside the stub path (magic-byte dispatch exercised
    end-to-end). ``include_pnm_ico=True`` alternates the stub-image
    slot between a real raw P6 pixmap and a real DIB-payload favicon;
    ``include_exif=True`` instead plants the EXIF-carrying JPEG
    (_tiny_exif_jpeg) there — each kept opt-in so the long-standing
    fixture rotation (and the goldens pinned on it) is byte-stable."""
    from ..schemas import MEDIA

    rng = np.random.default_rng(seed)
    rows = []
    mime = {"image": "image/png", "video": "video/mp4", "audio": "audio/wav"}
    for i in range(n):
        modality = ("image", "video", "audio")[i % 3]
        dur = None if modality == "image" else float(2 + i % 5)
        if modality == "image" and (i // 3) % 4 == 0:
            payload = _tiny_bmp(rng)
            m = "image/bmp"
        elif modality == "image" and (i // 3) % 4 == 1:
            payload = _tiny_png(rng, ctype=(0, 2, 6)[(i // 12) % 3])
            m = "image/png"
        elif modality == "image" and (i // 3) % 4 == 2:
            payload = _tiny_webp(rng)
            m = "image/webp"
        elif modality == "image" and include_exif:
            payload = _tiny_exif_jpeg()
            m = "image/jpeg"
        elif modality == "image" and include_pnm_ico:
            if (i // 12) % 2 == 0:
                payload = _tiny_pnm(rng)
                m = "image/x-portable-pixmap"
            else:
                payload = _tiny_ico(rng)
                m = "image/vnd.microsoft.icon"
        elif modality == "audio" and (i // 3) % 4 == 0:
            payload = _tiny_wav(rng, dur)
            m = mime[modality]
        elif modality == "video" and (i // 3) % 4 == 0:
            payload = _tiny_mp4_bytes(dur_s=dur, w=64 + i, h=48 + i)
            m = "video/mp4"
        elif modality == "video" and (i // 3) % 4 == 1:
            payload = _tiny_mkv_bytes(dur_s=dur, w=64 + i, h=48 + i)
            m = "video/webm"
        else:
            payload = bytes(
                rng.integers(0, 256, size=64, dtype=np.uint8).tolist())
            m = mime[modality]
        rows.append((
            i, modality, payload, m,
            256, 256, dur,
            {"src": f"synthetic-{i}"},
        ))
    return spark.createDataFrame(rows, schema=MEDIA)


#: Output schema of the image resizer: the resized raster rides along as
#: a flattened float array + its new dims (parquet-friendly; re-encoding
#: to JPEG/PNG is a sink concern, not a transform concern).
RESIZED_IMAGES = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("src_width", T.IntegerType(), True),
    T.StructField("src_height", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("pixels", T.ArrayType(T.FloatType()), True),
])


def resize_images(media: DataFrame, width: int = 32,
                  height: int = 32) -> DataFrame:
    """media (schemas.MEDIA) -> RESIZED_IMAGES: decode + resample every
    image to a fixed (height, width) raster — the normalization step in
    front of any vision encoder (models consume fixed shapes; storage
    keeps originals).

    Resampling is nearest-neighbor via pure NumPy index maps, so it is
    identical for real PIL-decoded arrays and stub-decoded fixtures
    (no dependency on PIL's resize kernels — deterministic across
    environments). Scale shape: same as the feature extractor — the
    modality filter prunes JVM-side, the kernel is mapInPandas over
    Arrow batches, output rows inherit the input partitioning (zero
    shuffle), and each output row is height*width floats regardless of
    source size, so downstream stages see bounded row width."""
    images = media.filter(F.col("modality") == "image") \
                  .select("media_id", "width", "height", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in (
                "media_id", "src_width", "src_height", "width", "height",
                "pixels")}
            for media_id, w0, h0, payload in zip(
                    pdf["media_id"], pdf["width"], pdf["height"],
                    pdf["payload"]):
                arr = decode_image(payload)
                sh, sw = arr.shape[0], arr.shape[1]
                ri = (np.arange(height) * sh) // height
                ci = (np.arange(width) * sw) // width
                resized = arr[np.ix_(ri, ci)].astype(np.float32)
                rows["media_id"].append(media_id)
                rows["src_width"].append(sw)
                rows["src_height"].append(sh)
                rows["width"].append(width)
                rows["height"].append(height)
                rows["pixels"].append(resized.reshape(-1))
            yield pd.DataFrame(rows)

    return images.mapInPandas(kernel, schema=RESIZED_IMAGES)


# ---------------------------------------------------------------------------
# Perceptual image hashing (aHash) + Hamming near-dup over media
# ---------------------------------------------------------------------------

PHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("fp", T.LongType(), False),
])


def _ahash64(img: np.ndarray) -> int:
    """64-bit average hash: block-mean the grayscale raster to 8x8,
    threshold each cell against the global mean, pack row-major. The
    classic perceptual fingerprint — stable under resize/re-encode,
    flipped bits proportional to visual change."""
    h, w = img.shape
    if h < 8 or w < 8:
        raise ValueError(f"image {h}x{w} too small for an 8x8 hash")
    blocks = img[:h // 8 * 8, :w // 8 * 8] \
        .reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).ravel()
    acc = 0
    for i, b in enumerate(bits):
        if b:
            acc |= 1 << i
    return acc - (1 << 64) if acc >= (1 << 63) else acc  # to signed int64


def perceptual_hashes(media: DataFrame) -> DataFrame:
    """media (schemas.MEDIA, image rows) -> (media_id, fp): decode each
    image (real codec or stub, the magic-byte dispatch of
    :func:`decode_image`) and compute its 64-bit aHash in one Arrow
    batch pass — zero shuffle, like every fingerprint stage here."""
    imgs = media.filter(F.col("modality") == "image") \
                .select("media_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [{"media_id": int(r.media_id),
                    "fp": _ahash64(decode_image(r.payload))}
                   for r in pdf.itertuples()]
            yield pd.DataFrame(out, columns=["media_id", "fp"])

    return imgs.mapInPandas(kernel, schema=PHASH_SCHEMA)


def image_near_duplicates(media: DataFrame,
                          max_hamming: int = 6) -> DataFrame:
    """Near-duplicate image pairs (media_id_a < media_id_b, hamming):
    perceptual aHash fingerprints fed through the SAME pigeonhole
    banded equi-join + popcount refine as SimHash text dedup
    (operators/dedup.py::hamming_near_duplicates) — guaranteed recall
    at the radius, linear candidate join, never all-pairs. This is the
    dedup family's multimodal member: re-encoded/resized copies of an
    image keep a close aHash while cryptographic digests change."""
    from .dedup import hamming_near_duplicates

    fp = perceptual_hashes(media).select(
        F.col("media_id").alias("id"), "fp")
    # The banded self-join consumes fp twice; uncached, BOTH legs would
    # re-run decode_image + aHash per image (the round-6 advisor
    # finding — the exact double-compute simhash_near_duplicates
    # caches against). Same single-slot cache + materialize-before-join
    # discipline as the SimHash path (dedup.py), same bound: one
    # |images| x 16-byte fingerprint table per session.
    fp = _PHASH_SLOT.own(fp)
    fp.count()
    return (hamming_near_duplicates(fp, max_hamming=max_hamming)
            .select(F.col("id_a").alias("media_id_a"),
                    F.col("id_b").alias("media_id_b"), "hamming"))


# ---------------------------------------------------------------------------
# Animated WebP (VP8X + ANIM + ANMF) frame extraction
# ---------------------------------------------------------------------------

def decode_webp_frames(payload: bytes) -> dict:
    """Animated WebP frame extraction (the still-image sibling of the
    MP4/Matroska frame sampling): walks the top-level VP8X + ANIM +
    ANMF chunks of the container spec and decodes EVERY frame's
    bitstream with the existing pure-Python VP8L lossless decoder
    (a lossy VP8 frame raises typed CodecUnavailable). Returns::

        {"loop_count": int, "background_argb": int, "frames": [
           {"index", "x", "y", "width", "height", "duration_ms",
            "dispose_to_background", "no_blend", "pixels"}, ...]}

    Frame geometry comes from the 16-byte ANMF params (x/y are stored
    halved; width/height minus one); ``pixels`` is the frame's own
    float32 grayscale raster — canvas COMPOSITING (dispose/blend) is
    deliberately left to the consumer, the same contract as video
    frame sampling: a training pipeline wants the frames, not a
    player. Raises typed :class:`CodecUnavailable` on a non-animated
    or corrupt container (whole-payload drop, never fatal)."""
    b = bytes(payload)
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise CodecUnavailable("not a RIFF/WEBP container")

    def le(x: bytes) -> int:
        return int.from_bytes(x, "little")

    def frame_pixels(sub: bytes) -> np.ndarray:
        pos = 0
        while pos + 8 <= len(sub):
            cc = sub[pos:pos + 4]
            size = le(sub[pos + 4:pos + 8])
            body = pos + 8
            if body + size > len(sub):
                raise CodecUnavailable(f"ANMF subchunk {cc!r} overruns")
            if cc == b"VP8L":
                try:
                    return _decode_vp8l(sub[body:body + size])
                except (IndexError, ValueError, struct.error) as e:
                    raise CodecUnavailable(f"corrupt frame VP8L: {e}") from e
            if cc == b"VP8 ":
                raise CodecUnavailable("lossy VP8 ANMF frame: no "
                                       "pure-Python decoder")
            pos = body + size + (size & 1)  # skip ALPH etc., 2-aligned
        raise CodecUnavailable("ANMF frame carries no VP8/VP8L bitstream")

    frames: list[dict] = []
    loop_count = 0
    background = 0
    pos = 12
    hi = min(len(b), 8 + le(b[4:8]))
    while pos + 8 <= hi:
        cc = b[pos:pos + 4]
        size = le(b[pos + 4:pos + 8])
        body = pos + 8
        if body + size > hi:
            raise CodecUnavailable(f"chunk {cc!r} overruns container")
        if cc == b"ANIM":
            if size < 6:
                raise CodecUnavailable("short ANIM chunk")
            background = le(b[body:body + 4])
            loop_count = le(b[body + 4:body + 6])
        elif cc == b"ANMF":
            if size < 16:
                raise CodecUnavailable("short ANMF chunk")
            p = b[body:body + 16]
            frames.append({
                "index": len(frames),
                "x": le(p[0:3]) * 2,
                "y": le(p[3:6]) * 2,
                "width": le(p[6:9]) + 1,
                "height": le(p[9:12]) + 1,
                "duration_ms": le(p[12:15]),
                "dispose_to_background": bool(p[15] & 1),
                "no_blend": bool(p[15] & 2),
                "pixels": frame_pixels(b[body + 16:body + size]),
            })
        pos = body + size + (size & 1)
    if not frames:
        raise CodecUnavailable(
            "WebP container has no ANMF frames (still image — use "
            "decode_image)")
    return {"loop_count": loop_count, "background_argb": background,
            "frames": frames}


# ---------------------------------------------------------------------------
# Animated GIF frame extraction
# ---------------------------------------------------------------------------

def decode_gif_frames(payload: bytes) -> dict:
    """Animated GIF frame extraction — the 89a sibling of
    :func:`decode_webp_frames`: every image descriptor decodes through
    the same LZW/interlace machinery as the still path, paired with
    its Graphic Control Extension (delay, disposal method, transparent
    index) and the NETSCAPE2.0 loop count. Returns::

        {"loop_count": int|None, "frames": [
           {"index", "x", "y", "width", "height", "delay_cs",
            "disposal", "transparent_index", "pixels"}, ...]}

    ``pixels`` is each frame's OWN raster as float32 grayscale
    (canvas compositing left to the consumer — the frame-sampling
    contract); ``delay_cs`` is in GIF's native centiseconds. Raises
    typed :class:`CodecUnavailable` on corruption (whole-payload
    drop)."""
    try:
        return _decode_gif_frames_inner(payload)
    except (IndexError, ValueError, struct.error) as e:
        raise CodecUnavailable(f"truncated or corrupt GIF: {e}") from e


def _decode_gif_frames_inner(payload: bytes) -> dict:
    b = bytes(payload)
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise CodecUnavailable("not a GIF signature")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, np.uint8, count=3 * n,
                            offset=pos).reshape(n, 3)
        pos += 3 * n
    frames: list[dict] = []
    loop_count: int | None = None
    gce: dict = {}
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:  # extension
            label = b[pos]
            pos += 1
            subs = []
            while b[pos] != 0:
                ln = b[pos]
                subs.append(b[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and subs and len(subs[0]) >= 4:
                p, lo, hi, ti = subs[0][:4]
                gce = {"delay_cs": lo | (hi << 8),
                       "disposal": (p >> 2) & 0x7,
                       "transparent_index": ti if (p & 1) else None}
            elif (label == 0xFF and subs
                  and subs[0] == b"NETSCAPE2.0"
                  and len(subs) > 1 and len(subs[1]) >= 3
                  and subs[1][0] == 1):
                loop_count = subs[1][1] | (subs[1][2] << 8)
            continue
        if block != 0x2C:
            raise CodecUnavailable(f"GIF block 0x{block:02x} invalid")
        left, top, fw, fh, ipacked = struct.unpack("<HHHHB",
                                                   b[pos:pos + 9])
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(b, np.uint8, count=3 * n,
                                offset=pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise CodecUnavailable("GIF image with no color table")
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise CodecUnavailable(f"GIF LZW min code {min_code} invalid")
        chunks = []
        while b[pos] != 0:
            ln = b[pos]
            chunks.append(b[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        if fw <= 0 or fh <= 0:
            raise CodecUnavailable("GIF zero-sized frame")
        if fw * fh > 64_000_000:  # decode-bomb guard: a 16-byte header
            # can claim a 4.3-gigapixel frame and OOM the executor
            raise CodecUnavailable(f"GIF frame {fw}x{fh} over decode cap")
        idx = np.frombuffer(
            _gif_lzw_decode(b"".join(chunks), min_code, fw * fh),
            np.uint8).reshape(fh, fw)
        if ipacked & 0x40:
            rows = np.concatenate([np.arange(0, fh, 8),
                                   np.arange(4, fh, 8),
                                   np.arange(2, fh, 4),
                                   np.arange(1, fh, 2)])
            deinter = np.empty_like(idx)
            deinter[rows] = idx
            idx = deinter
        if int(idx.max(initial=0)) >= len(pal):
            raise CodecUnavailable("GIF pixel index beyond color table")
        rgb = pal[idx].astype(np.float32)
        gray = (rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587
                + rgb[..., 2] * 0.114)
        frames.append({
            "index": len(frames),
            "x": int(left), "y": int(top),
            "width": int(fw), "height": int(fh),
            "delay_cs": gce.get("delay_cs"),
            "disposal": gce.get("disposal"),
            "transparent_index": gce.get("transparent_index"),
            "pixels": np.ascontiguousarray(gray, dtype=np.float32),
        })
        gce = {}
    if not frames:
        raise CodecUnavailable("GIF contains no image descriptor")
    return {"loop_count": loop_count, "canvas_width": int(sw),
            "canvas_height": int(sh), "frames": frames}


#: Output schema of the animation frame extractor (one row per frame).
ANIMATION_FRAMES = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("container", T.StringType(), True),
    T.StructField("frame_idx", T.IntegerType(), True),
    T.StructField("x", T.IntegerType(), True),
    T.StructField("y", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.DoubleType(), True),
    T.StructField("loop_count", T.IntegerType(), True),
    T.StructField("mean_px", T.DoubleType(), True),
])


def animation_frames(media: DataFrame) -> DataFrame:
    """Distributed animation frame extraction: one output row per frame
    of every ANIMATED GIF / WebP payload (magic-byte dispatch to
    :func:`decode_gif_frames` / :func:`decode_webp_frames`), with
    per-frame geometry, a millisecond-normalized duration (GIF's
    centiseconds x10), the loop count, and the frame's mean gray level
    as the scalar raster summary. Still images, undecodable payloads,
    and NULLs are SKIPPED (the whole-payload drop rule) — the operator
    yields only genuinely animated media.

    Same execution shape as :func:`sample_frames`: frame explosion
    happens inside the Arrow batch (UDTF shape, no shuffle); decode
    runs in executors."""
    rows = media.select("media_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                head = bytes(payload[:12])
                try:
                    if head[:4] == b"GIF8":
                        dec = decode_gif_frames(payload)
                        container, scale = "gif", 10.0
                    elif head[:4] == b"RIFF" and head[8:12] == b"WEBP":
                        dec = decode_webp_frames(payload)
                        container, scale = "webp", 1.0
                    else:
                        continue
                except CodecUnavailable:
                    continue  # still image or corrupt: skip, never fatal
                loop = dec.get("loop_count")
                for f in dec["frames"]:
                    dur = f.get("duration_ms", f.get("delay_cs"))
                    out.append({
                        "media_id": media_id,
                        "container": container,
                        "frame_idx": f["index"],
                        "x": f["x"], "y": f["y"],
                        "width": f["width"], "height": f["height"],
                        "duration_ms": (None if dur is None
                                        else float(dur) * scale),
                        "loop_count": loop,
                        "mean_px": float(f["pixels"].mean()),
                    })
            yield pd.DataFrame(out, columns=[s.name for s in
                                             ANIMATION_FRAMES])

    return rows.mapInPandas(kernel, schema=ANIMATION_FRAMES)


# ---------------------------------------------------------------------------
# EXIF metadata extraction (JPEG APP1 / TIFF IFD walk, round 12 s4)
# ---------------------------------------------------------------------------

EXIF_SCHEMA = ("media_id long, has_exif boolean, orientation int, "
               "make string, model string, datetime_original string, "
               "exposure_time double, f_number double, iso int, "
               "focal_length double, px_width int, px_height int, "
               "has_gps boolean")

#: hard cap on any single tag's value bytes — a header-claimed huge
#: count must never drive a large slice/unpack (decode-bomb rule)
_EXIF_VALUE_CAP = 65536


def _exif_read_ifd(b: bytes, eo: str, ifd_off: int) -> dict[int, object]:
    """One IFD's tags as {tag: value-list-or-str}. Types: BYTE, ASCII,
    SHORT, LONG, RATIONAL (as float). Anything else, or any claimed
    size past the cap or the buffer, is skipped — extraction is
    triage, not validation."""
    out: dict[int, object] = {}
    if ifd_off + 2 > len(b):
        return out
    (n_entries,) = struct.unpack(eo + "H", b[ifd_off:ifd_off + 2])
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    for i in range(min(n_entries, 256)):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(b):
            break
        tag, typ, cnt = struct.unpack(eo + "HHI", b[off:off + 8])
        if typ not in type_size or cnt > _EXIF_VALUE_CAP:
            continue
        sz = type_size[typ] * cnt
        if sz > _EXIF_VALUE_CAP:
            continue
        voff = off + 8 if sz <= 4 else struct.unpack(
            eo + "I", b[off + 8:off + 12])[0]
        if voff + sz > len(b):
            continue
        raw = b[voff:voff + sz]
        if typ == 2:       # ASCII, NUL-terminated
            out[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ == 5:     # unsigned rational -> float
            vals = []
            for j in range(cnt):
                num, den = struct.unpack(eo + "II", raw[8 * j:8 * j + 8])
                vals.append(num / den if den else None)
            out[tag] = vals
        else:
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            out[tag] = list(struct.unpack(eo + str(cnt) + fmt, raw))
    return out


_EXIF_NULL = {"has_exif": False, "orientation": None, "make": None,
              "model": None, "datetime_original": None,
              "exposure_time": None, "f_number": None, "iso": None,
              "focal_length": None, "px_width": None, "px_height": None,
              "has_gps": False}


def _extract_exif(payload: bytes) -> dict:
    """EXIF fields from a JPEG (APP1 segment) or TIFF payload. Absent
    or malformed EXIF yields the all-NULL row — metadata extraction is
    a triage step and must never be fatal (the probe_media contract);
    the broad catch normalizes stdlib struct/decode errors."""
    try:
        b = bytes(payload)
        tiff: bytes | None = None
        if b[:2] == b"\xff\xd8":           # JPEG: walk to APP1/Exif
            pos = 2
            while pos + 4 <= len(b):
                if b[pos] != 0xFF:
                    break
                marker = b[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                if marker in (0xD9, 0xDA):  # EOI / SOS: no APP1 found
                    break
                (seg_len,) = struct.unpack(">H", b[pos + 2:pos + 4])
                if marker == 0xE1 and b[pos + 4:pos + 10] == b"Exif\x00\x00":
                    tiff = b[pos + 10:pos + 2 + seg_len]
                    break
                pos += 2 + seg_len
        elif b[:4] in (b"II*\x00", b"MM\x00*"):
            tiff = b
        if tiff is None or len(tiff) < 8:
            return dict(_EXIF_NULL)
        if tiff[:4] == b"II*\x00":
            eo = "<"
        elif tiff[:4] == b"MM\x00*":
            eo = ">"
        else:
            return dict(_EXIF_NULL)
        (ifd0_off,) = struct.unpack(eo + "I", tiff[4:8])
        ifd0 = _exif_read_ifd(tiff, eo, ifd0_off)
        exif_ifd = {}
        ptr = ifd0.get(34665)
        if isinstance(ptr, list) and ptr:
            exif_ifd = _exif_read_ifd(tiff, eo, int(ptr[0]))

        def first(d, tag):
            v = d.get(tag)
            if isinstance(v, list):
                return v[0] if v else None
            return v

        out = dict(_EXIF_NULL)
        out["has_exif"] = bool(ifd0)
        ori = first(ifd0, 274)
        out["orientation"] = int(ori) if ori is not None else None
        out["make"] = ifd0.get(271) if isinstance(ifd0.get(271), str) \
            else None
        out["model"] = ifd0.get(272) if isinstance(ifd0.get(272), str) \
            else None
        dto = exif_ifd.get(36867) if isinstance(exif_ifd.get(36867), str) \
            else (ifd0.get(306) if isinstance(ifd0.get(306), str) else None)
        out["datetime_original"] = dto
        et = first(exif_ifd, 33434)
        out["exposure_time"] = float(et) if et is not None else None
        fn = first(exif_ifd, 33437)
        out["f_number"] = float(fn) if fn is not None else None
        iso = first(exif_ifd, 34855)
        out["iso"] = int(iso) if iso is not None else None
        fl = first(exif_ifd, 37386)
        out["focal_length"] = float(fl) if fl is not None else None
        pw = first(exif_ifd, 40962)
        out["px_width"] = int(pw) if pw is not None else None
        ph = first(exif_ifd, 40963)
        out["px_height"] = int(ph) if ph is not None else None
        out["has_gps"] = 34853 in ifd0
        return out
    except Exception:  # noqa: BLE001 — triage: garbage yields NULLs
        return dict(_EXIF_NULL)


def exif_metadata(media: DataFrame) -> DataFrame:
    """EXIF metadata extraction over binary media payloads: JPEG APP1
    and bare-TIFF IFD walks executor-side — orientation (the field
    that silently rotates training images), camera make/model,
    capture timestamp, exposure triangle, declared pixel dims, and a
    GPS-presence flag (the PII signal a curation pipeline must route
    on BEFORE any image ships). Absent/garbage EXIF yields NULL
    fields, never a crash.

    Scale: map-only Arrow batches (mapInPandas), zero shuffle; only
    header bytes are touched, value sizes are capped before any
    slice, so a decode bomb cannot allocate."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = (_extract_exif(payload) if payload is not None
                        else dict(_EXIF_NULL))
                info["media_id"] = mid
                rows.append(info)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload") \
        .mapInPandas(kernel, schema=EXIF_SCHEMA)


def _tiny_exif_jpeg() -> bytes:
    """A deterministic JPEG carrying a REAL little-endian EXIF APP1
    (IFD0: orientation/make/model/datetime + Exif-IFD pointer;
    Exif IFD: exposure 1/250, f/2.8, ISO 400, 50mm, 1024x768) — the
    golden fixture for exif_metadata. Metadata-only JPEG (SOI + APP1 +
    EOI): the extractor walks segments, it never decodes pixels."""
    def entry(tag, typ, cnt, val4):
        return struct.pack("<HHI", tag, typ, cnt) + val4

    # layout inside the TIFF block (offsets from TIFF origin):
    #   8: IFD0 (2 + 5*12 + 4), then data area, then Exif IFD
    make = b"ACME\x00"
    model = b"StarCam 9\x00"
    dt = b"2024:01:15 12:34:56\x00"
    ifd0_off = 8
    ifd0_len = 2 + 5 * 12 + 4
    data0 = ifd0_off + ifd0_len          # 8 + 66 = 74
    make_off = data0
    model_off = make_off + len(make)
    dt_off = model_off + len(model)
    exif_off = dt_off + len(dt)
    ifd0 = struct.pack("<H", 5)
    ifd0 += entry(271, 2, len(make), struct.pack("<I", make_off))
    ifd0 += entry(272, 2, len(model), struct.pack("<I", model_off))
    ifd0 += entry(274, 3, 1, struct.pack("<HH", 6, 0))
    ifd0 += entry(306, 2, len(dt), struct.pack("<I", dt_off))
    ifd0 += entry(34665, 4, 1, struct.pack("<I", exif_off))
    ifd0 += struct.pack("<I", 0)  # next-IFD = none
    exif_len = 2 + 6 * 12 + 4
    rat_off = exif_off + exif_len
    exif = struct.pack("<H", 6)
    exif += entry(33434, 5, 1, struct.pack("<I", rat_off))        # 1/250
    exif += entry(33437, 5, 1, struct.pack("<I", rat_off + 8))    # 28/10
    exif += entry(34855, 3, 1, struct.pack("<HH", 400, 0))
    exif += entry(37386, 5, 1, struct.pack("<I", rat_off + 16))   # 50/1
    exif += entry(40962, 4, 1, struct.pack("<I", 1024))
    exif += entry(40963, 4, 1, struct.pack("<I", 768))
    exif += struct.pack("<I", 0)
    rats = struct.pack("<II", 1, 250) + struct.pack("<II", 28, 10) \
        + struct.pack("<II", 50, 1)
    tiff = b"II*\x00" + struct.pack("<I", ifd0_off) \
        + ifd0 + make + model + dt + exif + rats
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2) + app1_body
    return b"\xff\xd8" + app1 + b"\xff\xd9"

"""Real media codecs with zero third-party dependencies.

Round 2 left the media decode step stubbed ("the pixels are not real").
This module closes that for the three formats decodable here end-to-end:

- **PNG** (via ``zlib`` + the public PNG spec): chunk parse, IDAT inflate,
  scanline unfilter (all five filter types, numpy-vectorized where the
  recurrence allows) -> ``uint8 (h, w, channels)`` pixels. Encoder writes
  spec-compliant PNGs (filter 0 + zlib + CRC32 chunks) any external viewer
  opens.
- **WAV** (via ``wave`` + numpy): PCM samples + rate, both directions.
- **JPEG** (pure numpy, ITU-T T.81 baseline): Huffman + dequant + IDCT +
  chroma upsample + YCbCr->RGB, DRI/RSTn restarts, any h/v subsampling;
  progressive/arithmetic raise. Encoder writes baseline 4:4:4 with the
  Annex K tables — real web JPEGs (Common Crawl media is overwhelmingly
  baseline JPEG) decode to real pixels with no PIL in the container.

Plus real numpy transforms over the decoded data: nearest-neighbor resize,
image/audio feature vectors (moments, band energies via rfft). PIL/ffmpeg,
when installed, slot in through :func:`tstore_spark.operators.multimodal`'s
``decoder=`` hooks with the same signatures; :func:`best_image_decoder`
import-guards that choice.

Everything here is deterministic (pure functions of the input bytes), so the
Spark pipelines built on top stay bit-reproducible across parallelism.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


# ---------------------------------------------------------------- PNG decode
def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(blob: bytes) -> np.ndarray:
    """Decode an 8-bit-depth PNG (gray / gray+alpha / RGB / RGBA, not
    interlaced) to ``uint8 (h, w, channels)``. Raises ValueError on anything
    that is not such a PNG — callers route other formats to other decoders."""
    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(blob):
        (length,), ctype = struct.unpack(">I", blob[pos:pos + 4]), blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or color not in _CHANNELS or interlace:
        raise ValueError(f"unsupported PNG (depth={depth} color={color} interlace={interlace})")
    ch = _CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload has wrong length")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, lines = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, line = int(filters[y]), lines[y]
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub: out[i] = line[i] + out[i-ch] — per-channel cumsum
            cur = line.reshape(w, ch).cumsum(axis=0).reshape(stride) & 0xFF
        elif f == 3:  # Average: left-recurrence, sequential per pixel
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                cur[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth: left-recurrence, sequential per pixel
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                cur[i] = (line[i] + _paeth(a, int(prev[i]), c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y], prev = cur, cur
    return out.astype(np.uint8).reshape(h, w, ch)


# ---------------------------------------------------------------- PNG encode
def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Encode ``uint8 (h, w)`` or ``(h, w, {1,2,3,4})`` as a spec-compliant
    PNG (filter 0, one IDAT). Deterministic: fixed zlib level 6."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    body = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * ch)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(body, 6))
        + _chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------- WAV
def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV to (``int16 (n, channels)`` samples, sample_rate)."""
    with wave.open(io.BytesIO(blob), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError(f"only 16-bit PCM supported, got width {wf.getsampwidth()}")
        n, ch, rate = wf.getnframes(), wf.getnchannels(), wf.getframerate()
        samples = np.frombuffer(wf.readframes(n), dtype="<i2").reshape(n, ch)
    return samples, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Encode ``int16 (n,)`` or ``(n, channels)`` PCM samples as WAV."""
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


# ------------------------------------------------------------- JPEG (baseline)
# Pure-numpy baseline JPEG (ITU-T T.81): sequential DCT, Huffman coding,
# greyscale or YCbCr with any h/v subsampling, DRI/RSTn restart markers.
# Progressive (SOF2), arithmetic coding and 12-bit precision raise
# NotImplementedError — honestly scoped: baseline covers the overwhelming
# majority of web JPEGs (Common Crawl media is baseline-heavy), and the
# decoder rejects what it cannot decode instead of guessing.

#: zigzag scan order: index z -> (row, col) flattened position
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: orthonormal 8-point DCT-II basis: row k = c(k) * cos((2n+1) k pi / 16)
def _dct_basis() -> np.ndarray:
    n = np.arange(8)
    k = n[:, None]
    c = np.full(8, np.sqrt(2.0 / 8.0)); c[0] = np.sqrt(1.0 / 8.0)
    return c[:, None] * np.cos((2 * n[None, :] + 1) * k * np.pi / 16.0)

_DCT = _dct_basis()


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00
    de-stuffing; stops (returns -1 bits) at any non-stuffed marker."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.acc, self.nbits = data, pos, 0, 0

    def _fill(self) -> bool:
        d = self.data
        p = self.pos
        if p >= len(d):
            return False
        b = d[p]
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos = p + 2
            else:  # a real marker terminates the segment
                return False
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read(self, n: int) -> int:
        while self.nbits < n:
            if not self._fill():  # pad with zero bits at segment end (spec)
                self.acc <<= 8
                self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def align_to_marker(self) -> int:
        """Drop partial byte, consume an RSTn marker, return its index."""
        self.acc, self.nbits = 0, 0
        d, p = self.data, self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        self.pos = p + 2
        return d[p + 1] - 0xD0 if p + 1 < len(d) else -1


def _build_huff(counts: list[int], symbols: bytes):
    """Canonical Huffman -> (maxcode, valptr, mincode) per T.81 F.2.2.3."""
    code, k = 0, 0
    mincode, maxcode, valptr = [0] * 17, [-1] * 17, [0] * 17
    for ln in range(1, 17):
        valptr[ln] = k
        mincode[ln] = code
        code += counts[ln - 1]
        k += counts[ln - 1]
        maxcode[ln] = code - 1 if counts[ln - 1] else -1
        code <<= 1
    return mincode, maxcode, valptr, symbols


def _huff_decode(br: _BitReader, tbl) -> int:
    mincode, maxcode, valptr, symbols = tbl
    code = br.read(1)
    for ln in range(1, 17):
        if maxcode[ln] >= code >= mincode[ln]:
            return symbols[valptr[ln] + code - mincode[ln]]
        code = (code << 1) | br.read(1)
    raise ValueError("invalid JPEG: huffman code overruns 16 bits")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Baseline JPEG -> ``uint8 (h, w, 3)`` RGB (greyscale replicated).

    Raises ``NotImplementedError`` for progressive/arithmetic/12-bit
    streams and ``ValueError`` for malformed data.
    """
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], tuple] = {}
    frame = None
    dri = 0
    i = 2
    scan = None
    while i + 1 < len(blob):
        if blob[i] != 0xFF:
            i += 1
            continue
        m = blob[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        ln = struct.unpack(">H", blob[i + 2:i + 4])[0]
        seg = blob[i + 4:i + 2 + ln]
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    qt[tq] = np.frombuffer(seg[p:p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    qt[tq] = np.frombuffer(seg[p:p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1:p + 17])
                nsym = sum(counts)
                syms = seg[p + 17:p + 17 + nsym]
                huffs[(tc, th)] = _build_huff(counts, syms)
                p += 17 + nsym
        elif m == 0xC0 or m == 0xC1:  # SOF0/1: baseline & extended sequential
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} unsupported")
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"JPEG with {nc} components (CMYK/YCCK) unsupported — "
                    "only greyscale and YCbCr decode here"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/extended-sequential huffman JPEG is supported "
                f"(SOF marker FF{m:02X})"
            )
        elif m == 0xDD:  # DRI
            dri = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            if frame is not None and ns != len(frame["comps"]):
                # a scan covering a component subset means non-interleaved /
                # multi-scan layout; decoding it with full-frame MCU geometry
                # would return silently wrong pixels — refuse instead
                raise NotImplementedError(
                    f"non-interleaved/multi-scan JPEG unsupported (SOS covers "
                    f"{ns} of {len(frame['comps'])} components)"
                )
            scomps = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append({"id": cs, "dc": tt >> 4, "ac": tt & 15})
            scan = (scomps, i + 2 + ln)
            break
        i += 2 + ln
    if frame is None or scan is None:
        raise ValueError("invalid JPEG: missing SOF/SOS")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcx = -(-frame["w"] // mcu_w)
    mcy = -(-frame["h"] // mcu_h)
    scomps, pos = scan
    by_id = {c["id"]: c for c in comps}
    order = [by_id[s["id"]] | {"dc_t": s["dc"], "ac_t": s["ac"]} for s in scomps]

    # entropy decode: per component, (n_blocks, 64) zigzag coefficient rows
    coefs = {c["id"]: [] for c in comps}
    br = _BitReader(blob, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for _my in range(mcy):
        for _mx in range(mcx):
            if dri and mcu_count and mcu_count % dri == 0:
                br.align_to_marker()
                pred = {c["id"]: 0 for c in comps}
            for c in order:
                dc_tbl = huffs[(0, c["dc_t"])]
                ac_tbl = huffs[(1, c["ac_t"])]
                for _b in range(c["h"] * c["v"]):
                    blk = np.zeros(64, dtype=np.int64)
                    t = _huff_decode(br, dc_tbl)
                    diff = _extend(br.read(t), t) if t else 0
                    pred[c["id"]] += diff
                    blk[0] = pred[c["id"]]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(br, ac_tbl)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("invalid JPEG: AC index overrun")
                        blk[k] = _extend(br.read(s), s)
                        k += 1
                    coefs[c["id"]].append(blk)
            mcu_count += 1

    # dequantize + batch IDCT + assemble per-component planes
    planes = {}
    for c in comps:
        arr = np.stack(coefs[c["id"]]) * qt[c["tq"]][None, :]
        blocks = np.zeros((len(arr), 64), dtype=np.float64)
        blocks[:, _ZIGZAG] = arr
        blocks = blocks.reshape(-1, 8, 8)
        # IDCT: X = C^T @ coef @ C with the orthonormal basis
        spatial = np.einsum("ij,njk,kl->nil", _DCT.T, blocks, _DCT) + 128.0
        bw, bh = c["h"], c["v"]  # blocks per MCU, horizontal/vertical
        pw, ph = mcx * bw * 8, mcy * bh * 8
        plane = np.zeros((ph, pw), dtype=np.float64)
        bi = 0
        for my in range(mcy):
            for mx in range(mcx):
                for byy in range(bh):
                    for bxx in range(bw):
                        y0 = (my * bh + byy) * 8
                        x0 = (mx * bw + bxx) * 8
                        plane[y0:y0 + 8, x0:x0 + 8] = spatial[bi]
                        bi += 1
        # upsample to full resolution (nearest — the common fancy-less path)
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes[c["id"]] = plane[: frame["h"], : frame["w"]]

    if len(comps) == 1:
        y = np.clip(planes[comps[0]["id"]], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=2)
    y, cb, cr = (planes[c["id"]] for c in comps[:3])
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(np.uint8)


#: Annex K quantization tables (luminance, chrominance) in zigzag order
_QT_LUMA = np.array([
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
], dtype=np.int64)
_QT_CHROMA = np.array([
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: Annex K Huffman specs: (bits[16], values) for (class, id)
_HUFF_SPECS = {
    (0, 0): ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(12))),
    (0, 1): ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12))),
    (1, 0): ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125], [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]),
    (1, 1): ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119], [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]),
}


def _encode_tables():
    """symbol -> (code, length) dicts for the Annex K specs."""
    out = {}
    for key, (bits, vals) in _HUFF_SPECS.items():
        codes = {}
        code, vi = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                codes[vals[vi]] = (code, ln)
                code += 1
                vi += 1
            code <<= 1
        out[key] = codes
    return out


_ENC_TABLES = _encode_tables()


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out, self.acc, self.nbits = bytearray(), 0, 0

    def write(self, code: int, n: int) -> None:
        self.acc = (self.acc << n) | code
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill (spec convention)


def _mag_bits(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, v if v > 0 else v + (1 << t) - 1


def _encode_blocks(bw: "_BitWriter", zz: np.ndarray, pred: int, ci_dc, ci_ac) -> int:
    """Huffman-encode one zigzag block; returns the new DC predictor."""
    t, bits = _mag_bits(int(zz[0]) - pred)
    pred = int(zz[0])
    code, ln = ci_dc[t]
    bw.write(code, ln)
    if t:
        bw.write(bits, t)
    run = 0
    nz = np.flatnonzero(zz[1:])
    last = nz[-1] + 1 if len(nz) else 0
    k = 1
    while k <= last:
        v = int(zz[k])
        if v == 0:
            run += 1
            k += 1
            continue
        while run > 15:
            code, ln = ci_ac[0xF0]
            bw.write(code, ln)
            run -= 16
        t, bits = _mag_bits(v)
        code, ln = ci_ac[(run << 4) | t]
        bw.write(code, ln)
        bw.write(bits, t)
        run = 0
        k += 1
    if last < 63:
        code, ln = ci_ac[0x00]  # EOB
        bw.write(code, ln)
    return pred


def _pad_plane(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = plane.shape
    p = np.empty((ph, pw))
    p[:h, :w] = plane
    p[h:, :w] = plane[h - 1:h, :]
    p[:, w:] = p[:, w - 1:w]
    return p


def encode_jpeg(arr: np.ndarray, subsampling: str = "444") -> bytes:
    """Baseline JPEG encoder (Annex K tables): ``subsampling='444'`` (no
    chroma subsampling) or ``'420'`` (2x2 chroma subsampling — the shape
    most web/camera JPEGs use, and the coverage the decoder's MCU
    interleave + upsample path needs). Spec-compliant output any decoder
    opens; pairs with :func:`decode_jpeg` for dependency-free roundtrips."""
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling!r}")
    if arr.ndim == 2:
        arr = np.stack([arr, arr, arr], axis=2)
    h, w = arr.shape[:2]
    px = arr.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    if subsampling == "444":
        hv = [(1, 1), (1, 1), (1, 1)]
        mcu = 8
        ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
        planes = [_pad_plane(p, ph, pw) - 128.0 for p in (y, cb, cr)]
    else:  # 4:2:0 — Y at 2x2 blocks per MCU, chroma 2x2-mean downsampled
        hv = [(2, 2), (1, 1), (1, 1)]
        mcu = 16
        ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
        yp = _pad_plane(y, ph, pw)
        sub = []
        for p in (cb, cr):
            full = _pad_plane(p, ph, pw)
            sub.append(full.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)))
        planes = [yp - 128.0, sub[0] - 128.0, sub[1] - 128.0]

    qts = (_QT_LUMA, _QT_CHROMA, _QT_CHROMA)
    tbls = ((0, 0), (1, 1), (1, 1))  # (dc id, ac id) per component
    qdeq, grid_w = [], []
    for ci, plane in enumerate(planes):
        cph, cpw = plane.shape
        blocks = plane.reshape(cph // 8, 8, cpw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        co = np.einsum("ij,njk,kl->nil", _DCT, blocks, _DCT.T).reshape(-1, 64)
        qdeq.append(np.round(co[:, _ZIGZAG] / qts[ci][None, :]).astype(np.int64))
        grid_w.append(cpw // 8)
    dc_codes = [_ENC_TABLES[(0, t[0])] for t in tbls]
    ac_codes = [_ENC_TABLES[(1, t[1])] for t in tbls]

    bw = _BitWriter()
    pred = [0, 0, 0]
    for my in range(ph // mcu):
        for mx in range(pw // mcu):
            for ci in range(3):
                chh, cvv = hv[ci]
                for by in range(cvv):
                    for bx in range(chh):
                        bi = (my * cvv + by) * grid_w[ci] + (mx * chh + bx)
                        pred[ci] = _encode_blocks(
                            bw, qdeq[ci][bi], pred[ci], dc_codes[ci], ac_codes[ci]
                        )
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(_QT_LUMA.tolist()))
    out += seg(0xDB, bytes([1]) + bytes(_QT_CHROMA.tolist()))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    for ci, (cid, tq) in enumerate(((1, 0), (2, 1), (3, 1))):
        sof += bytes([cid, (hv[ci][0] << 4) | hv[ci][1], tq])
    out += seg(0xC0, sof)
    for (tc, th), (bits, vals) in _HUFF_SPECS.items():
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    sos = bytes([3])
    for cid, (dc, ac) in ((1, (0, 0)), (2, (1, 1)), (3, (1, 1))):
        sos += bytes([cid, (dc << 4) | ac])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def jpeg_feature_decoder(feature_dim: int = 8):
    """``bytes -> np.ndarray(feature_dim,)`` over REAL decoded JPEG pixels."""
    return lambda blob: image_features(decode_jpeg(blob), feature_dim)


def jpeg_resizer(blob: bytes, width: int, height: int) -> bytes:
    """Real JPEG resize: decode -> nearest resample -> re-encode (4:4:4)."""
    return encode_jpeg(resize_nearest(decode_jpeg(blob), width, height))


# ---------------------------------------------------------------- transforms
def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of ``(h, w, ch)`` to ``(height, width, ch)``
    — pure integer index math, the standard pixel-center mapping."""
    h, w = arr.shape[:2]
    ys = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return arr[ys[:, None], xs[None, :]]


def image_features(arr: np.ndarray, feature_dim: int = 8) -> np.ndarray:
    """Real per-image features from decoded pixels: dims + intensity moments
    + extremes + edge energy, padded/truncated to ``feature_dim``."""
    px = arr.astype(np.float64)
    flat = px.reshape(-1)
    gx = np.abs(np.diff(px.mean(axis=2), axis=1)).mean() if px.shape[1] > 1 else 0.0
    feats = np.array(
        [
            float(arr.shape[0]),
            float(arr.shape[1]),
            float(arr.shape[2]),
            float(flat.mean()),
            float(flat.std()),
            float(flat.min()),
            float(flat.max()),
            float(gx),
        ]
    )
    return _fit(feats, feature_dim)


def audio_features(samples: np.ndarray, rate: int, feature_dim: int = 8) -> np.ndarray:
    """Real per-clip features from decoded PCM: duration, RMS, zero-crossing
    rate, and low/mid/high band energies from an rfft."""
    mono = samples.astype(np.float64).mean(axis=1) if samples.ndim == 2 else samples.astype(np.float64)
    n = len(mono)
    rms = float(np.sqrt(np.mean(mono**2))) if n else 0.0
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(mono)) if n else np.zeros(1)
    thirds = max(1, len(spec) // 3)
    bands = [float(spec[i * thirds:(i + 1) * thirds].sum()) for i in range(3)]
    feats = np.array([float(n), float(rate), n / rate if rate else 0.0, rms, zcr, *bands])
    return _fit(feats, feature_dim)


def _fit(feats: np.ndarray, feature_dim: int) -> np.ndarray:
    if len(feats) >= feature_dim:
        return feats[:feature_dim]
    return np.concatenate([feats, np.zeros(feature_dim - len(feats))])


# -------------------------------------------------- decoder selection (hook)
def png_feature_decoder(feature_dim: int = 8):
    """``bytes -> np.ndarray(feature_dim,)`` over REAL decoded PNG pixels —
    plugs straight into ``multimodal.decode_and_featurize(decoder=...)``."""
    return lambda blob: image_features(decode_png(blob), feature_dim)


def wav_feature_decoder(feature_dim: int = 8):
    """``bytes -> np.ndarray(feature_dim,)`` over REAL decoded PCM samples."""
    return lambda blob: audio_features(*decode_wav(blob), feature_dim=feature_dim)


def png_resizer(blob: bytes, width: int, height: int) -> bytes:
    """``(bytes, w, h) -> bytes`` real PNG resize: decode -> nearest-neighbor
    resample -> re-encode. Plugs into ``multimodal.resize_images(resizer=...)``."""
    return encode_png(resize_nearest(decode_png(blob), width, height))


def best_image_decoder(feature_dim: int = 8):
    """Import-guarded decoder choice: PIL when installed (any format it
    reads), else the dependency-free magic dispatch (PNG + baseline JPEG).
    Returns (decoder, impl_name)."""
    try:  # pragma: no cover - PIL absent in this container
        from PIL import Image

        def pil_decode(blob: bytes) -> np.ndarray:
            arr = np.asarray(Image.open(io.BytesIO(blob)).convert("RGB"))
            return image_features(arr, feature_dim)

        return pil_decode, "pillow"
    except ImportError:
        def magic_decode(blob: bytes) -> np.ndarray:
            if blob[:3] == b"\xff\xd8\xff":
                return image_features(decode_jpeg(blob), feature_dim)
            return image_features(decode_png(blob), feature_dim)

        return magic_decode, "stdlib-png-jpeg"


# ---------------------------------------------------------------- GIF
# GIF87a/89a decoder (pure numpy + the public GIF spec, round 5): LZW
# decompression with variable-width codes, global/local color tables,
# interlace reordering, frame composition over the logical screen with
# transparency + disposal methods 0-3. The encoder writes spec-compliant
# GIF89a using the classic clear-code-per-symbol LZW form (table never
# grows, so no compression — fixtures, not bandwidth). Invalid streams
# raise; nothing is guessed.

def _gif_lzw(data: bytes, min_code_size: int, npix: int) -> bytes:
    """LZW-decode a GIF image data stream (sub-blocks already concatenated)
    to exactly ``npix`` palette indices; raises on malformed streams."""
    clear = 1 << min_code_size
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while len(out) < npix:
        while nbits < code_size and pos < len(data):
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        if nbits < code_size:
            raise ValueError("invalid GIF: LZW stream ended early")
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("invalid GIF: first LZW code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("invalid GIF: LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    if len(out) < npix:
        raise ValueError("invalid GIF: LZW pixel data truncated")
    return bytes(out[:npix])


def _gif_need(blob: bytes, end: int, what: str) -> None:
    if end > len(blob):
        raise ValueError(f"invalid GIF: truncated {what}")


def _gif_sub_blocks(blob: bytes, pos: int) -> tuple[list[bytes], int]:
    """Sub-block chain at ``pos`` -> (blocks, position past the terminator)."""
    blocks = []
    while True:
        _gif_need(blob, pos + 1, "sub-block")
        sz = blob[pos]
        if not sz:
            return blocks, pos + 1
        _gif_need(blob, pos + 1 + sz, "sub-block")
        blocks.append(blob[pos + 1 : pos + 1 + sz])
        pos += 1 + sz


def decode_gif(blob: bytes) -> list[np.ndarray]:
    """Decode every frame of a GIF87a/89a to ``uint8 (h, w, 3)`` canvases
    (each frame composited over the logical screen, honoring transparency
    and disposal 0-3)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (missing GIF87a/GIF89a signature)")
    _gif_need(blob, 13, "logical screen descriptor")
    w, h = struct.unpack("<HH", blob[6:10])
    flags, bg = blob[10], blob[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 7) + 1)
        _gif_need(blob, pos + 3 * n, "color table")
        gct = np.frombuffer(blob[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((h, w, 3), np.uint8)
    if gct is not None:
        canvas[:] = gct[min(bg, len(gct) - 1)]
    frames: list[np.ndarray] = []
    transparent: int | None = None
    disposal = 0
    prev_canvas: np.ndarray | None = None
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            _gif_need(blob, pos + 2, "extension")
            label = blob[pos + 1]
            blocks, pos = _gif_sub_blocks(blob, pos + 2)
            if label == 0xF9 and blocks:  # graphic control extension
                gflags = blocks[0][0]
                disposal = (gflags >> 2) & 7
                transparent = blocks[0][3] if gflags & 1 else None
        elif b0 == 0x2C:  # image descriptor
            _gif_need(blob, pos + 10, "image descriptor")
            x, y, iw, ih = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            if x + iw > w or y + ih > h:
                raise ValueError(
                    f"invalid GIF: frame rectangle {iw}x{ih}+{x}+{y} extends "
                    f"past the {w}x{h} logical screen"
                )
            iflags = blob[pos + 9]
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 ** ((iflags & 7) + 1)
                _gif_need(blob, pos + 3 * n, "color table")
                ct = np.frombuffer(blob[pos : pos + 3 * n], np.uint8).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("invalid GIF: image with no color table")
            _gif_need(blob, pos + 1, "image data")
            min_code = blob[pos]
            blocks, pos = _gif_sub_blocks(blob, pos + 1)
            idx = np.frombuffer(_gif_lzw(b"".join(blocks), min_code, iw * ih), np.uint8)
            if int(idx.max(initial=0)) >= len(ct):
                raise ValueError("invalid GIF: palette index out of range")
            grid = idx.reshape(ih, iw)
            if iflags & 0x40:  # interlaced: pass order 8/0, 8/4, 4/2, 2/1
                order = np.concatenate(
                    [
                        np.arange(0, ih, 8),
                        np.arange(4, ih, 8),
                        np.arange(2, ih, 4),
                        np.arange(1, ih, 2),
                    ]
                )
                de = np.empty_like(grid)
                de[order] = grid
                grid = de
            if disposal == 3:
                prev_canvas = canvas.copy()
            region = canvas[y : y + ih, x : x + iw]
            rgb = ct[grid]
            if transparent is not None:
                mask = grid != transparent
                region[mask] = rgb[mask]
            else:
                region[:] = rgb
            frames.append(canvas.copy())
            if disposal == 2:  # restore to background
                canvas[y : y + ih, x : x + iw] = (
                    gct[min(bg, len(gct) - 1)] if gct is not None else 0
                )
            elif disposal == 3 and prev_canvas is not None:
                canvas = prev_canvas
            transparent, disposal = None, 0
        else:
            raise ValueError(f"invalid GIF block 0x{b0:02x}")
    if not frames:
        raise ValueError("invalid GIF: no image frames")
    return frames


def encode_gif(index_frames: list[np.ndarray], palette: np.ndarray) -> bytes:
    """Encode palette-index frames (``uint8 (h, w)``, all same shape) over a
    shared palette (``uint8 (n, 3)``) as an animated GIF89a. LZW uses the
    clear-before-every-symbol form (valid, uncompressed) — a fixture writer
    that external viewers open, not a bandwidth codec."""
    if not index_frames:
        raise ValueError("encode_gif needs at least one frame")
    h, w = index_frames[0].shape
    n = len(palette)
    if not 1 <= n <= 256:
        raise ValueError(f"GIF palette must have 1-256 entries, got {n}")
    bits = max(2, int(n - 1).bit_length())
    size = 1 << bits
    pal = np.zeros((size, 3), np.uint8)
    pal[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT flag+size, bg=0, aspect=0
    out += pal.tobytes()
    clear, end = 1 << bits, (1 << bits) + 1
    code_size = bits + 1
    for frame in index_frames:
        if frame.shape != (h, w):
            raise ValueError("all frames must share the logical screen size")
        if int(frame.max(initial=0)) >= n:
            raise ValueError("frame index outside the palette")
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([bits])
        codes: list[int] = []
        for v in frame.reshape(-1).tolist():
            codes.append(clear)
            codes.append(int(v))
        codes.append(end)
        acc = nbits = 0
        packed = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += code_size
            while nbits >= 8:
                packed.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            packed.append(acc & 0xFF)
        for i in range(0, len(packed), 255):
            chunk = packed[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------- AVI (MJPEG)
def extract_avi_mjpeg_frames(blob: bytes) -> list[bytes]:
    """Walk a RIFF-AVI container and return its MJPEG frame payloads (the
    ``NNdc``/``NNdb`` chunks whose bodies start with the JPEG SOI marker) —
    each returned element is a standalone baseline JPEG :func:`decode_jpeg`
    decodes. Raises on non-AVI input or an AVI with no MJPEG frames (e.g.
    other codecs) — nothing is guessed."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/AVI signature missing)")
    frames: list[bytes] = []

    def walk(pos: int, limit: int) -> None:
        while pos + 8 <= limit:
            cid = blob[pos : pos + 4]
            sz = struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
            body, bend = pos + 8, pos + 8 + sz
            if bend > len(blob):
                raise ValueError("invalid AVI: chunk overruns the container")
            if cid == b"LIST":
                walk(body + 4, bend)
            elif cid[2:4] in (b"dc", b"db") and blob[body : body + 2] == b"\xff\xd8":
                frames.append(bytes(blob[body:bend]))
            pos = bend + (sz & 1)

    walk(12, len(blob))
    if not frames:
        raise ValueError("AVI contains no MJPEG frames (unsupported codec)")
    return frames


def mjpeg_avi_bytes(jpeg_frames: list[bytes], width: int, height: int, fps: int = 10) -> bytes:
    """Write a minimal, structurally valid MJPEG AVI (RIFF + hdrl/avih +
    strl/strh/strf + movi of ``00dc`` chunks) around pre-encoded JPEG
    frames — the fixture-side sibling of :func:`extract_avi_mjpeg_frames`."""
    if not jpeg_frames:
        raise ValueError("mjpeg_avi_bytes needs at least one frame")

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    n = len(jpeg_frames)
    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    strh = b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIIhhhh", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0, 0, 0, width, height)
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)

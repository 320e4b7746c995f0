"""Image encoders for the generated inputs, written from the format
specifications and independent of the program under test.

- PNG: 8-bit gray / RGB, filter 0 scanlines, one zlib IDAT (ISO 15948).
- QNT: the program's documented lossy container: ``QNT1`` magic,
  ``<HHBB`` width, height, bands, bits, then zlib over the pixels shifted
  right by ``8 - bits``; it decodes to bin centres.
- GIF: GIF89a with a 256-entry gray global colour table, variable-width
  LSB-first LZW (GIF89a spec, appendix F); 1-band images only.
- JPEG: baseline sequential DCT (ITU-T T.81), IJG quality scaling of the
  Annex K quantisation tables, the Annex K Huffman tables, one component
  (gray) or three interleaved YCbCr components at 4:4:4.

The encoded bytes are pinned by ``pins.json``, so a change in the program's
own codecs cannot change what the benchmark measures.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

QNT_BITS = 6
JPEG_QUALITY = 92


# --------------------------------------------------------------------- PNG
def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", zlib.crc32(tag + payload))


def png(img: np.ndarray) -> bytes:
    h, w, bands = img.shape
    rows = np.concatenate([np.zeros((h, 1), np.uint8), img.reshape(h, w * bands)], axis=1)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2}[bands], 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(rows.tobytes(), 6)) + _png_chunk(b"IEND", b""))


# --------------------------------------------------------------------- QNT
def qnt(img: np.ndarray) -> bytes:
    h, w, bands = img.shape
    q = (img >> (8 - QNT_BITS)).astype(np.uint8)
    return b"QNT1" + struct.pack("<HHBB", w, h, bands, QNT_BITS) + zlib.compress(q.tobytes(), 6)


def qnt_pixels(img: np.ndarray) -> np.ndarray:
    """What a QNT stream of `img` decodes to, by the format's definition."""
    shift = 8 - QNT_BITS
    return (((img >> shift).astype(np.uint16) << shift) + (1 << (shift - 1))).astype(np.uint8)


# --------------------------------------------------------------------- GIF
def _lzw(indices: np.ndarray, min_code: int = 8) -> bytes:
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    acc = nacc = 0
    out = bytearray()
    width = min_code + 1
    table: dict = {}
    nxt = eoi + 1

    def put(code):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    put(clear)
    seq = indices.tolist()
    prefix = seq[0]
    for k in seq[1:]:
        code = table.get((prefix, k))
        if code is not None:
            prefix = code
            continue
        put(prefix)
        if nxt < 4096:
            table[(prefix, k)] = nxt
            nxt += 1
            if nxt > (1 << width) and width < 12:
                width += 1
        else:
            put(clear)
            table, nxt, width = {}, eoi + 1, min_code + 1
        prefix = k
    put(prefix)
    put(eoi)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def gif(img: np.ndarray) -> bytes:
    h, w, bands = img.shape
    if bands != 1:
        raise ValueError("the gray-palette GIF encoder takes 1-band images")
    palette = np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()
    data = _lzw(img.reshape(-1))
    blocks = b"".join(bytes([len(data[i:i + 255])]) + data[i:i + 255] for i in range(0, len(data), 255))
    return (b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0) + palette
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08" + blocks + b"\x00\x3b")


# -------------------------------------------------------------------- JPEG
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], bytes.fromhex(
    "01020300041105122131410613516107227114328191a1082342b1c11552d1f02433627282090a161718191a25262728292a"
    "3435363738393a434445464748494a535455565758595a636465666768696a737475767778797a838485868788898a929394"
    "95969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8"
    "e9eaf1f2f3f4f5f6f7f8f9fa"))
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], bytes.fromhex(
    "000102031104052131061241510761711322328108144291a1b1c109233352f0156272d10a162434e125f11718191a2627"
    "28292a35363738393a434445464748494a535455565758595a636465666768696a737475767778797a82838485868788898a"
    "92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae2e3e4e5e6"
    "e7e8e9eaf2f3f4f5f6f7f8f9fa"))


def _zigzag() -> np.ndarray:
    """Scan position -> row-major index, by walking the anti-diagonals."""
    return np.array(sorted(range(64), key=lambda k: (k // 8 + k % 8, (k // 8) if (k // 8 + k % 8) % 2 else -(k // 8))))


_ZZ = _zigzag()
_K = np.arange(8)
_C8 = np.sqrt(2 / 8) * np.cos(np.pi * (2 * _K[None, :] + 1) * _K[:, None] / 16)
_C8[0] /= np.sqrt(2)


def _qtable(base: np.ndarray, quality: int) -> np.ndarray:
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)  # row-major


def _huffman_codes(spec) -> dict:
    bits, vals = spec
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_TABLES = [(_huffman_codes(_DC_LUMA), _huffman_codes(_AC_LUMA)),
           (_huffman_codes(_DC_CHROMA), _huffman_codes(_AC_CHROMA))]


class _Bits:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int):
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)
        return bytes(self.out)


def _magnitude(v: int):
    size = abs(v).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _blocks(plane: np.ndarray) -> np.ndarray:
    """Edge-padded 8x8 blocks in raster order, level-shifted and DCT'd,
    as (n_blocks, 64) row-major coefficients."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge") - 128.0
    b = p.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return (_C8 @ b @ _C8.T).reshape(-1, 64)


def _jpeg_coefs(img: np.ndarray, quality: int):
    """Quantised coefficients per component, (n_blocks, 64) row-major,
    with the quantisation tables and each component's table index."""
    f = img.astype(np.float64)
    if img.shape[2] == 3:
        r, g, b = f[..., 0], f[..., 1], f[..., 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    else:
        planes = [f[..., 0]]
    qts = [_qtable(_Q_LUMA, quality), _qtable(_Q_CHROMA, quality)]
    tsel = [0, 1, 1][:len(planes)]
    return [np.rint(_blocks(p) / qts[t]).astype(np.int64) for p, t in zip(planes, tsel)], qts, tsel


def jpeg_pixels(img: np.ndarray, quality: int = JPEG_QUALITY) -> np.ndarray:
    """What a T.81 decoder with an exact float IDCT and the JFIF YCbCr ->
    RGB transform makes of ``jpeg(img)``. Decoders may differ from it by
    rounding; ``ref.py`` allows for that."""
    h, w, bands = img.shape
    coefs, qts, tsel = _jpeg_coefs(img, quality)
    bh, bw = -(-h // 8), -(-w // 8)
    planes = []
    for q, t in zip(coefs, tsel):
        blocks = _C8.T @ (q * qts[t]).reshape(-1, 8, 8).astype(np.float64) @ _C8 + 128.0
        planes.append(blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)[:h, :w])
    if bands == 3:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        planes = [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb]
    return np.clip(np.rint(np.stack(planes, axis=-1)), 0, 255).astype(np.uint8)


def jpeg(img: np.ndarray, quality: int = JPEG_QUALITY) -> bytes:
    h, w, _ = img.shape
    coefs, qts, tsel = _jpeg_coefs(img, quality)
    coefs = [c[:, _ZZ] for c in coefs]
    bits, pred = _Bits(), [0] * len(coefs)
    for blk in range(len(coefs[0])):
        for c, t in enumerate(tsel):
            dc_codes, ac_codes = _TABLES[t]
            zz = coefs[c][blk].tolist()
            size, mag = _magnitude(zz[0] - pred[c])
            pred[c] = zz[0]
            bits.put(*dc_codes[size])
            if size:
                bits.put(mag, size)
            run = 0
            for v in zz[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    bits.put(*ac_codes[0xF0])
                    run -= 16
                size, mag = _magnitude(v)
                bits.put(*ac_codes[(run << 4) | size])
                bits.put(mag, size)
                run = 0
            if run:
                bits.put(*ac_codes[0x00])

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = b"".join(bytes([t]) + bytes(qts[t][_ZZ].astype(np.uint8)) for t in sorted(set(tsel)))
    dht = b""
    for t in sorted(set(tsel)):
        for cls, spec in ((0, (_DC_LUMA, _DC_CHROMA)[t]), (1, (_AC_LUMA, _AC_CHROMA)[t])):
            dht += bytes([(cls << 4) | t]) + bytes(spec[0]) + bytes(spec[1])
    n = len(coefs)
    sof = struct.pack(">BHHB", 8, h, w, n) + b"".join(bytes([c + 1, 0x11, t]) for c, t in enumerate(tsel))
    sos = bytes([n]) + b"".join(bytes([c + 1, (t << 4) | t]) for c, t in enumerate(tsel)) + b"\x00\x3f\x00"
    return (b"\xff\xd8" + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00") + seg(0xFFDB, dqt)
            + seg(0xFFC0, sof) + seg(0xFFC4, dht) + seg(0xFFDA, sos) + bits.flush() + b"\xff\xd9")


ENCODERS = {"png": png, "qnt": qnt, "gif": gif, "jpeg": jpeg}

"""Result references, computed outside the engine from the generated inputs.

None of these calls ``geom.core`` or an operator: point-in-polygon is a
numpy even-odd ray cast, XYZ tiles / quadkeys / S2 ids are the published
closed-form formulas, and image near-duplicate pairs come from a DuckDB
``bit_count(xor)`` self-join over pHashes computed here, in numpy, from the
generator's pixels. A reference is computed
once per seed and cached beside the inputs (``ref.json``).

The checksums here and the Spark aggregates in ``workloads.py`` are the
same integer sums.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np

import gen

MOD = 1_000_003  # checksum modulus for 64-bit ids
MAX_HAMMING = 10
TILE_Z, S2_LEVEL = 12, 12  # assign_tiles defaults
WEBMERC_LAT_MAX = 85.05112878


# ------------------------------------------------------------- geometry
def wkb_parts(buf: bytes) -> list[list[np.ndarray]]:
    """Polygon / MultiPolygon WKB (little-endian) -> parts -> rings."""

    def polygon(off):
        (n_rings,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(n_rings):
            (n,) = struct.unpack_from("<I", buf, off)
            off += 4
            rings.append(np.frombuffer(buf, "<f8", 2 * n, off).reshape(n, 2).astype(np.float64))
            off += 16 * n
        return rings, off

    order, kind = struct.unpack_from("<BI", buf, 0)
    if order != 1 or kind & 0xFF not in (3, 6):
        raise ValueError("unsupported WKB")
    if kind & 0xFF == 3:
        return [polygon(5)[0]]
    (n_parts,) = struct.unpack_from("<I", buf, 5)
    off, parts = 9, []
    for _ in range(n_parts):
        rings, off = polygon(off + 5)
        parts.append(rings)
    return parts


def inside(px: np.ndarray, py: np.ndarray, parts) -> np.ndarray:
    """Even-odd crossing count per part (holes flip parity), OR over parts."""
    out = np.zeros(len(px), bool)
    for rings in parts:
        odd = np.zeros(len(px), bool)
        for ring in rings:
            x0, y0, x1, y1 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
            for e in range(len(x0)):
                spans = (y0[e] > py) != (y1[e] > py)
                if not spans.any():
                    continue
                xs = x0[e] + (py[spans] - y0[e]) * (x1[e] - x0[e]) / (y1[e] - y0[e])
                hit = np.zeros(len(px), bool)
                hit[spans] = px[spans] < xs
                odd ^= hit
        out |= odd
    return out


def pip_pairs(lon, lat, poly_ids, wkbs):
    """(point index, poly id) for every point inside every polygon."""
    pi, pp = [], []
    for pid, buf in zip(poly_ids, wkbs):
        parts = wkb_parts(bytes(buf))
        allv = np.concatenate([r for rings in parts for r in rings])
        box = (lon >= allv[:, 0].min()) & (lon <= allv[:, 0].max()) & (lat >= allv[:, 1].min()) & (lat <= allv[:, 1].max())
        cand = np.nonzero(box)[0]
        hit = cand[inside(lon[cand], lat[cand], parts)]
        pi.append(hit)
        pp.append(np.full(len(hit), pid, dtype=object))
    return np.concatenate(pi), np.concatenate(pp)


# ---------------------------------------------------------------- tiles
def tile_xy(lon, lat, z=TILE_Z):
    n = 1 << z
    rad = np.radians(np.clip(lat, -WEBMERC_LAT_MAX, WEBMERC_LAT_MAX))
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((1.0 - np.arcsinh(np.tan(rad)) / np.pi) / 2.0 * n), 0, n - 1).astype(np.int64)
    return x, y


def quadkey_int(x, y, z=TILE_Z):
    """The quadkey read as a base-4 number: digit k is 2*bit(y) + bit(x)."""
    q = np.zeros(len(x), np.int64)
    for i in range(z - 1, -1, -1):
        q = q * 4 + ((y >> i) & 1) * 2 + ((x >> i) & 1)
    return q


_POS_TO_IJ = [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]]
_IJ_TO_POS = np.array([[row.index(ij) for ij in range(4)] for row in _POS_TO_IJ], np.int64)
_POS_TO_ORIENT = np.array([1, 0, 0, 3], np.int64)


def s2_cell(lat, lon, level=S2_LEVEL):
    """S2 cell id (int64 view): cube face, quadratic st, then the Hilbert
    position one level at a time from the published traversal tables."""
    la, lo = np.radians(lat), np.radians(lon)
    x, y, z = np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(axis, [x, y, z])
    face = np.where(major < 0, axis + 3, axis).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        uv = [(y / x, z / x), (-x / y, z / y), (-x / z, -y / z),
              (z / x, y / x), (z / y, -x / y), (-y / z, -x / z)]
    u = np.choose(face, [p[0] for p in uv])
    v = np.choose(face, [p[1] for p in uv])

    def ij(w):
        with np.errstate(invalid="ignore"):
            s = np.where(w >= 0, 0.5 * np.sqrt(1.0 + 3.0 * w), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * w))
        return np.clip(np.floor(s * (1 << 30)), 0, (1 << 30) - 1).astype(np.int64)

    i, j = ij(u), ij(v)
    orient = face & 1
    pos = np.zeros(len(face), np.uint64)
    for k in range(level):
        b = 29 - k
        p = _IJ_TO_POS[orient, ((i >> b) & 1) * 2 + ((j >> b) & 1)]
        pos = (pos << np.uint64(2)) | p.astype(np.uint64)
        orient = orient ^ _POS_TO_ORIENT[p]
    shift = np.uint64(61 - 2 * level)
    cid = (face.astype(np.uint64) << np.uint64(61)) | (pos << shift) | (np.uint64(1) << (shift - np.uint64(1)))
    return cid.view(np.int64)


# ---------------------------------------------------------------- per workload
def _pip_tile(t) -> dict:
    """Sums over the joined rows, as workloads.PipTile aggregates them
    (pip_join drops the grid cell column)."""
    p, a = t["points"], t["aoi"]
    idx, pid = pip_pairs(p["lon"], p["lat"], a["poly_id"], a["wkb"])
    lon, lat, ids = p["lon"][idx], p["lat"][idx], p["point_id"][idx]
    tx, ty = tile_xy(lon, lat)
    return {
        "n": len(idx),
        "point_id": int(ids.sum()),
        "point_x_poly": int((ids * pid.astype(np.int64)).sum()),
        "tile_x": int(tx.sum()),
        "tile_y": int(ty.sum()),
        "quadkey": int(quadkey_int(tx, ty).sum()),
        "s2": int(np.mod(s2_cell(lat, lon), MOD).sum()),
    }


# ---------------------------------------------------------------- images
_K32 = np.arange(32)
_C32 = np.sqrt(2 / 32) * np.cos(np.pi * (2 * _K32[None, :] + 1) * _K32[:, None] / 64)
_C32[0] /= np.sqrt(2)
JPEG_SLACK = 2  # hash bits a jpeg decoder's IDCT rounding may flip


def phash64(img: np.ndarray) -> tuple[int, int]:
    """Classic 64-bit pHash (band mean; 32x32 by block mean when both sides
    divide by 32, else by the sample at floor(k * side / 32); orthonormal
    DCT-II; the top-left 8x8 minus DC against its median, first coefficient
    in the top bit; 63 bits, so it is a non-negative int64), and the number
    of bits that a float reordering could flip: coefficients within 1e-9 of
    the median."""
    g = img.astype(np.float64).mean(axis=2)
    h, w = g.shape
    if h % 32 == 0 and w % 32 == 0:
        small = g.reshape(32, h // 32, 32, w // 32).mean(axis=(1, 3))
    else:
        small = g[np.ix_(_K32 * h // 32, _K32 * w // 32)]
    block = (_C32 @ small @ _C32.T)[:8, :8].ravel()[1:]
    med = np.median(block)
    val = int("".join("1" if b else "0" for b in block > med), 2)
    near = int((np.abs(block - med) <= 1e-9 * max(1.0, np.abs(block).max())).sum())
    return val, near if near > 1 else 0


def decoded_pixels(img: np.ndarray, fmt: str) -> np.ndarray:
    """The pixels a decoder of `fmt` returns for the benchmark's encoding of
    `img`: exact for png and gif, by definition for qnt, and for jpeg the
    exact-IDCT reconstruction."""
    import imgenc

    if fmt == "qnt":
        return imgenc.qnt_pixels(img)
    if fmt == "jpeg":
        return imgenc.jpeg_pixels(img)
    return img


def _image_dedup(seed: int, t, extra) -> dict:
    """Hashes from the generator's pixels, then a DuckDB bit_count(xor)
    self-join. Each pair carries its slack: the bits either hash may differ
    by in a correct program (JPEG_SLACK per jpeg image, plus near-median
    coefficients). Pairs are kept up to MAX_HAMMING plus their slack."""
    import duckdb

    im = t["images"]
    rows = []
    for i, (image_id, fmt) in enumerate(zip(im["image_id"].tolist(), im["fmt"].tolist())):
        img, gen_fmt = gen.image_pixels(seed, i)
        if gen_fmt != fmt:
            raise RuntimeError(f"{image_id}: table says {fmt}, generator says {gen_fmt}")
        h, near = phash64(decoded_pixels(img, fmt))
        rows.append((image_id, h, near + (JPEG_SLACK if fmt == "jpeg" else 0)))
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE img(image_id VARCHAR, phash BIGINT, slack INTEGER)")
        con.executemany("INSERT INTO img VALUES (?, ?, ?)", rows)
        pairs = con.execute(
            "SELECT a.image_id, b.image_id, bit_count(xor(a.phash, b.phash)) AS h, a.slack + b.slack "
            "FROM img a JOIN img b ON a.image_id < b.image_id "
            f"WHERE bit_count(xor(a.phash, b.phash)) <= {MAX_HAMMING} + a.slack + b.slack ORDER BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    return {"pairs": [list(r) for r in pairs], "planted": extra["planted"]}


def ensure(workload: str, seed_dir: str, manifest: dict) -> dict:
    path = os.path.join(seed_dir, "ref.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    t = gen.read_tables(seed_dir, manifest)
    ref = _pip_tile(t) if workload == "pip_tile" else _image_dedup(manifest["seed"], t, manifest["extra"])
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref

"""Seeded input generator for the benchmark workloads.

Every input is a function of (workload, seed) only. Generated tables are
written as parquet under ``perfbench/.cache/v<GEN_VERSION>/<workload>/<sizes>-seed-<n>/``
with a manifest holding a content digest (sha256 over the canonical column
bytes). ``ensure`` reuses a cached seed only after re-reading the files and
matching the digest, and ``check_pin`` compares the pin seed's digest with
``pins.json`` (generating the pin seed first in a fresh checkout), so a change
in what is generated cannot pass silently.

Run ``python3 perfbench/gen.py --write-pins`` after a deliberate change to a
generator, and commit the new ``pins.json`` with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import sys
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
PINS = os.path.join(HERE, "pins.json")
PIN_SEED = 1
GEN_VERSION = 3
KEEP_SEEDS = 4  # cached seeds per workload, the pin seed included

# Input sizes per workload (rows of the main input table).
SIZES = {
    "pip_tile": {"points": 3_000_000, "polys": 40, "files": 8},
    "image_dedup": {"images": 320, "files": 4},
}
WORKLOADS = tuple(SIZES)

# planted near-duplicates: row i (i % DUP_EVERY == 1) re-encodes row i - 1
DUP_EVERY = 8
IMAGE_FMTS = ("png", "qnt", "jpeg", "gif")
# formats cycle by row so every seed has the same codec mix
IMAGE_SIDES = (32, 40, 48)  # pixels
DEDUP_FMT_CYCLE = ("png", "qnt", "jpeg", "png", "gif", "qnt", "png", "jpeg", "qnt", "gif")


# ------------------------------------------------------------------ digests
def content_digest(tables: dict) -> str:
    """sha256 over every column of every table, in name order. Numeric
    columns hash their little-endian bytes; string/binary columns hash a
    length prefix plus the raw bytes of each value."""
    h = hashlib.sha256()
    for tname in sorted(tables):
        cols = tables[tname]
        h.update(tname.encode())
        for cname in sorted(cols):
            arr = cols[cname]
            h.update(cname.encode())
            if isinstance(arr, np.ndarray) and arr.dtype != object:
                h.update(np.ascontiguousarray(arr).astype(arr.dtype.newbyteorder("<")).tobytes())
            else:
                for v in arr:
                    b = v.encode() if isinstance(v, str) else bytes(v)
                    h.update(struct.pack("<I", len(b)))
                    h.update(b)
    return h.hexdigest()


# ------------------------------------------------------------------- points
def _points(rng: np.random.Generator, n: int, hot_share: float, hot_sigma: float,
            n_hot: int, lat_max: float, centers: np.ndarray | None = None):
    """Mostly uniform lon/lat with a seeded hot-spot share around `centers`
    (drawn here when not given); returns the hot-spot centres too."""
    n_h = int(round(n * hot_share))
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-lat_max, lat_max, n)
    if centers is None:
        centers = np.stack([rng.uniform(-150, 150, n_hot), rng.uniform(-45, 45, n_hot)], axis=1)
    n_hot = len(centers)
    which = rng.integers(0, n_hot, n_h)
    idx = rng.permutation(n)[:n_h]
    lon[idx] = np.clip(centers[which, 0] + rng.normal(0, hot_sigma, n_h), -179.999, 179.999)
    lat[idx] = np.clip(centers[which, 1] + rng.normal(0, hot_sigma, n_h), -lat_max, lat_max)
    return lon, lat, centers


def _wkb_polygon(rings) -> bytes:
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def _wkb_multipolygon(parts) -> bytes:
    return struct.pack("<BII", 1, 6, len(parts)) + b"".join(_wkb_polygon(p) for p in parts)


def _star(rng, cx, cy, r_out, m):
    ang = np.linspace(0, 2 * np.pi, 2 * m, endpoint=False) + rng.uniform(0, np.pi)
    r = np.where(np.arange(2 * m) % 2 == 0, r_out, r_out * rng.uniform(0.3, 0.6))
    return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)


def _convex(rng, cx, cy, r_max, m):
    ang = np.sort(rng.uniform(0, 2 * np.pi, m))
    r = rng.uniform(0.4 * r_max, r_max, m)
    return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)


AOI_GRID = (10, 4)  # lon x lat cells of the AOI layout, at most one polygon per cell
AOI_EXTENT = (170.0, 60.0)  # the layout covers lon +-170, lat +-60


def _aoi_size(k: int) -> float:
    """Radius in degrees of AOI slot k: 2-12, evenly spread over the slots."""
    return 2.0 + 10.0 * ((0.5 + k * 0.6180339887) % 1.0)


def aoi_centers(rng: np.random.Generator, n: int) -> np.ndarray:
    """Centres of n AOI polygons, one per grid cell in seeded order, each
    jittered only as far as keeps its polygon inside its cell, so polygons
    (and the hot spots on the first ones) do not overlap."""
    cols, rows = AOI_GRID
    assert n <= cols * rows
    cw, ch = 2 * AOI_EXTENT[0] / cols, 2 * AOI_EXTENT[1] / rows
    out = np.empty((n, 2))
    for k, cell in enumerate(rng.permutation(cols * rows)[:n]):
        size = _aoi_size(k)
        rx = max(cw / 2 - 1.6 * size, 0.0)  # a two-part polygon reaches 1.6 x size sideways
        ry = max(ch / 2 - size, 0.0)
        out[k, 0] = -AOI_EXTENT[0] + cw * (cell % cols + 0.5) + rng.uniform(-rx, rx)
        out[k, 1] = -AOI_EXTENT[1] + ch * (cell // cols + 0.5) + rng.uniform(-ry, ry)
    return out


def aoi(rng: np.random.Generator, centers: np.ndarray) -> dict:
    """AOI layer of valid polygons inside lon/lat bounds, one per centre:
    rectangles, convex and star (concave) polygons, polygons with a hole and
    two-part multipolygons. Each slot's kind, size and vertex count are
    fixed, and only positions and shape jitter are seeded, so the join's
    work (points per polygon bounding box, vertices per point) stays about
    the same from seed to seed."""
    ids, wkbs = [], []
    for k, (cx, cy) in enumerate(centers):
        size = _aoi_size(k)
        kind = k % 5
        if kind == 0:
            w, h = size, size * 0.7
            wkb = _wkb_polygon([[(cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h), (cx - w, cy + h)]])
        elif kind == 1:
            wkb = _wkb_polygon([_convex(rng, cx, cy, size, 5 + k % 7)])
        elif kind == 2:
            wkb = _wkb_polygon([_star(rng, cx, cy, size, 5 + k % 4)])
        elif kind == 3:  # even vertex spacing keeps the hole inside the shell
            ang = np.arange(10) * (2 * np.pi / 10) + rng.uniform(0, 0.3, 10)
            r = rng.uniform(0.8 * size, size, 10)
            outer = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
            hole = _convex(rng, cx, cy, 0.3 * size, 6)[::-1]
            wkb = _wkb_polygon([outer, hole])
        else:
            a = _convex(rng, cx - size, cy, 0.6 * size, 7)
            b = _star(rng, cx + size, cy, 0.6 * size, 5)
            wkb = _wkb_multipolygon([[a], [b]])
        ids.append(k + 1)
        wkbs.append(wkb)
    return {"poly_id": np.asarray(ids, np.int64), "wkb": np.asarray(wkbs, dtype=object)}


# ------------------------------------------------------------------- images
def _scene(rng: np.random.Generator, h: int, w: int, bands: int) -> np.ndarray:
    """Smooth random scene: three oriented sinusoids plus noise."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = np.full((h, w), 128.0)
    for _ in range(3):
        th = rng.uniform(0, np.pi)
        f = rng.uniform(0.5, 3.0) * 2 * np.pi / max(h, w)
        base += rng.uniform(20, 50) * np.sin(f * (xx * np.cos(th) + yy * np.sin(th)) + rng.uniform(0, 2 * np.pi))
    img = base[:, :, None] + rng.normal(0, 10, (h, w, bands))
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def image_pixels(seed: int, i: int):
    """(pixels, fmt) of image row i: a smooth scene, or for a planted
    near-duplicate (i % DUP_EVERY == 1) the scene of row i - 1 with a small
    gain and offset. Formats cycle by row; gif rows are 8-bit gray so the
    palette is exact."""
    dup = i >= 1 and i % DUP_EVERY == 1
    rng = np.random.default_rng([seed, i - 1 if dup else i, 7])
    h = int(IMAGE_SIDES[rng.integers(0, len(IMAGE_SIDES))])
    w = int(IMAGE_SIDES[rng.integers(0, len(IMAGE_SIDES))])
    bands = 3 if rng.random() < 0.5 else 1
    img = _scene(rng, h, w, bands)
    if dup:
        img = np.clip(np.rint(img.astype(np.float64) * 1.02 + 2.0), 0, 255).astype(np.uint8)
    fmt = DEDUP_FMT_CYCLE[i % len(DEDUP_FMT_CYCLE)]
    if fmt == "gif" and bands == 3:
        img = np.rint(img.astype(np.float64).mean(axis=2)).astype(np.uint8)[:, :, None]
    return img, fmt


def _image_row(seed: int, i: int):
    """One image row: (bytes, w, h, fmt, bands), encoded by ``imgenc``."""
    import imgenc

    img, fmt = image_pixels(seed, i)
    h, w, bands = img.shape
    return imgenc.ENCODERS[fmt](img), w, h, fmt, bands


def _images(seed: int, n: int, lon, lat):
    rows = [_image_row(seed, i) for i in range(n)]
    ids = np.asarray([f"img_{i:06d}" for i in range(n)], dtype=object)
    planted = [[f"img_{i - 1:06d}", f"img_{i:06d}"] for i in range(1, n) if i % DUP_EVERY == 1]
    cols = {
        "image_id": ids,
        "bytes": np.asarray([r[0] for r in rows], dtype=object),
        "w": np.asarray([r[1] for r in rows], np.int32),
        "h": np.asarray([r[2] for r in rows], np.int32),
        "fmt": np.asarray([r[3] for r in rows], dtype=object),
        "caption": np.asarray([f"scene {i} seed {seed}" for i in range(n)], dtype=object),
        "lon": lon,
        "lat": lat,
        "nodata": np.full(n, -9999.0),
        "bands": np.asarray([r[4] for r in rows], np.int32),
    }
    return cols, planted


# ---------------------------------------------------------------- workloads
def generate(workload: str, seed: int) -> tuple[dict, dict]:
    """(tables, extra): tables maps name -> {column: array}; extra holds
    generator facts the reference needs (planted pairs).

    pip_tile: points, 80% uniform and 20% in four hot spots, plus a
    40-polygon AOI layer. image_dedup: the input_hint image schema with
    seeded geotags, png/qnt/jpeg/gif cycling by row at 32-48 px, every 8th
    row a re-encoded copy of the row before it. Image bytes come from the
    benchmark's own encoders (``imgenc``), never from the program."""
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "pip_tile":
        n = sz["points"]
        centers = aoi_centers(rng, sz["polys"])
        # the four hot spots sit on the first four polygons
        lon, lat, _ = _points(rng, n, hot_share=0.2, hot_sigma=1.0, n_hot=4, lat_max=75.0, centers=centers[:4])
        pts = {"point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat}
        return {"points": pts, "aoi": aoi(rng, centers)}, {}
    n = sz["images"]
    lon, lat, _ = _points(rng, n, hot_share=0.2, hot_sigma=0.5, n_hot=3, lat_max=60.0)
    cols, planted = _images(seed, n, lon, lat)
    return {"images": cols}, {"planted": planted}


def _write_table(cols: dict, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        arrays = {}
        for c, a in cols.items():
            part = a[lo:hi]
            if a.dtype == object:
                typ = pa.string() if isinstance(a[0], str) else pa.binary()
                arrays[c] = pa.array(list(part), type=typ)
            else:
                arrays[c] = pa.array(part)
        pq.write_table(pa.table(arrays), os.path.join(path, f"part-{f:03d}.parquet"))


def read_tables(seed_dir: str, manifest: dict) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for tname in manifest["tables"]:
        t = pq.read_table(os.path.join(seed_dir, tname))
        cols = {}
        for c in t.column_names:
            col = t.column(c)
            if str(col.type) in ("string", "binary", "large_string", "large_binary"):
                cols[c] = np.asarray(col.to_pylist(), dtype=object)
            else:
                cols[c] = col.to_numpy()
        out[tname] = cols
    return out


def seed_dir(workload: str, seed: int) -> str:
    """Cache directory of (workload, seed), keyed by the generator version
    and the workload's sizes, so a change to either is never served from
    an old cache."""
    sizes = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(CACHE, f"v{GEN_VERSION}", workload, f"{sizes}-seed-{seed}")


def _evict(workload: str, keep: set) -> None:
    """Bound the cache: drop the least recently generated seeds of
    `workload` beyond KEEP_SEEDS, never one in `keep`."""
    parent = os.path.dirname(seed_dir(workload, PIN_SEED))
    dirs = [os.path.join(parent, n) for n in os.listdir(parent) if ".tmp-" not in n]
    dirs = sorted((p for p in dirs if p not in keep), key=os.path.getmtime, reverse=True)
    for old in dirs[max(0, KEEP_SEEDS - len(keep)):]:
        shutil.rmtree(old, ignore_errors=True)


def ensure(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of (workload, seed); verify the files
    on disk hold exactly the digested content. Returns (dir, manifest)."""
    d = seed_dir(workload, seed)
    mpath = os.path.join(d, "manifest.json")
    if not os.path.exists(mpath):
        tables, extra = generate(workload, seed)
        tmp = f"{d}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        n_files = SIZES[workload]["files"]
        for tname, cols in tables.items():
            _write_table(cols, os.path.join(tmp, tname), n_files if tname != "aoi" else 1)
        manifest = {
            "workload": workload,
            "seed": seed,
            "gen_version": GEN_VERSION,
            "tables": {t: len(next(iter(c.values()))) for t, c in tables.items()},
            "digest": content_digest(tables),
            "extra": extra,
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        try:
            os.rename(tmp, d)
        except OSError:  # another run committed the same seed first
            shutil.rmtree(tmp, ignore_errors=True)
        _evict(workload, keep={d, seed_dir(workload, PIN_SEED)})
    with open(mpath) as f:
        manifest = json.load(f)
    got = content_digest(read_tables(d, manifest))
    if got != manifest["digest"]:
        raise RuntimeError(f"{workload} seed {seed}: cached inputs do not match their digest")
    return d, manifest


def check_pin(workload: str) -> None:
    """The pin seed's digest must equal the one committed in pins.json."""
    with open(PINS) as f:
        pins = json.load(f)
    _, manifest = ensure(workload, PIN_SEED)
    if pins.get(workload) != manifest["digest"]:
        raise RuntimeError(
            f"{workload}: generated inputs changed (pin seed {PIN_SEED} digest "
            f"{manifest['digest'][:12]} != pinned {str(pins.get(workload))[:12]})"
        )


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-pins"]:
        sys.exit("usage: python3 perfbench/gen.py --write-pins")
    pins = {w: ensure(w, PIN_SEED)[1]["digest"] for w in WORKLOADS}
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")
    print(json.dumps(pins, indent=1))

"""The workloads: register inputs, run one iteration, check it.

Each workload calls only public functions of the program, each with its own
defaults. ``iterate`` is the timed part; ``check`` compares what it produced
with the reference from ``ref.py`` and runs untimed.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import ref
from gis_scripts_spark.index import cells
from gis_scripts_spark.operators import multimodal, pip_join, tile_assign
from gis_scripts_spark.sources import snaptable


def _sum(expr, name):
    return F.sum(expr).alias(name)


def _commit(df, table: str, **kw) -> tuple[str, dict]:
    return table, snaptable.write_snapshot(df, table, stage=os.path.basename(table), **kw)


def _snapshot_metrics(spark, commits: list[tuple[str, dict]], in_bytes: int) -> dict:
    """Write-side numbers of the committed (table, snapshot record) pairs,
    then the time to read every table back."""
    records = [r for _, r in commits]
    nbytes = sum(os.path.getsize(os.path.join(r["path"], f["path"])) for r in records for f in r["files"])
    t0 = time.perf_counter()
    for table, _ in commits:
        snaptable.read_snapshot(spark, table).count()
    return {
        "sources.snaptable.write_s": sum(r["write_seconds"] for r in records),
        "sources.snaptable.read_s": time.perf_counter() - t0,
        "sources.snaptable.files_written": sum(len(r["files"]) for r in records),
        "sources.snaptable.bytes_written": nbytes,
        "sources.snaptable.bytes_written_per_input_byte": nbytes / in_bytes,
    }


class PipTile:
    """Points through tile assignment and the PIP join; the checksum
    aggregate is observed on the way into a noop sink."""

    name = "pip_tile"

    def __init__(self, work: str):
        self.work = work

    def register(self, spark, d: str, manifest: dict):
        self.rows = manifest["tables"]["points"]
        self.points_dir = os.path.join(d, "points")
        self.points = spark.read.parquet(self.points_dir)
        self.aoi = spark.read.parquet(os.path.join(d, "aoi"))

    def iterate(self, spark, tr):
        tiles = tr.op("operators.assign_tiles", tile_assign.assign_tiles, self.points)
        joined = tr.op("operators.pip_join", pip_join.pip_join, tiles, self.aoi)
        obs = Observation("pip_tile")
        out = joined.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            _sum(F.col("point_id"), "point_id"),
            _sum(F.col("point_id") * F.col("poly_id"), "point_x_poly"),
            _sum(F.col("tile_x"), "tile_x"),
            _sum(F.col("tile_y"), "tile_y"),
            _sum(F.conv(F.col("quadkey"), 4, 10).cast("long"), "quadkey"),
            _sum(F.pmod(F.col("s2_cell"), F.lit(ref.MOD)), "s2"),
        )
        tr.force("noop", lambda: out.write.format("noop").mode("overwrite").save())
        return obs.get

    def check(self, got, want) -> list[str]:
        return [f"{k}: got {got.get(k)} want {w}" for k, w in want.items() if got.get(k) != w]

    def snaptable_probe(self, spark) -> dict:
        """Commit the workload's tiles (partitioned by cell prefix, with
        per-file cell stats) and its per-polygon rollup as snapshot tables,
        the way the image pipeline's tiles and zonal stages do, then read
        them back. Runs once, after the traced iterations, on the first of
        the input's parquet files."""
        root = os.path.join(self.work, "snaptable")
        first = sorted(glob.glob(os.path.join(self.points_dir, "*.parquet")))[0]
        tiles = tile_assign.assign_tiles(spark.read.parquet(first)).select(
            "point_id", "lon", "lat", "cell", "tile_x", "tile_y", "quadkey", "s2_cell",
            cells.cell_prefix_col(F.col("cell"), 7, 2).alias("cell_prefix"),
        )
        rec = [_commit(tiles, os.path.join(root, "tiles"), partition_by=["cell_prefix"], stats_cols=["cell"])]
        back = snaptable.read_snapshot(spark, rec[0][0])
        zonal = pip_join.pip_join(back, self.aoi).groupBy("poly_id").agg(F.count(F.lit(1)).alias("n"))
        rec.append(_commit(zonal, os.path.join(root, "zonal")))
        return _snapshot_metrics(spark, rec, os.path.getsize(first))


class ImageDedup:
    """phash_neardup_pairs over png/qnt/jpeg/gif bytes with planted
    re-encoded near-duplicates."""

    name = "image_dedup"

    def __init__(self, work: str):
        self.work = work

    def register(self, spark, d: str, manifest: dict):
        self.rows = manifest["tables"]["images"]
        self.images_dir = os.path.join(d, "images")
        self.images = spark.read.parquet(self.images_dir)

    def iterate(self, spark, tr):
        pairs = tr.op("operators.phash_neardup_pairs", multimodal.phash_neardup_pairs, self.images)
        rows = tr.force("collect", pairs.collect)
        return [[r["id_a"], r["id_b"], int(r["hamming"])] for r in rows]

    def check(self, got, want) -> list[str]:
        """Every pair the program returns is a reference pair whose hamming
        distance matches within the pair's slack; every reference pair that
        is within MAX_HAMMING even after its slack is returned; every
        planted pair is returned."""
        bad = []
        g = {(a, b): h for a, b, h in got}
        if len(got) != len(g):
            bad.append(f"{len(got) - len(g)} duplicate pairs")
        w = {(a, b): (h, slack) for a, b, h, slack in want["pairs"]}
        wrong = [p for p, h in g.items()
                 if p not in w or abs(h - w[p][0]) > w[p][1] or h > ref.MAX_HAMMING or p[0] >= p[1]]
        if wrong:
            bad.append(f"{len(wrong)} pairs not in the reference or off by more than their slack, e.g. {wrong[0]}")
        missing = [p for p, (h, slack) in w.items() if h + slack <= ref.MAX_HAMMING and p not in g]
        if missing:
            bad.append(f"{len(missing)} reference pairs missing, e.g. {missing[0]}")
        missed = [p for p in want["planted"] if tuple(p) not in g]
        if missed:
            bad.append(f"{len(missed)} of {len(want['planted'])} planted pairs not found")
        return bad


    def snaptable_probe(self, spark) -> dict:
        """Commit the image features and the near-duplicate pairs as
        snapshot tables, the way a feature-extraction stage would, then read
        them back. Runs once, after the traced iterations."""
        root = os.path.join(self.work, "snaptable")
        rec = [
            _commit(multimodal.image_features(self.images), os.path.join(root, "features")),
            _commit(multimodal.phash_neardup_pairs(self.images), os.path.join(root, "pairs")),
        ]
        in_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.images_dir, "*.parquet")))
        return _snapshot_metrics(spark, rec, in_bytes)


WORKLOADS = {w.name: w for w in (PipTile, ImageDedup)}

"""Tracing for the traced run: spans around public calls, per-operator job
accounting, the Spark event log parsed offline, the UDF profiler, and
single-threaded kernel probes. Untraced iterations use ``NullTracer``, which
only calls through.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from contextlib import contextmanager

import numpy as np

GROUP = "perfbench-iter-"
UDF_PROFILER = "spark.sql.pyspark.udf.profiler"


class NullTracer:
    def op(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def force(self, name, fn, *args):
        return fn(*args)

    @contextmanager
    def iteration(self, i):
        yield


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; per-op plan
    time, jobs started inside the call (statusTracker delta within the
    iteration's job group) and the time of the action that follows. The UDF
    profiler is on only inside a traced iteration."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.ops: dict[str, dict] = {}
        self.iterations: list[tuple[str, float, float]] = []
        self._group = None
        self._last_op = None

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def _acc(self, name: str) -> dict:
        return self.ops.setdefault(name, {"calls": 0, "plan_s": 0.0, "plan_jobs": 0, "force_s": 0.0})

    def op(self, name, fn, *args, **kwargs):
        j0 = self._jobs()
        with self.span(name) as s:
            out = fn(*args, **kwargs)
        a = self._acc(name)
        a["calls"] += 1
        a["plan_s"] += s["end"] - s["start"]
        a["plan_jobs"] += self._jobs() - j0
        self._last_op = name
        return out

    def force(self, name, fn, *args):
        with self.span(f"{self._last_op}.{name}") as s:
            out = fn(*args)
        self._acc(self._last_op)["force_s"] += s["end"] - s["start"]
        return out

    @contextmanager
    def iteration(self, i: int):
        self._group = f"{GROUP}{i}"
        self.sc.setJobGroup(self._group, f"benchmark iteration {i}")
        self.spark.conf.set(UDF_PROFILER, "perf")
        try:
            with self.span("iteration") as s:
                yield
        finally:
            self.spark.conf.unset(UDF_PROFILER)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.iterations.append((self._group, s["start"], s["end"]))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ----------------------------------------------------------- event log
def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -np.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def event_log_layers(evdir: str, iterations: list[tuple[str, float, float]]) -> dict:
    """Per-iteration Spark layer numbers from the event log, as medians over
    the traced iterations."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    for path in sorted(glob.glob(os.path.join(evdir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": e.get("Properties", {}).get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1e3,
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "dur": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3,
                    }
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(e["Stage ID"], []).append(e)
    per_iter = []
    for group, t0, t1 in iterations:
        js = [j for j in jobs.values() if j["group"] == group]
        sids = sorted({s for j in js for s in j["stages"] if s in stages})
        ts = [t for s in sids for t in tasks.get(s, [])]
        m = [t.get("Task Metrics") or {} for t in ts]
        longest = max(sids, key=lambda s: stages[s]["dur"], default=None)
        skew = 1.0
        if longest is not None and tasks.get(longest):
            d = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1e3 for t in tasks[longest]]
            skew = max(d) / max(statistics.median(d), 1e-3)
        per_iter.append({
            "spark.jobs": len(js),
            "spark.stages": len(sids),
            "spark.tasks": len(ts),
            "spark.driver_gap_s": (t1 - t0) - _union_s(
                [(max(j["start"], t0), min(j.get("end", t1), t1)) for j in js]),
            "spark.shuffle_write_bytes": sum(x.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for x in m),
            "spark.shuffle_read_bytes": sum(
                x.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                + x.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0) for x in m),
            "spark.spill_bytes": sum(x.get("Disk Bytes Spilled", 0) for x in m),
            "spark.task_skew": skew,
            "spark.executor_run_s": sum(x.get("Executor Run Time", 0) for x in m) / 1e3,
            "spark.executor_cpu_s": sum(x.get("Executor CPU Time", 0) for x in m) / 1e9,
            "spark.gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3,
            "spark.failed_tasks": sum(1 for t in ts if t["Task Info"].get("Failed")),
            "spark.input_bytes": sum(x.get("Input Metrics", {}).get("Bytes Read", 0) for x in m),
            "spark.output_bytes": sum(x.get("Output Metrics", {}).get("Bytes Written", 0) for x in m),
        })
    return {k: statistics.median(p[k] for p in per_iter) for k in per_iter[0]} if per_iter else {}


# ----------------------------------------------------------- UDF profiler
def udf_seconds(dump_dir: str) -> dict:
    """Python time per UDF from the perf profiler dump: each profile's total
    time, keyed ``<module>.<function>`` of its outermost program function
    (the UDF body; generator UDFs sit under builtins and contextlib)."""
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        own = [(ct, fname, func) for (fname, _, func), (_, _, _, ct, _) in st.stats.items()
               if fname != "~" and not fname.startswith(("contextlib", "cProfile"))]
        if not own:
            continue
        _, fname, func = max(own)
        key = f"{os.path.splitext(os.path.basename(fname))[0]}.{func}"
        out[key] = out.get(key, 0.0) + st.total_tt
    return out


# ----------------------------------------------------------- kernel probes
def _rate(fn, items: int, min_s: float = 0.2) -> float:
    fn()  # first call warms any lazy set-up
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return items * n / dt


def kernel_probes(points: tuple, polygons: list, images: dict) -> dict:
    """Single-threaded driver rates of public kernels on the workload's own
    points, polygons and images. `polygons` is a list of WKB buffers;
    `images` maps fmt -> list of encoded buffers."""
    from gis_scripts_spark.geom import core, wkb
    from gis_scripts_spark.index import cells, s2, tiles
    from gis_scripts_spark.raster import codec

    lon, lat = (np.asarray(a[:100_000], np.float64) for a in points)
    out = {
        "index.s2.cell_id.rows_per_s": _rate(lambda: s2.cell_id(lat, lon, 12), len(lon)),
        "index.tiles.quadkey.rows_per_s": _rate(
            lambda: tiles.quadkey(*tiles.tile_xy(lon[:10_000], lat[:10_000], 12), 12), len(lon[:10_000])),
    }
    cs = np.unique(cells.cell(lon, lat, 6))
    n_out = len(cells.disk_arr(cs, 2)[1])
    out["index.cells.disk_arr.cells_per_s"] = _rate(lambda: cells.disk_arr(cs, 2), n_out)
    rings = [wkb.from_wkb(bytes(b))[0] for b in polygons]
    px, py = lon[:20_000], lat[:20_000]
    out["geom.core.points_in_polygon.rows_per_s"] = _rate(
        lambda: [core.points_in_polygon(px, py, r) for r in rings], len(px) * len(rings))
    decoded = []
    for fmt in sorted(images):
        bufs = images[fmt]
        out[f"raster.codec.decode.{fmt}.images_per_s"] = _rate(
            lambda: [codec.decode(b, fmt) for b in bufs], len(bufs))
        decoded += [codec.decode(b, fmt).astype(np.float64) for b in bufs]
    out["raster.codec.phash64.images_per_s"] = _rate(lambda: [codec.phash64(d) for d in decoded], len(decoded))
    return out

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

One workload per process, with its own JVM. The run generates (or reuses)
the seeded inputs and their reference, sets the session up once (session
start, input registration, two checked warm-up iterations), then repeats
checked iterations for ``--seconds``. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` starts the session with the Spark event log on,
alternates untraced iterations with traced ones (UDF profiler and spans on)
and reports the per-layer metrics. ``--workload all`` runs every workload in
its own child process and prints one row per workload.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The run record (host context, per-iteration samples, spans) is written under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_ITERS = 2
# The second iteration of a fresh session still runs 10-20% slower than the
# later ones (JIT, Python worker start), so set-up runs two.
WARMUP_ITERS = 2
DEADLINE_S = 170  # the run must end within 180 s
RUN_MARK = "PERFBENCH_RUN"  # environment variable every process of a run inherits
EVENT_LOG_CONF = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []


def _attempt(spark, wl, tr, want, tally, i):
    """One checked iteration. Returns (iteration seconds or None if it
    failed, check seconds)."""
    tally.attempted += 1
    t0 = time.perf_counter()
    dt = None
    try:
        with tr.iteration(i):
            got = wl.iterate(spark, tr)
        dt = time.perf_counter() - t0
        bad = wl.check(got, want)
    except Exception as e:  # a failed iteration is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        bad = [f"raised {type(e).__name__}: {e}"]
    check_s = time.perf_counter() - t0 - (dt or 0.0)
    if bad:
        tally.failed += 1
        tally.errors.append(f"iteration {i}: " + "; ".join(bad))
        print(f"check failed, iteration {i}: {bad}", file=sys.stderr)
        dt = None
    return dt, check_s


def _setup(ctx, extra_conf=None):
    """Session start + input registration + WARMUP_ITERS checked warm-up
    iterations. Returns (spark, seconds without the warm-ups' checks)."""
    from gis_scripts_spark import session
    from tracing import NullTracer

    t0 = time.perf_counter()
    spark = session.get_spark(cores=ctx["nproc"], extra_conf=extra_conf)
    ctx["wl"].register(spark, ctx["dir"], ctx["manifest"])
    check_s = 0.0
    for i in range(WARMUP_ITERS):
        check_s += _attempt(spark, ctx["wl"], NullTracer(), ctx["want"], ctx["tally"], -1 - i)[1]
    return spark, time.perf_counter() - t0 - check_s


def _timed(spark, ctx, seconds, tracers, after=None):
    """Checked iterations for `seconds`, cycling through `tracers` in ABBA
    order (so a steady warming trend favours none of them), with at least
    MIN_ITERS per tracer. Returns the seconds of each passing
    iteration per tracer and the peak tree RSS. The host's stolen-CPU share
    over the span and the per-process RSS at the peak go into the run
    record."""
    import host

    times = [[] for _ in tracers]
    cpu0 = host.cpu_times()
    with host.RssSampler() as rss:
        end = time.perf_counter() + seconds
        i = 0
        while i < MIN_ITERS * len(tracers) or time.perf_counter() < end:
            k = i % len(tracers)
            if (i // len(tracers)) % 2:
                k = len(tracers) - 1 - k
            i += 1
            dt, _ = _attempt(spark, ctx["wl"], tracers[k], ctx["want"], ctx["tally"], i)
            if dt is not None:
                times[k].append(dt)
            if after:
                after()
    ctx["record"]["timed_span"] = {
        "host_steal_share": host.steal_share(cpu0, host.cpu_times()),
        "peak_rss_mb_by_process": sorted((b / 2**20 for b in rss.peak_by_pid.values()), reverse=True),
    }
    return times, rss.peak


def _rate(rows, times):
    return statistics.median(rows / t for t in times) if times else 0.0


def run_untraced(ctx, seconds) -> dict:
    from tracing import NullTracer

    spark, setup_s = _setup(ctx)
    (times,), peak = _timed(spark, ctx, seconds, [NullTracer()])
    ctx["record"].update(setup_s=setup_s, iteration_s=times, rows_per_iteration=ctx["wl"].rows,
                         peak_rss_mb=peak / 2**20)
    if not times:
        return {}
    return {"rows_per_s": _rate(ctx["wl"].rows, times), "setup_s": setup_s}


def run_traced(ctx, seconds) -> dict:
    """One session with the event log on. Untraced and traced iterations
    alternate in the same warmed state, so their rate difference is the
    cost of the UDF profiler and the spans; the event log is on for both."""
    import tracing as tr_mod

    wl = ctx["wl"]
    evdir = os.path.join(ctx["work"], "eventlog")
    os.makedirs(evdir)
    spark, _ = _setup(ctx, dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + evdir}))
    tracer = tr_mod.Tracer(spark, run_id=os.path.basename(ctx["work"]))
    persisted = []

    def after():
        gc.collect()
        persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())

    (times_u, times_t), peak = _timed(spark, ctx, seconds, [tr_mod.NullTracer(), tracer], after)
    prof = os.path.join(ctx["work"], "udf_profile")
    spark.profile.dump(prof, type="perf")
    snap = wl.snaptable_probe(spark)
    spark.stop()
    tracer.dump(os.path.join(ctx["work"], "spans.json"))

    n_traced = max(len(tracer.iterations), 1)
    m = {k: 0.0 for k in UNITS if k not in {e["name"] for e in SPEC["end_to_end"]}}
    m.update(tr_mod.event_log_layers(evdir, tracer.iterations))
    # per traced iteration, summed over the workload's UDFs and operator
    # calls; the per-UDF and per-operator split is printed and recorded
    udf = {f"python.udf_s.{name}": s / n_traced for name, s in tr_mod.udf_seconds(prof).items()}
    ops = {f"{op}.{k}": a[k] / n_traced for op, a in tracer.ops.items() for k in ("plan_s", "plan_jobs", "force_s")}
    m["python.udf_s.total"] = sum(udf.values())
    for k in ("plan_s", "plan_jobs", "force_s"):
        m[f"operators.{k}"] = sum(a[k] for a in tracer.ops.values()) / n_traced
    m["cache.persisted_rdds_after"] = persisted[-1] if persisted else 0
    m.update(snap)
    m.update(ctx["probes"]())
    wall = statistics.median(t1 - t0 for _, t0, t1 in tracer.iterations) if tracer.iterations else 0.0
    slots = ctx["nproc"] * max(wall, 1e-9)
    m["iteration.traced_s"] = wall
    m["spark.executor_busy_share"] = m["spark.executor_run_s"] / slots
    m["python.udf_busy_share"] = m["python.udf_s.total"] / slots
    m["trace.rows_per_s_untraced"] = _rate(wl.rows, times_u)
    m["trace.rows_per_s_traced"] = _rate(wl.rows, times_t)
    m["trace.rows_per_s_delta"] = m["trace.rows_per_s_traced"] - m["trace.rows_per_s_untraced"]
    m["peak_rss_mb"] = peak / 2**20
    ctx["record"].update(untraced_iteration_s=times_u, traced_iteration_s=times_t, breakdown=dict(udf, **ops),
                         persisted_rdds=persisted)
    unknown = set(m) - set(UNITS)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


def _stop_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None


def _watchdog(seconds: float, mark: str) -> threading.Timer:
    def fire():
        import host

        print(f"run exceeded {seconds:.0f} s; stopping", file=sys.stderr)
        host.stop_marked(RUN_MARK, mark, timeout=5)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def _probe_inputs(seed, d, manifest):
    """Points, polygons and images for the kernel probes: the workload's own
    where it has them, seeded stand-ins for the rest."""
    import numpy as np

    import gen
    import imgenc

    t = gen.read_tables(d, manifest)
    src = t.get("points") or t["images"]
    rng = np.random.default_rng([seed, 99])
    polys = t["aoi"]["wkb"] if "aoi" in t else gen.aoi(rng, gen.aoi_centers(rng, 40))["wkb"]
    images: dict[str, list] = {}
    if "images" in t:
        for fmt, buf in zip(t["images"]["fmt"], t["images"]["bytes"]):
            if len(images.setdefault(fmt, [])) < 8:
                images[fmt].append(bytes(buf))
    for fmt in gen.IMAGE_FMTS:
        if fmt not in images:
            imgs = [gen._scene(rng, 40, 40, 1 if fmt == "gif" else 3) for _ in range(8)]
            images[fmt] = [imgenc.ENCODERS[fmt](img) for img in imgs]
    return (src["lon"], src["lat"]), list(polys), images


def run_one(args) -> int:
    """One workload in this process. Every process the run starts inherits
    a fresh RUN_MARK value in its environment; on every way out, all of
    them are stopped and waited for."""
    import host

    mark = f"{os.getpid()}-{time.time_ns()}"
    os.environ[RUN_MARK] = mark
    watchdog = _watchdog(DEADLINE_S, mark)
    try:
        return _run_one(args)
    finally:
        left = host.stop_marked(RUN_MARK, mark)
        if left:
            print(f"stopped {len(left)} processes left by the run: {left}", file=sys.stderr)
        watchdog.cancel()


def _run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        from gis_scripts_spark import session  # noqa: F401  the program under test
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    import host
    import ref
    import tracing as tr_mod
    import workloads

    wname = args.workload
    work = os.path.join(HERE, ".work", f"{wname}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark scratch, Python temp files and the JVM temp dir stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    context = host.context(ROOT)
    gen.check_pin(wname)
    d, manifest = gen.ensure(wname, args.seed)
    want = ref.ensure(wname, d, manifest)
    context["calibration"] = host.calibrate(context["nproc"])

    record = {"workload": wname, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "inputs": {"tables": manifest["tables"], "digest": manifest["digest"]}}
    ctx = {
        "nproc": context["nproc"], "dir": d, "manifest": manifest, "want": want, "work": work,
        "tally": Tally(), "record": record, "wl": workloads.WORKLOADS[wname](work),
        "probes": lambda: tr_mod.kernel_probes(*_probe_inputs(args.seed, d, manifest)),
    }
    try:
        metrics = (run_traced if args.trace else run_untraced)(ctx, args.seconds)
    finally:
        _stop_jvm()
    context["loadavg_after"] = host.loadavg()
    tally = ctx["tally"]
    record.update(context=context, metrics=metrics, attempted=tally.attempted,
                  failed=tally.failed, errors=tally.errors)
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for sub in ("spark-local", "tmp", "snaptable"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    correct = tally.failed == 0 and bool(metrics)
    for k, v in metrics.items():
        print(f"{wname} {k} = {v:.6g} {UNITS[k]}")
    for k, v in record.get("breakdown", {}).items():
        print(f"{wname} {k} = {v:.6g} (breakdown, recorded)")
    if "peak_rss_mb" in record:
        print(f"{wname} peak_rss_mb = {record['peak_rss_mb']:.6g} MiB (recorded, not bounded)")
    print(f"{wname} error_rate = {tally.failed / max(tally.attempted, 1):.4g} "
          f"({tally.failed} failed of {tally.attempted} attempted iterations)")
    print(f"{wname} correctness: {'PASS' if correct else 'FAIL'}")
    print("context " + json.dumps(context, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own child process (own JVM)."""
    names = [w["name"] for w in SPEC["workloads"]]
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=DEADLINE_S + 10)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    names = [w["name"] for w in SPEC["workloads"]]
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

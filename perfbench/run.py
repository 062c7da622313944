"""Run one workload of the pipeline benchmark and print its metrics.

    python3 perfbench/run.py --workload analyze_warm --seed 1 --seconds 12 --trace 0

Run from the repository root. One client runs ops in a closed loop. The
op count is fixed by ``--seconds``: as many ops as take that long on the
reference host (at least MIN_OPS), so a slower
or faster host does the same work and only the wall time moves. It checks
every op's output against the DuckDB oracle, and prints one JSON line:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from spans and the Spark event log. Every wall time is multiplied by
``(spec.REFERENCE_PROBE_S / probe) ** spec.PROBE_EXPONENT``, with calibration
probes taken around it, never while it runs: for an op, the faster of the
probes right before and right after it; for set-up, the fastest of the
probes taken between its steps. A line of raw diagnostics is printed before
the result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
from probe import Probe  # noqa: E402
from spans import SpanTree, Tracer, read_event_log  # noqa: E402
from steadiness import spread  # noqa: E402

MIN_OPS = 2
HARD_STOP_S = 150  # stop starting ops this long after process start


def factor(probe_s: float) -> float:
    """What a wall time taken at probe time ``probe_s`` is multiplied by."""
    return (spec.REFERENCE_PROBE_S / probe_s) ** spec.PROBE_EXPONENT


class Run:
    """Timing records of one run, and the probes taken between them."""

    def __init__(self, probe: Probe) -> None:
        self.probe = probe
        self.probes: list[float] = []
        self.setup: list[tuple[str, float, float]] = []  # name, raw s, probe s before it
        self.scale = 1.0  # factor of the latest probe, for spans
        self.op_id = "setup"

    def calibrate(self) -> float:
        p = self.probe.sample()
        self.probes.append(p)
        self.scale = factor(p)
        return p

    def phase(self, name: str, fn):
        """A set-up step: probe, then time ``fn``."""
        p = self.calibrate()
        t = time.perf_counter()
        out = fn()
        self.setup.append((name, time.perf_counter() - t, p))
        return out


def normalize(run: Run, ops: list[dict], end_probe: float) -> float:
    """Set each op's ``norm`` from the faster of the probes right before and
    right after it, and return the normalized set-up time: its raw sum at
    the fastest probe of set-up, the first op's probe included. A probe
    taken right after Spark work often reads 1.3-1.6 times slow while the
    JVM finishes that work in the background (JIT, GC, cleanup), which
    says nothing about the host; the fastest nearby probe does not."""
    after = [o["probe"] for o in ops[1:]] + [end_probe]
    for o, p in zip(ops, after):
        o["norm"] = o["raw"] * factor(min(o["probe"], p))
    probes = [p for _, _, p in run.setup] + [(ops[0]["probe"] if ops else end_probe)]
    return sum(r for _, r, _ in run.setup) * factor(min(probes))


def timed_op(wl, i: int, span) -> dict:
    """Run op ``i`` inside ``span("op")``, time it, then check its output
    (untimed). An op that raises or fails its check has ``ok`` false."""
    t = time.perf_counter()
    rec = {"i": i, "rows": wl.rows_per_op(i), "hit_ratio": 0.0, "state": None}
    try:
        with span("op"):
            out = wl.op(i)
        rec["raw"] = time.perf_counter() - t
        problems = wl.check(out)
        rec["hit_ratio"] = wl.hit_ratio(out)
        if isinstance(out, dict):
            rec["state"] = out.get("state")
    except Exception as e:  # a failed op is counted, and the loop goes on
        rec.setdefault("raw", time.perf_counter() - t)
        problems = [f"{type(e).__name__}: {e}"]
    if problems:
        print(f"op {i} failed: {problems[:3]}", file=sys.stderr)
    rec["ok"] = not problems
    return rec


def failed_ratio(ops: list[dict]) -> float:
    return sum(not o["ok"] for o in ops) / len(ops)


def _vm_hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _heap_after_gc_mb(spark) -> float:
    # Python first: dropping its proxies releases the JVM objects they pin.
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.1)  # let the context cleaner drop what the first collection freed
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _dir_bytes(path: str) -> tuple[int, int]:
    """(partitions, bytes) of an incremental-merge state dir."""
    parts = [d for d in os.listdir(path) if d.startswith("batch_id=")] if os.path.isdir(path) else []
    size = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)
    return len(parts), size


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=[n for n, _ in spec.WORKLOADS])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "querysight_spark")):
        print("no querysight_spark here: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Keep every file the run writes inside the checkout, and pin the clock
    # zone so naive window bounds mean UTC on both engines.
    os.environ.update(TZ="UTC", TMPDIR=os.path.join(work, "tmp"),
                      SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    time.tzset()
    with Probe() as probe:
        return _run(args, work, Run(probe))


def _run(args, work: str, run: Run) -> int:
    W = run.phase("import", lambda: __import__("workloads"))
    from querysight_spark.session import get_spark

    tracing = bool(args.trace)
    conf = {}
    log_dir = os.path.join(work, "eventlog")
    if tracing:
        os.makedirs(log_dir)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    spark = run.phase("session", lambda: get_spark(
        app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf))
    tracer = Tracer(spark.sparkContext if tracing else None)

    def span(name: str):
        return tracer.span(name, run.op_id, run.scale)

    ctx = W.Ctx(spark=spark, work=work, seed=args.seed, span=span)
    wl = W.WORKLOADS[args.workload]()
    try:
        tracer.on = True  # the catalog load is the only traced set-up step
        W.setup_inputs(ctx, run.phase)
        tracer.on = False
        n_ops = max(MIN_OPS, math.ceil(args.seconds / wl.op_period_s))
        wl.setup(ctx, run.phase, n_ops)
        # Untimed warm-up ops, so that every measured op starts warm.
        run.phase("warmup", wl.warmup)

        ops = []  # dicts: i, traced, probe, raw, norm, rows, ok
        heap_mb, hit, states = [], [], []
        for i in range(n_ops):
            if time.perf_counter() - T_START > HARD_STOP_S:
                break
            if tracing:
                heap_mb.append(_heap_after_gc_mb(spark))
            tracer.on = tracing and i % 2 == 1  # every other op
            p = run.calibrate()
            run.op_id = f"op-{i}"
            op = timed_op(wl, i, span)
            op.update(traced=tracer.on, probe=p)
            ops.append(op)
            hit.append(op["hit_ratio"])
            if op["state"]:  # measured now: it grows with every op
                states.append(_dir_bytes(op["state"]))
        tracer.on = False
        if tracing:
            heap_mb.append(_heap_after_gc_mb(spark))
        setup_s = normalize(run, ops, run.calibrate())

        counts = {}
        if tracing:
            tracer.on = True
            run.op_id = "sweep"

            def step(name, fn):
                run.calibrate()
                with span(name):
                    return fn()

            counts = W.sweep(ctx, wl.window_logs(), step)
            states.append(_dir_bytes(os.path.join(work, "sweep-ingest", "state")))
            tracer.on = False
    finally:
        _stop_spark(spark)

    failed = sum(not o["ok"] for o in ops)
    plain = [o for o in ops if not o["traced"]]
    diag = {
        "workload": args.workload, "seed": args.seed, "ops": len(ops),
        "raw_latency_p50_s": statistics.median(o["raw"] for o in plain) if plain else None,
        "latency_p50_s": statistics.median(o["norm"] for o in plain) if plain else None,
        "probe_median_s": statistics.median(run.probes),
        "probe_iqr_ratio": spread(run.probes)[1],
        "setup": [[n, round(r, 4), round(p, 4)] for n, r, p in run.setup],
        "op_raw_s": [round(o["raw"], 4) for o in ops],
        "op_norm_s": [round(o["norm"], 4) for o in ops],
        "probes": [round(p, 4) for p in run.probes],
        "heap_mb": [round(h, 1) for h in heap_mb],
        "vm_hwm_mb": _vm_hwm_mb(),
    }
    print(json.dumps({"diagnostics": diag}))
    if tracing:
        tracer.write(os.path.join(work, "spans.jsonl"))
        metrics = layer_metrics(tracer, read_event_log(log_dir), ops, run, counts, hit, states)
        metrics["jvm.heap_after_gc_mb"] = (statistics.median(heap_mb), "MB")
        metrics["driver.peak_rss_mb"] = (_vm_hwm_mb(), "MB")
    else:
        metrics = {
            "latency_p50_s": (statistics.median(o["norm"] for o in ops), "s"),
            "throughput_rows_per_s": (sum(o["rows"] for o in ops) / sum(o["norm"] for o in ops), "rows/s"),
            "setup_s": (setup_s, "s"),
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(tracer, jobs, ops, run, counts, hit, states) -> dict:
    tree = SpanTree(tracer.spans, jobs)
    units = {n: u for n, u, _ in spec.PER_LAYER}
    m: dict[str, float] = {}

    def secs(name):  # host-normalized self time, median over the spans
        return tree.median(name, lambda s: tree.self_s(s) * s.scale) or 0.0

    def njobs(name):
        return tree.median(name, lambda s: len(tree.jobs(s))) or 0

    m["op.jobs"] = njobs("op")
    m["op.tasks"] = tree.median("op", lambda s: sum(j.tasks for j in tree.jobs(s))) or 0
    m["op.no_job_s"] = tree.median("op", lambda s: tree.no_job_s(s) * s.scale) or 0.0
    m["analyze.run_analysis_s"] = secs("analyze.run_analysis")
    m["functions.normalize.s"] = secs("functions.normalize")
    m["functions.sqlextract.udf_s"] = secs("functions.sqlextract.udf")
    direct = secs("functions.sqlextract.direct")
    m["functions.sqlextract.rows_per_s"] = counts.get("rows", 0) / direct if direct else 0.0
    m["plans.patterns.aggregate_s"] = secs("plans.patterns.aggregate")
    m["plans.patterns.patterns_out"] = counts.get("patterns_out", 0)
    m["plans.coverage.s"] = secs("plans.coverage")
    m["plans.coverage.closure_s"] = secs("plans.coverage.closure")
    m["plans.coverage.closure_jobs"] = njobs("plans.coverage.closure")
    m["plans.recommend.s"] = secs("plans.recommend")
    m["plans.console.pages_s"] = secs("plans.console.pages")
    m["plans.report.export_s"] = secs("plans.report.export")
    m["plans.report.export_jobs"] = njobs("plans.report.export")
    m["plans.report.export_bytes"] = counts.get("export_bytes", 0)
    m["sources.snapshot_cache.get_s"] = secs("sources.snapshot_cache.get")
    m["sources.snapshot_cache.put_s"] = secs("sources.snapshot_cache.put")
    m["sources.snapshot_cache.hit_ratio"] = statistics.mean(hit) if hit else 0.0
    m["streaming.incremental.batch_s"] = secs("streaming.incremental.batch")
    m["streaming.incremental.read_state_s"] = secs("streaming.incremental.read_state")
    m["streaming.incremental.state_partitions"] = statistics.median(p for p, _ in states) if states else 0
    m["streaming.incremental.state_bytes"] = statistics.median(b for _, b in states) if states else 0
    m["sources.catalog.load_s"] = secs("sources.catalog.load")
    for layer in spec.EVENTLOG_LAYERS:
        for key, attr in (("executor_run_s", "run_s"), ("executor_cpu_s", "cpu_s"),
                          ("shuffle_bytes", "shuffle_bytes")):
            m[f"{layer}.{key}"] = tree.median(
                layer, lambda s, a=attr: sum(getattr(j, a) for j in tree.jobs(s))) or 0
    plain = [o["norm"] for o in ops if not o["traced"]]
    traced = [o["norm"] for o in ops if o["traced"]]
    m["host.probe_s"] = statistics.median(run.probes)
    m["host.probe_iqr_ratio"] = spread(run.probes)[1]
    m["raw.latency_p50_s"] = statistics.median(o["raw"] for o in ops if not o["traced"]) if plain else 0.0
    m["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain) if plain and traced else 0.0
    m["failed_ratio"] = failed_ratio(ops)
    return {k: (v, units[k]) for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main())

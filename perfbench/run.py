"""TSDB serving benchmark for btrdb_server_spark.

    python3 perfbench/run.py --workload {ingest,dashboard,live} --seed N \
        --seconds S --trace {0,1} [--scale F]

Builds a fresh engine from the checkout's sources, drives one workload
through the engine's public surfaces (the HTTP wire server, or the streaming
ingest pipeline), checks every response against a numpy oracle, and prints
two JSON lines on stdout: a ``detail`` object with every metric, its unit and
the run's context, then the result line ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the result carries the end-to-end metrics
named in BENCHMARK.json, with ``--trace 1`` its per-layer metrics. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _overhead_pct(samples) -> float:
    """Tracing overhead from interleaved requests: per op class, the median
    latency of traced requests over that of untraced ones, combined as a
    geometric mean over classes with at least two samples on each side."""
    from common import median

    logs = []
    for cls in {s.cls for s in samples}:
        on = [s.ms for s in samples if s.cls == cls and s.traced]
        off = [s.ms for s in samples if s.cls == cls and not s.traced]
        if len(on) >= 2 and len(off) >= 2:
            logs.append(math.log(median(on) / median(off)))
    return 100 * (math.exp(sum(logs) / len(logs)) - 1) if logs else 0.0


def _state_metrics(wl) -> dict:
    """Layer state at the end of the run: the store's fresh tail and files,
    and on-disk bytes per committed point of the store and the ladder."""
    from common import du_bytes

    store, ladder, points = wl.engine_parts()
    m = store._read_manifest()
    files = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(store.points_path)
        for f in fs
    )
    return {
        "store.fresh_versions": (m["version"] - m.get("compacted_through", 0), "count"),
        "store.files": (files, "count"),
        "store.bytes_per_point": (du_bytes(store.path) / points, "B"),
        "rollup.bytes_per_point": (du_bytes(ladder.path) / points, "B"),
    }


def run(args) -> dict:
    import bench
    from common import RunDir, log, median, peak_rss_mb, start_spark, tree_cpu_s
    from tracing import Tracer
    from workloads import WORKLOADS

    traced = bool(args.trace)
    rundir = RunDir(args.workload)
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(rundir, traced)
        spark_s = time.perf_counter() - t0
        tracer = None
        if traced:
            tracer = Tracer(spark)
            tracer.install()
        wl = WORKLOADS[args.workload](spark, rundir, args.seed, args.scale, tracer)
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
            log(f"setup {rep}: {reps[-1]:.2f}s")
            if rep < SETUP_REPS - 1:
                wl.teardown()
        t0 = time.perf_counter()
        wl.warmup()
        log(f"warm-up: {time.perf_counter() - t0:.2f}s")
        cpu0 = bench._cpu_stat()
        gen0 = wl.engine_parts()[0]._read_manifest().get("gen_seq", 0)
        tcpu0 = tree_cpu_s()
        wl.measure(args.seconds)
        tcpu = tree_cpu_s() - tcpu0
        gen1 = wl.engine_parts()[0]._read_manifest().get("gen_seq", 0)
        steal = bench._steal_pct(cpu0, bench._cpu_stat())
        t0 = time.perf_counter()
        wl.verify()
        log(f"window: {wl.elapsed:.2f}s, verify: {time.perf_counter() - t0:.2f}s")
        detail = wl.detail()
        detail["setup_s"] = (spark_s + median(reps), "s")
        done = len(wl.timed())
        detail["cpu_ms_per_op"] = (1000 * tcpu / done if done else None, "ms")
        detail["error_ratio"] = (wl.failed / max(1, wl.attempted), "ratio")
        layer, selftime = {}, None
        if traced:
            layer, selftime = tracer.report()
            layer.update(_state_metrics(wl))
            layer.update(wl.layer)
            layer["store.compactions"] = (gen1 - gen0, "count")
            layer["trace.overhead_pct"] = (_overhead_pct(wl.timed()), "%")
        detail["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "scale": args.scale,
            "spark_start_s": spark_s,
            "setup_reps_s": reps,
            "measured_window_s": wl.elapsed,
            "samples": {
                c: sum(s.cls == c for s in wl.timed())
                for c in sorted({s.cls for s in wl.timed()})
            },
            "traced_samples": {
                c: sum(s.cls == c and s.traced for s in wl.timed())
                for c in sorted({s.cls for s in wl.timed()})
            },
            "clients": wl.clients,
            "sizes": wl.sizes(),
            "steal_pct": steal,
            "anchor_sec": bench._anchor_sec(spark),
        }
        return {
            "detail": detail,
            "layer": layer,
            "selftime": selftime,
            "context": context,
            "attempted": wl.attempted,
            "failed": wl.failed,
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        rundir.remove()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="data and batch size factor (the self-test runs small)",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "btrdb_server_spark", "__init__.py")):
        print("perfbench: btrdb_server_spark sources not found in the checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)  # after this directory: bench.py, the package
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    res = run(args)

    def show(d):
        return {
            k: dict(value=v[0], unit=v[1], **(
                {"pct": v[2], "n": v[3]} if len(v) > 2 else {}
            ))
            for k, v in sorted(d.items())
        }

    print(json.dumps({
        "detail": {
            "context": res["context"],
            "end_to_end" + ("_traced" if args.trace else ""): show(res["detail"]),
            **({"per_layer": show(res["layer"]), "self_time": res["selftime"]}
               if args.trace else {}),
        }
    }))
    pool = res["layer"] if args.trace else res["detail"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = pool.get(m["name"])
        if v is None or v[0] is None:
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": v[0], "unit": m["unit"]}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

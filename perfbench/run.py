#!/usr/bin/env python
"""rasusa_spark benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload write_paths --seed 1 --seconds 10 --trace 0

One process, one client, ``local[<cores>]``. The run builds or reuses the
seed's inputs, starts the Spark session (``setup_s``), makes the workload's
warm-up, measures closed-loop passes until ``--seconds`` have elapsed (at
least one, and the pass in flight at the deadline completes), checks every
output, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``: after one untimed pass, the window is split into an
untraced and a traced half, and ``trace.overhead_frac`` compares the median
pass of each). The line before it holds
details: the named summary metrics, the host canary from ``bench.py``'s
``_calibrate`` and the failures, if any.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Ctx:
    def __init__(self, spark, root, seed, seconds, workload, trace=False):
        from harness import STATE_DIR

        self.spark, self.root, self.seed, self.seconds = spark, root, seed, seconds
        self.trace = trace
        self.cache = os.path.join(root, STATE_DIR, "inputs")
        self.work = os.path.join(root, STATE_DIR, "work", f"{workload}-{os.getpid()}")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.work, exist_ok=True)


def end_to_end(ops: list[dict], passes: list[float], setup_s: float,
               peak_mb: float) -> dict:
    from harness import geomean, median

    lat = [o["s"] for o in ops if o["ok"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_geomean_s": {"value": geomean(lat), "unit": "s"},
        "pass_s": {"value": median(passes), "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import harness

    harness.require_checkout(root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"known: {sorted(workloads.WORKLOADS)}")

    t_start = harness.process_start_epoch()
    dirs = harness.scratch_env(root)
    ctx = Ctx(None, root, args.seed, args.seconds, args.workload, bool(args.trace))
    w = workloads.WORKLOADS[args.workload](ctx)
    t_in = time.time()
    w.prepare()
    inputs_s = time.time() - t_in
    sampler = harness.RssSampler().start()
    spark = harness.start_session(root, dirs)
    ctx.spark = spark
    # process start until the session is up, input generation excluded
    setup_s = time.time() - t_start - inputs_s
    phases = {"inputs": inputs_s, "setup": setup_s}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    def measure(seconds, log):
        deadline = time.perf_counter() + seconds
        while True:
            w.run_pass(log)
            if time.perf_counter() >= deadline:
                return

    try:
        w.warm()
        phase("warm")
        log = harness.OpLog()
        extra = {"phase_s": phases}
        if args.trace:
            import layertrace

            measure(args.seconds / 2, log)
            n_plain = len(w.passes())
            plain = harness.median(w.passes())
            tracer = layertrace.Tracer(spark)
            tracer.install()
            t1 = time.perf_counter()
            try:
                measure(args.seconds / 2, log)
            finally:
                tracer.uninstall()
            traced_wall = time.perf_counter() - t1
            traced = harness.median(w.passes()[n_plain:])
            metrics = {k: {"value": v, "unit": layertrace.METRICS[k]}
                       for k, v in tracer.metrics(traced_wall).items()}
            metrics["trace.overhead_frac"]["value"] = traced / plain - 1
            extra["spans"] = len(tracer.spans)
        else:
            measure(args.seconds, log)
        phase("measure")
        w.check(log)
        phase("check")
        passes = w.passes()
        extra.update(w.details())
        import bench

        extra["calibration"] = bench._calibrate()
        phase("calibrate")
    finally:
        harness.stop_session(spark)
    phase("stop")
    peak_mb = sampler.stop()
    harness.wait_for_children()
    w.cleanup()
    shutil.rmtree(ctx.work, ignore_errors=True)
    shutil.rmtree(dirs["tmp"], ignore_errors=True)

    if not args.trace:
        metrics = end_to_end(log.ops, passes, setup_s, peak_mb)
    failed = [o for o in log.ops if not o["ok"]]
    ops_ok = [o["s"] for o in log.ops if o["ok"]]
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": harness.CORES,
        "ops": len(log.ops),
        "op_s_by_kind": {k: harness.median(o["s"] for o in log.ops if o["kind"] == k)
                         for k in sorted({o["kind"] for o in log.ops})},
        "ops_failed_frac": len(failed) / max(1, len(log.ops)),
        "op_p50_s": harness.median(ops_ok),
        "op_p90_s": harness.quantile(ops_ok, 0.9) if len(ops_ok) >= 100 else None,
        **extra,
        "peak_rss_mb_java_python": {k: v / 1024 for k, v in sampler.peak_kb.items()},
        "failures": [{"kind": o["kind"], "why": o.get("why")} for o in failed][:10],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(log.ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

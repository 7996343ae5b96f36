#!/usr/bin/env python
"""Self-test of the benchmark harness (about six minutes on 4 cores).

    python3 perfbench/selftest.py

1. ``run.py --trace 0`` (on ``queries``) and ``--trace 1`` (on
   ``write_paths``) print, as their last line, exactly the end-to-end /
   per-layer metrics BENCHMARK.json names, each with its unit, and
   ``correct`` on the current code; the traced run reports time in each of
   the three streaming layers.
2. A deliberately corrupted output is counted as a failed operation, for a
   query result, for a batch job's commit log and for the stream's 1h
   tier.
3. In a directory holding only BENCHMARK.json and the benchmark, ``run.py``
   exits non-zero without printing a result.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                           *args], cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def check_metric_lines(spec: dict) -> None:
    for wl, trace, key in (("queries", 0, "end_to_end"),
                           ("write_paths", 1, "per_layer")):
        p = _run(["--workload", wl, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace)], ROOT)
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, (trace, sorted(set(got) ^ set(want)))
        assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
        print(f"ok: --trace {trace} prints all {len(want)} {key} metrics with units")
        if trace:
            m = res["metrics"]
            for name in ("streaming.stateful.drain_s", "streaming.incremental.merge_s",
                         "streaming.dedup_inc.merge_s"):
                assert m[name]["value"] > 0, (name, m[name])
            print("ok: the traced write_paths run times the three streaming layers")


def check_corruption_counted() -> None:
    import harness
    import workloads
    from run import Ctx

    dirs = harness.scratch_env(ROOT)
    spark = harness.start_session(ROOT, dirs)
    try:
        ctx = Ctx(spark, ROOT, 7, 1.0, "selftest")
        q = workloads.Queries(ctx, names=["rollup_rerolled_1d", "redact_pii"])
        q.prepare()
        log = harness.OpLog()
        q.run_pass(log)
        i, name, pdf = q.results[0]
        q.results[0] = (i, name, pdf.iloc[1:])  # drop one result row
        q.check(log)
        bad = [o for o in log.ops if not o["ok"]]
        assert len(bad) == 1 and bad[0]["kind"] == name, log.ops
        print("ok: a corrupted query result is counted as a failure")

        import pyarrow.parquet as pq

        def drop_first_row(path):
            t = pq.read_table(path)
            pq.write_table(t.slice(1), path, coerce_timestamps="us")
            # Spark's checksum sidecar would reject the rewritten file
            # before the comparison could
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)

        w = workloads.WritePaths(ctx)
        w.prepare()
        log = harness.OpLog()
        w.run_pass(log)
        assert len(log.ops) == 7 and all(o["ok"] for o in log.ops), log.ops
        job = w.jobs[0]
        commits = os.path.join(job["ck"], "commits")
        drop_first_row(os.path.join(commits, sorted(
            f for f in os.listdir(commits) if f.endswith(".parquet"))[0]))
        w.check(log)
        assert [o["ok"] for o in log.ops] == [False] * 4 + [True] * 3, log.ops
        print("ok: a corrupted commit log fails every step of its job, and only those")

        tier = w.stream.path("state", "rollup_1h")
        drop_first_row(sorted(glob.glob(os.path.join(tier, "*", "*.parquet")))[-1])
        w.check(log)
        assert all(not o["ok"] and "1h tier differs" in o["why"]
                   for o in log.ops[4:]), log.ops
        print("ok: a corrupted stream tier fails every step of the increment")
        w.cleanup()
    finally:
        harness.stop_session(spark)
        for d in (os.path.join(ROOT, harness.STATE_DIR, "work", f"selftest-{os.getpid()}"),
                  workloads.stream_dir(ROOT), dirs["tmp"]):
            shutil.rmtree(d, ignore_errors=True)


def check_refuses_bare_directory() -> None:
    import harness

    bare = os.path.join(ROOT, harness.STATE_DIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(["--workload", "write_paths", "--seed", "1", "--seconds", "1",
              "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    print("ok: a directory without the program exits non-zero, no result")


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_metric_lines(spec)
    check_corruption_counted()
    check_refuses_bare_directory()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

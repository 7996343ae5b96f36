"""Outside-in layer tracing for ``--trace 1`` runs.

Each layer is a ``rasusa_spark`` module. ``Tracer.install`` replaces the
module's public functions — in the module and in every loaded module that
imported them by name — with wrappers that open a span around the call.
Spark is lazy, so a wrapper forces the DataFrame a layer returns inside its
span (to a noop sink, or to a small aggregate where the layer's counters
need one); a span therefore covers that layer's execution, and its self
time is its duration minus its child spans. A call nested in a call of the
same layer gets no span of its own.

Counters come from Spark's status stores: every SQL execution is attributed
to the innermost span open when it was submitted, and its plan-node metrics
(``executionMetrics`` / ``planGraph``) and its stages' task metrics are
summed per layer. Spans stay in memory until the run ends.

The wrappers keep the original ``__module__``/``__qualname__``, so a UDF
closure that references a wrapped function pickles it by reference and the
Python workers run the original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import re
import sys
import time

from harness import CORES, dir_bytes

LAYERS = [
    "sources.table", "operators.downsample", "plans.checkpoint",
    "operators.rollup", "codecs.blobs", "plans.retention",
    "streaming.stateful", "streaming.incremental", "streaming.dedup_inc",
    "operators.text", "operators.dsir", "operators.spans", "operators.dedup",
    "operators.similarity", "operators.timeseries", "functions.cms",
    "functions.histsketch", "functions.distinct",
]
#: the tier merges the write_paths increment runs (one of run_flow's eight)
MERGE_FNS = ["merge_rollup_increment"]
KERNEL_LAYERS = ["operators.text", "operators.dsir", "operators.spans"]
PAIR_LAYERS = ["operators.dedup", "operators.similarity"]
SKETCH_LAYERS = ["operators.timeseries", "functions.cms",
                 "functions.histsketch", "functions.distinct"]
SESSION = ["task_s", "utilization", "gc_s", "spark_jobs", "tasks",
           "failed_tasks", "shuffle_bytes", "spill_bytes", "python_start_s"]

#: every per-layer metric name → unit, in report order
METRICS: dict[str, str] = {}
for _m in SESSION:
    METRICS[f"session.{_m}"] = "s" if _m.endswith("_s") else (
        "bytes" if _m.endswith("_bytes") else "ratio" if _m == "utilization" else "count")
_UNITS = {"rows_scanned": "count", "bytes_scanned": "bytes", "scan_s": "s",
          "busy_s": "s", "task_s": "s", "rows_in": "count", "rows_kept": "count",
          "tokens_kept": "count", "budget_overshoot_tokens": "count",
          "cached_bytes": "bytes", "shuffle_bytes": "bytes", "self_s": "s",
          "files_written": "count", "bytes_written": "bytes",
          "buckets_committed": "count", "tier_rows": "count",
          "gap_filled_rows": "count", "points": "count",
          "bytes_per_point": "bytes", "python_run_s": "s",
          "partitions_dropped": "count", "bytes_freed": "bytes",
          "drain_s": "s", "state_rows": "count", "merge_s": "s",
          "spark_jobs": "count", "store_files": "count",
          "bytes_written_per_delta_byte": "ratio", "recoveries": "count",
          "pairs_emitted": "count", "python_bytes_in": "bytes",
          "kernel_partitions": "count", "utilization": "ratio",
          "candidate_pairs": "count", "verified_pairs": "count",
          "pair_yield": "ratio", "max_task_s": "s", "broadcast_bytes": "bytes"}
_PER_LAYER = {
    "sources.table": ["rows_scanned", "bytes_scanned", "scan_s"],
    "operators.downsample": ["busy_s", "task_s", "rows_in", "rows_kept",
                             "tokens_kept", "budget_overshoot_tokens",
                             "cached_bytes", "shuffle_bytes"],
    "plans.checkpoint": ["self_s", "files_written", "bytes_written",
                         "buckets_committed"],
    "operators.rollup": ["busy_s", "tier_rows", "gap_filled_rows"],
    "codecs.blobs": ["busy_s", "points", "bytes_per_point", "python_run_s"],
    "plans.retention": ["busy_s", "partitions_dropped", "bytes_freed"],
    "streaming.stateful": ["drain_s", "rows_in", "rows_kept", "state_rows"],
    "streaming.incremental": ["merge_s", *[f"{f}_s" for f in MERGE_FNS],
                              "spark_jobs", "store_files",
                              "bytes_written_per_delta_byte", "recoveries"],
    "streaming.dedup_inc": ["merge_s", "pairs_emitted", "store_files", "spark_jobs"],
    **{k: ["busy_s", "python_run_s", "python_bytes_in", "kernel_partitions",
           "utilization"] for k in KERNEL_LAYERS},
    **{k: ["busy_s", "candidate_pairs", "verified_pairs", "pair_yield",
           "max_task_s", "python_run_s"] for k in PAIR_LAYERS},
    **{k: ["busy_s", "shuffle_bytes", "broadcast_bytes", "python_run_s"]
       for k in SKETCH_LAYERS},
}
for _layer in LAYERS:
    for _m in _PER_LAYER[_layer]:
        METRICS[f"{_layer}.{_m}"] = "s" if _m.endswith("_s") else _UNITS[_m]
METRICS["trace.overhead_frac"] = "ratio"

_ACTIVE = "perfbench_active_tracer"  # sys.modules slot the wrappers consult


def _now_ms() -> float:
    return time.time() * 1000.0


def _bound(orig, args, kw) -> dict:
    try:
        b = inspect.signature(orig).bind(*args, **kw)
    except TypeError:
        return {}
    b.apply_defaults()
    return dict(b.arguments)


def _files_since(path: str, since_s: float) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            if st.st_mtime >= since_s:
                n += 1
                size += st.st_size
    return n, size


def _wrap(orig, layer: str):
    @functools.wraps(orig)
    def traced(*args, **kw):
        holder = sys.modules.get(_ACTIVE)
        tracer = getattr(holder, "tracer", None)
        if tracer is None:
            return orig(*args, **kw)
        return tracer.call(layer, orig, args, kw)

    return traced


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.patched: list[tuple[object, str, object]] = []
        self.since_ms = None

    # ------------------------------------------------------------ install
    def install(self) -> None:
        originals = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"rasusa_spark.{layer}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if name.startswith("_") or fn.__module__ != mod.__name__:
                    continue
                originals[id(fn)] = (fn, _wrap(fn, layer))
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("rasusa_spark") or mname in (
                    "__spark_entry__", "stream_flow", "check_all_oracles")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self.patched.append((mod, attr, val))
        holder = type(sys)(_ACTIVE)
        holder.tracer = self
        sys.modules[_ACTIVE] = holder
        self.since_ms = _now_ms()

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self.patched):
            setattr(mod, attr, val)
        self.patched.clear()
        sys.modules.pop(_ACTIVE, None)

    # --------------------------------------------------------------- spans
    def _open(self, name: str, layer: str) -> dict:
        span = {"name": name, "layer": layer, "start": _now_ms(), "end": None,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "id": len(self.spans), "counters": {}}
        self.spans.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = _now_ms()
        self.stack.pop()

    def call(self, layer, orig, args, kw):
        if any(s["layer"] == layer for s in self.stack):
            return orig(*args, **kw)
        span = self._open(orig.__name__, layer)
        try:
            pre = _PRE.get(orig.__name__)
            state = pre(self, span, orig, args, kw) if pre else None
            out = orig(*args, **kw)
            post = _POST.get(orig.__name__, _force_default)
            post(self, span, orig, args, kw, out, state)
            return out
        finally:
            self._close(span)

    def child(self, name: str, layer: str, fn):
        """Run ``fn`` in a child span (input materialization)."""
        span = self._open(name, layer + ".input")
        try:
            return fn()
        finally:
            self._close(span)

    # ------------------------------------------------------------- metrics
    def metrics(self, wall_s: float) -> dict[str, float]:
        execs = _executions(self.spark, self.since_ms)
        stages, jobs = _stages_and_jobs(self.spark)
        by_span: dict[int, list[dict]] = {}
        for e in execs:
            sid = self._span_at(e["submitted"])
            e["stage_ids"] = {s for j in e["jobs"] for s in jobs.get(j, ())}
            if sid is not None:
                by_span.setdefault(sid, []).append(e)

        out = {k: 0.0 for k in METRICS}
        win_stages = [s for s in stages.values() if s["submitted"] >= self.since_ms]
        task_s = sum(s["run_ms"] for s in win_stages) / 1000
        out.update({
            "session.task_s": task_s,
            "session.utilization": task_s / (wall_s * CORES) if wall_s else 0.0,
            "session.gc_s": sum(s["gc_ms"] for s in win_stages) / 1000,
            "session.spark_jobs": float(sum(len(e["jobs"]) for e in execs)),
            "session.tasks": float(sum(s["tasks"] for s in win_stages)),
            "session.failed_tasks": float(sum(s["failed"] for s in win_stages)),
            "session.shuffle_bytes": float(sum(s["shuffle_w"] for s in win_stages)),
            "session.spill_bytes": float(sum(s["spill"] for s in win_stages)),
            "session.python_start_s": sum(_m(e, "time to start Python workers")
                                          for e in execs),
        })

        spans = self.spans
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def self_s(s):
            kids = sorted((c["start"], c["end"]) for c in children.get(s["id"], []))
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            return (s["end"] - s["start"] - covered) / 1000

        def own_s(s):
            """Span duration minus the tracer's own work inside it."""
            tracer_ms = sum(c["end"] - c["start"] for c in children.get(s["id"], [])
                            if c["layer"].endswith(".input"))
            return (s["end"] - s["start"] - tracer_ms) / 1000

        for layer in LAYERS:
            mine = [s for s in spans if s["layer"] == layer]
            # pair counters come from the pair stages only: a signature
            # build or a closure over pairs returns rows that are no pairs
            pair_spans = [s for s in mine if s["name"].endswith("_pairs")
                          or s["name"] == "semantic_dedup"]
            pair_ex = [e for s in pair_spans for e in by_span.get(s["id"], [])]
            ex = [e for s in mine for e in by_span.get(s["id"], [])]
            busy = sum(self_s(s) for s in mine)
            layer_task_s = sum(stages[i]["run_ms"] for e in ex
                               for i in e["stage_ids"] if i in stages) / 1000
            c = _sum_counters(mine)
            vals = {
                "busy_s": busy, "self_s": busy, "task_s": layer_task_s,
                "shuffle_bytes": sum(_m(e, "shuffle bytes written") for e in ex),
                "broadcast_bytes": sum(_m(e, "data size", "BroadcastExchange")
                                       for e in ex),
                "python_run_s": sum(_m(e, "time to run Python workers") for e in ex),
                "python_bytes_in": sum(_m(e, "data sent to Python workers") for e in ex),
                "kernel_partitions": float(sum(
                    e["py_single"] + sum(stages[i]["tasks"] for i in e["py_stages"]
                                         if i in stages) for e in ex)),
                "utilization": layer_task_s / (busy * CORES) if busy > 0 else 0.0,
                "max_task_s": max([e["max_task_s"] for e in ex] or [0.0]),
                "candidate_pairs": float(sum(e["max_join_rows"] for e in pair_ex)),
                "verified_pairs": sum(by_span[s["id"]][-1]["rows_out"]
                                      for s in pair_spans
                                      if s.get("force") and by_span.get(s["id"])),
                "rows_scanned": sum(_m(e, "number of output rows", "Scan") for e in ex),
                "bytes_scanned": sum(_m(e, "size of files read", "Scan") for e in ex),
                "scan_s": sum(_m(e, "scan time", "Scan") for e in ex),
                "spark_jobs": float(sum(len(e["jobs"]) for e in ex)),
                "merge_s": sum(own_s(s) for s in mine
                               if s["name"].startswith("merge_")),
                **c,
            }
            vals["pair_yield"] = (vals["verified_pairs"] / vals["candidate_pairs"]
                                  if vals["candidate_pairs"] else 0.0)
            if layer == "sources.table":
                # the token table is scanned inside the job's downsample step
                ex2 = [e for s in spans if s["layer"] in (
                    "sources.table", "plans.checkpoint", "operators.downsample",
                    "operators.downsample.input") for e in by_span.get(s["id"], [])]
                vals["rows_scanned"] = sum(_m(e, "number of output rows", "Scan") for e in ex2)
                vals["bytes_scanned"] = sum(_m(e, "size of files read", "Scan") for e in ex2)
                vals["scan_s"] = sum(_m(e, "scan time", "Scan") for e in ex2)
            if layer == "streaming.incremental":
                for f in MERGE_FNS:
                    vals[f"{f}_s"] = sum(own_s(s) for s in mine if s["name"] == f)
                delta = c.get("delta_bytes", 0.0)
                vals["bytes_written_per_delta_byte"] = (
                    c.get("state_bytes_written", 0.0) / delta if delta else 0.0)
            if layer == "streaming.stateful":
                vals["drain_s"] = sum(own_s(s) for s in mine)
            for m in _PER_LAYER[layer]:
                out[f"{layer}.{m}"] = float(vals.get(m, 0.0))
        return out

    def _span_at(self, t_ms: float):
        best = None
        for s in self.spans:
            if s["start"] <= t_ms <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["id"]


#: counters that describe a state (the last span's value counts), not work
_LAST = {"store_files", "state_rows", "cached_bytes"}


def _sum_counters(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        for k, v in s["counters"].items():
            out[k] = v if k in _LAST else out.get(k, 0.0) + v
    return out

# ------------------------------------------------------------ forcing hooks


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _is_batch_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame) and not x.isStreaming


def _force_default(tracer, span, orig, args, kw, out, state):
    if _is_batch_df(out):
        _noop(out)
        span["force"] = True
    elif isinstance(out, dict):
        for v in out.values():
            if _is_batch_df(v):
                _noop(v)


def _pre_downsample(tracer, span, orig, args, kw):
    a = _bound(orig, args, kw)
    df = a.get("df")
    if _is_batch_df(df):
        span["counters"]["rows_in"] = float(
            tracer.child("downsample_input", "operators.downsample", df.count))
    return a


def _post_downsample(tracer, span, orig, args, kw, out, a):
    from pyspark.sql import functions as F

    w, groups = a.get("weight_col", "n_tok"), list(a.get("group_cols") or [])
    rows = (out.groupBy(*groups).agg(F.count(F.lit(1)).alias("n"),
                                     F.sum(F.col(w).cast("long")).alias("w"))
            .collect())
    budget = a.get("bases") if a.get("mode") == "bases" else None
    c = span["counters"]
    c["rows_kept"] = float(sum(r["n"] for r in rows))
    c["tokens_kept"] = float(sum(r["w"] or 0 for r in rows))
    c["budget_overshoot_tokens"] = float(sum(
        max(0, (r["w"] or 0) - budget) for r in rows)) if budget else 0.0
    infos = tracer.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    c["cached_bytes"] = float(sum(i.memSize() + i.diskSize() for i in infos))


def _pre_job(tracer, span, orig, args, kw):
    return {"t0": time.time(), **_bound(orig, args, kw)}


def _post_job(tracer, span, orig, args, kw, out, a):
    c = span["counters"]
    c["buckets_committed"] = float(out.count())
    for p in (os.path.join(a["output_path"], "retained"),
              os.path.join(a["checkpoint_path"], "commits")):
        n, size = _files_since(p, a["t0"] - 1)
        c["files_written"] = c.get("files_written", 0.0) + n
        c["bytes_written"] = c.get("bytes_written", 0.0) + size


def _post_tiers(tracer, span, orig, args, kw, out, state):
    from pyspark.sql import functions as F

    c = span["counters"]
    for df in out.values():
        agg = [F.count(F.lit(1)).alias("n")]
        if "gap_filled" in df.columns:
            agg.append(F.sum(F.col("gap_filled").cast("long")).alias("g"))
        r = df.agg(*agg).collect()[0]
        c["tier_rows"] = c.get("tier_rows", 0.0) + r["n"]
        c["gap_filled_rows"] = c.get("gap_filled_rows", 0.0) + (
            r["g"] or 0 if "gap_filled" in df.columns else 0)


def _post_blobs(tracer, span, orig, args, kw, out, state):
    from pyspark.sql import functions as F

    blob_cols = [c for c in out.columns if c.endswith("_blob")]
    r = out.agg(F.sum("n_points").alias("p"),
                sum(F.sum(F.octet_length(c)) for c in blob_cols).alias("b")).collect()[0]
    c = span["counters"]
    c["points"] = float(r["p"] or 0)
    c["blob_bytes"] = float(r["b"] or 0)
    c["bytes_per_point"] = c["blob_bytes"] / c["points"] if c["points"] else 0.0


def _pre_retention(tracer, span, orig, args, kw):
    a = _bound(orig, args, kw)
    a["before"] = dir_bytes(os.path.join(a["output_path"], "retained"))[1]
    return a


def _post_retention(tracer, span, orig, args, kw, out, a):
    c = span["counters"]
    c["partitions_dropped"] = float(out.count())
    c["bytes_freed"] = float(
        a["before"] - dir_bytes(os.path.join(a["output_path"], "retained"))[1])


def _pre_drain(tracer, span, orig, args, kw):
    a = _bound(orig, args, kw)
    a["seen"] = set(_parquet_files(a["output_path"]))
    return a


def _parquet_files(path: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(path):
        out.extend(os.path.join(dirpath, n) for n in names if n.endswith(".parquet"))
    return out


def _post_drain(tracer, span, orig, args, kw, q, a):
    import pyarrow.parquet as pq

    q.awaitTermination()
    progress = q.recentProgress
    c = span["counters"]
    c["rows_in"] = float(sum(p.get("numInputRows", 0) or 0 for p in progress))
    ops = [op for p in progress for op in (p.get("stateOperators") or [])]
    c["state_rows"] = float(ops[-1].get("numRowsTotal", 0)) if ops else 0.0
    c["rows_kept"] = float(sum(pq.ParquetFile(f).metadata.num_rows
                               for f in _parquet_files(a["output_path"])
                               if f not in a["seen"]))


def _pre_merge(tracer, span, orig, args, kw):
    a = _bound(orig, args, kw)
    a["t0"] = time.time()
    return a


def _state_files(state: str, dedup: bool) -> int:
    n = 0
    if not os.path.isdir(state):
        return 0
    for top in os.listdir(state):
        if top.startswith("minhash") == dedup:
            n += dir_bytes(os.path.join(state, top))[0]
    return n


def _post_merge(tracer, span, orig, args, kw, out, a):
    # the merge has written its store when it returns; what it returns is
    # a lazy read of the whole store, which is not the merge's work
    c = span["counters"]
    state = a["state_path"]
    c["delta_bytes"] = float(sum(os.path.getsize(f.replace("file:", "", 1))
                                 for f in (a.get("files") or [])
                                 if os.path.exists(f.replace("file:", "", 1))))
    c["state_bytes_written"] = float(_files_since(state, a["t0"] - 1)[1])
    c["store_files"] = float(_state_files(state, dedup=False))


def _post_minhash(tracer, span, orig, args, kw, out, a):
    c = span["counters"]
    total = tracer.child("pairs", "streaming.dedup_inc", out.count)
    prev = getattr(tracer, "_pairs_seen", 0)
    c["pairs_emitted"] = float(total - prev)
    tracer._pairs_seen = total
    c["store_files"] = float(_state_files(a["state_path"], dedup=True))


def _post_semantic_dedup(tracer, span, orig, args, kw, out, a):
    """Candidate pairs are the within-cell pairs, sum of m(m-1)/2 over the
    IVF cells; they are counted from the same cell assignment, in a child
    span, after the output is forced."""
    _force_default(tracer, span, orig, args, kw, out, a)
    sim = importlib.import_module("rasusa_spark.operators.similarity")
    a = _bound(orig, args, kw)

    def cell_sizes():
        cents = sim.ivf_build_centroids(
            a["df"], n_cells=a["n_cells"], sample=a["sample"], iters=a["iters"],
            seed=a["seed"], vec_col=a["vec_col"], id_col=a["id_col"])
        return (sim.ivf_assign(a["df"], cents, vec_col=a["vec_col"])
                .groupBy("ivf_cell").count().collect())

    rows = tracer.child("cells", "operators.similarity", cell_sizes)
    span["counters"]["candidate_pairs"] = float(
        sum(r["count"] * (r["count"] - 1) // 2 for r in rows))


def _pre_clusters(tracer, span, orig, args, kw):
    """Verified pairs of ``semantic_dedup`` are the pairs its cell stage
    hands to ``dedup_clusters``: counted there, in a child span."""
    parent = tracer.stack[-2] if len(tracer.stack) > 1 else None
    if parent is not None and parent["layer"] == "operators.similarity":
        pairs = _bound(orig, args, kw)["pairs"]
        n = tracer.child("pairs", "operators.similarity", pairs.count)
        c = parent["counters"]
        c["verified_pairs"] = c.get("verified_pairs", 0.0) + n
    return None


def _post_recover(tracer, span, orig, args, kw, out, state):
    span["counters"]["recoveries"] = float(bool(out))


_PRE = {"downsample": _pre_downsample, "run_downsample_job": _pre_job,
        "apply_retention": _pre_retention,
        "streaming_budget_downsample": _pre_drain,
        "merge_minhash_increment": _pre_merge, "dedup_clusters": _pre_clusters,
        **{f: _pre_merge for f in MERGE_FNS}}
_POST = {"downsample": _post_downsample, "run_downsample_job": _post_job,
         "rollup_all_tiers": _post_tiers,
         "compress_metric_streams": _post_blobs,
         "apply_retention": _post_retention,
         "streaming_budget_downsample": _post_drain,
         "merge_minhash_increment": _post_minhash,
         "recover_pending": _post_recover,
         "semantic_dedup": _post_semantic_dedup,
         **{f: _post_merge for f in MERGE_FNS}}

# ----------------------------------------------------------- status stores

_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")
_SCALE = {"": 1, "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
          "TiB": 1024**4, "ms": 1e-3, "s": 1, "m": 60, "min": 60, "h": 3600,
          "ns": 1e-9}


def _parse(value: str) -> tuple[float, float]:
    """(total, max) of a formatted SQL metric: '1,234', '2.0 MiB' or
    'total (min, med, max (stageId: taskId))\\n4.2 s (316 ms, 679 ms, 684 ms
    (stage 2.0: task 4))'. Times in seconds, sizes in bytes."""
    text = value.split("\n", 1)[-1]
    nums = _NUM.findall(text)
    if not nums:
        return 0.0, 0.0

    def conv(n):
        try:
            return float(n[0].replace(",", "")) * _SCALE.get(n[1], 1)
        except ValueError:
            return 0.0

    total = conv(nums[0])
    mx = conv(nums[3]) if "\n" in value and len(nums) >= 4 else total
    return total, mx


def _seq(x) -> list:
    lst = x.toList() if hasattr(x, "toList") else x
    return [lst.apply(i) for i in range(lst.size())]


def _executions(spark, since_ms: float) -> list[dict]:
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        if e.submissionTime() < since_ms:
            continue
        eid = e.executionId()
        values = store.executionMetrics(eid)
        nodes = []
        for node in _seq(store.planGraph(eid).allNodes()):
            ms = {}
            for pm in _seq(node.metrics()):
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    ms[pm.name()] = v.get()
            nodes.append((node.name(), ms))
        rec = {"id": eid, "submitted": float(e.submissionTime()),
               "jobs": [int(j) for j in _seq(e.jobs().keys())], "nodes": nodes}
        py_stages, py_single, max_task, max_join = set(), 0, 0.0, 0.0
        for name, ms in nodes:
            for mname, v in ms.items():
                if mname in ("duration", "time to run Python workers"):
                    max_task = max(max_task, _parse(v)[1])
            if "time to run Python workers" in ms:
                # a one-task metric is printed without its stage annotation
                ids = re.findall(r"stage (\d+)\.", ms["time to run Python workers"])
                py_stages.update(int(i) for i in ids)
                py_single += not ids
            if "Join" in name and "number of output rows" in ms:
                max_join = max(max_join, _parse(ms["number of output rows"])[0])
        rows_out = next((_parse(ms["number of output rows"])[0] for _, ms in nodes
                         if "number of output rows" in ms), 0.0)
        rec.update(py_stages=py_stages, py_single=py_single, max_task_s=max_task,
                   max_join_rows=max_join, rows_out=rows_out)
        out.append(rec)
    return out


def _m(e: dict, metric: str, node_prefix: str = "") -> float:
    return sum(_parse(ms[metric])[0] for name, ms in e["nodes"]
               if metric in ms and name.startswith(node_prefix))


def _stages_and_jobs(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    for s in _seq(store.stageList(None, False, False, empty, None)):
        sub = s.submissionTime()
        stages[int(s.stageId())] = {
            "tasks": int(s.numCompleteTasks()), "failed": int(s.numFailedTasks()),
            "run_ms": float(s.executorRunTime()), "gc_ms": float(s.jvmGcTime()),
            "shuffle_w": float(s.shuffleWriteBytes()),
            "spill": float(s.diskBytesSpilled()),
            "submitted": float(sub.get().getTime()) if sub.isDefined() else 0.0,
        }
    jobs = {int(j.jobId()): [int(i) for i in _seq(j.stageIds())]
            for j in _seq(store.jobsList(None))}
    return stages, jobs

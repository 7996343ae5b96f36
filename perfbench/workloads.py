"""The benchmark's workloads. Each one is a closed loop with one client: the
next operation starts only after the previous one returned.

``write_paths``  the two production write paths, each as one process runs
                 it: a ``scripts/run_job.py`` batch job (read → downsample +
                 checkpoint → every tier → metric blobs → retention) over a
                 seeded token table with real token arrays, then one
                 ``scripts/stream_flow.py`` increment (stateful budget
                 drain, 1h tier merge, minhash increment) of a seeded
                 arrival into a persisted stream store.
``queries``      ``__spark_entry__.queries()`` entries over seeded
                 ``events`` / ``documents`` / ``embeddings`` tables, each
                 result collected by the client.

A workload offers ``prepare`` (inputs, no Spark), ``warm``, ``run_pass``,
``check``, ``passes`` and ``details``. Outputs are checked after the
deadline; a mismatch fails its operation.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

import inputs
from harness import STATE_DIR, OpLog, dir_bytes, fresh_dir, median

HERE = os.path.dirname(os.path.abspath(__file__))
#: seed of the stream history, the arrivals already in the store
FIXED_SEED = 2**31 - 1


def load_script(root: str, rel: str):
    name = os.path.splitext(os.path.basename(rel))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_steps(steps, log: OpLog) -> tuple[float, bool]:
    """Run ``(kind, fn)`` steps as timed operations. After a failure the
    remaining steps are counted as failed without running. Returns the wall
    time of the steps and whether one failed."""
    failed = False
    t0 = time.perf_counter()
    for kind, fn in steps:
        if failed:
            log.ops.append({"kind": kind, "s": 0.0, "ok": False,
                            "why": "an earlier step failed"})
            continue
        try:
            log.timed(kind, fn)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            log.ops.append({"kind": kind, "s": 0.0, "ok": False,
                            "why": f"{type(exc).__name__}: {exc}"[:300]})
            failed = True
    return time.perf_counter() - t0, failed


def fail_ops(log: OpLog, lo: int, hi: int, why: str) -> None:
    for op in log.ops[lo:hi]:
        op["ok"] = False
        op["why"] = why


def _checked(check, *args) -> list[str]:
    """``check``'s failure reasons; an output the check cannot even read
    is a failure too."""
    try:
        return check(*args)
    except Exception as exc:  # noqa: BLE001 — a failed check is counted
        return [f"check raised {type(exc).__name__}: {exc}"[:300]]


def _differ(a, b) -> bool:
    b = b.select(*a.columns)
    return bool(a.exceptAll(b).count() or b.exceptAll(a).count())


# --------------------------------------------------------------- batch job

BATCH_ROWS = 10_000
BATCH_MAX_TOK = 1024
#: per-(source, day) token budget: about a fifth of the input tokens are
#: kept; the large web groups keep under a tenth while the small forums
#: groups keep everything, so both selection paths run
BATCH_BUDGET = 20_000
BATCH_SEED = 42
RETAIN_FROM = "2026-01-08 00:00:00"  # drops 7 of the 14 input days


def _job(budget: int):
    from rasusa_spark.plans.checkpoint import DownsampleJob

    return DownsampleJob(seed=BATCH_SEED, mode="bases", bases=budget,
                         strategy="threshold")


def _expected_kept(spark, table: str, path: str) -> str:
    """Reference selection: ``downsample(strategy="window")`` over the same
    bucketed input, cached next to the input."""
    if os.path.exists(path):
        return path
    from pyspark.sql import functions as F

    from rasusa_spark.operators.downsample import downsample
    from rasusa_spark.sources.table import read_tokens_table

    df = read_tokens_table(spark, table).withColumn(
        "bucket_start", F.date_trunc("day", F.col("ts")))
    kept = downsample(df.drop("tokens"), seed=BATCH_SEED,
                      group_cols=["source", "bucket_start"], mode="bases",
                      bases=BATCH_BUDGET, strategy="window")
    pdf = kept.select("doc_id", "source", "bucket_start", "n_tok").toPandas()
    tmp = f"{path}.tmp{os.getpid()}"
    pdf.to_parquet(tmp, index=False)
    os.rename(tmp, path)
    return path


def _read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path, partitioning="hive").to_pandas()


def _bucket_key(s: pd.Series) -> pd.Series:
    return pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")


def check_batch_outputs(expected: pd.DataFrame, out: str, ck: str) -> list[str]:
    """The job's outputs against the window-strategy reference selection.
    Returns failure reasons (empty when every check passes)."""
    from rasusa_spark.codecs.blobs import decode_metric_streams

    bad = []
    exp = expected.assign(bucket_start=_bucket_key(expected["bucket_start"]))
    cutoff = pd.Timestamp(RETAIN_FROM)
    keep_exp = exp[exp["bucket_start"] >= cutoff]
    per_bucket = (exp.groupby(["source", "bucket_start"])["n_tok"]
                  .agg(rows="count", tok="sum").reset_index())

    retained = _read_dir(os.path.join(out, "retained"))
    if sorted(retained["doc_id"]) != sorted(keep_exp["doc_id"]):
        bad.append("retained ids differ from the window-strategy selection")

    commits = _read_dir(os.path.join(ck, "commits"))
    got = (commits.assign(bucket_start=_bucket_key(commits["bucket_start"]))
           .rename(columns={"rows_kept": "rows", "n_tok_kept": "tok"})
           [["source", "bucket_start", "rows", "tok"]])
    if not _same(got, per_bucket, ["source", "bucket_start"]):
        bad.append("commit log differs from per-bucket aggregates of the kept rows")

    log = _read_dir(os.path.join(ck, "retention"))
    got = (log.assign(bucket_start=_bucket_key(log["bucket_start"]))
           .rename(columns={"rows_dropped": "rows", "n_tok_dropped": "tok"})
           [["source", "bucket_start", "rows", "tok"]])
    if not _same(got, per_bucket[per_bucket["bucket_start"] < cutoff],
                 ["source", "bucket_start"]):
        bad.append("retention log differs from the dropped buckets")

    d1 = _read_dir(os.path.join(out, "rollup_1d"))
    d1 = d1[~d1["gap_filled"]]
    got = (d1.assign(bucket_start=_bucket_key(d1["bucket_start"]))
           .rename(columns={"row_count": "rows", "n_tok_sum": "tok"})
           [["source", "bucket_start", "rows", "tok"]])
    if not _same(got, per_bucket, ["source", "bucket_start"]):
        bad.append("1d tier differs from a direct re-aggregation")

    h1 = _read_dir(os.path.join(out, "rollup_1h"))
    blobs = _read_dir(os.path.join(out, "metric_blobs_1h"))
    dec = decode_metric_streams(blobs).rename(columns={"group_key": "source"})
    want = h1.assign(bucket_start=_bucket_key(h1["bucket_start"]))
    dec = dec.assign(bucket_start=_bucket_key(dec["bucket_start"]))
    cols = ["source", "bucket_start", "n_tok_sum", "row_count"]
    if not _same(dec[cols], want[cols], ["source", "bucket_start"]):
        bad.append("decoded metric blobs differ from the 1h tier")
    return bad


def _same(a: pd.DataFrame, b: pd.DataFrame, keys: list[str]) -> bool:
    if len(a) != len(b):
        return False
    a = a.sort_values(keys).reset_index(drop=True)
    b = b[list(a.columns)].sort_values(keys).reset_index(drop=True)
    return all((a[c].to_numpy() == b[c].to_numpy()).all() for c in a.columns)



# ------------------------------------------------------------------ stream

STREAM_ROWS = 2_000
STREAM_DOCS = 100
STREAM_MAX_TOK = 512
#: per-(source, day) token budget of the drain: an arrival's large web
#: group is capped, its small groups are kept whole
STREAM_BUDGET = 75_000
#: arrivals of FIXED_SEED already in the store when a run starts
HISTORY = 1
MINHASH_THRESHOLD = 0.5


class Stream:
    """A persisted ``stream_flow`` store under ``.perfbench/stream`` and the
    increments that land on it. The store records absolute file paths
    (stream checkpoint, file-sink log, merge manifests), so its snapshot is
    built and restored at this one path."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root
        self.flow = load_script(root, "scripts/stream_flow.py")
        self.work = stream_dir(root)
        self.cache = os.path.join(root, STATE_DIR, "inputs")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def land(self, k: int, seed: int) -> None:
        """Copy arrival ``k`` into the landing directories."""
        src = inputs.arrival(self.cache, seed, k, STREAM_ROWS, STREAM_DOCS,
                             STREAM_MAX_TOK, FIXED_SEED)
        os.makedirs(self.path("landing", "tok"), exist_ok=True)
        shutil.copy(os.path.join(src, "tok.parquet"),
                    self.path("landing", "tok", f"{k:04d}.parquet"))
        os.makedirs(self.path("landing", "doc", f"{k:04d}"))
        shutil.copy(os.path.join(src, "doc.parquet"),
                    self.path("landing", "doc", f"{k:04d}", "part.parquet"))

    def steps(self):
        """One ``run_flow`` round with one of its eight tier merges, the 1h
        rollup: the drain of every unseen token file through the stateful
        budget cap, the merge transaction of the unmerged retained files
        into the 1h tier, and the minhash increment of the unseen document
        files. Each step lists, recovers and reads its manifest as
        ``run_flow`` does."""
        from rasusa_spark.streaming.dedup_inc import (
            merge_minhash_increment,
            recover_pending_dedup,
        )
        from rasusa_spark.streaming.incremental import (
            _read_parquet_or_none,
            merge_rollup_increment,
            recover_pending,
        )
        from rasusa_spark.streaming.stateful import streaming_budget_downsample

        spark, flow, state = self.spark, self.flow, self.path("state")

        def unseen(manifest: str, files: list[str]) -> list[str]:
            m = _read_parquet_or_none(spark, os.path.join(state, manifest))
            seen = {r.path for r in m.collect()} if m is not None else set()
            return [f for f in files if f not in seen]

        def drain():
            streaming_budget_downsample(
                spark, self.path("landing", "tok"), self.path("ck_budget"),
                self.path("retained"), flow.STREAM_SCHEMA, STREAM_BUDGET,
                max_files_per_trigger=1).awaitTermination()

        def merge_1h():
            recover_pending(spark, state, "rollup_1h")
            new = unseen("rollup_1h_files",
                         flow._list_parquet_files(spark, self.path("retained")))
            if new:
                delta = spark.read.schema(flow.OUT_SCHEMA_FLOW).parquet(*new)
                merge_rollup_increment(spark, delta, state, tier="1h",
                                       allow_late=True, files=new).count()

        def minhash():
            recover_pending_dedup(spark, state)
            new = unseen("minhash_files", flow._list_parquet_files_recursive(
                spark, self.path("landing", "doc")))
            if new:
                merge_minhash_increment(spark, spark.read.parquet(*new), state,
                                        files=new,
                                        threshold=MINHASH_THRESHOLD).count()

        return [("drain", drain), ("merge_1h", merge_1h), ("minhash", minhash)]

    def check(self) -> list[str]:
        """The 1h tier against a re-aggregation of the retained set, and the
        stored pairs against batch ``minhash_lsh_pairs`` over every
        document delivered so far. Returns failure reasons."""
        from pyspark.sql import functions as F

        from rasusa_spark.operators.dedup import minhash_lsh_pairs, release_dedup_caches
        from rasusa_spark.operators.rollup import rollup
        from rasusa_spark.streaming.dedup_inc import minhash_pairs_store

        spark, state = self.spark, self.path("state")
        bad = []
        stored = spark.read.parquet(os.path.join(state, "rollup_1h")).drop(
            "bucket_part", "gap_filled")
        direct = rollup(spark.read.parquet(self.path("retained")), "1h").drop(
            "gap_filled")
        if _differ(stored, direct):
            bad.append("1h tier differs from a re-aggregation of the retained set")
        docs = spark.read.parquet(*sorted(glob.glob(
            self.path("landing", "doc", "*", "*.parquet"))))
        batch = minhash_lsh_pairs(docs, n_perm=64, n_bands=32,
                                  threshold=MINHASH_THRESHOLD)
        key = [F.col("id_a"), F.col("id_b"), F.round("est_jaccard", 9).alias("j")]
        got = minhash_pairs_store(spark, state).select(key)
        self.pairs = got.count()
        if _differ(got, batch.select(key)):
            bad.append("pairs differ from batch minhash_lsh_pairs")
        release_dedup_caches()
        return bad


def stream_dir(root: str) -> str:
    return os.path.join(root, STATE_DIR, "stream")


def stream_snapshot(root: str) -> str:
    return os.path.join(root, STATE_DIR, "inputs",
                        f"stream-h{HISTORY}-r{STREAM_ROWS}-d{STREAM_DOCS}")


def build_history(spark, root: str) -> None:
    """Land the ``HISTORY`` arrivals of ``FIXED_SEED`` on an empty store and
    keep the store as the snapshot every ``write_paths`` run starts from."""
    st = Stream(spark, root)
    shutil.rmtree(st.work, ignore_errors=True)
    for k in range(HISTORY):
        st.land(k, FIXED_SEED)
        log = OpLog()
        _, failed = run_steps(st.steps(), log)
        if failed:
            raise RuntimeError(f"stream history: {log.ops[-1].get('why')}")
    snap = stream_snapshot(root)
    tmp = f"{snap}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(st.work, tmp)
    os.rename(tmp, snap)


# ------------------------------------------------------------- write_paths


class WritePaths:
    name = "write_paths"

    def __init__(self, ctx):
        self.ctx = ctx
        self.table = ""
        self.stream: Stream | None = None
        self.expected: pd.DataFrame | None = None
        self.n = 0
        self.jobs: list[dict] = []
        self.increments: list[dict] = []
        self.walls: list[float] = []

    def prepare(self) -> None:
        """The seed's token table and first arrival, and the stream store
        restored to its snapshot. A checkout without a snapshot builds it
        in a process of its own (``stream_history.py``), so that no
        measured pass runs in a JVM warmed by it; a traced run builds it in
        its untimed warm-up pass instead (``warm``)."""
        c = self.ctx
        self.table = inputs.token_table(c.cache, c.seed, BATCH_ROWS, BATCH_MAX_TOK)
        inputs.arrival(c.cache, c.seed, HISTORY, STREAM_ROWS, STREAM_DOCS,
                       STREAM_MAX_TOK, FIXED_SEED)
        snap = stream_snapshot(c.root)
        if not os.path.exists(snap) and not c.trace:
            p = subprocess.run([sys.executable, os.path.join(HERE, "stream_history.py")],
                               cwd=c.root, capture_output=True, text=True, timeout=170)
            if p.returncode:
                raise RuntimeError(f"stream_history.py failed: {p.stderr[-2000:]}")
        if os.path.exists(snap):
            shutil.rmtree(stream_dir(c.root), ignore_errors=True)
            shutil.copytree(snap, stream_dir(c.root))

    def warm(self) -> None:
        """Nothing before a timed run: each run is one cold process. Before
        a traced run, one untimed pass; in a checkout without a stream
        snapshot it builds the snapshot instead of landing an arrival, and
        runs the job alone."""
        c = self.ctx
        if not c.trace:
            return
        if os.path.exists(stream_snapshot(c.root)):
            self.run_pass(None)
            return
        build_history(c.spark, c.root)
        out, ck = self._job_dirs("warm")
        run_steps(self._job_steps("warm", out, ck), OpLog())

    def _job_dirs(self, n) -> tuple[str, str]:
        return (fresh_dir(os.path.join(self.ctx.work, f"job{n}", "out")),
                fresh_dir(os.path.join(self.ctx.work, f"job{n}", "ck")))

    def run_pass(self, log: OpLog | None) -> None:
        """One batch job over the seed's table (four timed steps), then one
        increment of the next arrival (three timed steps). Without ``log``
        the pass is untimed and unchecked."""
        if self.stream is None:
            self.stream = Stream(self.ctx.spark, self.ctx.root)
        n = self.n
        self.n += 1
        self.stream.land(HISTORY + n, self.ctx.seed)
        out, ck = self._job_dirs(n)
        rec = log is not None
        log = log if rec else OpLog()
        lo = len(log.ops)
        job_s, job_failed = run_steps(self._job_steps(n, out, ck), log)
        mid = len(log.ops)
        inc_s, inc_failed = run_steps(self.stream.steps(), log)
        if rec:
            self.jobs.append({"out": out, "ck": ck, "ops": (lo, mid),
                              "failed": job_failed, "wall_s": job_s})
            self.increments.append({"ops": (mid, len(log.ops)),
                                    "failed": inc_failed, "wall_s": inc_s})
            if not (job_failed or inc_failed):
                self.walls.append(job_s + inc_s)

    def _job_steps(self, n, out: str, ck: str):
        """The ``run_job.py --rollup --drop-raw-before`` sequence."""
        from rasusa_spark.codecs.blobs import compress_metric_streams
        from rasusa_spark.operators.rollup import rollup_all_tiers
        from rasusa_spark.plans.checkpoint import read_retained, run_downsample_job
        from rasusa_spark.plans.retention import apply_retention
        from rasusa_spark.sources.table import read_tokens_table

        spark = self.ctx.spark
        tiers = {}

        def downsample_step():
            df = read_tokens_table(spark, self.table)
            run_downsample_job(spark, df, _job(BATCH_BUDGET), out, ck,
                               run_id=f"bench-{n}").count()

        def tiers_step():
            tiers.update(rollup_all_tiers(read_retained(spark, out)))
            for name, tier_df in tiers.items():
                tier_df.write.mode("overwrite").parquet(
                    os.path.join(out, f"rollup_{name}"))

        def blobs_step():
            compress_metric_streams(tiers["1h"]).write.mode("overwrite").parquet(
                os.path.join(out, "metric_blobs_1h"))

        def retention_step():
            apply_retention(spark, out, drop_before=RETAIN_FROM, tier="1h",
                            run_id=f"bench-{n}", checkpoint_path=ck).count()

        return [("downsample", downsample_step), ("tiers", tiers_step),
                ("blobs", blobs_step), ("retention", retention_step)]

    def check(self, log: OpLog) -> None:
        if self.expected is None:
            self.expected = pd.read_parquet(_expected_kept(
                self.ctx.spark, self.table, os.path.join(
                    os.path.dirname(self.table),
                    f"expected_b{BATCH_BUDGET}.parquet")))
        for job in self.jobs:
            if job["failed"]:
                continue
            bad = _checked(check_batch_outputs, self.expected, job["out"], job["ck"])
            if bad:
                fail_ops(log, *job["ops"], "; ".join(bad))
        if self.stream is not None and self.increments:
            bad = _checked(self.stream.check)
            if bad:
                for inc in self.increments:
                    fail_ops(log, *inc["ops"], "; ".join(bad))

    def passes(self) -> list[float]:
        return self.walls

    def details(self) -> dict:
        """The write-path summary metrics: input tokens per second of job
        wall time, bytes on disk after the job per input byte, and the
        median increment wall time."""
        jobs = [j["wall_s"] for j in self.jobs if not j["failed"]]
        incs = [i["wall_s"] for i in self.increments if not i["failed"]]
        out = {"jobs_s": jobs, "increments_s": incs, "input_rows": BATCH_ROWS,
               "arrival_rows": STREAM_ROWS, "arrival_docs": STREAM_DOCS,
               "stream_pairs": getattr(self.stream, "pairs", None),
               "increment_p50_s": median(incs)}
        if jobs:
            tokens = int(pq.read_table(self.table, columns=["n_tok"])
                         .column("n_tok").to_numpy().sum())
            stored = [dir_bytes(os.path.dirname(j["out"]))[1]
                      for j in self.jobs if not j["failed"]]
            out.update(input_tokens=tokens,
                       job_tokens_per_s=tokens / median(jobs),
                       stored_bytes_per_input_byte=median(stored)
                       / dir_bytes(self.table)[1])
        return out

    def cleanup(self) -> None:
        shutil.rmtree(stream_dir(self.ctx.root), ignore_errors=True)

# ------------------------------------------------------------------ queries

N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 300

#: one query per layer it stresses; see README.md
EVENT_QUERIES = [
    "rollup_rerolled_1d",     # operators.rollup
    "asof_join",              # operators.timeseries
    "cms_user_counts_1d",     # functions.cms
    "hist_rerolled_1d",       # functions.histsketch
    "distinct_rerolled_1d",   # functions.distinct
]
DOC_QUERIES = [
    "semantic_dedup",         # operators.similarity (IVF pair stage)
    "dsir_scores",            # operators.dsir
    "dup_spans",              # operators.spans
    "redact_pii",             # operators.text
    "minhash_pairs",          # operators.dedup (LSH pair stage)
]


class Queries:
    name = "queries"

    def __init__(self, ctx, names=None):
        import __spark_entry__ as entrymod

        self.ctx = ctx
        self.names = list(names or EVENT_QUERIES + DOC_QUERIES)
        self.fns = entrymod.queries()
        missing = [n for n in self.names if n not in self.fns]
        if missing:
            raise SystemExit(f"perfbench: unknown queries: {missing}")
        self.entry = entrymod
        self.oracle_mod = load_script(ctx.root, "scripts/check_all_oracles.py")
        self.dir = ""
        self.results: list[tuple[int, str, pd.DataFrame]] = []
        self.pass_sums: list[float] = []

    def prepare(self) -> None:
        """The seed's tables, which every pass reads."""
        self.dir = inputs.query_tables(self.ctx.cache, self.ctx.seed,
                                       N_EVENTS, N_DOCS, N_VECS)

    def _release(self) -> None:
        """Drop the operators' registered caches between passes, as the
        frozen ``bench.py`` does between repeats."""
        from rasusa_spark.operators.dedup import release_dedup_caches
        from rasusa_spark.operators.downsample import release_threshold_caches

        release_dedup_caches()
        release_threshold_caches()
        self.ctx.spark.catalog.clearCache()

    def run_pass(self, log: OpLog | None) -> None:
        """Every query once over the seed's tables, in the fixed order of
        ``names``; each result is collected by the client. Without ``log``
        the pass is untimed and unchecked. The order is fixed because the
        first query of a cold pass pays the session's one-time costs
        (about 3 s): a seeded order moved them from query to query and
        spread ``op_geomean_s`` by 0.19 across seeds."""
        spark, d = self.ctx.spark, self.dir
        total = 0.0
        for name in self.names:
            t0 = time.perf_counter()
            try:
                pdf = self.fns[name](spark, d).toPandas()
                ok, why = True, None
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                pdf, ok, why = None, False, f"{type(exc).__name__}: {exc}"[:300]
            dt = time.perf_counter() - t0
            total += dt
            if log is not None:
                log.ops.append({"kind": name, "s": dt, "ok": ok, "why": why})
                if ok:
                    self.results.append((len(log.ops) - 1, name, pdf))
        self._release()
        if log is not None:
            self.pass_sums.append(total)

    def warm(self) -> None:
        """Nothing before a timed run: each run is one cold process, whose
        first pass pays the one-time costs of every query shape. Before a
        traced run, one untimed pass."""
        if self.ctx.trace:
            self.run_pass(None)

    def oracle_hash(self, name: str) -> tuple[int, list[str], str]:
        """(rows, sorted columns, value hash) of the DuckDB oracle, cached
        beside the seed's tables."""
        d = self.dir
        path = os.path.join(d, "oracle.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        if name not in cache:
            import duckdb

            con = duckdb.connect()
            for t in ("events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(d, t)}.parquet'")
            ddf = con.execute(self._oracle_sql()[name]).fetchdf()
            con.close()
            cache[name] = [len(ddf), sorted(ddf.columns),
                           self.oracle_mod._value_hash(ddf)]
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, path)
        return tuple(cache[name])

    def _oracle_sql(self) -> dict[str, str]:
        """``oracle_sql()`` with the IVF/PQ codebook oracles rebuilt from
        the seed's own embeddings: they read their training sample from
        ``_SF001_DIR``, the sf0.01 table they are checked on."""
        saved = self.entry._SF001_DIR
        self.entry._SF001_DIR = self.dir
        try:
            return self.entry.oracle_sql()
        finally:
            self.entry._SF001_DIR = saved

    def check(self, log: OpLog) -> None:
        """Row count, column set and order-insensitive value hash against
        the oracle, as ``scripts/check_all_oracles.py`` compares them."""
        for i, name, pdf in self.results:
            bad = _checked(self._compare, name, pdf)
            if bad:
                fail_ops(log, i, i + 1, "; ".join(bad))
        self.results.clear()

    def _compare(self, name: str, pdf: pd.DataFrame) -> list[str]:
        rows, cols, h = self.oracle_hash(name)
        if len(pdf) != rows or sorted(pdf.columns) != cols:
            return [f"rows/columns differ from the oracle ({len(pdf)} vs {rows})"]
        if self.oracle_mod._value_hash(pdf) != h:
            return ["values differ from the oracle"]
        return []

    def passes(self) -> list[float]:
        return self.pass_sums

    def details(self) -> dict:
        return {"passes": self.pass_sums, "queries_per_pass": len(self.names)}

    def cleanup(self) -> None:
        """Nothing outside the run's work directory."""


WORKLOADS = {w.name: w for w in (WritePaths, Queries)}

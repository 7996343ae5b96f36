"""Process-level plumbing shared by every workload: keeping all scratch
inside the checkout, starting the Spark session (the ``setup_s`` span),
sampling peak resident memory, timing operations and stopping every
process the run started."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time

#: everything a run writes lives under this directory of the checkout
STATE_DIR = ".perfbench"
CORES = os.cpu_count() or 4
#: the Spark driver heap: the inputs are small and the machine is shared
HEAP = "1g"


def require_checkout(root: str) -> None:
    """Refuse to run without the program's sources next to the benchmark."""
    missing = [p for p in ("rasusa_spark/__init__.py", "__spark_entry__.py",
                           "scripts/stream_flow.py", "bench.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        raise SystemExit(
            f"perfbench: not a rasusa_spark checkout (missing {', '.join(missing)})")


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def scratch_env(root: str) -> dict[str, str]:
    """Point every temp/scratch location of the JVM, Spark and Python at the
    checkout, and make the library importable by the Python workers."""
    tmp = os.path.join(root, STATE_DIR, "tmp")
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
    }
    os.environ.update(env)
    return {"local_dir": local, "tmp": tmp}


def start_session(root: str, dirs: dict[str, str]):
    """``get_spark`` at ``local[cores]`` plus one tiny Arrow UDF action that
    starts the Python worker pool. Returns the session."""
    from rasusa_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=max(CORES, 8),
        extra_conf={
            "spark.local.dir": dirs["local_dir"],
            # no hsperfdata file in the system temp dir: writes stay in the
            # checkout; the heap is allocated and touched at start, so the
            # JVM's resident memory does not follow how far GC let it grow
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "warehouse"),
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    (spark.range(0, CORES * 2, 1, CORES)
     .mapInArrow(lambda batches: batches, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM (and with
    it the Python worker daemon) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the JVM plus that of one Python worker: the
    largest ``VmRSS`` of the JVM and the largest ``VmRSS`` of any single
    Python process, each seen at some 0.1 s poll, summed. A single worker's
    peak, not the sum over workers: how many workers are alive at once
    follows AQE's partition count, which varies from run to run (one worker
    in most runs, four in some), while what one worker holds is what a
    kernel's memory use changes."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            kind = "java" if comm == "java" else "python" if comm.startswith("python") else None
            if kind:
                self.peak_kb[kind] = max(self.peak_kb.get(kind, 0), _rss_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._poll()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return sum(self.peak_kb.values()) / 1024.0


def wait_for_children(timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


class OpLog:
    """Closed-loop operation records of one run: (kind, seconds, ok)."""

    def __init__(self):
        self.ops: list[dict] = []

    def timed(self, kind: str, fn, *args, **kw):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        self.ops.append({"kind": kind, "s": time.perf_counter() - t0, "ok": True})
        return out


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(map(math.log, values)) / len(values)) if values else float("nan")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def quantile(values, q: float) -> float:
    values = sorted(values)
    if not values:
        return float("nan")
    return values[min(len(values) - 1, int(q * len(values)))]


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path`` — Spark's ``_SUCCESS``/``.crc`` files
    included, because they are on disk too."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

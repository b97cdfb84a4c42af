"""Shared plumbing: environment, work directory, tracing, memory sampling,
statistics and the result line."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: scratch space for fixtures, logs, Spark local dirs; removed after each run
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: span dumps and traced reports; kept after the run
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
#: how often a set-up step or layer probe is repeated for its median
REPEATS = 3
#: seconds between two resident-memory samples
RSS_INTERVAL_S = 0.1


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every place Spark and the package write to inside ``work`` and
    make the checkout importable by Spark's Python workers."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def make_work_dir(workload: str, seed: int) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def tail_q(n: int, nominal: float) -> float:
    """The nominal tail quantile, lowered until at least ten samples lie
    beyond it (never below the median)."""
    return max(0.5, min(nominal, (n - 10) / n if n > 10 else 0.5))


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (span name up to the first dot), each span's
        duration minus the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class NullTracer:
    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})


# ---------------------------------------------------------------------------
# Memory of the whole process tree
# ---------------------------------------------------------------------------


def _tree_rss_mb(root_pid: int) -> float:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2 :].split()
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21])  # pages
        except (OSError, ValueError, IndexError):
            continue
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (driver, JVM, Python workers) every :data:`RSS_INTERVAL_S` until stopped.

    ``p90_mb`` is the 90th percentile of the samples: the level memory
    stays at for a tenth of the timed region, which one garbage-collection
    spike cannot move; ``max_mb`` is the single highest sample."""

    def __init__(self) -> None:
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.samples.append(_tree_rss_mb(pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    @property
    def p90_mb(self) -> float:
        return quantile(self.samples, 0.9)

    @property
    def max_mb(self) -> float:
        return max(self.samples)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Environment stamp and result line
# ---------------------------------------------------------------------------


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def env_stamp(spark, load_before: list[float]) -> dict:
    import pyspark

    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "load_before": load_before,
        "load_after": load_avg(),
        "driver_heap_used_mb": round((rt.totalMemory() - rt.freeMemory()) / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def emit(result: dict) -> None:
    """Print the result as the last line of standard output."""
    sys.stdout.flush()
    print(json.dumps(result), flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# ---------------------------------------------------------------------------
# Layer probes shared by the workloads
# ---------------------------------------------------------------------------


def job_counts(sc, group: str, before: set[int] | None = None) -> tuple[int, int, int]:
    """Jobs, stages and completed tasks of one job group (``statusTracker``).

    Jobs started from threads that do not inherit the group land in the
    ungrouped set; pass the ungrouped ids seen before the work as
    ``before`` to count those too."""
    st = sc.statusTracker()
    ids = set(st.getJobIdsForGroup(group))
    if before is not None:
        ids |= set(st.getJobIdsForGroup()) - before
    stages = tasks = 0
    for jid in ids:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numCompletedTasks
    return len(ids), stages, tasks


def put_stats(log_dirs: list[str]) -> dict:
    """Aggregate the benchmark endpoint's put logs (see ``endpoint.PUT_LOG``)."""
    from perfbench.endpoint import HEADER_SHARD, read_put_logs

    puts = ok = nbytes = nrecs = 0
    wait = busy = 0.0
    shard_bytes: dict[int, int] = {}
    for d in log_dirs:
        per_file: dict[str, list] = {}
        for path, t0, t1, shard, b, n, good in read_put_logs(d):
            f = per_file.setdefault(path, [None, 0.0, 0.0])
            if shard == HEADER_SHARD:
                f[0] = t0
                continue
            puts += 1
            ok += good
            nbytes += b
            nrecs += n if good else 0
            wait += t1 - t0
            f[1] += t1 - t0
            f[2] = max(f[2], t1)
            shard_bytes[shard] = shard_bytes.get(shard, 0) + b
        for created, w, last in per_file.values():
            if created is not None and last:
                busy += last - created - w
    mean_shard = nbytes / len(shard_bytes) if shard_bytes else 0.0
    return {
        "puts": puts,
        "ok_puts": ok,
        "bytes": nbytes,
        "records": nrecs,
        "wait_s": wait,
        "busy_s": busy,
        "shard_skew": max(shard_bytes.values()) / mean_shard if mean_shard else 0.0,
    }


def sink_metrics(log_dirs: list[str], n_ops: int) -> dict:
    """The ``sink.*`` per-layer metrics from the endpoint's put logs,
    per operation (write or micro-batch) where they are totals."""
    st = put_stats(log_dirs)
    puts = max(st["puts"], 1)
    return {
        "sink.put_calls": metric(st["puts"] / n_ops, "count"),
        "sink.put_success_ratio": metric(st["ok_puts"] / puts, "ratio"),
        # puts failing the endpoint's checks: a real service rejects them, forcing a retry
        "sink.retried_puts": metric((st["puts"] - st["ok_puts"]) / n_ops, "count"),
        "sink.fill_ratio": metric(st["bytes"] / puts / 2**20, "ratio"),
        "sink.put_wait_s": metric(st["wait_s"] / n_ops, "s"),
        "sink.producer_busy_s": metric(st["busy_s"] / n_ops, "s"),
        "sink.shard_skew": metric(st["shard_skew"], "ratio"),
    }


def kpl_metrics(payloads: list[bytes], frames: list[bytes] | None, tracer) -> dict:
    """Single-process KPL rates, median of :data:`REPEATS`: ``FastBatcher.flushes`` over
    ``payloads`` and ``deaggregator.deaggregate`` over ``frames`` (by
    default the frames the encode produced)."""
    from kinesis_writer_spark.kpl import deaggregator
    from kinesis_writer_spark.kpl.fastpath import FastBatcher
    from kinesis_writer_spark.sink import MAX_LAST_RECORD_SIZE, SOFT_MAX_SIZE

    encoded: list[bytes] = []

    def encode():
        with tracer.span("kpl.encode"):
            batcher = FastBatcher("a", SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE)
            encoded[:] = [a.to_bytes() for a in batcher.flushes(payloads, lambda: "1")]

    def decode():
        with tracer.span("kpl.decode"):
            for w in frames if frames is not None else encoded:
                deaggregator.deaggregate(w)

    # the frames always hold exactly the payloads
    return {
        "kpl.encode_records_per_s": metric(len(payloads) / median_of(encode), "1/s"),
        "kpl.decode_records_per_s": metric(len(payloads) / median_of(decode), "1/s"),
    }


def multiset_digest(payloads) -> tuple[int, int]:
    """(count, order-independent digest) of a collection of byte strings."""
    import hashlib

    total = n = 0
    for p in payloads:
        total += int.from_bytes(hashlib.blake2b(p, digest_size=16).digest(), "little")
        n += 1
    return n, total % (1 << 128)


def median_of(fn) -> float:
    """Median wall seconds of :data:`REPEATS` calls of ``fn``."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

"""``sink_bulk``: closed loop of back-to-back ``sink.write_dataframe`` calls.

Input: a parquet fixture of seeded payloads, mostly ~200 B JSON events with
a tail of multi-KB documents. Output: the benchmark endpoint (16 shards,
zero service time), so the producer's own CPU — scan, Arrow transfer, KPL
encode, routing — bounds the rate.
"""

from __future__ import annotations

import functools
import os
import random
import time

from perfbench import harness
from perfbench.endpoint import producer_client, read_captures
from perfbench.kplmini import FrameError, decode

N_RECORDS = 200_000
DOC_SHARE = 0.04
N_FILES = 16
STREAM = "bench-sink"
#: untimed writes before the timed region: write time keeps falling (JIT
#: and Python worker warm-up) for about the first dozen writes
WARM_WRITES = 12
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi".split()


def make_payloads(seed: int) -> list[bytes]:
    """The seeded payload mix: JSON events plus a tail of multi-KB documents."""
    rng = random.Random(seed)
    kinds = ("click", "view", "purchase", "signup", "error")
    chars = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz0123456789", k=8192))
    words = rng.choices(WORDS, k=8192)
    out = []
    for i in range(N_RECORDS):
        if rng.random() < DOC_SHARE:
            start = rng.randrange(len(words) - 1200)
            body = " ".join(words[start : start + rng.randint(300, 1200)])
            out.append(f'{{"doc_id": {i}, "text": "{body}"}}'.encode())
        else:
            start = rng.randrange(len(chars) - 140)
            tag = chars[start : start + rng.randint(40, 140)]
            out.append(
                (
                    f'{{"event_id": {i}, "user_id": {rng.randrange(1_000_000)}, '
                    f'"type": "{rng.choice(kinds)}", "ts_ms": {1_700_000_000_000 + i * 7}, '
                    f'"props": {{"k": {rng.randrange(100)}, "tag": "{tag}"}}}}'
                ).encode()
            )
    return out


def write_fixture(path: str, payloads: list[bytes]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(payloads) // N_FILES)
    for i in range(N_FILES):
        chunk = pa.table({"data": pa.array(payloads[i * step : (i + 1) * step], pa.binary())})
        pq.write_table(chunk, os.path.join(path, f"part-{i:02d}.parquet"))


def run(seed: int, seconds: float, tracer, work: str) -> dict:
    from kinesis_writer_spark import sink
    from kinesis_writer_spark.session import get_spark

    load_before = harness.load_avg()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench-sink_bulk")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext

    # the payloads are generated several times for a steady median, and
    # written once: rewriting files only adds disk noise
    builds = []
    for _ in range(harness.REPEATS):
        t0 = time.perf_counter()
        with tracer.span("bench.fixture"):
            payloads = make_payloads(seed)
            expected = harness.multiset_digest(payloads)
        builds.append(time.perf_counter() - t0)
    fixture = os.path.join(work, "sink_fixture")
    t0 = time.perf_counter()
    with tracer.span("bench.fixture_write"):
        write_fixture(fixture, payloads)
    write_s = time.perf_counter() - t0
    df = spark.read.parquet(fixture)
    n_in = len(payloads)

    def writer(tag: str, capture: bool = False):
        log_dir = os.path.join(work, "puts", tag)
        os.makedirs(log_dir)
        cap = os.path.join(work, "capture", tag) if capture else None
        if cap:
            os.makedirs(cap)
        factory = functools.partial(
            producer_client, log_dir=log_dir, service_s=0.0, capture_dir=cap
        )
        return log_dir, cap, factory

    t0 = time.perf_counter()
    for i in range(WARM_WRITES):
        _, _, factory = writer(f"warm{i:02d}")
        with tracer.span("sink.warm_write"):
            sink.write_dataframe(df, STREAM, factory)
    warm_s = time.perf_counter() - t0
    setup_s = session_s + harness.median(builds) + write_s + warm_s

    # timed region: closed loop, one write_dataframe at a time
    writes = []  # (log_dir, seconds, returned, job counts)
    with harness.RssSampler() as rss:
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < seconds or len(writes) < 11:
            log_dir, _, factory = writer(f"w{i:04d}")
            before = set(sc.statusTracker().getJobIdsForGroup()) if tracer.enabled else None
            if tracer.enabled:
                sc.setJobGroup(f"write-{i}", "perfbench sink_bulk write")
            t0 = time.perf_counter()
            with tracer.span("sink.write", write=i):
                returned = sink.write_dataframe(df, STREAM, factory)
            dt = time.perf_counter() - t0
            jobs = harness.job_counts(sc, f"write-{i}", before) if tracer.enabled else None
            writes.append((log_dir, dt, returned, jobs))
            i += 1
        timed_s = time.perf_counter() - start
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # output checks, outside the timed region
    attempted = failed = 0
    for log_dir, _, returned, _ in writes:
        got = harness.put_stats([log_dir])
        attempted += n_in
        bad = abs(returned - n_in) + abs(got["records"] - n_in) + (got["puts"] - got["ok_puts"])
        failed += min(n_in, bad)
    log_dir, cap, factory = writer("verify", capture=True)
    returned = sink.write_dataframe(df, STREAM, factory)
    attempted += n_in
    try:
        delivered = harness.multiset_digest(p for w in read_captures(cap) for p in decode(w))
    except FrameError:
        delivered = (0, 0)
    if returned != n_in or delivered != expected:
        failed += n_in

    secs = [w[1] for w in writes]
    tq = harness.tail_q(len(secs), 0.9)
    delivered_records = sum(w[2] for w in writes)
    e2e = {
        "setup_s": harness.metric(setup_s, "s"),
        "rss_p90_mb": harness.metric(rss.p90_mb, "MB"),
        "throughput_per_s": harness.metric(delivered_records / timed_s, "1/s"),
        "latency_p50_s": harness.metric(harness.median(secs), "s"),
        "latency_tail_s": harness.metric(harness.quantile(secs, tq), "s"),
    }
    info = {
        "rss_max_mb": round(rss.max_mb, 1),
        "ops": "write_dataframe calls",
        "samples": len(secs),
        "tail_quantile": round(tq, 3),
        "records_per_write": n_in,
        "payload_bytes_per_write": sum(map(len, payloads)),
        "setup_parts_s": {"session": session_s, "fixture_median": harness.median(builds), "fixture_write": write_s, "warm_writes": warm_s},
    }
    layers = {}
    if tracer.enabled:
        layers = _layer_probes(spark, df, payloads, writes, tracer, session_s)
    return {
        "spark": spark,
        "load_before": load_before,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "info": info,
    }


def _layer_probes(spark, df, payloads, writes, tracer, session_s) -> dict:
    from pyspark.sql import functions as F

    def scan():
        with tracer.span("io.scan"):
            spark.read.parquet(*df.inputFiles()).write.format("noop").mode("overwrite").save()

    def count(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"n": [len(pdf["data"].to_numpy())]})

    def transfer():
        with tracer.span("sink.transfer"):
            df.select("data").mapInPandas(count, "n bigint").agg(F.sum("n")).first()

    jobs = [w[3] for w in writes]
    return {
        "session.start_s": harness.metric(session_s, "s"),
        "io.scan_s": harness.metric(harness.median_of(scan), "s"),
        "operators.jobs": harness.metric(harness.median([j[0] for j in jobs]), "count"),
        "operators.stages": harness.metric(harness.median([j[1] for j in jobs]), "count"),
        "operators.tasks": harness.metric(harness.median([j[2] for j in jobs]), "count"),
        **harness.kpl_metrics(payloads, None, tracer),
        "sink.transfer_s": harness.metric(harness.median_of(transfer), "s"),
        **harness.sink_metrics([w[0] for w in writes], len(writes)),
    }

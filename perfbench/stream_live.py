"""``stream_live``: an open-loop generator feeding a live 16-shard stream.

One generator thread appends KPL frames (encoded by ``perfbench.kplmini``)
at a fixed rate; about 5% of event ids are sent twice. After the steady
phase a fixed burst is appended at once and must be drained. The query:

    readStream.format("kinesis") (partitioned reader)
      -> deaggregate_records -> from_json
      -> withWatermark + dropDuplicatesWithinWatermark(event_id)
      -> writeStream.format("kinesis") (benchmark endpoint, fixed service time)

Latency of a user record runs from the time its frame was due at the
generator to the end of the micro-batch whose end offset covers the frame.
"""

from __future__ import annotations

import ast
import bisect
import json
import os
import random
import threading
import time
from collections import Counter
from datetime import datetime

from perfbench import harness, kplmini
from perfbench.endpoint import SHARDS, LiveStreamWriter, read_captures, read_get_logs, read_index

RATE = 4000  # user records per second in the warm and steady phases
WARM_S = 4.0
#: quiet time between the steady phase and the burst, so the last steady
#: frames are committed before the burst arrives
BURST_GAP_S = 3.0
BURST_RECORDS = 300_000
DUP_SHARE = 0.05
SERVICE_S = 0.02  # per PutRecords call, like an in-region round trip
WATERMARK = "10 seconds"
EVENT_EPOCH_MS = 1_704_067_200_000  # event time of schedule offset 0 (2024-01-01)
EVENT_SCHEMA = "event_id bigint, ts_ms bigint, user_id bigint, kind string, value double, pad string"
KINDS = ("click", "view", "purchase", "signup", "error")


def make_schedule(seed: int, steady_s: float) -> tuple[list[tuple], int, set[int]]:
    """Frames as ``(due offset s, shard, [payload...])`` sorted by due time,
    the index where the burst starts, and every event id sent."""
    rng = random.Random(seed)
    pool = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=4096))
    frames: list[tuple] = []
    resend: list[tuple[float, bytes]] = []
    next_id = 0

    def event(due: float) -> bytes:
        nonlocal next_id
        eid, next_id = next_id, next_id + 1
        start = rng.randrange(len(pool) - 160)
        pad = pool[start : start + rng.randint(60, 160)]
        payload = (
            f'{{"event_id": {eid}, "ts_ms": {EVENT_EPOCH_MS + int(due * 1000)}, '
            f'"user_id": {rng.randrange(100_000)}, "kind": "{rng.choice(KINDS)}", '
            f'"value": {rng.randrange(50_000) / 100}, "pad": "{pad}"}}'
        ).encode()
        if rng.random() < DUP_SHARE:
            resend.append((due + rng.uniform(0.2, 2.0), payload))
        return payload

    def take_resends(now: float) -> list[bytes]:
        due_now = [p for t, p in resend if t <= now]
        resend[:] = [(t, p) for t, p in resend if t > now]
        return due_now

    t = 0.0
    end = WARM_S + steady_s
    while t < end:
        n = rng.randint(10, 30)
        payloads = [event(t) for _ in range(n)] + take_resends(t)
        frames.append((t, rng.randrange(SHARDS), payloads))
        t += n / RATE
    burst_at = len(frames)
    t = end + BURST_GAP_S
    sent = 0
    while sent < BURST_RECORDS:
        payloads = [event(t) for _ in range(100)]
        sent += len(payloads)
        frames.append((t, rng.randrange(SHARDS), payloads))
    # every re-send still pending goes out with the burst
    frames.append((t, rng.randrange(SHARDS), [p for _, p in resend]))
    resend.clear()
    return frames, burst_at, set(range(next_id))


def _as_dict(p) -> dict | None:
    """A progress report as a plain dict (PySpark returns objects or dicts)."""
    if p is None or isinstance(p, dict):
        return p
    return json.loads(p.json)


def _progress_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _end_offsets(p: dict) -> dict[int, int]:
    """Shard index -> last covered frame index (-1 when none)."""
    raw = p["sources"][0].get("endOffset")
    if isinstance(raw, str):
        # the Python source's offset dict arrives as its repr, not JSON
        off = ast.literal_eval(raw) if raw.startswith("{'") else json.loads(raw)
    else:
        off = raw or {}
    out = {}
    for sid, v in off.items():
        seq = v.get("seq") if isinstance(v, dict) else v
        out[int(sid.rsplit("-", 1)[1])] = int(seq) if seq is not None else -1
    return out


def run(seed: int, seconds: float, tracer, work: str) -> dict:
    from pyspark.sql import functions as F

    from kinesis_writer_spark.session import get_spark
    from kinesis_writer_spark.sources import kinesis_stream
    from kinesis_writer_spark.sources.kpl_stream import deaggregate_records

    load_before = harness.load_avg()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench-stream_live")
        kinesis_stream.register(spark)
    session_s = time.perf_counter() - t0

    builds = []
    for _ in range(harness.REPEATS):
        t0 = time.perf_counter()
        with tracer.span("bench.fixture"):
            frames, burst_at, event_ids = make_schedule(seed, seconds)
            wires = [kplmini.encode("live", p) for _, _, p in frames]
        builds.append(time.perf_counter() - t0)

    stream_dir = os.path.join(work, "stream")
    get_logs = os.path.join(work, "get-logs")
    put_logs = os.path.join(work, "put-logs")
    capture = os.path.join(work, "capture")
    for d in (get_logs, put_logs, capture):
        os.makedirs(d)
    appender = LiveStreamWriter(stream_dir)

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    raw = (
        spark.readStream.format("kinesis")
        .option("reader", "partitioned")
        .option("stream_name", "live")
        .option("client_factory", "perfbench.endpoint:live_stream_client")
        .option("client_kwargs", json.dumps({"stream_dir": stream_dir, "log_dir": get_logs}))
        .load()
    )
    events = (
        deaggregate_records(raw, wire_col="data")
        .select(F.from_json(F.col("data").cast("string"), EVENT_SCHEMA).alias("e"))
        .select("e.*")
        .withColumn("ts", F.timestamp_millis("ts_ms"))
    )
    deduped = events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.select(
        F.to_json(F.struct("event_id", "ts_ms", "user_id", "kind", "value")).cast("binary").alias("data")
    )
    sink_kwargs = {"log_dir": put_logs, "service_s": SERVICE_S, "capture_dir": capture}

    # the generator: open loop, each frame appended when due
    base = time.time()
    dues = [base + f[0] for f in frames]
    appended = [0]
    published = [0.0]
    stop = threading.Event()

    def generate() -> None:
        for i, ((_, shard, payloads), wire) in enumerate(zip(frames, wires)):
            delay = dues[i] - time.time()
            if delay > 0 and stop.wait(delay):
                return
            appender.append(shard, wire, len(payloads), dues[i])
            # steady frames are visible when appended; the burst at once,
            # after its last frame
            if i < burst_at or i + 1 == len(frames):
                appender.publish()
                published[0] = time.time()
            appended[0] = i + 1

    t_query = time.time()
    with tracer.span("streaming.start"):
        query = (
            out.writeStream.format("kinesis")
            .option("stream_name", "bench-out")
            .option("client_factory", "perfbench.endpoint:producer_client")
            .option("client_kwargs", json.dumps(sink_kwargs))
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .start()
        )
    gen = threading.Thread(target=generate, name="frame-generator", daemon=True)
    gen.start()

    # per-shard sequence number of every frame
    per_shard = [0] * SHARDS
    frame_seq = []
    for _, shard, _ in frames:
        frame_seq.append(per_shard[shard])
        per_shard[shard] += 1

    def drained(offs: dict[int, int]) -> bool:
        """Whether end offsets ``offs`` cover every frame of the schedule."""
        return all(offs.get(s, -1) >= per_shard[s] - 1 for s in range(SHARDS))

    warm_end = bisect.bisect_left([f[0] for f in frames], WARM_S)
    deadline = time.time() + WARM_S + seconds + 120
    with harness.RssSampler() as rss:
        while True:
            if query.exception() is not None:
                raise RuntimeError(f"stream query failed: {query.exception()}")
            last = _as_dict(query.lastProgress)
            if appended[0] == len(frames) and last and last.get("sources") and drained(_end_offsets(last)):
                break
            if time.time() > deadline:
                raise RuntimeError("stream did not drain within the deadline")
            time.sleep(0.1)
    stop.set()
    gen.join(timeout=10)
    with tracer.span("streaming.stop"):
        query.stop()
    appender.close()
    progress = [_as_dict(p) for p in query.recentProgress]
    # set-up ends when the first micro-batch with data has committed
    first = next(p for p in progress if p["numInputRows"] > 0)
    warm_s = _progress_end(first) - t_query
    setup_s = session_s + harness.median(builds) + warm_s

    # latency per user record, over steady-phase frames due after the
    # second data batch has committed (the first two batches warm up)
    batch_ends = sorted(
        ((_progress_end(p), _end_offsets(p)) for p in progress if p["numInputRows"] > 0), key=lambda b: b[0]
    )
    measure_from = max(dues[warm_end], batch_ends[min(1, len(batch_ends) - 1)][0])
    steady = [i for i in range(warm_end, burst_at) if dues[i] >= measure_from] or list(range(warm_end, burst_at))
    lat: list[float] = []
    index = {s: read_index(stream_dir, s) for s in range(SHARDS)}
    for i in steady:
        shard, seq = frames[i][1], frame_seq[i]
        due, n = index[shard][seq][3], index[shard][seq][2]
        end = next(t for t, offs in batch_ends if offs.get(shard, -1) >= seq)
        lat.extend([end - due] * n)
    # drain: from the burst's publication to the end of the batch after
    # which no frame is left unread
    burst_records = sum(len(f[2]) for f in frames[burst_at:])
    drain_end = next(t for t, offs in batch_ends if drained(offs))
    drain_s = drain_end - published[0]
    lateness = [index[f[1]][frame_seq[i]][4] - dues[i] for i, f in enumerate(frames)]

    # exactly-once check, outside the timed region
    delivered = Counter()
    bad_frames = 0
    for wire in read_captures(capture):
        try:
            for rec in kplmini.decode(wire):
                delivered[json.loads(rec)["event_id"]] += 1
        except (kplmini.FrameError, ValueError, KeyError):
            bad_frames += 1
    sent_records = sum(len(f[2]) for f in frames)
    failed = sum(1 for e in event_ids if delivered.get(e, 0) != 1)
    failed += sum(1 for e in delivered if e not in event_ids) + bad_frames

    tq = harness.tail_q(len(lat), 0.99)
    e2e = {
        "setup_s": harness.metric(setup_s, "s"),
        "rss_p90_mb": harness.metric(rss.p90_mb, "MB"),
        "throughput_per_s": harness.metric(burst_records / drain_s, "1/s"),
        "latency_p50_s": harness.metric(harness.median(lat), "s"),
        "latency_tail_s": harness.metric(harness.quantile(lat, tq), "s"),
    }
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    info = {
        "rss_max_mb": round(rss.max_mb, 1),
        "ops": "user records (latency); burst records (throughput)",
        "samples": len(lat),
        "tail_quantile": round(tq, 4),
        "rate_per_s": RATE,
        "burst_records": burst_records,
        "drain_s": drain_s,
        "burst_append_s": published[0] - dues[burst_at],
        "distinct_events": len(event_ids),
        "sent_records": sent_records,
        "delivered_records": sum(delivered.values()),
        "generator_late_ms_max": round(max(lateness) * 1000, 2),
        "generator_late_ms_p99": round(harness.quantile(lateness, 0.99) * 1000, 2),
        "batches": len(progress),
        "data_batches": len(data_batches),
        "setup_parts_s": {"session": session_s, "fixture_median": harness.median(builds), "warm": warm_s},
    }
    layers = {}
    if tracer.enabled:
        n_b = len(data_batches)
        gets = read_get_logs(get_logs)
        jobs = harness.job_counts(spark.sparkContext, str(query.runId))
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        dur = lambda key: [p["durationMs"].get(key, 0) for p in data_batches]  # noqa: E731
        layers = {
            "session.start_s": harness.metric(session_s, "s"),
            "operators.jobs": harness.metric(jobs[0] / n_b, "count"),
            "operators.stages": harness.metric(jobs[1] / n_b, "count"),
            "operators.tasks": harness.metric(jobs[2] / n_b, "count"),
            **harness.kpl_metrics([p for f in frames for p in f[2]], wires, tracer),
            **harness.sink_metrics([put_logs], n_b),
            "sources.get_records_calls": harness.metric(len(gets) / n_b, "count"),
            "sources.frames_read": harness.metric(sum(g[2] for g in gets) / n_b, "count"),
            "sources.plan_ms": harness.metric(harness.median(dur("latestOffset")), "ms"),
            "streaming.batches": harness.metric(n_b, "count"),
            "streaming.batch_ms_p50": harness.metric(harness.median(dur("triggerExecution")), "ms"),
            "streaming.add_batch_ms": harness.metric(harness.median(dur("addBatch")), "ms"),
            "streaming.state_rows": harness.metric(max((s["numRowsTotal"] for s in state), default=0), "count"),
            "streaming.state_mb": harness.metric(max((s["memoryUsedBytes"] for s in state), default=0) / 2**20, "MB"),
            "streaming.dedup_ratio": harness.metric(sum(delivered.values()) / sent_records, "ratio"),
        }
    return {
        "spark": spark,
        "load_before": load_before,
        "attempted": sent_records,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "info": info,
    }

"""Kinesis-style sink: size-bounded batching, shard-aware routing, retry/replay.

Capability parity targets (implementation original, Spark-first):
  - soft flush caps                 /root/reference KinesisWriter.scala:27-35,151-180
  - linear back-off retry (30x)     /root/reference KinesisWriter.scala:24,82-93
  - replay-from-raw on failure      /root/reference KinesisWriter.scala:215-226
  - shard discovery + midpoints     /root/reference KinesisWriter.scala:46-80
  - seeded random routing per flush /root/reference KinesisWriter.scala:37-43,184
  - returned user-record count      /root/reference KinesisWriter.scala:115,192

Cluster model: one :class:`KinesisStreamWriter` per Spark partition inside
an Arrow-batched ``mapInPandas`` (batch) or ``foreachBatch`` (streaming;
same path per micro-batch). Each partition
batches independently to ~1 MiB aggregated records and routes each flush to a
uniformly random open shard, so N executors saturate all shards without
coordination. No driver-side collect anywhere.
"""

from __future__ import annotations

import logging
import random
import threading
import time
from collections.abc import Callable, Iterable, Iterator

from .kpl.aggregator import AggRecordBuilder, RecordAggregator
from .kpl.fastpath import FastBatcher

#: Flush once the aggregated record reaches this size (empirical safety margin
#: below the 1 MiB protocol cap — consumers misbehave near the limit).
SOFT_MAX_SIZE = 1_000_000

#: At the soft cap, a record larger than this flushes the batch *first*
#: rather than risk overshooting the protocol cap.
MAX_LAST_RECORD_SIZE = 100_000

#: Give up after this many retries of one flush.
MAX_RETRIES = 30

#: Default partition key (routing is done via explicit hash keys).
DEFAULT_PARTITION_KEY = "a"

#: Error substrings that indicate the shard map is stale because of a
#: RESHARD (the shard we routed to closed or is being mutated): these
#: trigger a shard-map re-discovery before the retry re-routes. Throttling
#: errors (ProvisionedThroughputExceeded / LimitExceeded) are deliberately
#: NOT here: they usually mean overload, not reshard, and DescribeStream
#: is itself rate-limited (~10 TPS per stream) — refreshing on every
#: throttled retry across hundreds of executors would cascade the
#: throttling into discovery. A reshard that only ever surfaces as reduced
#: capacity (no error) is covered by the periodic refresh cadence below.
RESHARD_ERROR_MARKERS = (
    "ResourceInUse",
    "ShardClosed",
)

#: ResourceNotFound means the stream itself is gone (deleted or never
#: created) — NOT a reshard. Triggering a DescribeStream refresh would
#: also fail, burning a second retry budget and surfacing a discovery
#: error in place of the original fatal put error, so it is deliberately
#: excluded from the refresh markers above.

#: Periodic shard-map re-discovery cadence (flushes between refreshes),
#: ON by default: a silent split — a capacity change that never raises —
#: would otherwise halve effective throughput until an error or restart.
#: At ~1 MiB per flush this is one DescribeStream sweep per ~64 MiB
#: shipped, far inside the API budget even fleet-wide.
DEFAULT_REFRESH_EVERY_FLUSHES = 64

#: Minimum seconds between *error-triggered* refreshes: a retry storm from
#: one stuck shard must not turn into a DescribeStream storm.
MIN_ERROR_REFRESH_INTERVAL_S = 5.0


def retry_delay_seconds(fail_count: int) -> int:
    """Linear back-off schedule: 2, 4, 6, ... seconds."""
    return (fail_count + 1) * 2


# ---------------------------------------------------------------------------
# Shard discovery & routing
# ---------------------------------------------------------------------------

def iter_all_shards(client, stream_name: str) -> Iterator[dict]:
    """Paginated DescribeStream over every shard of the stream."""
    start_after: str | None = None
    while True:
        kwargs = {"StreamName": stream_name}
        if start_after is not None:
            kwargs["ExclusiveStartShardId"] = start_after
        desc = client.describe_stream(**kwargs)["StreamDescription"]
        shards = desc["Shards"]
        yield from shards
        if not desc.get("HasMoreShards") or not shards:
            return
        start_after = shards[-1]["ShardId"]


def open_shard_midpoints(client, stream_name: str) -> list[str]:
    """Hash-range midpoint of every *open* shard, as decimal strings.

    A shard is open while it has no ending sequence number. The midpoint
    ``start + (end - start) // 2`` is a valid explicit hash key guaranteed to
    land inside that shard.
    """
    midpoints = []
    for shard in iter_all_shards(client, stream_name):
        if shard.get("SequenceNumberRange", {}).get("EndingSequenceNumber"):
            continue
        lo = int(shard["HashKeyRange"]["StartingHashKey"])
        hi = int(shard["HashKeyRange"]["EndingHashKey"])
        midpoints.append(str(lo + (hi - lo) // 2))
    if not midpoints:
        raise RuntimeError(f"stream {stream_name!r} has no open shards")
    return midpoints


class ShardRouter:
    """Uniform random pick over open-shard midpoints, deterministically seeded."""

    def __init__(self, midpoints: list[str], seed: int = 42) -> None:
        self._midpoints = midpoints
        self._rng = random.Random(seed)

    def next_hash_key(self) -> str:
        return self._midpoints[self._rng.randrange(len(self._midpoints))]

    @property
    def midpoints(self) -> list[str]:
        return list(self._midpoints)

    def update_midpoints(self, midpoints: list[str]) -> None:
        """Swap in a fresh open-shard map (post-reshard) WITHOUT resetting
        the seeded RNG — the draw sequence stays deterministic, only the
        target set changes."""
        if midpoints:
            self._midpoints = midpoints


class ShardRateLimiter:
    """Proactive per-shard token bucket: Kinesis ingest is capped at 1 MiB/s
    and 1 000 records/s per shard, and blowing past the cap costs a full
    PutRecords round trip plus a back-off cycle per overage (the reactive
    path above). The limiter spends (bytes, puts) tokens BEFORE each send,
    sleeping just long enough to stay inside the budget — the producer-side
    dual of the reference's reactive linear back-off
    (KinesisWriter.scala:82-93), and the behavior the real KPL's RateLimit
    setting provides.

    Buckets are keyed by the routing explicit-hash-key (one bucket per
    shard midpoint). Each writer instance assumes it owns the configured
    per-shard budget: with W concurrent writers per stream, configure
    ``bytes_per_sec`` / ``puts_per_sec`` as the shard limit divided by the
    expected writers-per-shard (the same division the KPL applies per
    producer). Clock and sleep are injectable so tests run on virtual time.
    """

    def __init__(
        self,
        bytes_per_sec: float = 1_048_576.0,
        puts_per_sec: float = 1000.0,
        burst_seconds: float = 1.0,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.bytes_per_sec = float(bytes_per_sec)
        self.puts_per_sec = float(puts_per_sec)
        self.burst_seconds = float(burst_seconds)
        self._clock = clock
        self._sleep = sleep
        # key -> [bytes_tokens, put_tokens, last_refill_ts]
        self._buckets: dict[str, list[float]] = {}
        # One limiter instance is shared process-wide across concurrent
        # writer threads (the streaming binding hands out a singleton), so
        # bucket creation / refill / deduction are read-modify-writes that
        # must not interleave — an unsynchronized pair of acquires can lose
        # a deduction and over-admit. The lock guards bookkeeping only; the
        # pacing sleep happens OUTSIDE it so one throttled shard never
        # blocks another shard's acquire.
        self._lock = threading.Lock()

    def _refill(self, state: list[float], now: float) -> None:
        dt = max(0.0, now - state[2])
        state[0] = min(self.bytes_per_sec * self.burst_seconds, state[0] + dt * self.bytes_per_sec)
        state[1] = min(self.puts_per_sec * self.burst_seconds, state[1] + dt * self.puts_per_sec)
        state[2] = now

    def acquire(self, shard_key: str, n_bytes: int, n_puts: int = 1) -> float:
        """Block until the shard's buckets afford (n_bytes, n_puts); returns
        the seconds slept. Costs larger than the burst capacity are allowed
        (the bucket goes into debt and the elapsed time pays it off), so an
        oversized aggregated record is delayed, never deadlocked.

        Deduct-then-sleep: the cost is charged FIRST (balances may go
        negative), then the call sleeps exactly the deficit. No refill
        happens after the in-call sleep — the next acquire's refill credits
        the slept wall-clock time — so the burst cap only ever discards
        *positive* hoarding above the burst, never tokens owed to a debt.
        (The earlier refill-after-sleep variant re-capped at burst before
        subtracting, double-charging any cost above burst capacity and
        halving sustained throughput for oversized records.)"""
        with self._lock:
            state = self._buckets.setdefault(
                shard_key,
                [
                    self.bytes_per_sec * self.burst_seconds,
                    self.puts_per_sec * self.burst_seconds,
                    self._clock(),
                ],
            )
            self._refill(state, self._clock())
            state[0] -= n_bytes
            state[1] -= n_puts
            wait = max(
                0.0, -state[0] / self.bytes_per_sec, -state[1] / self.puts_per_sec
            )
        if wait > 0.0:
            self._sleep(wait)
        return wait

    def richest_key(self, keys: list[str]) -> str:
        """The key with the most *seconds of headroom* right now (ties
        broken by list order; unseen keys count as full). Headroom is the
        MINIMUM of the byte and put buckets, each normalized to seconds at
        its own rate — ranking by raw byte tokens alone would, on put-bound
        workloads (many small aggregated records), route to a shard whose
        put bucket is in deep debt while another shard has put budget to
        spare, forcing an avoidable acquire() sleep. Budget-aware routing:
        uniform random routing walks into depleted buckets while refilled
        ones idle at their burst cap, and the discarded refill is
        unrecoverable — measured at 0.61x of the service cap in the r12
        throttling soak vs ~0.9x with this selector."""
        with self._lock:
            now = self._clock()
            best_key, best_headroom = keys[0], float("-inf")
            for key in keys:
                state = self._buckets.get(key)
                if state is None:
                    headroom = self.burst_seconds  # both buckets full
                else:
                    self._refill(state, now)
                    headroom = min(
                        state[0] / self.bytes_per_sec, state[1] / self.puts_per_sec
                    )
                if headroom > best_headroom:
                    best_key, best_headroom = key, headroom
            return best_key


# ---------------------------------------------------------------------------
# Batching generator (pure, Spark-agnostic)
# ---------------------------------------------------------------------------

def batch_records(
    records: Iterable[tuple[str, str | None, bytes]],
    soft_max_size: int = SOFT_MAX_SIZE,
    max_last_record_size: int = MAX_LAST_RECORD_SIZE,
) -> Iterator[AggRecordBuilder]:
    """Greedy size-bounded coalescing of (pk, ehk, data) into aggregated records.

    Flush policy:
      * protocol-level: the 1 MiB cap always flushes (AggRecordBuilder refuses);
      * at/above ``soft_max_size``: an incoming record over
        ``max_last_record_size`` flushes *before* being added, anything smaller
        is added and the batch flushes immediately after.
    """
    agg = RecordAggregator()
    for pk, ehk, data in records:
        at_soft_cap = agg.size_bytes >= soft_max_size
        if at_soft_cap and len(data) > max_last_record_size:
            completed = agg.clear_and_get()
            if completed is not None:
                yield completed
            overflow = agg.add_user_record(pk, data, ehk)
            if overflow is not None:  # defensive; fresh builder should fit it
                yield overflow
        elif at_soft_cap:
            overflow = agg.add_user_record(pk, data, ehk)
            if overflow is not None:
                yield overflow
            else:
                completed = agg.clear_and_get()
                if completed is not None:
                    yield completed
        else:
            overflow = agg.add_user_record(pk, data, ehk)
            if overflow is not None:
                yield overflow
    tail = agg.clear_and_get()
    if tail is not None:
        yield tail


# ---------------------------------------------------------------------------
# The writer (per-partition worker)
# ---------------------------------------------------------------------------

class KinesisStreamWriter:
    """Writes an iterator of byte payloads to a Kinesis-API-shaped client as
    KPL aggregated records, with at-least-once retry/replay semantics.
    """

    def __init__(
        self,
        stream_name: str,
        client,
        partition_key: str = DEFAULT_PARTITION_KEY,
        max_retries: int = MAX_RETRIES,
        sleep: Callable[[float], None] = time.sleep,
        routing_seed: int = 42,
        rate_limiter: ShardRateLimiter | None = None,
        route_by_budget: bool = False,
        refresh_every_flushes: int | None = DEFAULT_REFRESH_EVERY_FLUSHES,
        min_error_refresh_interval_s: float = MIN_ERROR_REFRESH_INTERVAL_S,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.stream_name = stream_name
        self.client = client
        self.partition_key = partition_key
        self.max_retries = max_retries
        self._sleep = sleep
        self.rate_limiter = rate_limiter
        #: opt-in budget-aware routing (needs a rate_limiter): each flush
        #: targets the shard whose limiter bucket is fullest instead of a
        #: uniform random midpoint. Under sustained pressure random
        #: routing pays depleted buckets' deficits while refilled buckets
        #: idle at their burst cap (throttling soak: 0.61x of the service
        #: cap vs ~0.9x budget-aware). Default OFF: the reference's
        #: seeded-random draw sequence stays byte-reproducible.
        self.route_by_budget = bool(route_by_budget)
        #: periodic re-discovery cadence (None disables): a reshard that
        #: never surfaces as an error — e.g. a split that merely halves a
        #: shard's capacity — is picked up within N flushes
        self.refresh_every_flushes = refresh_every_flushes
        self.min_error_refresh_interval_s = float(min_error_refresh_interval_s)
        self._clock = clock
        self._flushes_since_discovery = 0
        #: -inf so the FIRST reshard-shaped error always refreshes; the
        #: cooldown only collapses the follow-up retries of a storm
        self._last_error_refresh = float("-inf")
        self._refresh_failure_logged = False
        midpoints = self._with_retry(lambda: open_shard_midpoints(client, stream_name))
        self.router = ShardRouter(midpoints, seed=routing_seed)

    def refresh_shard_map(self) -> None:
        """Re-discover open shards and swap the router's midpoint set.

        The reference fetches the shard map once per writer
        (KinesisWriter.scala:46-64) — fine for its bounded batch jobs, but
        a long-running streaming sink writing through a split/merge would
        keep routing to stale midpoints (parents' capacity is gone after a
        reshard, so throughput silently halves). Mirrors the streaming
        source's reshard handling (sources/kinesis_stream.py): only OPEN
        shards yield midpoints, so parents drop out as soon as they close.
        Discovery failures keep the previous map — stale routing still
        lands (children cover the parent's hash range); a hard failure
        here would lose the batch for a recoverable condition. The first
        failure per writer logs a warning naming the exception.
        """
        try:
            self.router.update_midpoints(
                open_shard_midpoints(self.client, self.stream_name)
            )
        except Exception as exc:
            if not self._refresh_failure_logged:
                self._refresh_failure_logged = True
                logging.getLogger(__name__).warning(
                    "kinesis sink: shard-map refresh of stream %r failed "
                    "(%s: %s); keeping the previous shard map",
                    self.stream_name,
                    type(exc).__name__,
                    exc,
                    exc_info=True,
                )
        self._flushes_since_discovery = 0

    def _maybe_refresh_on_error(self, exc: Exception) -> None:
        msg = str(exc)
        if not any(marker in msg for marker in RESHARD_ERROR_MARKERS):
            return
        now = self._clock()
        if now - self._last_error_refresh < self.min_error_refresh_interval_s:
            return  # a retry storm must not become a DescribeStream storm
        self._last_error_refresh = now
        self.refresh_shard_map()

    # -- retry plumbing -----------------------------------------------------

    def _with_retry(self, action: Callable[[], object]):
        fail_count = 0
        while True:
            try:
                return action()
            except Exception:
                if fail_count >= self.max_retries:
                    raise
                self._sleep(retry_delay_seconds(fail_count))
                fail_count += 1

    def _next_routing_key(self) -> str:
        if self.route_by_budget and self.rate_limiter is not None:
            return self.rate_limiter.richest_key(self.router.midpoints)
        return self.router.next_hash_key()

    # -- send path ----------------------------------------------------------

    def _put_aggregated(self, agg: AggRecordBuilder) -> None:
        data = agg.to_bytes()
        if self.rate_limiter is not None:
            # spend tokens for the shard this record routes to BEFORE the
            # call, so the proactive budget (not the API error path) is
            # what paces a sustained overload
            self.rate_limiter.acquire(agg.explicit_hash_key or "", len(data))
        response = self.client.put_records(
            StreamName=self.stream_name,
            Records=[
                {
                    "Data": data,
                    "PartitionKey": agg.partition_key,
                    "ExplicitHashKey": agg.explicit_hash_key,
                }
            ],
        )
        if response.get("FailedRecordCount", 0) > 0:
            errors = [
                (r.get("ErrorCode"), r.get("ErrorMessage"))
                for r in response.get("Records", [])
                if r.get("ErrorCode")
            ]
            raise RuntimeError(f"put_records partial failure: {errors}")

    def send(self, agg: AggRecordBuilder) -> int:
        """Send one aggregated record; on failure re-aggregate the retained
        raw batch under a freshly drawn hash key and resend (back-off applies).
        Returns the number of user records delivered.
        """
        fail_count = 0
        current = agg
        while True:
            try:
                self._put_aggregated(current)
                return current.num_user_records
            except Exception as exc:
                if fail_count >= self.max_retries:
                    raise
                self._sleep(retry_delay_seconds(fail_count))
                fail_count += 1
                # a reshard-shaped error refreshes the shard map BEFORE the
                # redraw, so the retry routes to a live child shard instead
                # of hammering the closed/overloaded parent midpoint
                self._maybe_refresh_on_error(exc)
                fresh_ehk = self._next_routing_key()
                rebuilt = AggRecordBuilder()
                for pk, _old_ehk, data in current.raw_records():
                    rebuilt.add_user_record(pk, data, fresh_ehk)
                current = rebuilt

    #: Feature probe for benches: write() uses the fast fixed-key encoder.
    write_fast_capable = True

    def write(self, payloads: Iterable[bytes]) -> int:
        """Batch + route + send every payload; returns the user-record count.

        Encoding goes through the fast fixed-PK path
        (:class:`..kpl.fastpath.FastBatcher`) — byte-identical wire output
        to the :func:`batch_records` slow path (property-pinned in
        tests/test_kpl_fastpath.py), ~5x the encode throughput at ~100 B
        payloads (artifacts/sink_percore_attrib.json). Retry/replay
        re-aggregation still uses AggRecordBuilder (see :meth:`send`).
        """
        # The routing EHK is redrawn after every flush; the batcher reads
        # the current draw through a mutable cell at record-pull time, so
        # in-flight batching picks it up exactly like the generator-based
        # slow path did.
        cell = {"ehk": self._next_routing_key()}
        batcher = FastBatcher(
            self.partition_key, SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE
        )
        count = 0
        for agg in batcher.flushes(payloads, lambda: cell["ehk"]):
            count += self.send(agg)
            self._flushes_since_discovery += 1
            if (
                self.refresh_every_flushes is not None
                and self._flushes_since_discovery >= self.refresh_every_flushes
            ):
                self.refresh_shard_map()
            cell["ehk"] = self._next_routing_key()
        return count


# ---------------------------------------------------------------------------
# Fake client (the injectable test seam, mirroring the reference's)
# ---------------------------------------------------------------------------

class FakeKinesisClient:
    """Offline stand-in for the Kinesis API: captures requests, supports
    scripted failures and synthetic shard maps.
    """

    def __init__(self, num_shards: int = 4, fail_first_n_puts: int = 0, throttle_every: int = 0) -> None:
        self.num_shards = num_shards
        self.fail_first_n_puts = fail_first_n_puts
        self.throttle_every = throttle_every
        self.fail_next_put_with: str | None = None
        self.put_requests: list[dict] = []
        self.received: list[bytes] = []
        self._puts_seen = 0
        self._next_shard_id = num_shards
        space = 1 << 128
        self.shards = []
        for i in range(num_shards):
            lo = i * space // num_shards
            hi = (i + 1) * space // num_shards - 1
            self.shards.append(
                {
                    "ShardId": f"shardId-{i:012d}",
                    "HashKeyRange": {"StartingHashKey": str(lo), "EndingHashKey": str(hi)},
                    "SequenceNumberRange": {"StartingSequenceNumber": "0"},
                }
            )

    def split_all_shards(self) -> None:
        """Simulate a stream-wide reshard: every open shard closes (gains an
        EndingSequenceNumber) and two children split its hash range — the
        Kinesis UpdateShardCount doubling. Parents stay listed (as the real
        API keeps them for their retention window); only children are open.
        """
        children = []
        for shard in self.shards:
            rng = shard["SequenceNumberRange"]
            if rng.get("EndingSequenceNumber"):
                continue
            rng["EndingSequenceNumber"] = str(len(self.received))
            lo = int(shard["HashKeyRange"]["StartingHashKey"])
            hi = int(shard["HashKeyRange"]["EndingHashKey"])
            mid = lo + (hi - lo) // 2
            for c_lo, c_hi in ((lo, mid), (mid + 1, hi)):
                children.append(
                    {
                        "ShardId": f"shardId-{self._next_shard_id:012d}",
                        "ParentShardId": shard["ShardId"],
                        "HashKeyRange": {
                            "StartingHashKey": str(c_lo),
                            "EndingHashKey": str(c_hi),
                        },
                        "SequenceNumberRange": {"StartingSequenceNumber": "0"},
                    }
                )
                self._next_shard_id += 1
        self.shards.extend(children)

    def describe_stream(self, StreamName: str, ExclusiveStartShardId: str | None = None, **_):
        shards = self.shards
        if ExclusiveStartShardId is not None:
            ids = [s["ShardId"] for s in shards]
            shards = shards[ids.index(ExclusiveStartShardId) + 1 :]
        # one shard per page to exercise pagination
        page, more = shards[:1], len(shards) > 1
        return {"StreamDescription": {"StreamName": StreamName, "Shards": page, "HasMoreShards": more}}

    def put_records(self, StreamName: str, Records: list[dict]):
        self._puts_seen += 1
        self.put_requests.append({"StreamName": StreamName, "Records": Records})
        if self.fail_next_put_with is not None:
            msg, self.fail_next_put_with = self.fail_next_put_with, None
            raise RuntimeError(msg)
        if self._puts_seen <= self.fail_first_n_puts:
            return {
                "FailedRecordCount": len(Records),
                "Records": [
                    {"ErrorCode": "ProvisionedThroughputExceededException", "ErrorMessage": "throttled"}
                    for _ in Records
                ],
            }
        if self.throttle_every and self._puts_seen % self.throttle_every == 0:
            raise RuntimeError("LimitExceededException: simulated")
        for rec in Records:
            self.received.append(rec["Data"])
        return {
            "FailedRecordCount": 0,
            "Records": [{"SequenceNumber": str(len(self.received)), "ShardId": "shardId-0"} for _ in Records],
        }


class ThrottlingKinesisClient(FakeKinesisClient):
    """Capture client that ENFORCES the Kinesis service limits: every shard
    has a token bucket of ``bytes_per_sec_per_shard`` / ``puts_per_sec_per_
    shard`` (the real 1 MiB/s / 1000 puts/s caps by default); a put that
    overdraws its shard's bucket fails with the service's partial-failure
    shape (``ProvisionedThroughputExceededException`` in ``Records``) and
    spends nothing. Records are routed by explicit hash key over the
    synthetic shard map, so per-shard budgets bite exactly like the
    service's. The injectable ``clock`` keeps unit tests on virtual time;
    the throttling soak (bench_stream.py) runs it on the real clock to
    measure the reference's back-off envelope (KinesisWriter.scala:82-93)
    under sustained pressure.
    """

    def __init__(
        self,
        num_shards: int = 4,
        bytes_per_sec_per_shard: float = 1_048_576.0,
        puts_per_sec_per_shard: float = 1000.0,
        burst_seconds: float = 1.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        import threading

        super().__init__(num_shards=num_shards)
        self.bytes_per_sec = float(bytes_per_sec_per_shard)
        self.puts_per_sec = float(puts_per_sec_per_shard)
        self.burst = float(burst_seconds)
        self._clock = clock
        # shard_id -> [byte_tokens, put_tokens, last_refill]
        self._buckets: dict[str, list[float]] = {}
        self.throttle_errors = 0
        self.arrivals: list[tuple[float, int]] = []  # (ts, n_bytes) per accepted put
        # the throttling soak drives one shared client from N concurrent
        # writers (the per-partition-task shape); bucket read-modify-write
        # must be atomic under that
        self._lock = threading.Lock()

    def _shard_for(self, ehk: str | None) -> str:
        v = int(ehk or "0")
        for s in self.shards:
            if int(s["HashKeyRange"]["StartingHashKey"]) <= v <= int(
                s["HashKeyRange"]["EndingHashKey"]
            ):
                return s["ShardId"]
        return self.shards[0]["ShardId"]

    def put_records(self, StreamName: str, Records: list[dict]):
        with self._lock:
            return self._put_records_locked(StreamName, Records)

    def _put_records_locked(self, StreamName: str, Records: list[dict]):
        now = self._clock()
        results = []
        failed = 0
        for rec in Records:
            shard = self._shard_for(rec.get("ExplicitHashKey"))
            b = self._buckets.setdefault(
                shard,
                [self.bytes_per_sec * self.burst, self.puts_per_sec * self.burst, now],
            )
            dt = max(0.0, now - b[2])
            b[0] = min(self.bytes_per_sec * self.burst, b[0] + dt * self.bytes_per_sec)
            b[1] = min(self.puts_per_sec * self.burst, b[1] + dt * self.puts_per_sec)
            b[2] = now
            n_bytes = len(rec["Data"])
            if b[0] < n_bytes or b[1] < 1:
                failed += 1
                self.throttle_errors += 1
                results.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": (
                            f"Rate exceeded for shard {shard} in stream "
                            f"{StreamName} under account 000000000000."
                        ),
                    }
                )
                continue
            b[0] -= n_bytes
            b[1] -= 1
            self.received.append(rec["Data"])
            self.arrivals.append((now, n_bytes))
            results.append(
                {"SequenceNumber": str(len(self.received)), "ShardId": shard}
            )
        return {"FailedRecordCount": failed, "Records": results}


def default_client_factory(region_name: str | None = None):
    """Real AWS client factory (boto3), gated behind an import so the engine
    works fully offline: tests and the driver inject :class:`FakeKinesisClient`.
    """
    try:
        import boto3  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - boto3 absent in CI image
        raise RuntimeError(
            "boto3 is not installed; pass an explicit client_factory "
            "(e.g. lambda: FakeKinesisClient()) or install boto3"
        ) from exc
    return lambda: boto3.client("kinesis", region_name=region_name)


# ---------------------------------------------------------------------------
# Spark fronts
# ---------------------------------------------------------------------------

def write_dataframe(
    df,
    stream_name: str,
    client_factory: Callable[[], object],
    data_col: str = "data",
    max_retries: int = MAX_RETRIES,
    sleep: Callable[[float], None] = time.sleep,
    rate_limiter_factory: Callable[[], ShardRateLimiter] | None = None,
) -> int:
    """Write a DataFrame's binary column to the stream, one independent
    batcher per partition. Returns the total user-record count (accumulator).

    ``rate_limiter_factory`` (optional) builds one :class:`ShardRateLimiter`
    per partition writer — configure its per-second budgets as the shard
    limit divided by the expected concurrent writers per shard.

    At 100 TB this is the whole design: partitions batch and ship in parallel,
    each flush routed to a random shard, no shuffle and no driver collect.

    Arrow-batched (r11): the payload column reaches the Python worker as
    Arrow record batches via ``mapInPandas`` — the r11 streaming soak
    measured the previous row-at-a-time ``foreachPartition`` path at
    9.1k recs/s/core on ~100 B payloads vs the pure codec's 184k/core,
    i.e. Row pickling, not the KPL codec, was the sink bottleneck
    (artifacts/bench_stream_soak.json). Only ``data_col`` is shipped
    (column pruning reaches the scan), one batcher per partition as
    before, and the count comes back as the job's OUTPUT rather than an
    accumulator. (The Arrow transfer is the motivation; the count change
    is a hygiene bonus — action-side accumulators are exactly-once for
    successful tasks, but only best-effort under stage retries and
    speculative execution, while a job output is always exact.)
    """

    def handle_batches(pdf_iter):
        import itertools

        import pandas as pd

        nonempty = (pdf for pdf in pdf_iter if len(pdf))
        first = next(nonempty, None)
        if first is None:
            return  # empty partition: no client, no shard discovery
        client = client_factory()
        writer = KinesisStreamWriter(
            stream_name,
            client,
            max_retries=max_retries,
            sleep=sleep,
            rate_limiter=rate_limiter_factory() if rate_limiter_factory else None,
        )

        def payloads() -> Iterator[bytes]:
            # numpy object-array iteration measures 2.4x cheaper than
            # pandas Series __iter__ (artifacts/sink_percore_attrib.json);
            # bytes coercion happens inside the batcher's single loop
            for pdf in itertools.chain([first], nonempty):
                yield from pdf[data_col].to_numpy()

        yield pd.DataFrame({"n": [writer.write(payloads())]})

    from pyspark.sql import functions as F

    counts = df.select(data_col).mapInPandas(handle_batches, "n bigint")
    total = counts.agg(F.sum("n")).first()[0]
    return int(total or 0)


def foreach_batch_sink(stream_name: str, client_factory: Callable[[], object], data_col: str = "data"):
    """``writeStream.foreachBatch`` adapter over :func:`write_dataframe`."""

    def sink(batch_df, epoch_id: int) -> None:
        write_dataframe(batch_df, stream_name, client_factory, data_col=data_col)

    return sink

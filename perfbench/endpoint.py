"""Benchmark-owned Kinesis stand-ins.

Both are reached by Spark workers through ``client_factory`` specs
(``perfbench.endpoint:producer_client`` / ``perfbench.endpoint:live_stream_client``),
so every task builds its own instance; all state they share with the
benchmark process goes through files under a per-run work directory.

* :class:`ProducerEndpoint` is the PutRecords side. Every put is checked
  (magic bytes, MD5 trailer, user-record count) and logged — start, end,
  shard, wire bytes, user records, check result — to a per-client binary
  log. ``service_s`` adds a fixed per-call service time.
* :class:`LiveStreamClient` is the GetRecords side of a live stream whose
  shards grow while the query runs: a :class:`LiveStreamWriter` in the
  benchmark process appends and publishes frames, and every
  ``latestOffset`` sees the frames published so far. Each frame's due and append times are kept in
  the shard index for latency accounting.
"""

from __future__ import annotations

import glob
import os
import struct
import time
import uuid
from datetime import datetime, timezone

from perfbench import kplmini

#: put log record: start, end, shard, wire bytes, user records, ok flag.
#: A record with shard == HEADER_SHARD marks the client's creation time.
PUT_LOG = struct.Struct("<ddIIII")
HEADER_SHARD = 0xFFFFFFFF

#: get_records log record: call time, shard index, frames returned.
GET_LOG = struct.Struct("<dII")

#: live-stream index entry: data offset, length, user records, due, appended.
INDEX = struct.Struct("<QIIdd")

#: shards of every stand-in stream
SHARDS = 16

_SPACE = 1 << 128


def shard_id(i: int) -> str:
    return f"shardId-{i:012d}"


def _open_log(log_dir: str, prefix: str) -> int:
    name = f"{prefix}-{os.getpid()}-{uuid.uuid4().hex}.bin"
    return os.open(os.path.join(log_dir, name), os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)


class ProducerEndpoint:
    """Zero-dependency PutRecords endpoint with :data:`SHARDS` even shards."""

    def __init__(self, log_dir: str, service_s: float = 0.0, capture_dir: str | None = None) -> None:
        self.service_s = float(service_s)
        self._log = _open_log(log_dir, "put")
        self._cap = _open_log(capture_dir, "cap") if capture_dir else None
        os.write(self._log, PUT_LOG.pack(time.time(), 0.0, HEADER_SHARD, 0, 0, 1))

    def __del__(self) -> None:
        for fd in (getattr(self, "_log", None), getattr(self, "_cap", None)):
            if fd is not None:
                os.close(fd)

    def describe_stream(self, StreamName: str, ExclusiveStartShardId: str | None = None, **_):
        shards = []
        for i in range(SHARDS):
            lo = i * _SPACE // SHARDS
            hi = (i + 1) * _SPACE // SHARDS - 1
            shards.append(
                {
                    "ShardId": shard_id(i),
                    "HashKeyRange": {"StartingHashKey": str(lo), "EndingHashKey": str(hi)},
                    "SequenceNumberRange": {"StartingSequenceNumber": "0"},
                }
            )
        if ExclusiveStartShardId is not None:
            ids = [s["ShardId"] for s in shards]
            shards = shards[ids.index(ExclusiveStartShardId) + 1 :]
        return {"StreamDescription": {"StreamName": StreamName, "Shards": shards, "HasMoreShards": False}}

    def put_records(self, StreamName: str, Records: list[dict]):
        t0 = time.time()
        out = []
        logs = []
        for rec in Records:
            wire = rec["Data"]
            shard = min(int(rec.get("ExplicitHashKey") or 0) * SHARDS >> 128, SHARDS - 1)
            try:
                n, ok = kplmini.count_records(wire), 1
            except kplmini.FrameError:
                n, ok = 0, 0
            if self._cap is not None:
                os.write(self._cap, struct.pack("<I", len(wire)) + wire)
            logs.append((shard, len(wire), n, ok))
            out.append({"SequenceNumber": "0", "ShardId": shard_id(shard)})
        if self.service_s:
            time.sleep(self.service_s)
        t1 = time.time()
        os.write(self._log, b"".join(PUT_LOG.pack(t0, t1, *row) for row in logs))
        return {"FailedRecordCount": 0, "Records": out}


def producer_client(**kwargs) -> ProducerEndpoint:
    return ProducerEndpoint(**kwargs)


def read_put_logs(log_dir: str) -> list[tuple]:
    """Every logged put and client header, in no particular order, as
    ``(file, start, end, shard, nbytes, nrecs, ok)``."""
    rows = []
    for path in glob.glob(os.path.join(log_dir, "put-*.bin")):
        with open(path, "rb") as f:
            buf = f.read()
        for rec in PUT_LOG.iter_unpack(buf[: len(buf) // PUT_LOG.size * PUT_LOG.size]):
            rows.append((path, *rec))
    return rows


def read_captures(capture_dir: str):
    """Yield every wire record an endpoint captured."""
    for path in glob.glob(os.path.join(capture_dir, "cap-*.bin")):
        with open(path, "rb") as f:
            buf = f.read()
        pos = 0
        while pos < len(buf):
            (n,) = struct.unpack_from("<I", buf, pos)
            yield buf[pos + 4 : pos + 4 + n]
            pos += 4 + n


# ---------------------------------------------------------------------------
# Live consumer stream
# ---------------------------------------------------------------------------


class LiveStreamWriter:
    """Appends frames to ``stream_dir/<shard>/{data,index}``; benchmark-side.

    Readers see only published frames: the per-shard counts in
    ``stream_dir/visible`` are rewritten in one write, so a burst appended
    before one :meth:`publish` becomes visible all at once."""

    def __init__(self, stream_dir: str) -> None:
        self._dir = stream_dir
        self._fds = []
        self._counts = [0] * SHARDS
        for i in range(SHARDS):
            d = os.path.join(stream_dir, shard_id(i))
            os.makedirs(d, exist_ok=True)
            data = os.open(os.path.join(d, "data"), os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            index = os.open(os.path.join(d, "index"), os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            self._fds.append([data, index, 0])
        self._visible = os.open(os.path.join(stream_dir, "visible"), os.O_WRONLY | os.O_CREAT, 0o644)
        self.publish()

    def append(self, shard: int, wire: bytes, n_records: int, due: float) -> None:
        fds = self._fds[shard]
        os.write(fds[0], wire)
        os.write(fds[1], INDEX.pack(fds[2], len(wire), n_records, due, time.time()))
        fds[2] += len(wire)
        self._counts[shard] += 1

    def publish(self) -> None:
        # one small in-place write: readers never see a shard's count regress
        os.pwrite(self._visible, struct.pack(f"<{len(self._counts)}Q", *self._counts), 0)

    def close(self) -> None:
        for data, index, _ in self._fds:
            os.close(data)
            os.close(index)
        os.close(self._visible)
        self._fds = []


def read_index(stream_dir: str, shard: int) -> list[tuple]:
    """All complete index entries of one shard: (offset, length, nrecs, due, appended)."""
    with open(os.path.join(stream_dir, shard_id(shard), "index"), "rb") as f:
        buf = f.read()
    return list(INDEX.iter_unpack(buf[: len(buf) // INDEX.size * INDEX.size]))


def _iterator(sid: str, idx: int) -> str:
    """An iterator token that is not JSON, so no reader can take a position from it."""
    return f"perfbench-iterator/{sid}/{idx}"


class LiveStreamClient:
    """GetRecords surface over a :class:`LiveStreamWriter` directory.

    Sequence numbers are frame indexes. Iterators are opaque, as a real
    stream's are, so the partitioned reader finds each batch end with its
    driver-side ``get_records`` probe, the path it takes against Kinesis."""

    def __init__(self, stream_dir: str, log_dir: str) -> None:
        self._dir = stream_dir
        self._shards = [shard_id(i) for i in range(SHARDS)]
        self._log = _open_log(log_dir, "get")

    def __del__(self) -> None:
        if getattr(self, "_log", None) is not None:
            os.close(self._log)

    def _count(self, sid: str) -> int:
        with open(os.path.join(self._dir, "visible"), "rb") as f:
            buf = f.read()
        return struct.unpack_from("<Q", buf, 8 * self._shards.index(sid))[0]

    def list_shards(self, StreamName: str, NextToken: str | None = None, **_):
        return {
            "Shards": [
                {"ShardId": sid, "SequenceNumberRange": {"StartingSequenceNumber": "0"}}
                for sid in self._shards
            ]
        }

    def get_shard_iterator(
        self, StreamName: str, ShardId: str, ShardIteratorType: str, StartingSequenceNumber: str | None = None, **_
    ):
        if ShardIteratorType == "TRIM_HORIZON":
            idx = 0
        elif ShardIteratorType == "AT_SEQUENCE_NUMBER":
            idx = int(StartingSequenceNumber)
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            idx = int(StartingSequenceNumber) + 1
        elif ShardIteratorType == "LATEST":
            idx = self._count(ShardId)
        else:
            raise ValueError(f"unsupported iterator type {ShardIteratorType}")
        return {"ShardIterator": _iterator(ShardId, idx)}

    def get_records(self, ShardIterator: str, Limit: int = 10000, **_):
        _, sid, idx = ShardIterator.rsplit("/", 2)
        idx = int(idx)
        d = os.path.join(self._dir, sid)
        visible = self._count(sid)
        with open(os.path.join(d, "index"), "rb") as f:
            f.seek(idx * INDEX.size)
            buf = f.read(max(0, min(Limit, visible - idx)) * INDEX.size)
        entries = list(INDEX.iter_unpack(buf[: len(buf) // INDEX.size * INDEX.size]))
        records = []
        if entries:
            lo = entries[0][0]
            hi = entries[-1][0] + entries[-1][1]
            with open(os.path.join(d, "data"), "rb") as f:
                f.seek(lo)
                data = f.read(hi - lo)
            for i, (off, length, _n, _due, appended) in enumerate(entries):
                records.append(
                    {
                        "SequenceNumber": str(idx + i),
                        "PartitionKey": "live",
                        "Data": data[off - lo : off - lo + length],
                        "ApproximateArrivalTimestamp": datetime.fromtimestamp(appended, timezone.utc),
                    }
                )
        nxt = idx + len(entries)
        os.write(self._log, GET_LOG.pack(time.time(), self._shards.index(sid), len(entries)))
        return {
            "Records": records,
            "NextShardIterator": _iterator(sid, nxt),
            "MillisBehindLatest": 0 if nxt >= visible else 1,
        }


def live_stream_client(**kwargs) -> LiveStreamClient:
    return LiveStreamClient(**kwargs)


def read_get_logs(log_dir: str) -> list[tuple]:
    rows = []
    for path in glob.glob(os.path.join(log_dir, "get-*.bin")):
        with open(path, "rb") as f:
            buf = f.read()
        rows.extend(GET_LOG.iter_unpack(buf[: len(buf) // GET_LOG.size * GET_LOG.size]))
    return rows

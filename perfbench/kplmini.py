"""A small, self-contained KPL aggregated-record codec.

The benchmark encodes its generator frames and checks the producer's output
with this codec instead of the package's ``kpl`` modules, so a change under
``kinesis_writer_spark/kpl/`` can change neither the benchmark's inputs nor
the yardstick its outputs are held against.

Wire format (public KPL aggregation contract)::

    f3 89 9a c2 | AggregatedRecord protobuf | md5(protobuf)

    AggregatedRecord: 1 = partition_key_table (repeated string)
                      2 = explicit_hash_key_table (repeated string)
                      3 = records (repeated Record)
    Record:           1 = partition_key_index (uint64)
                      2 = explicit_hash_key_index (uint64, optional)
                      3 = data (bytes)
"""

from __future__ import annotations

import hashlib

MAGIC = b"\xf3\x89\x9a\xc2"
DIGEST_SIZE = 16


class FrameError(ValueError):
    """A wire record that is not a well-formed KPL aggregated record."""


def _varint(value: int) -> bytes:
    out = bytearray()
    while value >= 0x80:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def _field(number: int, payload: bytes) -> bytes:
    return bytes([(number << 3) | 2]) + _varint(len(payload)) + payload


def encode(partition_key: str, payloads: list[bytes]) -> bytes:
    """One aggregated record holding ``payloads`` under one partition key."""
    body = [_field(1, partition_key.encode("utf-8"))]
    for data in payloads:
        body.append(_field(3, b"\x08\x00" + _field(3, data)))
    joined = b"".join(body)
    return MAGIC + joined + hashlib.md5(joined).digest()


def _read_varint(buf, pos: int) -> tuple[int, int]:
    shift = value = 0
    while True:
        if pos >= len(buf):
            raise FrameError("truncated varint")
        byte = buf[pos]
        pos += 1
        value |= (byte & 0x7F) << shift
        if byte < 0x80:
            return value, pos
        shift += 7
        if shift > 63:
            raise FrameError("varint too long")


def _body(wire: bytes) -> memoryview:
    if len(wire) <= len(MAGIC) + DIGEST_SIZE or wire[: len(MAGIC)] != MAGIC:
        raise FrameError("missing KPL magic prefix")
    view = memoryview(wire)
    body = view[len(MAGIC) : -DIGEST_SIZE]
    if hashlib.md5(body).digest() != wire[-DIGEST_SIZE:]:
        raise FrameError("MD5 trailer mismatch")
    return body


def count_records(wire: bytes) -> int:
    """Check magic and MD5, then count user records without copying them."""
    body = _body(wire)
    n = pos = 0
    end = len(body)
    while pos < end:
        tag = body[pos]
        if tag & 7 != 2:
            raise FrameError(f"unexpected top-level wire type in tag {tag:#x}")
        size, pos = _read_varint(body, pos + 1)
        pos += size
        if tag == 0x1A:
            n += 1
    if pos != end:
        raise FrameError("record overruns the body")
    return n


def decode(wire: bytes) -> list[bytes]:
    """Check magic and MD5 and return every user record's data bytes."""
    body = _body(wire)
    out: list[bytes] = []
    pos = 0
    end = len(body)
    while pos < end:
        tag = body[pos]
        size, pos = _read_varint(body, pos + 1)
        if tag == 0x1A:
            rec, rpos, rend = body[pos : pos + size], 0, size
            data = None
            while rpos < rend:
                rtag = rec[rpos]
                if rtag & 7 == 0:
                    _, rpos = _read_varint(rec, rpos + 1)
                elif rtag & 7 == 2:
                    rsize, rpos = _read_varint(rec, rpos + 1)
                    if rtag == 0x1A:
                        data = bytes(rec[rpos : rpos + rsize])
                    rpos += rsize
                else:
                    raise FrameError(f"unexpected wire type in record tag {rtag:#x}")
            if data is None:
                raise FrameError("user record without data")
            out.append(data)
        pos += size
    return out

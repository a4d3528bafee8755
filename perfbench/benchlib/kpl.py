"""Checks on what reaches the Kinesis endpoint: KPL frame decoding, the
partition-key rule, PUT units, and loss / duplicate-leak accounting.

An entry is a KPL aggregate: magic 0xF3899AC2, a protobuf
`AggregatedRecord`, and the MD5 of that protobuf.
"""

import base64
import hashlib
import json

import numpy as np

from . import stats

MAGIC = bytes([0xF3, 0x89, 0x9A, 0xC2])
FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
MASK64 = (1 << 64) - 1


class FrameError(ValueError):
    pass


def fnv64a_hex(data):
    """FNV-1a 64 of `data` as lowercase hex without leading zeros."""
    h = FNV_OFFSET
    for b in data:
        h ^= b
        h = (h * FNV_PRIME) & MASK64
    return format(h, "x")


def fnv64a_hex_many(bodies):
    """fnv64a_hex over many bodies at once, vectorized across equal lengths."""
    out = [None] * len(bodies)
    by_len = {}
    for i, b in enumerate(bodies):
        by_len.setdefault(len(b), []).append(i)
    prime = np.uint64(FNV_PRIME)
    for n, idx in by_len.items():
        h = np.full(len(idx), FNV_OFFSET, dtype=np.uint64)
        if n:
            mat = np.frombuffer(b"".join(bodies[i] for i in idx), dtype=np.uint8)
            mat = mat.reshape(len(idx), n)
            with np.errstate(over="ignore"):
                for col in range(n):
                    h ^= mat[:, col].astype(np.uint64)
                    h *= prime
        for j, i in enumerate(idx):
            out[i] = format(int(h[j]), "x")
    return out


def _varint(buf, i):
    shift = 0
    out = 0
    while True:
        if i >= len(buf):
            raise FrameError("truncated varint")
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7
        if shift > 63:
            raise FrameError("varint too long")


def _fields(buf):
    """Yield (field, wire_type, value) over one protobuf message."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            n, i = _varint(buf, i)
            if i + n > len(buf):
                raise FrameError("truncated field")
            v = buf[i:i + n]
            i += n
        else:
            raise FrameError("unexpected wire type %d" % wt)
        yield field, wt, v


def decode_frame(data):
    """Decode one KPL aggregate into (partition_key_table, [(key_index, body)]).
    Raises FrameError on a bad magic, a bad MD5 or a malformed protobuf."""
    if len(data) < 20 or data[:4] != MAGIC:
        raise FrameError("not a KPL frame")
    payload, digest = data[4:-16], data[-16:]
    if hashlib.md5(payload).digest() != digest:
        raise FrameError("MD5 mismatch")
    keys, records = [], []
    for field, wt, v in _fields(payload):
        if field == 1 and wt == 2:
            keys.append(bytes(v).decode("utf-8"))
        elif field == 3 and wt == 2:
            key_index, body = None, None
            for f2, w2, v2 in _fields(v):
                if f2 == 1 and w2 == 0:
                    key_index = v2
                elif f2 == 3 and w2 == 2:
                    body = bytes(v2)
            if key_index is None or body is None:
                raise FrameError("record without key index or data")
            records.append((key_index, body))
    if not records:
        raise FrameError("empty aggregate")
    for key_index, _ in records:
        if key_index >= len(keys):
            raise FrameError("key index out of range")
    return keys, records


class Delivery:
    """Accounting over every PutRecords body the endpoint received.

    `published` maps each unique body to (record id, fnv64a hex of the body),
    so the key rule is checked without rehashing. A record counts as
    lost when it was published and never delivered, and as leaked when it
    was delivered more than once (a planted duplicate or a redelivery that
    slipped past dedup). A bad frame, a foreign body, or a partition key
    that is not the fnv64a hex of the entry's first record is a bad entry.
    """

    def __init__(self, published):
        self.published = published
        self.first_receipt = {}
        self.copies = {}
        self.requests = 0
        self.entries = 0
        self.records = 0
        self.bytes = 0
        self.bad_entries = 0
        self.bad_records = 0
        self.entry_bytes = []
        self.new_records = []  # (t_recv, first receipts in that request)
        self.unit_log = []  # (t_recv, PUT units, user records) per request
        self.retried_entries = 0  # entries received again byte for byte
        self._digests = set()

    def add_request(self, body, t_recv):
        """Account one PutRecords request body received at time t_recv."""
        self.requests += 1
        self.bytes += len(body)
        fresh = units = n_records = 0
        for rec in json.loads(body).get("Records", []):
            self.entries += 1
            data = base64.b64decode(rec["Data"])
            pkey = rec["PartitionKey"]
            size = len(data) + len(pkey.encode("utf-8"))
            units += stats.put_units(size)
            self.entry_bytes.append(size)
            try:
                keys, records = decode_frame(data)
            except FrameError:
                self.bad_entries += 1
                continue
            if data[-16:] in self._digests:
                self.retried_entries += 1
            self._digests.add(data[-16:])
            first = self.published.get(records[0][1])
            if first is None or pkey != first[1] or keys[records[0][0]] != pkey:
                self.bad_entries += 1
            n_records += len(records)
            for key_index, rbody in records:
                self.records += 1
                known = self.published.get(rbody)
                if known is None or keys[key_index] != known[1]:
                    self.bad_records += 1
                    continue
                rid = known[0]
                n = self.copies.get(rid, 0)
                self.copies[rid] = n + 1
                if n == 0:
                    self.first_receipt[rid] = t_recv
                    fresh += 1
        self.new_records.append((t_recv, fresh))
        self.unit_log.append((t_recv, units, n_records))

    def units_per_krec(self, start, end):
        """PUT units per 1000 user records over requests received in [start, end)."""
        units = sum(u for t, u, _ in self.unit_log if start <= t < end)
        records = sum(r for t, _, r in self.unit_log if start <= t < end)
        return 1000.0 * units / records if records else 0.0

    def lost(self, expected_ids):
        return sum(1 for rid in expected_ids if rid not in self.copies)

    def leaked(self):
        return sum(n - 1 for n in self.copies.values() if n > 1)

    def failed(self, expected_ids):
        return self.lost(expected_ids) + self.leaked() + self.bad_entries + self.bad_records

"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests
"""

import base64
import hashlib
import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import feed, kpl, stats  # noqa: E402


def varint(v):
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def field(num, payload):
    return varint(num << 3 | 2) + varint(len(payload)) + payload


def kpl_frame(keys, records):
    """A KPL aggregate as the program frames it: magic + protobuf + MD5."""
    pb = b"".join(field(1, k.encode()) for k in keys)
    for key_index, body in records:
        pb += field(3, varint(1 << 3) + varint(key_index) + field(3, body))
    return kpl.MAGIC + pb + hashlib.md5(pb).digest()


def put_body(entries):
    return json.dumps({"StreamName": "s", "Records": [
        {"Data": base64.b64encode(data).decode(), "PartitionKey": key}
        for data, key in entries]}).encode()


def entry(bodies):
    """One well-formed entry: keys are each body's fnv64a hex, the entry
    ships on its first record's key."""
    keys = []
    records = []
    for b in bodies:
        k = kpl.fnv64a_hex(b)
        if k not in keys:
            keys.append(k)
        records.append((keys.index(k), b))
    return kpl_frame(keys, records), keys[0]


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_ten_samples_beyond(self):
        # p99 needs 1000 samples: rank 990 leaves exactly 10 above it
        self.assertEqual(stats.min_samples(99.0), 1000)
        self.assertFalse(stats.supports(999, 99.0))
        self.assertTrue(stats.supports(1000, 99.0))
        self.assertEqual(stats.samples_beyond(1000, 99.0), 10)
        self.assertEqual(stats.min_samples(90.0), 100)
        self.assertEqual(stats.min_samples(50.0), 20)


class PutUnits(unittest.TestCase):
    def test_rounding(self):
        self.assertEqual(stats.PUT_UNIT_BYTES, 25600)
        self.assertEqual(stats.put_units(1), 1)
        self.assertEqual(stats.put_units(25600), 1)
        self.assertEqual(stats.put_units(25601), 2)
        self.assertEqual(stats.put_units(51200), 2)
        self.assertEqual(stats.put_units(1024 * 1024), 41)

    def test_delivery_sums_units_over_entries(self):
        bodies = [bytes([i]) * 1024 for i in range(30)]
        pub = dict(zip(bodies, ((i, kpl.fnv64a_hex(b)) for i, b in enumerate(bodies))))
        d = kpl.Delivery(pub)
        d.add_request(put_body([entry(bodies[:24]), entry(bodies[24:])]), 0.0)
        sizes = d.entry_bytes
        self.assertGreater(sizes[0], 24 * 1024)
        self.assertEqual(d.unit_log, [(0.0, 2, 30)])
        self.assertEqual(sum(stats.put_units(s) for s in sizes), 2)
        self.assertAlmostEqual(d.units_per_krec(0.0, 1.0), 1000.0 * 2 / 30)
        self.assertEqual(d.units_per_krec(1.0, 2.0), 0.0)


class LossAndLeakAccounting(unittest.TestCase):
    def setUp(self):
        rng = random.Random(3)
        self.bodies = [rng.randbytes(1024) for _ in range(6)]
        keys = kpl.fnv64a_hex_many(self.bodies)
        self.pub = {b: (i, k) for i, (b, k) in enumerate(zip(self.bodies, keys))}

    def test_clean_delivery(self):
        d = kpl.Delivery(self.pub)
        d.add_request(put_body([entry(self.bodies[:3]), entry(self.bodies[3:])]), 1.5)
        self.assertEqual(d.failed(range(6)), 0)
        self.assertEqual(d.records, 6)
        self.assertEqual(d.first_receipt[4], 1.5)

    def test_lost_and_leaked(self):
        b = self.bodies
        d = kpl.Delivery(self.pub)
        # record 5 never arrives; record 1 arrives twice (a leaked duplicate)
        d.add_request(put_body([entry([b[0], b[1], b[2]])]), 1.0)
        d.add_request(put_body([entry([b[3], b[1], b[4]])]), 2.0)
        self.assertEqual(d.lost(range(6)), 1)
        self.assertEqual(d.leaked(), 1)
        self.assertEqual(d.failed(range(6)), 2)
        self.assertEqual(d.first_receipt[1], 1.0)
        self.assertEqual(d.new_records, [(1.0, 3), (2.0, 2)])

    def test_resent_entry_counts_as_retried_and_leaked(self):
        e = entry(self.bodies[:2])
        d = kpl.Delivery(self.pub)
        d.add_request(put_body([e]), 1.0)
        d.add_request(put_body([e]), 1.1)
        self.assertEqual(d.retried_entries, 1)
        self.assertEqual(d.leaked(), 2)

    def test_bad_frames_keys_and_bodies(self):
        b = self.bodies
        good, key = entry([b[0]])
        corrupt = good[:-1] + bytes([good[-1] ^ 1])
        wrong_key = (good, "deadbeef")
        foreign, fkey = entry([b"not published"])
        d = kpl.Delivery(self.pub)
        d.add_request(put_body([(corrupt, key), wrong_key, (foreign, fkey)]), 1.0)
        self.assertEqual(d.bad_entries, 3)  # bad MD5, wrong key, unknown first record
        self.assertEqual(d.bad_records, 1)  # the foreign body
        with self.assertRaises(kpl.FrameError):
            kpl.decode_frame(corrupt)

    def test_fnv64a_matches_reference_vectors(self):
        self.assertEqual(kpl.fnv64a_hex(b""), "cbf29ce484222325")
        self.assertEqual(kpl.fnv64a_hex(b"a"), "af63dc4c8601ec8c")
        self.assertEqual(kpl.fnv64a_hex_many([b"a", b"", b"foobar"]),
                         ["af63dc4c8601ec8c", "cbf29ce484222325", "85944171f73967e8"])


class BurstRate(unittest.TestCase):
    def test_rate_between_burst_ends(self):
        # bursts of 100 records ending at 1, 2, 3, 4 s; the window edges cut
        # bursts, which must not count partially
        ev = []
        for end in (1.0, 2.0, 3.0, 4.0):
            ev += [(end - 0.2, 50), (end, 50)]
        self.assertAlmostEqual(stats.burst_rate(ev, 0.9, 4.5, 0.4), 100.0)
        self.assertEqual(len(stats.bursts(ev, 0.4)), 4)


class Sequence(unittest.TestCase):
    def test_seeded_and_duplicates_within_window(self):
        a = feed.Sequence(7, 200.0, 4000)
        b = feed.Sequence(7, 200.0, 4000)
        self.assertEqual(a.rid, b.rid)
        self.assertEqual(a.bodies[:5], b.bodies[:5])
        seen, dups = set(), []
        for i, r in enumerate(a.rid):
            if r in seen:
                dups.append(i)
            seen.add(r)
        self.assertAlmostEqual(len(dups) / len(a), feed.DUP_SHARE, delta=0.02)
        for i in dups:
            gap = a.due[i] - a.origin_due[a.rid[i]]
            self.assertTrue(0.0 <= gap <= feed.DUP_MAX_DELAY_S + 1.0, gap)


if __name__ == "__main__":
    unittest.main()

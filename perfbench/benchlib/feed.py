"""Seeded inputs of the NSQ workloads."""

import bisect
import random

from . import kpl

BODY_BYTES = 1024
DUP_SHARE = 0.10
DUP_MAX_DELAY_S = 60.0


class Sequence:
    """The NSQ workloads' message sequence.

    Arrivals are Poisson at `rate`; each slot is, with probability DUP_SHARE,
    a re-publication of an earlier record due 0-60 s before it, else a new
    1 KiB body. `nsq_live` publishes slot i at `due[i]`; `nsq_catchup`
    publishes the same slots in order as fast as its backlog needs.
    """

    def __init__(self, seed, rate, slots):
        rng = random.Random(seed)
        self.due = []
        self.rid = []
        bodies = []
        origin_due = []  # due time of each unique record, by rid
        t = 0.0
        for _ in range(slots):
            t += rng.expovariate(rate)
            dup = bodies and rng.random() < DUP_SHARE
            if dup:
                back = rng.uniform(0.0, min(DUP_MAX_DELAY_S, t))
                k = bisect.bisect_left(origin_due, t - back)
                self.rid.append(min(k, len(bodies) - 1))
            else:
                self.rid.append(len(bodies))
                bodies.append(rng.randbytes(BODY_BYTES))
                origin_due.append(t)
            self.due.append(t)
        self.bodies = bodies
        self.origin_due = origin_due
        keys = kpl.fnv64a_hex_many(bodies)
        self.published = {b: (i, k) for i, (b, k) in enumerate(zip(bodies, keys))}

    def __len__(self):
        return len(self.due)


def warm_bodies(seed, n):
    """Bodies for the set-up trickle, disjoint from the measured sequence."""
    rng = random.Random(seed ^ 0x5EED)
    return [b"warm-" + rng.randbytes(BODY_BYTES - 5) for _ in range(n)]

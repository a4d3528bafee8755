"""The NSQ workloads: the shipped `graft.Main` between the benchmark's broker
and its Kinesis endpoint.

`nsq_live`: an open loop of Poisson arrivals at LIVE_RATE, timed from each
message's due time to the first receipt of its record at the endpoint.
`nsq_catchup`: the same messages held as a standing backlog the generator
tops up, so the pipeline drains at its own pace the whole run.
"""

import asyncio
import os
import shutil
import time

from . import feed, jvm, kpl, stats
from .broker import HttpFront, NsqBroker

LIVE_RATE = 200.0         # msg/s, about half the catch-up drain rate on a 4-core host
WARMUP_S = 5.0            # after the first delivery, before the measured window
BACKLOG_DEPTH = 500       # queued (undelivered) messages kept on the broker
BATCH_GAP_S = 0.4         # a pause between PutRecords this long ends a micro-batch
SETUP_TIMEOUT_S = 120.0
DRAIN_TIMEOUT_S = 40.0
TOPIC, CHANNEL, STREAM = "events", "graft", "bench"


class Launch:
    """One Main JVM wired to a fresh broker and endpoint."""

    def __init__(self, cp, props):
        self.cp, self.props = cp, props
        self.broker = NsqBroker(TOPIC, CHANNEL)
        self.front = HttpFront(self.broker)
        self.jvm = None

    async def start(self):
        await self.broker.start()
        await self.front.start()
        ckpt = os.path.abspath(os.path.join(jvm.STATE, "run", "ckpt"))
        args = ["--topic", TOPIC, "--channel", CHANNEL,
                "--nsqd-tcp-address", "127.0.0.1:%d" % self.broker.port,
                "--nsqd-http-address", "127.0.0.1:%d" % self.front.port,
                "--stream", STREAM,
                "--kinesis-endpoint", "http://127.0.0.1:%d/" % self.front.port,
                "--checkpoint", ckpt, "--test"]
        log = os.path.join(jvm.STATE, "run", "main.log")
        self.jvm = jvm.Jvm(jvm.java_cmd(self.cp, "graft.Main", args, self.props), log)

    async def until_first_delivery(self, warm):
        """Trickle warm messages until the endpoint receives one; returns the
        seconds from launch to that first receipt."""
        deadline = time.monotonic() + SETUP_TIMEOUT_S
        i = 0
        while not self.front.puts:
            if self.jvm.proc.poll() is not None:
                raise RuntimeError("graft.Main exited during set-up")
            if time.monotonic() > deadline:
                raise RuntimeError("no delivery within %.0f s of launch" % SETUP_TIMEOUT_S)
            if i < len(warm) and self.broker.subscribed:
                self.broker.publish(("warm", i), warm[i])
                i += 1
            await asyncio.sleep(0.1)
        return self.front.puts[0][0] - self.jvm.started

    async def drain(self):
        """Wait until the broker has nothing queued or in flight: every
        message was delivered, committed and FINned."""
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while time.monotonic() < deadline:
            if self.broker.outstanding() == 0:
                return True
            await asyncio.sleep(0.1)
        return False

    async def stop(self, grace=30.0):
        rss = self.jvm.peak_rss_mb()
        await asyncio.get_running_loop().run_in_executor(None, self.jvm.stop, grace)
        await self.front.stop()
        await self.broker.stop()
        if rss is None:
            raise RuntimeError("graft.Main exited before the run ended")
        return rss


async def _live(launch, seq, t0, end):
    """Publish slot i at t0 + due[i]; never waits on the system. Returns the
    generator's lateness samples (s)."""
    late = []
    for i, due in enumerate(seq.due):
        at = t0 + due
        if at > end:
            break
        now = time.monotonic()
        if at > now:
            await asyncio.sleep(at - now)
            now = time.monotonic()
        rid = seq.rid[i]
        launch.broker.publish(rid, seq.bodies[rid])
        late.append(now - at)
    return late


async def _backlog(launch, seq, end):
    """Keep BACKLOG_DEPTH messages queued until `end`; returns slots published."""
    i = 0
    while time.monotonic() < end:
        while launch.broker.depth() < BACKLOG_DEPTH and i < len(seq):
            rid = seq.rid[i]
            launch.broker.publish(rid, seq.bodies[rid])
            i += 1
        if i >= len(seq):
            raise RuntimeError("catch-up sequence exhausted; raise its length")
        await asyncio.sleep(0.05)
    return i


async def run(workload, seed, seconds, cp, trace_props=None):
    # a checkpoint left by an earlier run would resume its dedup state
    shutil.rmtree(os.path.join(jvm.STATE, "run"), ignore_errors=True)
    shutil.rmtree(os.path.join(jvm.STATE, "tmp"), ignore_errors=True)
    os.makedirs(os.path.join(jvm.STATE, "run"))
    warm = feed.warm_bodies(seed, 400)
    live = workload == "nsq_live"
    horizon = WARMUP_S + seconds
    if live:
        seq = feed.Sequence(seed, LIVE_RATE, int(LIVE_RATE * (horizon + 5)))
    else:
        seq = feed.Sequence(seed, LIVE_RATE, BACKLOG_DEPTH + int(1500 * (horizon + 5)))

    launch = Launch(cp, trace_props)
    await launch.start()
    published_warm = {}
    try:
        setup = await launch.until_first_delivery(warm)
        published_warm = {b: (("warm", i), kpl.fnv64a_hex(b))
                          for i, b in enumerate(warm[:launch.broker.counters["published"]])}
        t0 = time.monotonic()
        window = (t0 + WARMUP_S, t0 + horizon)
        if live:
            late = await _live(launch, seq, t0, t0 + horizon)
            slots = len(late)
        else:
            late = []
            slots = await _backlog(launch, seq, t0 + horizon)
        published = {}
        published.update(published_warm)
        published.update(seq.published)
        unique = {seq.rid[i] for i in range(slots)}
        drained = await launch.drain()
    finally:
        # everything is FINned by now; only a traced run needs the graceful
        # shutdown, so its listener can write the trace
        rss = await launch.stop(grace=30.0 if trace_props else 0)

    delivery = kpl.Delivery(published)
    for t_recv, body in launch.front.puts:
        delivery.add_request(body, t_recv)
    expected = list(unique) + [v[0] for v in published_warm.values()]
    lost = delivery.lost(expected)
    leaked = delivery.leaked()
    failed = lost + leaked + delivery.bad_entries + delivery.bad_records
    if launch.broker.outstanding() != 0:
        failed += launch.broker.outstanding()

    # latency and rate over the measured window
    msgs = launch.broker.messages.values()
    if live:
        lat = [(delivery.first_receipt[r] - (t0 + seq.origin_due[r])) * 1000.0
               for r in unique
               if r in delivery.first_receipt and window[0] <= t0 + seq.origin_due[r] < window[1]]
    else:
        first_pub = {}
        for m in msgs:
            if isinstance(m.rid, int) and m.rid not in first_pub:
                first_pub[m.rid] = m.published
        lat = [(delivery.first_receipt[r] - first_pub[r]) * 1000.0
               for r in unique if r in delivery.first_receipt
               and window[0] <= delivery.first_receipt[r] < window[1]]
    rate = stats.burst_rate(delivery.new_records, window[0], window[1], BATCH_GAP_S)
    if not stats.supports(len(lat), 99.0):
        raise RuntimeError("only %d latency samples; p99 needs %d"
                           % (len(lat), stats.min_samples(99.0)))

    metrics = {
        "setup_s": (setup, "s"),
        "latency_p50_ms": (stats.percentile(lat, 50), "ms"),
        "latency_p99_ms": (stats.percentile(lat, 99), "ms"),
        "throughput_per_s": (rate, "1/s"),
        "put_units_per_krec": (delivery.units_per_krec(*window), "units"),
        "peak_rss_mb": (rss, "MB"),
    }
    context = {
        "latency_samples": len(lat),
        "unique_published": len(unique),
        "slots_published": slots,
        "drained": drained,
        "lost": lost, "leaked": leaked,
        "bad_entries": delivery.bad_entries, "bad_records": delivery.bad_records,
        "generator_late_p99_ms": stats.percentile(late, 99) * 1000.0 if late else 0.0,
        "generator_late_max_ms": max(late) * 1000.0 if late else 0.0,
        "planted_published": slots - len(unique),
        "broker": dict(launch.broker.counters),
    }
    return {
        "attempted": len(expected),
        "failed": failed,
        "metrics": metrics,
        "context": context,
        "broker": launch.broker,
        "front": launch.front,
        "delivery": delivery,
        "window": window,
    }

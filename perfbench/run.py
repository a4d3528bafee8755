#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload nsq_live --seed 7 --seconds 15 --trace 0

Prints, as its last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it holds the run's
context (load average, nproc, maximum heap, commit, seed, generator
lateness). A traced run also writes its spans and layer split to
`.bench_build/trace-<workload>-<seed>.json`. See perfbench/README.md.
"""

import argparse
import asyncio
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import jvm, nsq, trace  # noqa: E402

WORKLOADS = ("nsq_live", "nsq_catchup")


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def commit():
    """The checked-out commit, when the checkout is a git work tree."""
    try:
        return subprocess.run(["git", "--git-dir=.git", "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def traced(workload, seed, seconds, cp):
    out = os.path.abspath(os.path.join(jvm.STATE, "listener-%s-%d.jsonl" % (workload, seed)))
    if os.path.exists(out):
        os.remove(out)
    props = {"spark.extraListeners": "perfbench.TraceListener", "perfbench.trace.out": out}
    res = asyncio.run(nsq.run(workload, seed, seconds, cp, props))
    if not os.path.exists(out):
        raise RuntimeError("the trace listener wrote nothing to " + out)
    offset = time.time() - time.monotonic()
    per_layer, split, spans = trace.nsq_layers(
        trace.load(out), res["broker"], res["front"], res["delivery"], res["window"],
        lambda t: (t + offset) * 1000.0, res["context"]["planted_published"])
    path = os.path.join(jvm.STATE, "trace-%s-%d.json" % (workload, seed))
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds,
                   "end_to_end": {k: v for k, (v, _) in res["metrics"].items()},
                   "per_layer": {k: v for k, (v, _) in per_layer.items()},
                   "layer_split": split, "spans": spans}, f, indent=1)
    res["metrics"] = per_layer
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    # exit through atexit, which kills any JVM still running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jvm.require_program()
    os.makedirs(jvm.STATE, exist_ok=True)
    cp = jvm.classpath(os.path.join(jvm.STATE, "build.log"))

    load_before = loadavg()
    if a.trace:
        res = traced(a.workload, a.seed, a.seconds, cp)
    else:
        res = asyncio.run(nsq.run(a.workload, a.seed, a.seconds, cp))
    context = dict(res["context"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                   trace=a.trace, nproc=jvm.nproc(), max_heap=jvm.MAX_HEAP, commit=commit(),
                   loadavg_before=load_before, loadavg_after=loadavg())
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))


if __name__ == "__main__":
    main()

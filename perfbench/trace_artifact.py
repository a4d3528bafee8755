#!/usr/bin/env python3
"""Regenerate perfbench/traces/<workload>.json.

For each workload, run PAIRS untraced/traced pairs on seeds seed,
seed+1, ..., each measuring BENCHMARK.json's `run_seconds`; the order
within a pair alternates. The artifact holds every
run's context and end-to-end metrics, the per-layer metrics, layer split and
spans of the first traced run, and the tracing overhead: per metric, the
median over pairs of (traced - untraced) / untraced.

    python3 perfbench/trace_artifact.py --seed 7
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 3


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout.strip().splitlines()
    return json.loads(out[-2])["context"], json.loads(out[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    sys.path.insert(0, HERE)
    from run import WORKLOADS
    from benchlib import stats
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    for w in WORKLOADS:
        pairs, first = [], None
        for i in range(PAIRS):
            seed = a.seed + i
            order = (0, 1) if i % 2 == 0 else (1, 0)
            runs = {t: run(w, seed, seconds, t) for t in order}
            with open(os.path.join(".bench_build", "trace-%s-%d.json" % (w, seed))) as f:
                tr = json.load(f)
            first = first or tr
            pairs.append({
                "seed": seed, "order": ["traced" if t else "untraced" for t in order],
                "correct": runs[0][1]["correct"] and runs[1][1]["correct"],
                "context_untraced": runs[0][0], "context_traced": runs[1][0],
                "untraced": {k: v["value"] for k, v in runs[0][1]["metrics"].items()},
                "traced": tr["end_to_end"],
            })
        overhead = {k: stats.median([(p["traced"][k] - p["untraced"][k]) / p["untraced"][k]
                                     for p in pairs])
                    for k in pairs[0]["untraced"]}
        doc = {
            "workload": w, "seconds": seconds,
            "correct": all(p["correct"] for p in pairs),
            "tracing_overhead_rel": overhead,
            "pairs": pairs,
            "per_layer": first["per_layer"],
            "layer_split": first["layer_split"],
            "spans": first["spans"],
        }
        with open(os.path.join(HERE, "traces", w + ".json"), "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
        print(w, json.dumps(overhead), json.dumps(first["layer_split"]))


if __name__ == "__main__":
    main()

"""The traced run: spans and per-layer metrics for the NSQ workloads.

The boundaries sit outside the program. The broker and the endpoint see
the two wires; a `perfbench.TraceListener` inside the Main JVM receives
Spark's public listener events: jobs tagged with their micro-batch id,
completed stages with task metrics, and each streaming progress report.

Per micro-batch, the trigger span is split into the layers' self times:

- sources.nsq: the query's `latestOffset` and `getBatch` calls, plus the
  wall of the stage that reads the broker and writes the dedup shuffle;
- dedup: the share of the sink stage's wall that its tasks spent updating
  and committing the dedup state store;
- sink: the share of that wall that the endpoint saw requests in flight,
  from the connection opening (or the request arriving) to the response;
- pack: the rest of the sink stage (shuffle read, filter, KPL pack and
  request encoding);
- engine: the rest of the trigger (WAL and commit logs, planning, and the
  scheduling between stages).
"""

import datetime
import json

from . import stats

MB = 1024.0 * 1024.0


def load(path):
    out = {"job": [], "stage": [], "progress": [], "jvm": []}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                rec = json.loads(line)
                out[rec["kind"]].append(rec)
    return out


def _epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _med(xs):
    return stats.median(xs) if xs else 0.0


def nsq_layers(events, broker, front, delivery, window, epoch_of, planted):
    """Per-layer metrics and spans of one traced NSQ run.

    `window` is the measured (start, end) in monotonic seconds; `epoch_of`
    maps a monotonic time to epoch ms; `planted` is the number of planted
    duplicates published."""
    w0, w1 = epoch_of(window[0]), epoch_of(window[1])
    stages = {s["id"]: s for s in events["stage"]}
    jobs_by_batch = {}
    for j in events["job"]:
        jobs_by_batch.setdefault(j["batch"], []).append(j)
    put_spans = [(epoch_of(a), epoch_of(h), epoch_of(r)) for a, h, r in front.put_spans]

    batches, spans = [], []
    layer_ms = {k: [] for k in ("sources.nsq", "engine", "dedup", "pack", "sink")}
    dropped = 0
    for ev in events["progress"]:
        p = ev["progress"]
        op = (p.get("stateOperators") or [{}])[0]
        dropped += op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
        start = _epoch_ms(p["timestamp"])
        if not (w0 <= start < w1) or p["numInputRows"] == 0:
            continue
        d = p["durationMs"]
        trig = d.get("triggerExecution", 0)
        st = [stages[s] for j in jobs_by_batch.get(str(p["batchId"]), [])
              for s in j["stages"] if s in stages]
        src = [s for s in st if s["shuffle_write"] > 0 and s["shuffle_read"] == 0]
        snk = [s for s in st if s["shuffle_read"] > 0]
        wall = lambda ss: sum(s["end"] - s["start"] for s in ss)
        w_src, w_snk = wall(src), wall(snk)
        run_snk = sum(s["run_ms"] for s in snk) or 1
        dedup_task = op.get("allUpdatesTimeMs", 0) + op.get("allRemovalsTimeMs", 0) \
            + op.get("commitTimeMs", 0)
        sink_task = 0.0
        for s in snk:
            seen = set()
            for a, h, r in put_spans:
                if s["start"] <= h <= s["end"]:
                    sink_task += r - (a if a not in seen else h)
                    seen.add(a)
        dedup_ms = min(w_snk, w_snk * dedup_task / run_snk)
        sink_ms = min(w_snk - dedup_ms, w_snk * sink_task / run_snk)
        split = {
            "sources.nsq": d.get("latestOffset", 0) + d.get("getBatch", 0) + w_src,
            "dedup": dedup_ms,
            "sink": sink_ms,
            "pack": w_snk - dedup_ms - sink_ms,
        }
        split["engine"] = max(0.0, trig - sum(split.values()))
        for k, v in split.items():
            layer_ms[k].append(v)
        bid = "batch-%d" % p["batchId"]
        spans.append({"name": "trigger", "id": bid, "parent": None,
                      "start": start, "end": start + trig})
        for s in st:
            spans.append({"name": "stage %d: %s" % (s["id"], s["name"]), "id": bid,
                          "parent": "trigger", "start": s["start"], "end": s["end"]})
        batches.append({"p": p, "op": op, "tasks": sum(s["tasks"] for s in st),
                        "shuffle": sum(s["shuffle_write"] for s in src), "snk_run": run_snk})

    if not batches:
        raise RuntimeError("no traced micro-batch inside the measured window")
    msgs = [m for m in broker.messages.values() if window[0] <= m.published < window[1]]
    admit = [(m.admitted - m.published) * 1000.0 for m in msgs if m.admitted]
    fin = [(m.finned - m.published) * 1000.0 for m in msgs if m.finned]
    durs = lambda k: [b["p"]["durationMs"].get(k, 0) for b in batches]
    trig = durs("triggerExecution")
    last_op = batches[-1]["op"]
    jvm = events["jvm"][-1] if events["jvm"] else {"gc_ms": 0, "heap_peak": 0}
    seen_entries = delivery.entries
    per_layer = {
        "nsq.delivered": (broker.counters["delivered"], "count"),
        "nsq.fin": (broker.counters["fin"], "count"),
        "nsq.req": (broker.counters["req"], "count"),
        "nsq.redelivered": (broker.counters["redelivered"], "count"),
        "nsq.in_flight_peak": (broker.in_flight_peak, "count"),
        "nsq.depth_peak": (broker.depth_peak, "count"),
        "nsq.admit_lag_ms_p50": (stats.percentile(admit, 50), "ms"),
        "nsq.admit_lag_ms_p99": (stats.percentile(admit, 99), "ms"),
        "nsq.fin_lag_ms_p50": (stats.percentile(fin, 50), "ms"),
        "nsq.fin_lag_ms_p99": (stats.percentile(fin, 99), "ms"),
        "nsq.latestOffset_ms": (_med(durs("latestOffset")), "ms"),
        "nsq.getBatch_ms": (_med(durs("getBatch")), "ms"),
        "nsq.self_ms": (_med(layer_ms["sources.nsq"]), "ms"),
        "engine.batches": (len(batches), "count"),
        "engine.rows_per_batch_p50": (_med([b["p"]["numInputRows"] for b in batches]), "rows"),
        "engine.trigger_ms_p50": (_med(trig), "ms"),
        "engine.trigger_ms_max": (max(trig), "ms"),
        "engine.addBatch_ms": (_med(durs("addBatch")), "ms"),
        "engine.walCommit_ms": (_med(durs("walCommit")), "ms"),
        "engine.commitOffsets_ms": (_med(durs("commitOffsets")), "ms"),
        "engine.queryPlanning_ms": (_med(durs("queryPlanning")), "ms"),
        "engine.tasks_per_batch": (_med([b["tasks"] for b in batches]), "count"),
        "engine.self_ms": (_med(layer_ms["engine"]), "ms"),
        "dedup.state_rows": (last_op.get("numRowsTotal", 0), "rows"),
        "dedup.state_mb": (last_op.get("memoryUsedBytes", 0) / MB, "MB"),
        "dedup.update_ms": (_med([b["op"].get("allUpdatesTimeMs", 0) for b in batches]), "ms"),
        "dedup.commit_ms": (_med([b["op"].get("commitTimeMs", 0) for b in batches]), "ms"),
        "dedup.shuffle_mb": (_med([b["shuffle"] / MB for b in batches]), "MB"),
        "dedup.drop_ratio": (dropped / planted if planted else 0.0, "ratio"),
        "dedup.self_ms": (_med(layer_ms["dedup"]), "ms"),
        "pack.rec_per_entry": (delivery.records / max(seen_entries, 1), "count"),
        "pack.entry_fill": (sum(delivery.entry_bytes) / max(seen_entries, 1)
                            / stats.PUT_UNIT_BYTES, "ratio"),
        "pack.entries_per_request": (seen_entries / max(delivery.requests, 1), "count"),
        "pack.requests_per_batch": (delivery.requests / max(_batches_with_rows(events), 1),
                                    "count"),
        "pack.put_units_per_krec": (delivery.units_per_krec(*window), "units"),
        "pack.self_ms": (_med(layer_ms["pack"]), "ms"),
        "sink.requests": (delivery.requests, "count"),
        "sink.mb": (delivery.bytes / MB, "MB"),
        "sink.task_s": (sum(b["snk_run"] for b in batches) / 1000.0, "s"),
        "sink.retried_entries": (delivery.retried_entries, "count"),
        "sink.failed_requests": (front.failed_requests, "count"),
        "sink.self_ms": (_med(layer_ms["sink"]), "ms"),
        "jvm.gc_ms": (jvm["gc_ms"], "ms"),
        "jvm.heap_peak_mb": (jvm["heap_peak"] / MB, "MB"),
    }
    total = sum(sum(v) for v in layer_ms.values()) or 1.0
    split = {k: {"self_ms_per_batch": _med(v), "share": sum(v) / total}
             for k, v in layer_ms.items()}
    return per_layer, split, spans


def _batches_with_rows(events):
    return sum(1 for e in events["progress"] if e["progress"]["numInputRows"] > 0)

"""Per-layer metrics of the traced run: the workload's own span metrics plus
Spark engine counters per layer, parsed from the event log.

Stages and jobs are assigned to the innermost span open at their
submission time. Job groups would not work: the snapshot commit writes its
tables from ThreadPoolExecutor threads, which do not inherit them.
"""

from __future__ import annotations

import json
import os
import statistics

from harness import Tracer, median

LAYERS = ("scheduler", "checkpoint", "bootstrap", "cdx", "select", "warc",
          "sink", "mimes", "dedup", "text")
SPARK = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "task_skew": "ratio",
    "executor_cpu_s": "s",
    "gc_s": "s",
}

PER_LAYER = {
    "scheduler.schedule_s": "s",
    "scheduler.frontier_rows_in": "count",
    "scheduler.scheduled": "count",
    "scheduler.yield": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.bytes_written": "B",
    "checkpoint.gc_s": "s",
    "checkpoint.frontier_read_amp": "ratio",
    "checkpoint.compactions": "count",
    "checkpoint.compact_iteration_s": "s",
    "checkpoint.disk_bytes": "B",
    "checkpoint.disk_bytes_per_seen_url": "B",
    "bootstrap.urls_per_s": "1/s",
    "cdx.parse_s": "s",
    "cdx.lines": "count",
    "cdx.records": "count",
    "cdx.dropped_frac": "ratio",
    "select.s": "s",
    "select.selectivity": "ratio",
    "warc.extract_s": "s",
    "warc.records": "count",
    "warc.bytes_read": "B",
    "warc.empty_payload": "count",
    "warc.digest_mismatch": "count",
    "warc.read_errors": "count",
    "sink.write_s": "s",
    "sink.bytes": "B",
    "mimes.s": "s",
    "dedup.shingle_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.cluster_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "text.gate_s": "s",
    "text.docs_gated": "count",
    "trace.overhead_s": "s",
    **{f"spark.{layer}.{k}": u for layer in LAYERS for k, u in SPARK.items()},
}


def collect(wl, traced_ops: list[dict], untraced_ops: list[dict]) -> dict:
    """The workload's span metrics; layers it does not use read 0."""
    out = {k: 0.0 for k in PER_LAYER}
    out.update(wl.layers(traced_ops))
    plain = median([o["s"] for o in untraced_ops])
    out["trace.overhead_s"] = median([o["s"] for o in traced_ops]) - plain
    return out


def layer_of(span_name: str) -> str | None:
    head = span_name.split(".", 1)[0]
    return head if head in LAYERS else None


# ------------------------------------------------------------- event log
def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _innermost(spans: list[tuple[float, float, int, str]], t: float) -> str | None:
    """Name of the deepest span containing t (spans: start, end, depth, name)."""
    best = None
    for start, end, depth, name in spans:
        if start <= t <= end and (best is None or depth > best[0]):
            best = (depth, name)
    return best[1] if best else None


def layer_counters(events: list[dict], spans: list[dict]) -> dict:
    """spark.<layer>.<counter> per occurrence of the layer's outermost span.

    `spans` are Tracer span dicts (name, start, end, parent; epoch
    seconds). A span counts toward its own layer, except that a span
    nested in a bootstrap span counts toward bootstrap: bootstrap's lazy
    plan runs inside its commit."""
    depth, layer = [], []
    for s in spans:
        p = s["parent"]
        depth.append(0 if p is None else depth[p] + 1)
        own = layer_of(s["name"])
        inherited = layer[p] if p is not None else None
        layer.append("bootstrap" if inherited == "bootstrap" else own or inherited)
    windows = [(s["start"] * 1000, s["end"] * 1000, depth[i], layer[i])
               for i, s in enumerate(spans)]
    occurrences = {
        name: sum(
            1 for i, s in enumerate(spans)
            if layer[i] == name and (s["parent"] is None or layer[s["parent"]] != name)
        )
        for name in LAYERS
    }
    acc = {name: {k: 0.0 for k in SPARK} for name in LAYERS}
    stage_layer: dict[int, str] = {}
    task_times: dict[int, list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = _innermost(windows, ev["Submission Time"])
            if name:
                acc[name]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            name = _innermost(windows, info.get("Submission Time", 0))
            if name:
                stage_layer[info["Stage ID"]] = name
                acc[name]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            name = stage_layer.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not name or not m:
                continue
            a = acc[name]
            a["tasks"] += 1
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000
            info = ev["Task Info"]
            task_times.setdefault(ev["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"])
    for stage, times in task_times.items():
        if len(times) < 2:
            continue
        mid = statistics.median(times)
        skew = max(times) / mid if mid > 0 else 1.0
        a = acc[stage_layer[stage]]
        a["task_skew"] = max(a["task_skew"], skew)
    out = {}
    for name in LAYERS:
        n = occurrences[name] or 1
        for k, v in acc[name].items():
            out[f"spark.{name}.{k}"] = v if k == "task_skew" else v / n
    return out


def spark_counters(tracer: Tracer, work: str) -> dict:
    d = os.path.join(work, "eventlog")
    logs = [os.path.join(d, f) for f in os.listdir(d)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one Spark event log in {d}, found {logs}")
    spans = [dict(s.__dict__) for s in tracer.spans]
    return layer_counters(read_events(logs[0]), spans)

"""Spans recorded from the benchmark around its calls into the program,
and the Spark event log summarised per span.

Every span sets the Spark job group to its own id, so each job in the
event log can be charged to the span that launched it.  Spans stay in
memory until ``dump``.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    def rebind(self, spark) -> None:
        """Follow a restarted session (job groups live on its context)."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        rec = {"id": f"s{self._n}", "name": name,
               "parent": parent["id"] if parent else None,
               "op": op or (parent["op"] if parent else f"s{self._n}")}
        self.sc.setJobGroup(rec["id"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def ids(self, name: str) -> list[str]:
        return [s["id"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_ZERO = {"jobs": 0, "task_s": 0.0, "gc_s": 0.0, "records_read": 0,
         "bytes_read": 0, "shuffle_bytes": 0, "spill_bytes": 0}


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task time, GC time, input records and bytes,
    shuffle bytes written and bytes spilled, from every finished event
    log under ``log_dir``."""
    out: dict[str, dict] = defaultdict(lambda: dict(_ZERO))
    for path in sorted(glob.glob(f"{log_dir}/*")):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    inp = m.get("Input Metrics") or {}
                    g["records_read"] += inp.get("Records Read", 0)
                    g["bytes_read"] += inp.get("Bytes Read", 0)
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return out


def total(groups: dict[str, dict], ids) -> dict:
    """Sum the event-log figures of the given job groups."""
    acc = dict(_ZERO)
    for i in ids:
        for k, v in groups.get(i, _ZERO).items():
            acc[k] += v
    return acc


# Every per-layer metric of the traced run: (name, unit, better).  A
# workload that never calls a layer reports that layer's figures as 0.
LAYER_METRICS = [
    ("tables.scan_s", "s", "lower"),
    ("extract.busy_s", "s", "lower"),
    ("extract.rows_out", "count", "higher"),
    ("transform.busy_s", "s", "lower"),
    ("transform.tuples_out", "count", "higher"),
    ("transform.fanout", "ratio", "higher"),
    ("caches.assoc_s", "s", "lower"),
    ("caches.lastn_s", "s", "lower"),
    ("caches.count_s", "s", "lower"),
    ("caches.keycount_s", "s", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.shuffle_bytes", "B", "lower"),
    ("pipeline.scan_amplification", "ratio", "lower"),
    ("ingest.core_scaling", "ratio", "higher"),
    ("query.getCount_p50_ms", "ms", "lower"),
    ("query.actionsForSubj_p50_ms", "ms", "lower"),
    ("query.countsForSubjAction_p50_ms", "ms", "lower"),
    ("query.sumCounts_p50_ms", "ms", "lower"),
    ("query.tuplesForSubjAction_p50_ms", "ms", "lower"),
    ("query.jobs_per_call", "count", "lower"),
    ("query.rows_read_per_row_returned", "ratio", "lower"),
    ("state.delta_s", "s", "lower"),
    ("sinks.accumulate_batch_p50_s", "s", "lower"),
    ("sinks.lookup_state_keys_p50_ms", "ms", "lower"),
    ("sinks.jobs_per_commit", "count", "lower"),
    ("sinks.buckets_rewritten_per_batch", "count", "lower"),
    ("sinks.write_amplification", "ratio", "lower"),
    ("sinks.state_bytes", "B", "lower"),
    ("sinks.state_files", "count", "lower"),
    ("dedup.signatures_s", "s", "lower"),
    ("dedup.candidates", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.near_dup_verified_s", "s", "lower"),
    ("clusters.connected_components_s", "s", "lower"),
    ("cached.persisted_after_run", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]

"""Fold a Spark event log into per-call layer counters.

The benchmark labels every call it times with a Spark job group
(`setJobGroup`). Spark's own event log then holds, per stage, the
counters of every layer below the driver; this module sums them per
job group and adds two driver-side figures from the job timestamps.

Per label (one timed call):
  jobs           Spark jobs the call ran
  driver_gap_s   call wall time with no job of the label running
  span_cover     (last job end - first job start) / call wall time
  jvm_cpu_s      executor CPU time of the call's stages
  py_run_s       "time to run Python workers"
  py_init_s      "time to initialize Python workers"
  to_py_bytes    "data sent to Python workers"
  from_py_bytes  "data returned from Python workers"
  shuffle_bytes  shuffle bytes written

The log must be plain JSON lines: run with spark.eventLog.compress=false
and spark.eventLog.rolling.enabled=false. Standard library only.
"""

from __future__ import annotations

import json

# stage accumulable name -> (counter, scale to the counter's unit)
STAGE_COUNTERS = {
    "internal.metrics.executorCpuTime": ("jvm_cpu_s", 1e-9),      # ns
    "time to run Python workers": ("py_run_s", 1e-3),             # ms
    "time to initialize Python workers": ("py_init_s", 1e-3),     # ms
    "data sent to Python workers": ("to_py_bytes", 1),
    "data returned from Python workers": ("from_py_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
}

COUNTERS = ("jobs", "driver_gap_s", "span_cover", "jvm_cpu_s", "py_run_s",
            "py_init_s", "to_py_bytes", "from_py_bytes", "shuffle_bytes")


def read_log(path: str) -> tuple[dict, dict]:
    """-> (jobs, stage_totals): jobs maps job group -> list of
    (start_ms, end_ms); stage_totals maps job group -> summed stage
    counters. Jobs and stages without a group are dropped."""
    job_group, job_start, job_end = {}, {}, {}
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None:
                    continue
                acc = totals.setdefault(group, {})
                for a in info.get("Accumulables", []):
                    hit = STAGE_COUNTERS.get(a.get("Name"))
                    if hit is not None and a.get("Value") is not None:
                        name, scale = hit
                        acc[name] = acc.get(name, 0) + float(a["Value"]) * scale
    jobs: dict[str, list] = {}
    for jid, group in job_group.items():
        if jid in job_end:
            jobs.setdefault(group, []).append((job_start[jid], job_end[jid]))
    return jobs, totals


def _union_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def call_counters(jobs: dict, totals: dict, label: str,
                  t0_ms: float, t1_ms: float) -> dict:
    """Counters of one call labelled `label` that ran in [t0_ms, t1_ms]
    (epoch milliseconds, the clock Spark stamps its events with)."""
    iv = jobs.get(label, [])
    wall = max(t1_ms - t0_ms, 1e-9)
    out = {name: 0.0 for name in COUNTERS}
    out.update(totals.get(label, {}))
    out["jobs"] = len(iv)
    out["driver_gap_s"] = (wall - _union_ms(iv, t0_ms, t1_ms)) / 1e3
    if iv:
        span = max(b for _, b in iv) - min(a for a, _ in iv)
        out["span_cover"] = span / wall
    return out

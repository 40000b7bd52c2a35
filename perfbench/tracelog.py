"""Offline attribution of a traced run: the launcher's spans and Spark's
event log, both keyed by the client's per-statement bench id."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def load_spans(trace_dir: str) -> dict[str, dict[str, list]]:
    """bench id -> span name -> [(start_ns, end_ns, bytes_written, tracer_cost_ns)]."""
    with open(os.path.join(trace_dir, "spans.json")) as f:
        rows = json.load(f)
    out: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for bench_id, name, *span in rows:
        out[bench_id][name].append(tuple(span))
    return out


def span_ms(spans: dict[str, list], name: str) -> float:
    return sum(t1 - t0 for t0, t1, _, _ in spans.get(name, ())) / 1e6


def span_bytes(spans: dict[str, list], name: str) -> int:
    return sum(nbytes for _, _, nbytes, _ in spans.get(name, ()))


def tracer_cost_ms(spans: dict[str, list]) -> float:
    """The tracer's own time across all of one statement's spans."""
    return sum(cost for ss in spans.values() for _, _, _, cost in ss) / 1e6


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def load_eventlog(trace_dir: str) -> dict[str, dict[str, float]]:
    """bench id (Spark job group) -> Spark counts and task metrics."""
    paths = [p for p in glob.glob(os.path.join(trace_dir, "eventlog", "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one Spark event log, found {paths}")
    stage_group: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    spans: dict[str, list] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    launches: dict[tuple[int, int], list[int]] = defaultdict(list)
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"]
                acc[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                spans[job_group.get(jid, "")].append((job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                stage_group[key] = group
                acc[group]["stages"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_submit[key] = info.get("Submission Time", 0)
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                group = stage_group.get(key, "")
                a = acc[group]
                a["tasks"] += 1
                launches[key].append(ev["Task Info"]["Launch Time"])
                m = ev.get("Task Metrics") or {}
                a["exec_run_ms"] += m.get("Executor Run Time", 0)
                a["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                a["gc_ms"] += m.get("JVM GC Time", 0)
    for key, times in launches.items():
        submit = stage_submit.get(key)
        if submit:
            acc[stage_group.get(key, "")]["sched_wait_ms"] += sum(t - submit for t in times)
    for group, iv in spans.items():
        acc[group]["jobs_union_ms"] = _union_ms(iv)
    return acc

"""Traced runs: job groups and spans set from outside the program, and
the Spark event log folded into per-group task metrics.

Spans are recorded around public entry points only. ``StageTracer``
wraps the public ``StageCatalog.stage`` and ``flush_lineage`` for the
duration of a traced leg and restores them afterwards; the package
itself is not modified.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from legal_knowledge_graph_spark.operators.checkpoint import StageCatalog


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setJobGroup("untraced", "untraced")


class StageTracer:
    """Times every ``StageCatalog.stage`` call (wall and thunk, i.e.
    plan-build, seconds) and tags its Spark jobs with the job group
    ``<prefix>stage.<name>``; ``flush_lineage`` gets
    ``<prefix>lineage.flush``."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: dict[str, dict] = {}

    def __enter__(self) -> "StageTracer":
        self._stage, self._flush = StageCatalog.stage, StageCatalog.flush_lineage
        tracer, orig_stage, orig_flush = self, self._stage, self._flush

        def stage(cat, name, compute, partition_col=None, force=False):
            group = f"{tracer.prefix}stage.{name}"
            plan = [0.0]

            def timed_compute():
                t = time.perf_counter()
                df = compute()
                plan[0] = time.perf_counter() - t
                return df

            t0 = time.perf_counter()
            with job_group(tracer.sc, group):
                out = orig_stage(cat, name, timed_compute, partition_col, force)
            tracer.spans[group] = {"wall_s": time.perf_counter() - t0, "plan_s": plan[0]}
            return out

        def flush_lineage(cat):
            group = f"{tracer.prefix}lineage.flush"
            t0 = time.perf_counter()
            with job_group(tracer.sc, group):
                orig_flush(cat)
            tracer.spans[group] = {"wall_s": time.perf_counter() - t0, "plan_s": 0.0}

        StageCatalog.stage = stage
        StageCatalog.flush_lineage = flush_lineage
        return self

    def __exit__(self, *exc) -> None:
        StageCatalog.stage, StageCatalog.flush_lineage = self._stage, self._flush


def read_event_log(event_dir: str) -> dict[str, dict]:
    """Fold every closed event log under ``event_dir`` into per job
    group totals: jobs, executor run time per task (grouped by Spark
    stage), shuffle bytes written, disk bytes spilled and input records
    read."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for name in sorted(os.listdir(event_dir)):
        if name.endswith(".inprogress"):
            raise RuntimeError(f"event log {name} was not closed")
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                    g = _group(groups, group)
                    g["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = _group(groups, stage_group.get(ev["Stage ID"], "untraced"))
                    m = ev.get("Task Metrics") or {}
                    g["stage_task_ms"].setdefault(ev["Stage ID"], []).append(
                        m.get("Executor Run Time", 0)
                    )
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    g["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return groups


def _group(groups: dict, name: str) -> dict:
    return groups.setdefault(
        name,
        {
            "jobs": 0,
            "stage_task_ms": {},
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "records_read": 0,
        },
    )


def task_seconds(g: dict) -> float:
    return sum(sum(ts) for ts in g["stage_task_ms"].values()) / 1000.0


def skew(g: dict) -> float:
    """max / median task time of the group's busiest Spark stage."""
    if not g["stage_task_ms"]:
        return 0.0
    busiest = max(g["stage_task_ms"].values(), key=sum)
    return max(busiest) / max(statistics.median(busiest), 1.0)


def stage_metrics(spans: dict, events: dict, prefix: str, stages: list[str], cores: int) -> dict:
    out = {}
    empty = _group({}, "")
    for name in stages:
        group = f"{prefix}stage.{name}"
        span = spans[group]
        g = events.get(group, empty)
        task_s = task_seconds(g)
        key = f"stage.{name}"
        out[f"{key}.wall_s"] = span["wall_s"]
        out[f"{key}.plan_s"] = span["plan_s"]
        out[f"{key}.task_s"] = task_s
        out[f"{key}.serial_s"] = span["wall_s"] - task_s / cores
        out[f"{key}.jobs"] = g["jobs"]
        out[f"{key}.skew"] = skew(g)
        out[f"{key}.shuffle_mb"] = g["shuffle_bytes"] / 1e6
        out[f"{key}.spill_mb"] = g["spill_bytes"] / 1e6
    out["lineage.flush_s"] = spans[f"{prefix}lineage.flush"]["wall_s"]
    return out

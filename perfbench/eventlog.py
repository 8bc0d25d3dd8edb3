"""Attribute Spark work to benchmark layers from a Spark event log.

Stdlib only, offline: reads the JSON-lines file Spark writes when
``spark.eventLog.enabled`` is true and sums, per layer, the jobs, their
wall time and their tasks' run time, shuffle bytes, spill and output.

A job belongs to the layer named by its job group (the
``spark.jobGroup.id`` property the tracer sets around each layer call).
Jobs that carry no group -- PySpark does not copy a thread's job group
into threads the library starts itself -- fall back to the layer that
was current on the driver when the job was submitted (``timeline``).
A task belongs to the job whose stage ran it.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class LayerCost:
    jobs: int = 0
    job_wall_s: float = 0.0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


def find_log(log_dir: str) -> list[str]:
    """The event files of the single finished application in ``log_dir``,
    in write order. Spark 4 writes a directory ``eventlog_v2_<app>/``
    of numbered ``events_<n>_<app>`` files (rolled by size) and marks a
    running application with an ``appstatus_<app>.inprogress`` file;
    older versions write one plain file."""
    apps = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(apps) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {apps}")
    app = apps[0]
    if not os.path.isdir(app):
        return [app]
    if glob.glob(os.path.join(app, "appstatus_*.inprogress")):
        raise FileNotFoundError(f"application still running: {app}")
    files = glob.glob(os.path.join(app, "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class Timeline:
    """Which layer was current on the driver at a given epoch millisecond."""

    def __init__(self, switches: list[tuple[float, str]]):
        self._t = [t for t, _ in switches]
        self._layer = [name for _, name in switches]

    def at(self, epoch_ms: float) -> str | None:
        i = bisect.bisect_right(self._t, epoch_ms) - 1
        return self._layer[i] if i >= 0 else None


def attribute(events, timeline: Timeline | None = None) -> dict[str, LayerCost]:
    """Sum each layer's Spark cost over one application's events."""
    job_layer: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_layer: dict[int, str | None] = {}
    costs: dict[str, LayerCost] = defaultdict(LayerCost)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            submitted = ev.get("Submission Time", 0)
            layer = (ev.get("Properties") or {}).get(GROUP_KEY)
            if layer is None and timeline is not None:
                layer = timeline.at(submitted)
            job_layer[job] = layer
            job_start[job] = submitted
            for stage in ev.get("Stage IDs", []):
                # a stage reused by a later job already ran (skipped):
                # keep the first job's layer
                stage_layer.setdefault(stage, layer)
            if layer is not None:
                costs[layer].jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            layer = job_layer.get(job)
            if layer is not None and job in job_start:
                costs[layer].job_wall_s += (ev["Completion Time"] - job_start[job]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if layer is None or not metrics:
                continue
            c = costs[layer]
            c.task_s += metrics.get("Executor Run Time", 0) / 1000.0
            c.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            sw = metrics.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            out = metrics.get("Output Metrics") or {}
            c.output_bytes += out.get("Bytes Written", 0)
            c.output_records += out.get("Records Written", 0)
    return dict(costs)

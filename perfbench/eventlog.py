"""Fold a Spark event log into per-label task metrics.

Every job the benchmark starts carries a ``spark.job.description``
label. Task-end events name only their stage, so the fold first maps
stages to labels (from job-start and stage-submitted events) and then
sums the task metrics of each stage into its label's row.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from typing import Dict, Iterable, Iterator

DESC = "spark.job.description"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
FIELDS = ("jobs", "tasks", "run_s", "cpu_s", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "input_bytes",
          "py_bytes_sent", "py_bytes_received")


def _new_row() -> Dict[str, float]:
    return dict.fromkeys(FIELDS, 0)


def fold(lines: Iterable[str]) -> Dict[str, Dict[str, float]]:
    """label -> summed metrics over the tasks of the label's stages."""
    stage_label: Dict[int, str] = {}
    rows: Dict[str, Dict[str, float]] = defaultdict(_new_row)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get(DESC)
            if label is None:
                continue
            rows[label]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerStageSubmitted":
            label = (ev.get("Properties") or {}).get(DESC)
            if label is not None:
                stage_label[ev["Stage Info"]["Stage ID"]] = label
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev.get("Stage ID"))
            if label is None:
                continue
            row = rows[label]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            row["tasks"] += 1
            row["run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            row["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            row["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_SENT:
                    row["py_bytes_sent"] += int(acc.get("Update", 0))
                elif name == PY_RECEIVED:
                    row["py_bytes_received"] += int(acc.get("Update", 0))
    return dict(rows)


def log_lines(log_dir: str) -> Iterator[str]:
    """Lines of every event-log file under ``log_dir``: plain files and
    the rolling ``eventlog_v2_*/events_<n>_*`` parts, in write order."""
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            files = [os.path.join(path, p) for p in parts]
        else:
            files = [path]
        for f in files:
            with open(f, encoding="utf-8") as fh:
                yield from fh


def fold_dir(log_dir: str) -> Dict[str, Dict[str, float]]:
    return fold(log_lines(log_dir))

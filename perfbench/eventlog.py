"""Per-job-group totals from a Spark event log.

The traced run tags every job with a job group ``pb:<pass>:<key>:<phase>``
and writes Spark's JSON event log; after the session stops this module
folds the log into one ``GroupStats`` per group.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


_MB = 1024.0 * 1024.0


def read_groups(log_dir: str) -> dict[str, GroupStats]:
    """Totals per job group over every uncompressed event log under
    ``log_dir`` (one file per application)."""
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if not n.startswith(".")]
    for path in sorted(paths):
        stage_group: dict[int, str] = {}  # stage ids restart per application
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if group is None or metrics is None:
                        continue
                    g = out[group]
                    g.tasks += 1
                    g.task_run_s += metrics.get("Executor Run Time", 0) / 1000.0
                    g.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
                    shuffle = metrics.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_mb += shuffle.get("Shuffle Bytes Written", 0) / _MB
                    g.spill_mb += metrics.get("Disk Bytes Spilled", 0) / _MB
    return dict(out)

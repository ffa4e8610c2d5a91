"""Per-job-group totals from a Spark event log (plain JSON lines, as
written with ``spark.eventLog.compress=false`` and rolling off).

The benchmark tags every traced operation with its own job group, so
each group's jobs, stages and task metrics add up to that operation's
cost in the Spark runtime.  Units are normalised here: Spark reports
executor run and GC time in ms, executor CPU time in ns, and the Python
UDF runner's "time to run Python workers" SQL metric in ms.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_worker_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # submission time of each job, epoch seconds
    job_times: list = field(default_factory=list)
    # (submission, completion) of each completed stage, epoch seconds
    stage_spans: list = field(default_factory=list)

    def covered_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one of this
        group's stages was running."""
        spans = sorted(
            (max(s, start), min(e, end)) for s, e in self.stage_spans if e > start and s < end
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse(lines) -> dict[str, GroupTotals]:
    """Fold event-log lines into totals keyed by job group id."""
    out: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            if g is not None:
                out[g].jobs += 1
                out[g].job_times.append(ev["Submission Time"] / 1e3)
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None and "Completion Time" in info:
                out[g].stages += 1
                out[g].stage_spans.append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            t = out[g]
            t.tasks += 1
            m = ev.get("Task Metrics") or {}
            t.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            t.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            t.shuffle_write_mb += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
            )
            t.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC and "Update" in acc:
                    t.python_worker_s += float(acc["Update"]) / 1e3
    return dict(out)


def parse_file(path: str) -> dict[str, GroupTotals]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)

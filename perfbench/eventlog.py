"""Reader for the Spark event log of a traced run.

Spark writes one JSON event per line.  The benchmark labels its jobs with
``spark.job.description`` (see tracer.py), and this module folds the log into
per-label totals:

* ``jobs``          jobs started under the label
* ``stages``        stages that ran tasks under the label
* ``task_s``        summed executor run time of those tasks
* ``py_s``          summed "time to run Python workers" (Python-UDF time)
* ``shuffle_bytes`` shuffle bytes written by those tasks

A stage is attributed to the description its submitting job carried
(``SparkListenerStageSubmitted`` properties), so a stage reused by a later job
stays with the job that ran it.  ``window`` restricts everything to jobs and
stages submitted inside a wall-clock interval.
"""

from __future__ import annotations

import json
from pathlib import Path

DESCRIPTION = "spark.job.description"
PY_TIME_METRIC = "time to run Python workers"
UNLABELLED = "unlabelled"


class EventLog:
    def __init__(self, path: Path):
        self.jobs: list[dict] = []          # {id, label, submitted_ms}
        self.stages: dict[int, dict] = {}   # id -> {label, submitted_ms, ...}
        files = [p for p in Path(path).rglob("*") if p.is_file()]
        if not files:
            raise FileNotFoundError(f"no Spark event log under {path}")
        for f in files:
            with f.open() as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "label": UNLABELLED, "submitted_ms": None, "tasks": 0,
            "task_s": 0.0, "py_s": 0.0, "shuffle_bytes": 0,
        })

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs.append({
                "id": ev["Job ID"],
                "label": props.get(DESCRIPTION) or UNLABELLED,
                "submitted_ms": ev.get("Submission Time"),
            })
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["label"] = (ev.get("Properties") or {}).get(DESCRIPTION) or UNLABELLED
            st["submitted_ms"] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            st["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            st["task_s"] += (m.get("Executor Run Time") or 0) / 1e3
            st["shuffle_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
                or 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PY_TIME_METRIC:
                    st["py_s"] += float(acc.get("Update") or 0) / 1e3

    @staticmethod
    def _inside(ms, window) -> bool:
        return window is None or (ms is not None and window[0] <= ms <= window[1])

    def by_label(self, window: tuple[float, float] | None = None) -> dict:
        """{label: {jobs, stages, task_s, py_s, shuffle_bytes}} for jobs and
        stages submitted inside ``window`` (epoch ms), or all of them."""
        out: dict[str, dict] = {}

        def row(label):
            return out.setdefault(label, {"jobs": 0, "stages": 0, "task_s": 0.0,
                                          "py_s": 0.0, "shuffle_bytes": 0})

        for job in self.jobs:
            if self._inside(job["submitted_ms"], window):
                row(job["label"])["jobs"] += 1
        for st in self.stages.values():
            if st["tasks"] and self._inside(st["submitted_ms"], window):
                r = row(st["label"])
                r["stages"] += 1
                for k in ("task_s", "py_s", "shuffle_bytes"):
                    r[k] += st[k]
        return out

    def totals(self, window: tuple[float, float] | None = None) -> dict:
        """Sum of :meth:`by_label` over every label."""
        tot = {"jobs": 0, "stages": 0, "task_s": 0.0, "py_s": 0.0,
               "shuffle_bytes": 0}
        for r in self.by_label(window).values():
            for k in tot:
                tot[k] += r[k]
        return tot

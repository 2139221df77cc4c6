"""Per-layer figures read from Spark's own event log after the run.

The benchmark puts a Spark job group around every public call it makes
(``SparkContext.setJobGroup``) and, in a traced run, turns on the event log
uncompressed and unrolled. This module reads that log back:

* jobs: group, submission and completion time (epoch ms), stages;
* per job, summed over its tasks: time to run Python workers (ms), shuffle
  bytes written, output bytes written, and posting rows scanned (the
  ``number of output rows`` SQL metric of every parquet scan whose location
  is a ``postings`` table, found in the initial and the adaptive plans).
"""

from __future__ import annotations

import collections
import json

PY_WORKER = "time to run Python workers"


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


class EventLog:
    def __init__(self, path: str):
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        scan_rows_ids: set[int] = set()
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"], "end": e["Submission Time"]}
                # a job also lists the skipped stages it reuses: keep the
                # job that ran each stage first
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                for node in _walk(e["sparkPlanInfo"]):
                    loc = node.get("metadata", {}).get("Location", "")
                    if node["nodeName"].startswith("Scan") and "/postings" in loc:
                        scan_rows_ids.update(
                            m["accumulatorId"] for m in node["metrics"]
                            if m["name"] == "number of output rows")
        self.per_job: dict[int, collections.Counter] = collections.defaultdict(
            collections.Counter)
        for e in events:
            if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
                continue
            c = self.per_job[stage_job[e["Stage ID"]]]
            tm = e.get("Task Metrics") or {}
            c["shuffle_bytes"] += _num(
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written"))
            c["bytes_written"] += _num(tm.get("Output Metrics", {}).get("Bytes Written"))
            for acc in e["Task Info"].get("Accumulables", ()):
                if acc.get("Name") == PY_WORKER:
                    c["python_worker_ms"] += _num(acc.get("Update"))
                elif acc.get("ID") in scan_rows_ids:
                    c["blocks_read"] += _num(acc.get("Update"))

    def jobs_of(self, group: str, t0_ms: float | None = None,
                t1_ms: float | None = None) -> list[int]:
        """Jobs of ``group`` submitted within [t0_ms, t1_ms)."""
        return [j for j, v in self.jobs.items() if v["group"] == group
                and (t0_ms is None or v["start"] >= t0_ms)
                and (t1_ms is None or v["start"] < t1_ms)]

    def totals(self, jobs: list[int]) -> dict[str, int]:
        out = collections.Counter()
        for j in jobs:
            out.update(self.per_job.get(j, {}))
        out["jobs"] = len(jobs)
        return {k: out.get(k, 0) for k in
                ("jobs", "python_worker_ms", "shuffle_bytes", "bytes_written",
                 "blocks_read")}

    def covered_ms(self, jobs: list[int], t0_ms: float, t1_ms: float) -> float:
        """Length of [t0_ms, t1_ms] during which at least one job ran."""
        spans = sorted((max(self.jobs[j]["start"], t0_ms), min(self.jobs[j]["end"], t1_ms))
                       for j in jobs)
        covered, reach = 0.0, t0_ms
        for a, b in spans:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return covered

"""Spark job, task, shuffle, spill and CPU counters from the local UI's
REST API, read after a timed region so the timing is unchanged.

Each job is attributed to the deepest span open when it was submitted
(ties go to the span that started last), so per-layer job counts add up
to the region's total without double counting concurrent siblings.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.parse
import urllib.request


#: the UI is on this machine: never route through a configured proxy
_OPENER = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get(base: str, path: str):
    with _OPENER.open(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def _epoch(ts: str) -> float:
    # "2026-10-17T03:20:00.123GMT"
    return dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class SparkCounters:
    """Reads the jobs and stages the session ran since ``mark()``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}"
        self._first_job = 0

    def _drain(self) -> None:
        # the REST store is fed by the listener bus; let it catch up
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # py4j access to a Spark-internal method
            time.sleep(1.0)

    def mark(self) -> None:
        self._drain()
        jobs = _get(self.base, "/jobs")
        self._first_job = 1 + max((j["jobId"] for j in jobs), default=-1)

    def jobs(self) -> list[dict]:
        """``[{"id", "submitted", "tasks", "shuffle_bytes", "spill_bytes",
        "cpu_s"}]`` for every job since ``mark()``."""
        self._drain()
        stages = {
            s["stageId"]: s
            for s in _get(self.base, "/stages?status=complete")
        }
        out = []
        for j in _get(self.base, "/jobs"):
            if j["jobId"] < self._first_job or "submissionTime" not in j:
                continue
            mine = [stages[i] for i in j["stageIds"] if i in stages]
            out.append(
                {
                    "id": j["jobId"],
                    "submitted": _epoch(j["submissionTime"]),
                    "tasks": sum(s["numCompleteTasks"] for s in mine),
                    "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in mine),
                    "spill_bytes": sum(
                        s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in mine
                    ),
                    "cpu_s": sum(s["executorCpuTime"] for s in mine) / 1e9,
                }
            )
        return out


def attribute(jobs: list[dict], spans, epoch_of) -> dict[int | None, list[dict]]:
    """Span id (``None`` = outside every span) -> jobs submitted while it
    was the deepest open span.  ``epoch_of`` maps a span clock reading
    to epoch seconds."""
    depth: dict[int, int] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d
    out: dict[int | None, list[dict]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if epoch_of(s.start) <= j["submitted"] <= epoch_of(s.end):
                if best is None or (depth[s.id], s.start) > (depth[best.id], best.start):
                    best = s
        out.setdefault(best.id if best else None, []).append(j)
    return out

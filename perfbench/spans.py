"""Spans around calls into the product's layers, folded with Spark's own
status API.

A span tags the Spark jobs it starts with a job group named after it.
After the last span, the driver's REST API
(``/api/v1/applications/<id>/{jobs,stages,sql}``) is read once and its
jobs, stages and SQL-node metrics are attributed to the span by that
group.  Everything is kept in memory and folded at the end, so a span
costs one ``setJobGroup`` call while it runs.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_UNTRACED = "perfbench-untraced"

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def sql_metric_value(text: str) -> float:
    """'13.7 s', '53 ms', '5.8 KiB', '1,000' or the multi-line
    'total (min, med, max ...)\\n13.7 s (...)' form → seconds, bytes or a
    plain number."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1))


class Tracer:
    """Records spans; :meth:`fold` returns per-span records."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.slots = self.sc.defaultParallelism
        self.spans: dict[str, dict] = {}
        self.sc.setJobGroup(_UNTRACED, _UNTRACED)

    def span(self, name: str, fn, rows="count"):
        """Run ``fn`` inside span ``name`` and return its result.

        ``rows="count"`` counts the rows of the returned (already forced)
        DataFrame after the span ends; a callable computes them from the
        result; ``None`` records none."""
        if name in self.spans:
            raise ValueError(f"span {name!r} recorded twice")
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup(_UNTRACED, _UNTRACED)
        rec = {"wall_s": wall}
        if rows == "count":
            rec["rows_out"] = result.count()
        elif rows is not None:
            rec["rows_out"] = rows(result)
        self.spans[name] = rec
        return result

    def set_extra(self, name: str, key: str, value) -> None:
        self.spans[name][key] = value

    def _get(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    def _settled(self):
        """The status store is fed by an asynchronous listener: read until
        every job has ended and two reads agree."""
        prev = None
        for _ in range(50):
            jobs = self._get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            prev = key
            time.sleep(0.2)
        return jobs

    def fold(self) -> dict[str, dict]:
        jobs = self._settled()
        stages = self._get("/stages")
        sql = self._get("/sql?details=true&planDescription=false&offset=0&length=100000")
        for name, rec in self.spans.items():
            mine = [j for j in jobs if j.get("jobGroup") == name]
            job_ids = {j["jobId"] for j in mine}
            stage_ids = {s for j in mine for s in j["stageIds"]}
            done = [s for s in stages if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
            rec["jobs"] = len(mine)
            rec["stages"] = len(done)
            rec["tasks"] = sum(s["numCompleteTasks"] for s in done)
            rec["executor_run_s"] = sum(s["executorRunTime"] for s in done) / 1000.0
            rec["shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in done) / 1e6
            rec["spill_mb"] = sum(s["diskBytesSpilled"] for s in done) / 1e6
            rec["slot_util"] = rec["executor_run_s"] / (rec["wall_s"] * self.slots)
            sums: dict[str, float] = {}
            for e in sql:
                ran = e.get("successJobIds", []) + e.get("failedJobIds", [])
                if not job_ids & set(ran + e.get("runningJobIds", [])):
                    continue
                for node in e.get("nodes", []):
                    for m in node.get("metrics", []):
                        key = f"{node['nodeName']}|{m['name']}"
                        sums[key] = sums.get(key, 0.0) + sql_metric_value(m["value"])

            def total(node_prefix: str, metric: str) -> float:
                return sum(
                    v for k, v in sums.items()
                    if k.startswith(node_prefix) and k.endswith("|" + metric)
                )

            # Not folded: "time to start/initialize Python workers".  A
            # reused worker stamps its boot time as soon as it finishes a
            # task, so for its next task "start" is negative (the metric
            # drops it) and "initialize" holds its idle time in the pool.
            rec["py_run_s"] = total("", "time to run Python workers")
            rec["files_written"] = total("", "number of written files")
            rec["bytes_written_mb"] = total("", "written output") / 1e6
            rec["buckets_rewritten"] = total("", "number of dynamic part")
            rec["parquet_rows_read"] = total("Scan parquet", "number of output rows")
        return self.spans

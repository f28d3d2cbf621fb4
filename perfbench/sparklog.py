"""Spark-side numbers from the event log of a traced run.

The benchmark labels every call it makes into the program with a job
description ``perfbench|<layer>|rep<k>|``; jobs inherit it, so each job,
stage and task can be attributed to a benchmark call. While tracing,
``CallSites`` also records, for every DataFrame action the program
triggers, the program's call site as the local property
``perfbench.site``, which Spark writes into each job's start event — that
is how curation's jobs are attributed to ``analytics`` modules.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import traceback

_SITE_RE = re.compile(r" at (?P<file>.+):(?P<line>\d+)$")

_DF_ACTIONS = ("collect", "count", "toPandas", "take", "first", "head", "isEmpty",
               "checkpoint", "localCheckpoint", "toLocalIterator")
_WRITER_ACTIONS = ("save", "parquet", "insertInto", "saveAsTable")


SITE_PROPERTY = "perfbench.site"


class CallSites:
    """Records the program's call site for each DataFrame action while
    installed. The site is the outermost frame inside ``newocr_spark``
    (the library function a job script called, e.g. ``analytics.curation``
    even when it checkpoints through ``analytics.dedup``), else the
    innermost frame in ``jobs/``. pyspark's own ``callSite.short`` names
    the frame just outside pyspark, which is this wrapper."""

    def __init__(self, spark, root: str) -> None:
        self.sc = spark.sparkContext
        self.lib = os.path.join(root, "newocr_spark") + os.sep
        self.jobs = os.path.join(root, "jobs") + os.sep
        self._saved: list[tuple[type, str, object]] = []

    def _site(self) -> str | None:
        stack = traceback.extract_stack()[:-2]
        picks = [f for f in stack if f.filename.startswith(self.lib)]
        if not picks:
            picks = [f for f in reversed(stack) if f.filename.startswith(self.jobs)]
        if not picks:
            return None
        return f"{picks[0].name} at {picks[0].filename}:{picks[0].lineno}"

    def _wrap(self, cls: type, attr: str) -> None:
        fn = getattr(cls, attr, None)
        if fn is None:
            return
        sites = self

        def with_site(*args, **kwargs):
            site = sites._site()
            if site is None:
                return fn(*args, **kwargs)
            sites.sc.setLocalProperty(SITE_PROPERTY, site)
            try:
                return fn(*args, **kwargs)
            finally:
                sites.sc.setLocalProperty(SITE_PROPERTY, None)

        self._saved.append((cls, attr, cls.__dict__.get(attr)))
        setattr(cls, attr, with_site)

    def install(self, spark) -> None:
        # the concrete classes: pyspark 4 splits DataFrame into an API
        # class and the classic implementation that sessions hand out
        df = spark.range(1)
        for a in _DF_ACTIONS:
            self._wrap(type(df), a)
        for a in _WRITER_ACTIONS:
            self._wrap(type(df.write), a)

    def uninstall(self) -> None:
        while self._saved:
            cls, attr, fn = self._saved.pop()
            if fn is None:
                delattr(cls, attr)
            else:
                setattr(cls, attr, fn)


def module_of(site: str | None, root: str) -> str | None:
    """'f at <root>/newocr_spark/analytics/dedup.py:12' → 'analytics.dedup'."""
    m = _SITE_RE.search(site or "")
    if not m:
        return None
    rel = os.path.relpath(m.group("file"), root)
    if rel.startswith(".."):
        return None
    parts = rel[:-3].split(os.sep) if rel.endswith(".py") else rel.split(os.sep)
    if parts[0] == "newocr_spark":
        parts = parts[1:]
    return ".".join(parts)


def _plan_scan_accums(plan: dict, table_file: str, out: set) -> None:
    if plan.get("nodeName", "").startswith("Scan") and table_file in json.dumps(
        plan.get("metadata", {})
    ) + plan.get("simpleString", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_scan_accums(child, table_file, out)


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarize(events: list[dict], label: str, wall_s: float, cores: int, root: str,
              scanned_table: str | None = None) -> dict:
    """Spark metrics of the jobs whose description contains ``label``.

    ``scanned_table``: a parquet file name whose scanned row count is
    returned as ``scanned_rows`` (from the SQL plans' scan metrics)."""
    job_desc, job_site, job_start, job_end, job_stages = {}, {}, {}, {}, {}
    stage_tasks: dict[int, list[float]] = {}
    scan_accums: set = set()
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_desc[jid] = props.get("spark.job.description") or ""
            job_site[jid] = props.get(SITE_PROPERTY)
            job_start[jid] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                job_stages[sid] = jid
        elif ev == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif scanned_table and ev.endswith(("SparkListenerSQLExecutionStart",
                                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_scan_accums(e.get("sparkPlanInfo", {}), scanned_table, scan_accums)

    jobs = {j for j, d in job_desc.items() if label in d}
    totals = dict(tasks=0, run_ms=0.0, cpu_ns=0.0, gc_ms=0.0, in_rec=0, in_bytes=0,
                  sh_read=0, sh_write=0, result=0, spill=0, scanned=0)
    stages = set()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        if job_stages.get(sid) not in jobs:
            continue
        stages.add(sid)
        m = e.get("Task Metrics") or {}
        totals["tasks"] += 1
        run = m.get("Executor Run Time", 0)
        stage_tasks.setdefault(sid, []).append(run)
        totals["run_ms"] += run
        totals["cpu_ns"] += m.get("Executor CPU Time", 0)
        totals["gc_ms"] += m.get("JVM GC Time", 0)
        inp = m.get("Input Metrics") or {}
        totals["in_rec"] += inp.get("Records Read", 0)
        totals["in_bytes"] += inp.get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        totals["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        totals["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        totals["result"] += m.get("Result Size", 0)
        totals["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in scan_accums:
                totals["scanned"] += int(acc.get("Update", 0))

    skews = [max(t) / statistics.median(t) for t in stage_tasks.values()
             if len(t) >= 2 and statistics.median(t) > 0]
    by_module: dict[str, list[float]] = {}
    for j in jobs:
        # jobs the benchmark's own calls start carry no program site:
        # attribute them to the layer of the call
        mod = module_of(job_site.get(j), root) or job_desc[j].split("|")[1]
        by_module.setdefault(mod, []).append((job_end.get(j, job_start[j]) - job_start[j]) / 1e3)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": totals["tasks"],
        "spark.executor_run_s": totals["run_ms"] / 1e3,
        "spark.executor_cpu_s": totals["cpu_ns"] / 1e9,
        "spark.gc_s": totals["gc_ms"] / 1e3,
        "spark.busy_share": totals["run_ms"] / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.task_skew": max(skews, default=1.0),
        "spark.input_records": totals["in_rec"],
        "spark.input_bytes": totals["in_bytes"],
        "spark.shuffle_read_bytes": totals["sh_read"],
        "spark.shuffle_write_bytes": totals["sh_write"],
        "spark.result_bytes": totals["result"],
        "spark.spill_bytes": totals["spill"],
        "scanned_rows": totals["scanned"],
        "by_module": {k: (len(v), sum(v)) for k, v in by_module.items()},
    }

#!/usr/bin/env python3
"""Benchmark runner: one seeded workload, timed end to end, outputs checked.

    python3 perfbench/run.py --workload ocr_cold --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It starts one Spark session on
``local[<cores>]``, warms up the Python workers untimed, generates the
workload's inputs from ``--seed`` under ``.perfbench_work/`` and runs
timed repetitions until ``--seconds`` of timed work have run and the
workload's minimum count is reached. Every repetition's output is
checked outside the timed window. perfbench/METRICS.md describes the
workloads and every metric.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (medians over the timed repetitions); with ``--trace 1``
the run enables Spark's event log, times the program's driver-side calls
during one repetition, replays that repetition's batches in-process with
every kernel/web stage timed, and reports the per-layer metrics. Spans
and the event log are left in ``.perfbench_work/trace/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "chars_per_s": "1/s",
    "setup_s": "s",
}

PER_LAYER = {
    "codecs.decode_s": "s",
    "codecs.decoded_mpix": "Mpix",
    "kernel.grid.binarize_s": "s",
    "kernel.lines.line_bounds_s": "s",
    "kernel.ccl.components_s": "s",
    "kernel.ccl.components": "count",
    "kernel.features.featurize_s": "s",
    "kernel.features.glyphs_featurized": "count",
    "kernel.scan.rank_s": "s",
    "kernel.scan.assign_s": "s",
    "kernel.scan.glyph_lookups": "count",
    "kernel.scan.cache_hit_rate": "ratio",
    "kernel.scan.image_p50_ms": "ms",
    "kernel.scan.image_p99_ms": "ms",
    "kernel.mergence.run_s": "s",
    "kernel.spacing.insert_s": "s",
    "kernel.metrics.font_size_s": "s",
    "kernel.metrics.lines_below_floor": "count",
    "pipeline.extract.udf_wall_s": "s",
    "pipeline.extract.udf_self_s": "s",
    "pipeline.extract.stage_coverage": "ratio",
    "pipeline.state.groups": "count",
    "pipeline.state.group_p50_s": "s",
    "pipeline.state.group_max_s": "s",
    "pipeline.state.readback_s": "s",
    "pipeline.state.state_io_s": "s",
    "pipeline.state.assembly_s": "s",
    "pipeline.state.resume_s": "s",
    "pipeline.state.docs_scanned_per_doc": "ratio",
    "pipeline.sinks.bytes_written": "bytes",
    "pipeline.sinks.files_written": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_share": "ratio",
    "spark.task_skew": "ratio",
    "spark.input_records": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "web.dom.parse_s": "s",
    "web.boilerplate.extract_s": "s",
    "web.pdf.parse_s": "s",
    "web.html_page_p99_ms": "ms",
    "web.pdf_doc_p99_ms": "ms",
    "analytics.dedup.spark_s": "s",
    "analytics.curation.spark_s": "s",
    "analytics.textstats.spark_s": "s",
    "analytics.dedup.jobs": "count",
    "failed_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.rep_wall_s": "s",
    "process.peak_rss_mb": "MB",
}

MAX_TIMED_REPS = 40
SETUP_SAMPLES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class PeakRss:
    """Samples the resident set of a process tree (the driver JVM and the
    Python workers it forks) from /proc while running."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        tree, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(children.get(p, ()))
        return tree

    def sample(self) -> int:
        total = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self.peak = self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.sample())


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, n: int, trace: bool):
    """The program's own ``build_session`` with its defaults, sized to the
    host: local[n], n shuffle partitions, a 3 GB driver heap, every
    scratch directory inside the work dir."""
    from newocr_spark.pipeline.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch files of every process this starts stay in the work dir;
    # -XX:-UsePerfData stops the JVMs writing /tmp/hsperfdata_<user>
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    extra = {
        "spark.driver.memory": "3g",
        # a fixed young generation: the resident set then follows the
        # live data rather than when G1 decided to resize eden
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m -Xlog:disable",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logdir = os.path.join(work, "trace", "eventlog")
        os.makedirs(logdir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the program comes from the checkout this runs in, nowhere else
    for need in ("newocr_spark/__init__.py", "jobs/curate_job.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"run from the root of a checkout: {need} is missing")
            return 2
    # the checkout root, not this directory, heads the import path
    sys.path[:] = [ROOT] + [x for x in sys.path if os.path.abspath(x or ".") != HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}")
        return 2
    import shutil

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = cores()
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark = start_session(work, n, trace)
    try:
        from newocr_spark.artifacts import get_model

        model = get_model()
        session_s = time.perf_counter() - t0
        ctx = Context(spark, model, ROOT, work, n, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        result = (run_traced if trace else run_timed)(wl, spark, args, session_s)
    except BaseException:
        stop_session(spark)
        raise
    if not trace:
        stop_session(spark)
    print(json.dumps(result))
    return 0


def _rep(wl, rep: int, totals: dict, rss: PeakRss | None = None) -> tuple:
    t = time.perf_counter()
    inputs = wl.setup(rep)
    inputs["rep"] = rep
    setup = time.perf_counter() - t
    with rss if rss is not None else contextlib.nullcontext():
        wl.ctx.marks.clear()
        t = time.perf_counter()
        result = wl.run(inputs, rep)
        end = time.perf_counter()
        wall = end - t
    calls = wl.ctx.marks + [("", end)]
    split = {a: round(tb - ta, 3) for (a, ta), (_b, tb) in zip(calls, calls[1:])}
    log(f"{wl.name} rep {rep}: wall {wall:.3f}s by call {split}")
    o = wl.check(inputs, result, rep)
    totals["attempted"] += o.attempted
    totals["failed"] += o.failed
    for note in o.notes:
        log(f"check failed ({wl.name} rep {rep}): {note}")
    if o.digest:
        log(f"{wl.name} rep {rep}: output digest {o.digest}")
    if o.lines_below_floor:
        log(f"{wl.name} rep {rep}: {o.lines_below_floor} recognized lines below the "
            "accuracy floor on their own (their images pass)")
    return inputs, setup, wall, o, result


def warm_up(wl, totals: dict) -> None:
    """Untimed: start the Python workers before the timed repetitions.
    A repeated workload runs a small repetition of itself (plans compile
    too); a one-shot job gets the program's own worker warm-up."""
    if wl.min_reps > 1:
        _rep(wl, -1, totals)
        wl.cleanup(-1)
    else:
        from newocr_spark.pipeline.session import warm_python_workers

        wl.ctx.label("warm_up", None)
        warm_python_workers(wl.ctx.spark, wl.ctx.cores)


def run_timed(wl, spark, args, session_s: float) -> dict:
    totals = {"attempted": 0, "failed": 0}
    setups, walls, docs, chars = [], [], [], []
    warm_up(wl, totals)
    while len(walls) < wl.min_reps or (sum(walls) < args.seconds and len(walls) < MAX_TIMED_REPS):
        rep = len(walls)
        _inputs, setup, wall, o, _out = _rep(wl, rep, totals)
        wl.cleanup(rep)
        setups.append(setup)
        walls.append(wall)
        docs.append(o.docs / wall)
        chars.append(o.chars / wall)
    # set-up is timed at least three times, whatever the repetition count
    for extra in range(len(walls), SETUP_SAMPLES):
        t = time.perf_counter()
        wl.setup(extra)
        setups.append(time.perf_counter() - t)
        wl.cleanup(extra)
    log(f"{wl.name}: {len(walls)} timed reps, walls {[round(w, 3) for w in walls]}, "
        f"setups {[round(s, 3) for s in setups]}, session {session_s:.3f}s")
    med = statistics.median
    metrics = {
        "wall_s": med(walls),
        "docs_per_s": med(docs),
        "chars_per_s": med(chars),
        "setup_s": session_s + med(setups),
    }
    return _result(totals, {k: (v, END_TO_END[k]) for k, v in metrics.items()})


def _result(totals: dict, metrics: dict) -> dict:
    return {
        "correct": totals["failed"] == 0 and totals["attempted"] > 0,
        "attempted": totals["attempted"],
        "failed": totals["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_traced(wl, spark, args, session_s: float) -> dict:
    from pyspark import SparkContext

    from perfbench import sparklog
    from perfbench.tracing import Tracer

    totals = {"attempted": 0, "failed": 0}
    rep = 0
    warm_up(wl, totals)
    sites = sparklog.CallSites(spark, ROOT)
    driver = Tracer()
    for target, name in wl.driver_stages():
        driver.wrap(target, name)
    sites.install(spark)
    rss = PeakRss(SparkContext._gateway.proc.pid)
    try:
        inputs, _setup, wall, o, result = _rep(wl, rep, totals, rss)
    finally:
        sites.uninstall()
        driver.restore()

    app_id = spark.sparkContext.applicationId
    stop_session(spark)
    trace_dir = os.path.join(ROOT, ".perfbench_work", "trace")
    events = sparklog.read_event_log(os.path.join(trace_dir, "eventlog", app_id))
    summary = sparklog.summarize(events, f"|rep{rep}|", wall, wl.ctx.cores, ROOT,
                                 scanned_table=wl.scanned_table)

    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({k: v for k, v in summary.items() if k in PER_LAYER})
    by_module = summary["by_module"]
    for mod in ("dedup", "curation", "textstats"):
        metrics[f"analytics.{mod}.spark_s"] = by_module.get(f"analytics.{mod}", (0, 0.0))[1]
    metrics["analytics.dedup.jobs"] = by_module.get("analytics.dedup", (0, 0.0))[0]
    metrics.update(wl.driver_metrics(driver, inputs, summary))
    layer, replay_check = wl.replay(inputs, result)
    if replay_check is not None:
        totals["attempted"] += replay_check.attempted
        totals["failed"] += replay_check.failed
        for note in replay_check.notes:
            log(f"check failed ({wl.name} replay): {note}")
    metrics.update(layer)
    metrics["trace.rep_wall_s"] = wall
    metrics["process.peak_rss_mb"] = rss.peak / 2**20
    metrics["kernel.metrics.lines_below_floor"] = o.lines_below_floor
    metrics["failed_frac"] = totals["failed"] / max(1, totals["attempted"])
    # the properties each workload was chosen for, next to the spans
    tracer = getattr(wl, "last_tracer", None)
    absent = driver.absent + (tracer.absent if tracer else [])
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "input": {"docs": o.docs, "images": inputs.get("images", 0),
                  "pages": inputs.get("pages", 0), "mpix": inputs.get("mpix", 0.0),
                  "distinct_bitmap_share": layer.get("input.distinct_bitmap_share")},
        "absent_stages": absent,
        "spark_by_module": by_module,
        "metrics": {k: metrics[k] for k in PER_LAYER},
    }
    with open(os.path.join(trace_dir, f"{wl.name}_trace.json"), "w") as f:
        json.dump(record, f, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(trace_dir, f"{wl.name}_replay_spans.jsonl"))
    if getattr(wl, "web_tracer", None) is not None:
        wl.web_tracer.dump(os.path.join(trace_dir, f"{wl.name}_web_replay_spans.jsonl"))
    driver.dump(os.path.join(trace_dir, f"{wl.name}_driver_spans.jsonl"))
    log(f"{wl.name}: traced rep wall {wall:.3f}s; input {record['input']}; absent stages: {absent}")
    wl.cleanup(rep)
    return _result(totals, {k: (float(metrics[k]), u) for k, u in PER_LAYER.items()})


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads: set-up, the timed call, output checks,
and the in-process replay the traced run uses.

Each workload drives the program only through its public entry points.
``run`` is the timed part; everything it needs is generated by ``setup``
beforehand, and ``check`` runs afterwards, outside the timed window.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import time
from collections import Counter
from typing import Iterator

import pandas as pd
import pyarrow.parquet as pq

from . import gen
from .tracing import Tracer, percentile

ARROW_BATCH = 64  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
ACCURACY_FLOOR = 0.98  # the noise harness floor (Accuracy.java)


class Context:
    def __init__(self, spark, model, root: str, work: str, cores: int, seed: int) -> None:
        self.spark = spark
        self.model = model
        self.root = root
        self.work = work
        self.cores = cores
        self.seed = seed
        self.marks: list[tuple[str, float]] = []

    def label(self, layer: str, rep: int | None) -> None:
        """Job description every job of the next call inherits; checks
        pass ``rep=None`` so their jobs never count as the repetition's.
        Also marks when each labelled call started (``marks``), so a
        repetition's wall time can be split by call."""
        tag = "" if rep is None else f"rep{rep}|"
        self.spark.sparkContext.setJobDescription(f"perfbench|{layer}|{tag}")
        self.marks.append((layer, time.perf_counter()))


class Outcome:
    """What one repetition produced and how its checks went."""

    def __init__(self) -> None:
        self.docs = 0
        self.chars = 0
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.digest: str | None = None  # of a job's output, for cross-run comparison
        self.lines_below_floor = 0  # recognized lines under the floor on their own

    def expect(self, ok: bool, note: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 5:
                self.notes.append(note)


def _multiset_mismatch(got: list, want: list) -> int:
    g, w = Counter(got), Counter(want)
    return sum((g - w).values()) + sum((w - g).values())


# ---------------------------------------------------------------------------
# OCR replay: the real mapInPandas generator, run in-process
# ---------------------------------------------------------------------------


class _Broadcast:
    """Stands in for a Spark broadcast handle: ``.value`` is the model."""

    def __init__(self, value) -> None:
        self.value = value


def ocr_batches(inputs: dict) -> list[pd.DataFrame]:
    """The (doc_id, offset, media_ref, png) rows the OCR UDF receives,
    in Arrow-batch-sized pandas frames."""
    media = pq.read_table(os.path.join(inputs["dir"], "media.parquet")).to_pandas()
    where = dict(inputs.get("media_doc", {}))
    for doc_id, spans in inputs.get("docs", ()):
        for s in spans:
            if s["media_ref"]:
                where[s["media_ref"]] = (doc_id, s["offset"])
    rows = pd.DataFrame(
        {
            "doc_id": [where[r][0] for r in media["media_ref"]],
            "offset": [where[r][1] for r in media["media_ref"]],
            "media_ref": media["media_ref"],
            "png": media["png"],
        }
    )
    return [rows.iloc[i : i + ARROW_BATCH].reset_index(drop=True)
            for i in range(0, len(rows), ARROW_BATCH)]


def _clear_glyph_cache() -> None:
    from newocr_spark.kernel import scan

    cache = getattr(scan, "_CAND_CACHE", None)
    if hasattr(cache, "clear"):
        cache.clear()


def replay_ocr(model, batches: list[pd.DataFrame], tracer: Tracer | None = None) -> dict:
    """media_ref → recognized text, via ``make_ocr_udf``'s generator, with
    an empty glyph cache at the start (a fresh Python worker's state)."""
    from newocr_spark.pipeline import extract

    _clear_glyph_cache()
    udf = extract.make_ocr_udf(_Broadcast(model))
    it = udf(iter(batches))
    out = {}
    while True:
        if tracer is None:
            frame = next(it, None)
        else:
            with tracer.span("pipeline.extract.udf"):
                frame = next(it, None)
        if frame is None:
            return out
        out.update(zip(frame["media_ref"], frame["text"]))


def _count(tracer: Tracer, key: str, measure):
    return lambda args, result: tracer.count(key, measure(args, result))


OCR_STAGES = (
    ("newocr_spark.codecs.bmp:decode_image", "codecs.decode",
     "decoded_mpix", lambda a, r: r.size / 1e6),
    ("newocr_spark.kernel.grid:binarize", "kernel.grid.binarize", None, None),
    ("newocr_spark.kernel.scan:scan_grid", "kernel.scan.scan_grid", None, None),
    ("newocr_spark.kernel.scan:render_text", "kernel.scan.render_text", None, None),
    ("newocr_spark.kernel.metrics:font_size_of", "kernel.metrics.font_size", None, None),
    ("newocr_spark.kernel.scan:rows_populated", "kernel.grid.rows_populated", None, None),
    ("newocr_spark.kernel.scan:line_bounds", "kernel.lines.line_bounds", None, None),
    ("newocr_spark.kernel.scan:connected_components", "kernel.ccl.components",
     "components", lambda a, r: len(r)),
    ("newocr_spark.kernel.scan:_candidates_for", "kernel.scan.candidates",
     "lookups", lambda a, r: len(a[0])),
    ("newocr_spark.kernel.scan:featurize_many", "kernel.features.featurize",
     "featurized", lambda a, r: len(a[0])),
    ("newocr_spark.kernel.scan:_rank_candidates", "kernel.scan.rank", None, None),
    ("newocr_spark.kernel.scan:run_mergence", "kernel.mergence.run", None, None),
    ("newocr_spark.kernel.scan:insert_spaces", "kernel.spacing.insert", None, None),
)


def traced_ocr_replay(model, batches: list[pd.DataFrame]) -> tuple[Tracer, dict, float, float]:
    """Replays the batches untraced, then traced. Returns the tracer, the
    traced output, and both wall times."""
    t0 = time.perf_counter()
    replay_ocr(model, batches)
    plain = time.perf_counter() - t0
    tracer = Tracer()
    for target, name, key, measure in OCR_STAGES:
        tracer.wrap(target, name, _count(tracer, key, measure) if key else None)
    try:
        t0 = time.perf_counter()
        out = replay_ocr(model, batches, tracer)
        traced = time.perf_counter() - t0
    finally:
        tracer.restore()
    return tracer, out, plain, traced


def ocr_layer_metrics(t: Tracer) -> dict:
    lookups = t.counts.get("lookups", 0)
    featurized = t.counts.get("featurized", 0)
    udf_wall = t.total("pipeline.extract.udf")
    udf_self = t.self_total("pipeline.extract.udf")
    images = [d * 1e3 for d in t.durations("kernel.scan.scan_grid")]
    return {
        "codecs.decode_s": t.total("codecs.decode"),
        "codecs.decoded_mpix": t.counts.get("decoded_mpix", 0.0),
        "kernel.grid.binarize_s": t.total("kernel.grid.binarize"),
        "kernel.lines.line_bounds_s": t.total("kernel.lines.line_bounds", "kernel.grid.rows_populated"),
        "kernel.ccl.components_s": t.total("kernel.ccl.components"),
        "kernel.ccl.components": t.counts.get("components", 0),
        "kernel.features.featurize_s": t.total("kernel.features.featurize"),
        "kernel.features.glyphs_featurized": featurized,
        "kernel.scan.rank_s": t.total("kernel.scan.rank") + t.self_total("kernel.scan.candidates"),
        "kernel.scan.assign_s": t.self_total("kernel.scan.scan_grid"),
        "kernel.scan.glyph_lookups": lookups,
        "kernel.scan.cache_hit_rate": 1.0 - featurized / lookups if lookups else 0.0,
        "kernel.scan.image_p50_ms": percentile(images, 50),
        "kernel.scan.image_p99_ms": percentile(images, 99),
        "kernel.mergence.run_s": t.total("kernel.mergence.run"),
        "kernel.spacing.insert_s": t.total("kernel.spacing.insert"),
        "kernel.metrics.font_size_s": t.total("kernel.metrics.font_size"),
        "pipeline.extract.udf_wall_s": udf_wall,
        "pipeline.extract.udf_self_s": udf_self,
        "pipeline.extract.stage_coverage": 1.0 - udf_self / udf_wall if udf_wall else 0.0,
        "input.distinct_bitmap_share": featurized / lookups if lookups else 0.0,
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    # timed repetitions per run, at least; with more than one, an untimed
    # warm-up (setup(rep) with rep < 0: a small input) first starts the
    # Python workers and compiles the plans
    min_reps = 1
    # the documents table whose scanned rows the traced run counts
    scanned_table: str | None = None

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def rep_dir(self, rep: int) -> str:
        return os.path.join(self.ctx.work, f"{self.name}-rep{rep}")

    def setup(self, rep: int) -> dict:
        raise NotImplementedError

    def run(self, inputs: dict, rep: int):
        raise NotImplementedError

    def check(self, inputs: dict, result, rep: int) -> Outcome:
        raise NotImplementedError

    def replay(self, inputs: dict, result) -> tuple[dict, Outcome | None]:
        """Traced in-process replay → (per-layer metrics, checks of the
        Spark result against the replay). Nothing by default."""
        return {}, None

    def driver_stages(self) -> tuple:
        """Driver-side program calls timed during the traced repetition."""
        return ()

    def driver_metrics(self, tracer: Tracer, inputs: dict, spark_summary: dict) -> dict:
        return {}

    def cleanup(self, rep: int) -> None:
        shutil.rmtree(self.rep_dir(rep), ignore_errors=True)


class OcrCold(Workload):
    """extract_spans over salted 3-line scale-4 renders, no sink."""

    name = "ocr_cold"
    min_reps = 2
    n_images = 64
    warmup_images = 8
    replay_sample = 4

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.images = gen.ColdImages()

    def setup(self, rep: int) -> dict:
        d = self.rep_dir(rep)
        n = self.warmup_images if rep < 0 else self.n_images
        inputs = gen.cold_inputs(os.path.join(d, "in"), self.ctx.seed, rep, n, self.images)
        inputs["dir"] = os.path.join(d, "in")
        return inputs

    def run(self, inputs: dict, rep: int):
        from newocr_spark.pipeline.extract import extract_spans

        spark = self.ctx.spark
        docs = spark.read.parquet(os.path.join(inputs["dir"], "documents.parquet"))
        media = spark.read.parquet(os.path.join(inputs["dir"], "media.parquet"))
        self.ctx.label("pipeline.extract", rep)
        return (
            extract_spans(spark, docs, media, self.ctx.model)
            .select("doc_id", "seq", "kind", "text", "media_ref", "line_count", "error")
            .toPandas()
        )

    def check(self, inputs: dict, result: pd.DataFrame, rep: int) -> Outcome:
        from newocr_spark.kernel.metrics import line_accuracy

        o = Outcome()
        o.docs = len(inputs["docs"])
        media_rows = result[result["media_ref"].notna()]
        o.chars = int(media_rows["text"].fillna("").str.len().sum())
        want = gen.expected_spans(inputs["docs"], inputs["media_text"])
        text_want = [(d, s, t) for d, s, t, r in want if r is None]
        text_got = [(r.doc_id, r.seq, r.text) for r in result.itertuples() if r.media_ref is None]
        o.expect(_multiset_mismatch(text_got, text_want) == 0, "text spans differ")
        media_want = {(d, s, r) for d, s, _t, r in want if r is not None}
        for r in media_rows.itertuples():
            src = inputs["media_text"].get(r.media_ref, "").split("\n")
            got = (r.text or "").split("\n")
            ok = (
                r.error is None
                and (r.doc_id, r.seq, r.media_ref) in media_want
                and r.line_count == len(src) == len(got)
            )
            if ok:
                # the noise harness's accuracy (Accuracy.java): diffs over
                # all of the image's lines against its expected characters
                accs = [line_accuracy([g], e) for g, e in zip(got, src)]
                diffs = sum((1.0 - a) * len(e) for a, e in zip(accs, src))
                ok = 1.0 - diffs / sum(map(len, src)) >= ACCURACY_FLOOR
                o.lines_below_floor += sum(a < ACCURACY_FLOOR for a in accs)
            o.expect(ok, f"{r.media_ref}: {r.text!r} error={r.error}")
        o.expect(len(media_rows) == len(media_want), "media span count")
        # a few media spans against the in-process replay of the same bytes
        batches = ocr_batches(inputs)
        sample = pd.concat(batches).iloc[:: max(1, len(inputs["docs"]) // self.replay_sample)]
        replayed = replay_ocr(self.ctx.model, [sample.reset_index(drop=True)])
        spark_text = dict(zip(media_rows["media_ref"], media_rows["text"]))
        for ref, text in replayed.items():
            o.expect(spark_text.get(ref) == text, f"{ref}: replay differs")
        return o

    def replay(self, inputs: dict, result: pd.DataFrame) -> tuple[dict, Outcome | None]:
        tracer, out, plain, traced = traced_ocr_replay(self.ctx.model, ocr_batches(inputs))
        self.last_tracer = tracer
        m = ocr_layer_metrics(tracer)
        m["trace.overhead_s"] = traced - plain
        # every media span of the traced repetition against the replay
        o = Outcome()
        media = result[result["media_ref"].notna()]
        spark_text = dict(zip(media["media_ref"], media["text"]))
        for ref, text in out.items():
            o.expect(spark_text.get(ref) == text, f"{ref}: replay differs")
        return m, o


def parse_pdfs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (doc_id, pdf) → (doc_id, n_pages, text)."""
    from newocr_spark.web import pdf

    for b in batches:
        rows = []
        for doc_id, data in zip(b["doc_id"], b["pdf"]):
            n_pages, text = pdf.extract_pdf_text(bytes(data))
            rows.append((doc_id, n_pages, text))
        yield pd.DataFrame(rows, columns=["doc_id", "n_pages", "text"])


PDF_SCHEMA = "doc_id string, n_pages int, text string"


class _Capture:
    """Receives ``mapInPandas(fn, schema)`` and hands back ``fn``."""

    def mapInPandas(self, fn, schema):
        return fn


class CrawlJob(Workload):
    """Crawl to training data, as three jobs in one session:

    1. main-content extraction: ``web.extract.html_to_documents`` over
       stored HTML pages (the first stage of web_extract_job) and
       ``web.pdf.extract_pdf_text`` over stored PDFs, both written;
    2. OCR of every page's figure with jobs/extract_job.py's composition,
       ``ExtractRunner`` + ``StateTable``: 6 buckets in 3 groups, a crash
       injected after the first group, then a resume;
    3. ``jobs/curate_job.main`` with default flags over the pages' text.

    Pages are replicated under distinct ids (re-crawls), so the figures —
    clean single-line renders — recur: the glyph cache answers >= 99% of
    lookups, and curation's dedup collapses the copies."""

    name = "crawl_job"
    # one pipeline run per session, as spark-submit runs jobs; curation
    # alone is ~150 small Spark jobs
    min_reps = 1
    scanned_table = "html_docs"
    n_base = 40
    replicate = 8
    n_buckets = 6
    group_size = 2
    fail_after_groups = 1

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.curate_job = _load_curate_job(ctx.root)

    def setup(self, rep: int) -> dict:
        d = os.path.join(self.rep_dir(rep), "in")
        inputs = gen.crawl_inputs(d, self.ctx.seed, self.n_base, self.replicate)
        inputs["dir"] = d
        return inputs

    def _runner(self, rep: int, fail_after: int | None):
        from newocr_spark.pipeline.state import ExtractRunner, StateTable

        spark = self.ctx.spark
        return ExtractRunner(
            spark, self.ctx.model, os.path.join(self.rep_dir(rep), "ocr"),
            StateTable(spark, os.path.join(self.rep_dir(rep), "state")),
            n_buckets=self.n_buckets, group_size=self.group_size,
            fail_after_groups=fail_after,
        )

    def run(self, inputs: dict, rep: int):
        from pyspark.sql import functions as F

        from newocr_spark.web.extract import html_to_documents

        spark = self.ctx.spark
        d, out = inputs["dir"], self.rep_dir(rep)
        self.ctx.label("web.extract", rep)
        pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
        html_to_documents(pages, html_col="html").write.parquet(os.path.join(out, "html_docs"))
        self.ctx.label("web.pdf", rep)
        pdfs = spark.read.parquet(os.path.join(d, "pdfs.parquet"))
        pdfs.mapInPandas(parse_pdfs, PDF_SCHEMA).write.parquet(os.path.join(out, "pdf_docs"))

        self.ctx.label("pipeline.state", rep)
        docs = spark.read.parquet(os.path.join(out, "html_docs"))
        media = spark.read.parquet(os.path.join(d, "media.parquet"))
        snapshot = f"seed{self.ctx.seed}"
        try:
            self._runner(rep, self.fail_after_groups).run(docs, media, snapshot, "attempt-1")
            crashed = False
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
            crashed = True
        self._runner(rep, None).run(docs, media, snapshot, "attempt-2")

        # the curation input: each page's paragraphs in order, with the
        # crawl's metadata
        self.ctx.label("web.to_documents", rep)
        paragraphs = F.expr("transform(sort_array(collect_list(struct(seq, text))), s -> s.text)")
        (
            self._runner(rep, None).read_output()
            .filter(F.col("media_ref").isNull())
            .groupBy("doc_id").agg(F.concat_ws(" ", paragraphs).alias("text"))
            .select(F.substring("doc_id", 5, 12).cast("bigint").alias("doc_id"), "text")
            .join(spark.read.parquet(os.path.join(d, "meta.parquet")), "doc_id")
            .write.parquet(os.path.join(out, "documents"))
        )
        self.ctx.label("jobs.curate_job", rep)
        curated = self.curate_job.main(
            ["--documents", os.path.join(out, "documents"), "--output", os.path.join(out, "curated")],
            spark,
        )
        return {"crashed": crashed, "curated": curated}

    def _oracle(self, inputs: dict) -> tuple[list, list]:
        """Expected html spans and pdf docs from the program's DuckDB
        oracle SQL over the same texts."""
        import duckdb

        from newocr_spark.web.extract import html_spans_sql, pdf_extract_sql

        con = duckdb.connect()
        try:
            con.register("documents", pd.DataFrame(
                {"doc_id": [r["doc_id"] for r in inputs["rows"]],
                 "text": [r["text"] for r in inputs["rows"]]}))
            n = 1 + max(r["doc_id"] for r in inputs["rows"])
            html = [tuple(r) for r in con.execute(
                f"SELECT doc_id, seq, kind, text, media_ref, \"offset\" FROM ({html_spans_sql(n)})"
            ).fetchall()]
            pdf = [tuple(r) for r in con.execute(
                f"SELECT doc_id, n_pages, text FROM ({pdf_extract_sql(n)})").fetchall()]
        finally:
            con.close()
        return html, pdf

    def check(self, inputs: dict, result: dict, rep: int) -> Outcome:
        out = self.rep_dir(rep)
        html = pq.read_table(os.path.join(out, "html_docs")).to_pylist()
        parsed = pq.read_table(os.path.join(out, "pdf_docs")).to_pylist()
        self.ctx.label("check", None)
        ocr = (
            self._runner(rep, None).read_output()
            .select("doc_id", "seq", "text", "media_ref", "error").toPandas()
        )
        o = Outcome()
        o.docs = len(html) + len(parsed)
        want_html, want_pdf = self._oracle(inputs)
        got_html = [
            (r["doc_id"], seq, s["kind"], s["text"], s["media_ref"], s["offset"])
            for r in html for seq, s in enumerate(r["spans"])
        ]
        got_pdf = [(r["doc_id"], r["n_pages"], r["text"]) for r in parsed]
        # after crash and resume: every page's spans, its figure recognized
        want_ocr = [(d, q, inputs["media_text"][r] if r else t, r) for d, q, _k, t, r, _o in want_html]
        got_ocr = [(r.doc_id, r.seq, r.text, r.media_ref) for r in ocr.itertuples()]
        o.chars = (
            sum(len(t or "") for _d, _q, _k, t, _r, _o in got_html)
            + sum(len(t) for _d, _n, t in got_pdf)
            + int(ocr.loc[ocr["media_ref"].notna(), "text"].fillna("").str.len().sum())
        )
        for got, want, what in (
            (got_html, want_html, "html spans differ from the oracle"),
            (got_pdf, want_pdf, "pdf docs differ from the oracle"),
            (got_ocr, want_ocr, "spans lost, duplicated or wrong after the resume"),
        ):
            bad = _multiset_mismatch(got, want)
            o.attempted += len(want)
            o.failed += min(bad, len(want))
            if bad:
                o.notes.append(f"{bad} {what}")
        o.expect(result["crashed"], "the injected crash did not happen")
        o.expect(bool(ocr["error"].isna().all()), "error spans")
        self._check_curated(inputs, result["curated"], os.path.join(out, "curated"), o)
        return o

    def replay(self, inputs: dict, result: dict) -> tuple[dict, Outcome | None]:
        m = self._replay_web(inputs)
        self.web_tracer = self.last_tracer
        tracer, _out, plain, traced = traced_ocr_replay(self.ctx.model, ocr_batches(inputs))
        m.update(ocr_layer_metrics(tracer))
        m["trace.overhead_s"] += traced - plain
        tracer.absent.extend(self.web_tracer.absent)
        self.last_tracer = tracer
        return m, None

    def _replay_web(self, inputs: dict) -> dict:
        from newocr_spark.web.extract import html_to_documents

        pages = pq.read_table(os.path.join(inputs["dir"], "pages.parquet")).to_pandas()
        pdfs = pq.read_table(os.path.join(inputs["dir"], "pdfs.parquet")).to_pandas()
        page_batches = [pages.iloc[i : i + ARROW_BATCH] for i in range(0, len(pages), ARROW_BATCH)]
        pdf_batches = [pdfs.iloc[i : i + ARROW_BATCH] for i in range(0, len(pdfs), ARROW_BATCH)]

        def once(tracer=None):
            udf = html_to_documents(_Capture(), html_col="html")
            for fn, batches, name in ((udf, page_batches, "web.udf"), (parse_pdfs, pdf_batches, "web.pdf.udf")):
                it = fn(iter(batches))
                while True:
                    if tracer is None:
                        frame = next(it, None)
                    else:
                        with tracer.span(name):
                            frame = next(it, None)
                    if frame is None:
                        break

        t0 = time.perf_counter()
        once()
        plain = time.perf_counter() - t0
        t = Tracer()
        t.wrap("newocr_spark.web.extract:extract_content", "web.boilerplate.extract")
        t.wrap("newocr_spark.web.boilerplate:parse_html", "web.dom.parse")
        t.wrap("newocr_spark.web.boilerplate:segment_blocks", "web.dom.segment")
        t.wrap("newocr_spark.web.pdf:extract_pdf_text", "web.pdf.parse")
        try:
            t0 = time.perf_counter()
            once(t)
            traced = time.perf_counter() - t0
        finally:
            t.restore()
        self.last_tracer = t
        return {
            "web.dom.parse_s": t.total("web.dom.parse", "web.dom.segment"),
            "web.boilerplate.extract_s": t.self_total("web.boilerplate.extract"),
            "web.pdf.parse_s": t.total("web.pdf.parse"),
            "web.html_page_p99_ms": percentile([d * 1e3 for d in t.durations("web.boilerplate.extract")], 99),
            "web.pdf_doc_p99_ms": percentile([d * 1e3 for d in t.durations("web.pdf.parse")], 99),
            "trace.overhead_s": traced - plain,
        }

    def driver_stages(self) -> tuple:
        return (
            ("newocr_spark.pipeline.state:ExtractRunner.run", "pipeline.state.run"),
            ("newocr_spark.pipeline.sinks:ParquetSpanSink.overwrite_partitions", "pipeline.sinks.group_write"),
            ("newocr_spark.pipeline.sinks:ParquetSpanSink.overwrite_all", "pipeline.sinks.assembly"),
            ("newocr_spark.pipeline.sinks:ParquetStateStore.append", "pipeline.state.append"),
            ("newocr_spark.pipeline.sinks:StateStore.completed_buckets", "pipeline.state.completed"),
            ("newocr_spark.pipeline.sinks:StateStore.attempts", "pipeline.state.attempts"),
        )

    def driver_metrics(self, t: Tracer, inputs: dict, spark_summary: dict) -> dict:
        def spans(name):
            return [(s, e) for n, s, e in zip(t.names, t.starts, t.ends) if n == name]

        writes, appends, runs = spans("pipeline.sinks.group_write"), spans("pipeline.state.append"), spans("pipeline.state.run")
        groups = [a[1] - w[0] for w, a in zip(writes, appends)]
        readback = sum(a[0] - w[1] for w, a in zip(writes, appends))
        resume = 0.0
        if len(runs) >= 2:
            after = [s for s, _e in writes + spans("pipeline.sinks.assembly") if s >= runs[-1][0]]
            resume = (min(after) if after else runs[-1][1]) - runs[-1][0]
        files = size = 0
        for sub in ("ocr", "ocr_ocr", "state"):
            for dirpath, _dirs, names in os.walk(os.path.join(self.rep_dir(inputs["rep"]), sub)):
                for n in names:
                    if not n.startswith((".", "_")):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        return {
            "pipeline.state.groups": len(writes),
            "pipeline.state.group_p50_s": percentile(groups, 50),
            "pipeline.state.group_max_s": max(groups, default=0.0),
            "pipeline.state.readback_s": readback,
            "pipeline.state.state_io_s": t.total(
                "pipeline.state.append", "pipeline.state.completed", "pipeline.state.attempts"),
            "pipeline.state.assembly_s": t.total("pipeline.sinks.assembly"),
            "pipeline.state.resume_s": resume,
            "pipeline.state.docs_scanned_per_doc": spark_summary.get("scanned_rows", 0) / inputs["pages"],
            "pipeline.sinks.bytes_written": size,
            "pipeline.sinks.files_written": files,
        }

    def _check_curated(self, inputs: dict, n: int, path: str, o: Outcome) -> None:
        """Curation invariants on this corpus: the count the job reports
        is what it wrote; every kept doc is an input doc with its text
        intact (the corpus has nothing to scrub); the benchmark slice
        (doc_id % 53 == 0) is gone; no doc survives next to its " dup"
        near-copy; every kept doc is packed into at least one sequence."""
        table = pq.read_table(path).to_pandas()
        source = {r["doc_id"]: r["text"] for r in inputs["rows"]}
        kept = dict(zip(table["doc_id"], table["text"]))
        o.expect(0 < len(table) == n, f"curate_job reported {n} docs, wrote {len(table)}")
        o.expect(all(source.get(k) == t for k, t in kept.items()), "curated text differs from its source")
        o.expect(not any(k % 53 == 0 for k in kept), "benchmark slice leaked into the output")
        texts = set(kept.values())
        o.expect(not any(t + " dup" in texts for t in texts), "a near-duplicate pair survived dedup")
        o.expect(bool((table["n_seqs"] >= 1).all() and (table["n_tok"] > 0).all()), "unpacked docs")
        o.digest = hashlib.sha256(
            pd.util.hash_pandas_object(
                table.astype({"shard": "int64"})[sorted(table.columns)]
                .sort_values("doc_id").reset_index(drop=True), index=False,
            ).values.tobytes()
        ).hexdigest()


def _load_curate_job(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_curate_job", os.path.join(root, "jobs", "curate_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (OcrCold, CrawlJob)}

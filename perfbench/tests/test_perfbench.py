"""The benchmark's own tests (no Spark needed).

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def _table(path: str):
    return pq.read_table(path).to_pylist()


@pytest.fixture(scope="module")
def model():
    from newocr_spark.artifacts import get_model

    return get_model()


# -- generators --------------------------------------------------------------


def test_sf_texts_are_deterministic_per_seed():
    assert gen.sf_texts(3, 200) == gen.sf_texts(3, 200)
    assert gen.sf_texts(3, 200) != gen.sf_texts(4, 200)
    rows = gen.sf_texts(3, 400)
    assert any(r["text"].endswith(" dup") for r in rows)
    assert {r["lang"] for r in rows} == set(gen.LANGS)


@pytest.mark.parametrize(
    "make, tables",
    [
        (lambda d, s: gen.cold_inputs(d, s, 0, 3, gen.ColdImages()), ("documents.parquet", "media.parquet")),
        (lambda d, s: gen.crawl_inputs(d, s, 4, 2),
         ("pages.parquet", "pdfs.parquet", "meta.parquet", "media.parquet")),
    ],
    ids=["ocr_cold", "crawl_job"],
)
def test_generated_inputs_are_deterministic_per_seed(tmp_path, make, tables):
    make(str(tmp_path / "a"), 5)
    make(str(tmp_path / "b"), 5)
    make(str(tmp_path / "c"), 6)
    for t in tables:
        a, b, c = (_table(str(tmp_path / x / t)) for x in "abc")
        assert a == b
        assert a != c


def test_cold_bitmaps_never_repeat_across_repetitions(tmp_path):
    """Every glyph component the kernel sees is new to the session."""
    from newocr_spark.codecs.png import decode_png
    from newocr_spark.kernel.ccl import connected_components
    from newocr_spark.kernel.grid import binarize

    images = gen.ColdImages()
    seen: set = set()
    total = 0
    for rep in range(2):
        gen.cold_inputs(str(tmp_path / f"r{rep}"), 9, rep, 3, images)
        for row in _table(str(tmp_path / f"r{rep}" / "media.parquet")):
            for c in connected_components(binarize(decode_png(row["png"]))):
                seen.add((c.grid.shape, c.grid.tobytes()))
                total += 1
    assert total > 500
    assert len(seen) == total


# -- tracer ------------------------------------------------------------------


def test_missing_stage_is_reported_absent_and_run_continues():
    from newocr_spark.kernel import scan

    t = Tracer()
    assert not t.wrap("newocr_spark.kernel.scan:no_such_stage", "kernel.gone")
    assert not t.wrap("newocr_spark.no_such_module:f", "module.gone")
    original = scan.connected_components
    assert t.wrap("newocr_spark.kernel.scan:connected_components", "kernel.ccl.components")
    assert scan.connected_components is not original
    t.restore()
    assert scan.connected_components is original
    assert t.absent == ["kernel.gone", "module.gone"]
    assert t.total("kernel.gone") == 0.0


def test_inherited_method_wrap_is_undone():
    from newocr_spark.pipeline import sinks

    t = Tracer()
    assert "completed_buckets" not in sinks.ParquetStateStore.__dict__
    t.wrap("newocr_spark.pipeline.sinks:ParquetStateStore.completed_buckets", "x")
    assert "completed_buckets" in sinks.ParquetStateStore.__dict__
    t.restore()
    assert "completed_buckets" not in sinks.ParquetStateStore.__dict__


def _replay(tmp_path, model, make):
    inputs = make(str(tmp_path))
    inputs["dir"] = str(tmp_path)
    tracer, out, _plain, _traced = workloads.traced_ocr_replay(model, workloads.ocr_batches(inputs))
    return inputs, tracer, out


def test_span_self_times_are_nonnegative_and_children_nest(tmp_path, model):
    _inputs, t, _out = _replay(tmp_path, model, lambda d: gen.crawl_inputs(d, 1, 3, 2))
    assert len(t.names) > 50
    for i, p in enumerate(t.parents):
        assert t.ends[i] >= t.starts[i]
        if p >= 0:
            assert t.starts[p] <= t.starts[i] and t.ends[i] <= t.ends[p]
    assert min(t.self_times()) >= -1e-9
    m = workloads.ocr_layer_metrics(t)
    assert 0.9 <= m["pipeline.extract.stage_coverage"] <= 1.0


# -- regimes -----------------------------------------------------------------


def test_warm_regime_hits_the_glyph_cache(tmp_path, model):
    job = workloads.CrawlJob
    inputs, t, out = _replay(tmp_path, model, lambda d: gen.crawl_inputs(d, 2, job.n_base, job.replicate))
    m = workloads.ocr_layer_metrics(t)
    assert m["kernel.scan.cache_hit_rate"] >= 0.99
    assert out == inputs["media_text"]


def test_cold_regime_misses_the_glyph_cache(tmp_path, model):
    inputs, t, out = _replay(
        tmp_path, model, lambda d: gen.cold_inputs(d, 2, 0, 8, gen.ColdImages()))
    m = workloads.ocr_layer_metrics(t)
    assert m["kernel.scan.cache_hit_rate"] <= 0.05
    assert m["kernel.scan.glyph_lookups"] > 1000
    assert set(out) == set(inputs["media_text"])


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_matches_the_driver():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25

"""Deterministic synthesis of the interleaved text+media documents table.

Materializes FIXTURES.md §1-§2-§5: seeded (default 42), rendered with our
SparkGrid font — never downloaded. The authoritative input shape comes from
BASELINE.json ``input_hint``:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Media text draws lines from RAW_STRING substrings and fixed lorem lines at
the trained scales; golden text for a media span equals the rendered source
text, verified at build time through the actual kernel so fixture and
engine can never drift apart (the reference's own tests scan their own
training render — fonts/Accuracy.java:49-76).

Skew cases per FIXTURES.md: ~1% of docs carry one large multi-line image,
some docs have no media, one doc has an empty span list.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .codecs.png import encode_png
from .font.render import RAW_STRING, render_text_image
from .kernel.grid import binarize
from .kernel.scan import render_text, scan_grid
from .model import FontModel

def corpus_fixture_tables(
    spark, sf_dir: str, model: FontModel, max_docs: int = 200, face=None
):
    """Derive the interleaved documents+media tables from the driver's text
    corpus (sf_dir/documents.parquet): per doc, one text span (the original
    text) + one media span rendering that same text (single line, scale
    1 + doc_id % 2). Deterministic, so the expected output is expressible
    in pure SQL over the same corpus (see __spark_entry__.oracle_sql).
    `face` (glyphs.FontFace) selects the rendering font (default SparkGrid);
    pair it with the matching trained model.

    Rendering runs DISTRIBUTED in a mapInPandas over the corpus slice —
    never a driver loop — so harness prep scales with the cluster, not the
    driver (the docs table itself is pure DataFrame ops, no render)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < max_docs)
        .select("doc_id", "text")
    )
    docs = src.select(
        F.format_string("doc-%06d", "doc_id").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.format_string("m-%06d", "doc_id").alias("media_ref"),
                F.lit(10).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )

    def render_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, pngs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                scale = 1 + int(did) % 2
                if face is None:
                    img = render_text_image([text], scale=scale)
                else:
                    img = render_text_image([text], scale=scale, face=face)
                refs.append(f"m-{int(did):06d}")
                pngs.append(encode_png(img))
            yield pd.DataFrame({"media_ref": refs, "png": pngs})

    media = src.mapInPandas(render_batches, "media_ref string, png binary")
    return docs, media


LOREM_LINES = (
    "the quick brown fox jumps over 13 lazy dogs!",
    "pack my box with five dozen liquor jugs?",
    "sphinx of black quartz: judge my vow.",
    "HOW vexingly quick daft zebras jump = yes",
    "bright vixens jump; dozy fowl quack 42",
    'he said "never" and left the % behind',
)


def _media_text_lines(rng: np.random.RandomState, n_lines: int) -> list[str]:
    lines = []
    for _ in range(n_lines):
        if rng.rand() < 0.5:
            lines.append(LOREM_LINES[rng.randint(len(LOREM_LINES))])
        else:
            # RAW_STRING substring containing at least one full-height char
            start = rng.randint(0, len(RAW_STRING) - 20)
            lines.append(RAW_STRING[start : start + rng.randint(10, 30)].strip())
    return [ln for ln in lines if ln] or ["fallback line 0"]


def synth_fixture(
    out_dir: str,
    n_docs: int = 100,
    seed: int = 42,
    model: FontModel | None = None,
    verify: bool = True,
    scales: tuple[int, ...] = (1, 2, 3, 4),
) -> dict[str, str]:
    """Write documents/media/golden_spans parquet → {table: path}."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)

    doc_rows: list[dict] = []
    media_rows: list[dict] = []
    golden_rows: list[dict] = []
    render_cache: dict[tuple, tuple[bytes, str]] = {}

    for d in range(n_docs):
        doc_id = f"doc-{d:06d}"
        if d == 0:
            doc_rows.append({"doc_id": doc_id, "spans": []})
            continue
        big = d % 97 == 1  # ~1%: one large multi-line image (size skew)
        no_media = rng.rand() < 0.15
        n_spans = 1 if big else int(rng.randint(1, 9))
        spans = []
        seq = 0
        for s in range(n_spans):
            offset = s * 10
            is_media = (not no_media) and (big or rng.rand() < 0.45)
            if is_media:
                n_lines = 20 + int(rng.randint(0, 6)) if big else int(rng.randint(1, 4))
                scale = 1 if big else int(scales[rng.randint(len(scales))])
                lines = _media_text_lines(rng, n_lines)
                key = (tuple(lines), scale)
                if key in render_cache:
                    png, src_text = render_cache[key]
                else:
                    img = render_text_image(lines, scale=scale)
                    png = encode_png(img)
                    src_text = "\n".join(lines)
                    if verify:
                        if model is None:
                            raise ValueError("verify=True requires a model")
                        got = render_text(scan_grid(binarize(img), model))
                        if got != src_text:
                            raise AssertionError(
                                f"fixture self-check failed for {lines!r} "
                                f"@x{scale}: {got!r}"
                            )
                    render_cache[key] = (png, src_text)
                media_ref = f"m-{d:06d}-{s}"
                media_rows.append(
                    {
                        "media_ref": media_ref,
                        "png": png,
                        "font": "SparkGrid",
                        "pt_size": 12 * scale,
                        "src_text": src_text,
                    }
                )
                spans.append(
                    {"kind": "media", "text": None, "media_ref": media_ref, "offset": offset}
                )
                golden_rows.append(
                    {
                        "doc_id": doc_id, "seq": seq, "kind": "text",
                        "text": src_text, "media_ref": media_ref, "offset": offset,
                    }
                )
            else:
                text = LOREM_LINES[rng.randint(len(LOREM_LINES))]
                spans.append(
                    {"kind": "text", "text": text, "media_ref": None, "offset": offset}
                )
                golden_rows.append(
                    {
                        "doc_id": doc_id, "seq": seq, "kind": "text",
                        "text": text, "media_ref": None, "offset": offset,
                    }
                )
            seq += 1
        doc_rows.append({"doc_id": doc_id, "spans": spans})

    span_type = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    docs = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in doc_rows]),
            "spans": pa.array([r["spans"] for r in doc_rows], pa.list_(span_type)),
        }
    )
    media = pa.table(
        {
            "media_ref": pa.array([r["media_ref"] for r in media_rows]),
            "png": pa.array([r["png"] for r in media_rows], pa.binary()),
            "font": pa.array([r["font"] for r in media_rows]),
            "pt_size": pa.array([r["pt_size"] for r in media_rows], pa.int32()),
            "src_text": pa.array([r["src_text"] for r in media_rows]),
        }
    )
    golden = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in golden_rows]),
            "seq": pa.array([r["seq"] for r in golden_rows], pa.int32()),
            "kind": pa.array([r["kind"] for r in golden_rows]),
            "text": pa.array([r["text"] for r in golden_rows]),
            "media_ref": pa.array([r["media_ref"] for r in golden_rows]),
            "offset": pa.array([r["offset"] for r in golden_rows], pa.int32()),
        }
    )
    paths = {}
    for name, table in (("documents", docs), ("media", media), ("golden_spans", golden)):
        path = f"{out_dir}/{name}.parquet"
        pq.write_table(table, path)
        paths[name] = path
    return paths

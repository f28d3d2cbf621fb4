"""The flagship extraction plan (SURVEY §3.1, Spark-native re-expression).

    documents ─explode─▶ spans ─┬─ kind='text' ─────────────────────────────┐
                                └─ media meta ─┬─ broadcast ⋈ media ─ OCR ──┤
                                               └─ anti-join media → error ──┤
                                                                            ▼
                       unionByName ─ row_number per doc ─▶ extracted spans

This module owns the plan as small builders (explode_spans,
text_span_rows, media_meta, ocr_media, missing_media_rows, number_spans).
``extract_spans`` composes them over one slice; pipeline/state.ExtractRunner
composes the same builders per bucket group plus its sinks and state.

Physical design (SURVEY §4, "needs explicit engineering"):
  * the font model ships as ONE sc.broadcast of numpy arrays — the NN loop
    is numpy inside the Arrow UDF, zero per-lookup IO (vs the reference's
    per-character DB futures, OCRScan.java:209, OCRDatabaseManager.java:234-302);
  * the small (doc_id, offset, media_ref) span metadata is broadcast onto
    the media table, so image bytes never shuffle and OCR runs on the media
    table's own size-balanced parquet splits; missing media is found by a
    metadata-only anti-join;
  * everything before/after the UDF is plain DataFrame ops — Catalyst
    pushes the kind filter and column pruning into the parquet scan.

At 100 TB: the documents scan is columnar with only (doc_id, spans) read,
and the one wide shuffle is the per-doc seq window, keyed on the
high-cardinality doc_id.
"""

from __future__ import annotations

import functools
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import FontModel

OCR_OUTPUT_SCHEMA = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "glyph_count long, line_count int, font_size_pt double, error string"
)
SPAN_COLUMNS = (
    "doc_id", "seq", "kind", "text", "media_ref", "offset",
    "glyph_count", "line_count", "font_size_pt", "error",
)


def make_ocr_udf(broadcast_model):
    """mapInPandas generator: (doc_id, offset, media_ref, png) batches →
    recognized spans + per-image metrics. Decode → binarize → kernel scan,
    all numpy inside the Arrow batch (north rule: no per-row Python at the
    DataFrame level — the per-image loop is the reference's own granularity)."""

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs.bmp import decode_image
        from ..kernel.grid import binarize
        from ..kernel.metrics import font_size_of
        from ..kernel.scan import render_text, scan_grid

        model: FontModel = broadcast_model.value
        for pdf in batches:
            n = len(pdf)
            texts: list = [None] * n
            glyphs = [0] * n
            line_counts = [0] * n
            font_sizes: list = [None] * n
            errors: list = [None] * n
            for i, png in enumerate(pdf["png"]):
                try:
                    if png is None:  # a media row whose bytes are NULL
                        raise ValueError("missing media bytes")
                    lines = scan_grid(binarize(decode_image(png)), model)
                    texts[i] = render_text(lines)
                    glyphs[i] = int(sum(len(l) for _y, l in lines))
                    line_counts[i] = len(lines)
                    # A7: per-image mean font-size estimate
                    sizes = [
                        s for _y, line in lines for l in line
                        if l.letter != " " and (s := font_size_of(l, model)) is not None
                    ]
                    font_sizes[i] = sum(sizes) / len(sizes) if sizes else None
                except Exception as exc:  # per-image fault isolation
                    errors[i] = f"{type(exc).__name__}: {exc}"
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "offset": pdf["offset"].values,
                    "kind": ["text"] * n,
                    "text": texts,
                    "media_ref": pdf["media_ref"].values,
                    "glyph_count": glyphs,
                    "line_count": line_counts,
                    "font_size_pt": font_sizes,
                    "error": errors,
                }
            )

    return ocr_batches


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents (doc_id, spans) → one row per span:
    (doc_id, kind, text, media_ref, offset)."""
    return documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).select("doc_id", "span.kind", "span.text", "span.media_ref", "span.offset")


def text_span_rows(spans: DataFrame) -> DataFrame:
    """Text spans pass through as OCR_OUTPUT_SCHEMA rows with zero metrics."""
    return spans.filter(F.col("kind") == "text").select(
        "doc_id", "offset", F.lit("text").alias("kind"), "text",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("long").alias("glyph_count"),
        F.lit(0).cast("int").alias("line_count"),
        F.lit(None).cast("double").alias("font_size_pt"),
        F.lit(None).cast("string").alias("error"),
    )


def media_meta(spans: DataFrame) -> DataFrame:
    """(doc_id, offset, media_ref) of the media spans — the side that is
    broadcast onto the image bytes."""
    return spans.filter(F.col("kind") == "media").select("doc_id", "offset", "media_ref")


def ocr_media(media: DataFrame, meta: DataFrame, broadcast_model) -> DataFrame:
    """OCR of a media slice: inner join onto the broadcast span metadata,
    so the image bytes never shuffle and OCR runs on the slice's own
    partitioning; media_refs no span references drop out here."""
    return (
        media.select("media_ref", "png")
        .join(F.broadcast(meta), "media_ref", "inner")
        .select("doc_id", "offset", "media_ref", "png")
        .mapInPandas(make_ocr_udf(broadcast_model), OCR_OUTPUT_SCHEMA)
    )


def missing_media_rows(meta: DataFrame, media: DataFrame) -> DataFrame:
    """Media spans whose media_ref has no media row, as error rows: a
    metadata-only anti-join, so no image bytes move."""
    return meta.join(media.select("media_ref"), "media_ref", "left_anti").select(
        "doc_id", "offset", F.lit("text").alias("kind"),
        F.lit(None).cast("string").alias("text"), "media_ref",
        F.lit(0).cast("long").alias("glyph_count"),
        F.lit(0).cast("int").alias("line_count"),
        F.lit(None).cast("double").alias("font_size_pt"),
        F.lit("ValueError: missing media bytes").alias("error"),
    )


def number_spans(*parts: DataFrame) -> DataFrame:
    """Union OCR_OUTPUT_SCHEMA row sets and number each doc's spans by
    offset (seq, from 0) → the extracted-spans shape."""
    rows = functools.reduce(DataFrame.unionByName, parts)
    seq = Window.partitionBy("doc_id").orderBy("offset")
    return rows.withColumn("seq", (F.row_number().over(seq) - 1).cast("int")).select(
        *SPAN_COLUMNS
    )


def extract_spans(
    spark: SparkSession, documents: DataFrame, media: DataFrame, model: FontModel
) -> DataFrame:
    """documents (doc_id, spans) + media (media_ref, png) → extracted spans
    (SPAN_COLUMNS) in one plan.

    For one bounded slice: its media-span metadata is broadcast whole, so
    it must fit the broadcast budget. Corpora beyond that go through
    pipeline/state.ExtractRunner, whose bucket groups bound each
    broadcast and make the job resumable."""
    spans = explode_spans(documents)
    meta = media_meta(spans)
    ocr = ocr_media(media, meta, spark.sparkContext.broadcast(model))
    return number_spans(text_span_rows(spans), ocr, missing_media_rows(meta, media))


def assemble_documents(extracted: DataFrame) -> DataFrame:
    """O5: splice recognized spans back into per-doc ordered arrays.
    sort_array on struct sorts by the first field = offset (SURVEY §2f O5)."""
    return extracted.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "seq", "kind", "text", "media_ref"))
        ).alias("spans"),
        F.sum("glyph_count").alias("glyph_count"),
        F.max(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("has_error"),
    )

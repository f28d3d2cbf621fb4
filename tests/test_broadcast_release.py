"""`release_broadcasts` frees the SparkContext broadcasts that the eager
n-gram bitmap operator creates at DataFrame-construction time, instead of
leaving them pinned until context GC (VERDICT r3 #8)."""

import pytest

from newocr_spark.analytics.dedup import ngram_jaccard_pairs, release_broadcasts

SF_DIR = "/root/testdata/sf0.001"


def test_ngram_bitmap_broadcasts_released(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = ngram_jaccard_pairs(docs, threshold=0.5, strategy="bitmap")
    assert df.count() > 0
    # only the packed matrix stays attached: the vocab->bit map is fully
    # drained by the executor-side pack collect and destroyed EAGERLY
    # inside the operator rather than riding until release
    assert release_broadcasts(df) == 1
    with pytest.raises(Exception):
        df.count()

"""Scale guard and strategy agreement of the exact n-gram Jaccard pairs
baseline (`analytics/dedup.ngram_jaccard_pairs`): the all-pairs operator
refuses oversized inputs instead of silently becoming the production path
at scale, and its bitmap and join strategies emit identical pairs.
"""

import pytest


def test_quadratic_guard_ngram(spark):
    from newocr_spark.analytics.dedup import QuadraticScaleError, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(10)], "doc_id long, text string"
    )
    with pytest.raises(QuadraticScaleError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(docs, max_rows=5).count()
    # explicit opt-out still works
    assert ngram_jaccard_pairs(docs, max_rows=None).count() >= 0



def test_ngram_jaccard_strategies_agree(spark):
    """The bitmap (dense-vocab) and equi-join (sparse-vocab) physical
    strategies must produce identical exact pairs."""
    from newocr_spark.analytics.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bm = ngram_jaccard_pairs(docs, threshold=0.5, strategy="bitmap").toPandas()
    jn = ngram_jaccard_pairs(docs, threshold=0.5, strategy="join").toPandas()
    key = lambda df: df.sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    bm, jn = key(bm), key(jn)
    assert len(bm) == len(jn) and len(bm) > 0
    assert (bm["doc_a"].to_numpy() == jn["doc_a"].to_numpy()).all()
    assert (bm["doc_b"].to_numpy() == jn["doc_b"].to_numpy()).all()
    assert (bm["jaccard"].to_numpy() == jn["jaccard"].to_numpy()).all()

    # threshold 0 boundary: the join strategy can only EMIT pairs that
    # share >= 1 shingle; the bitmap kernel must not invent
    # zero-intersection jaccard-0.0 pairs there (regression pin)
    few = docs.filter("doc_id < 20")
    bm0 = ngram_jaccard_pairs(few, threshold=0.0, strategy="bitmap").toPandas()
    jn0 = ngram_jaccard_pairs(few, threshold=0.0, strategy="join").toPandas()
    assert len(bm0) == len(jn0)
    assert set(map(tuple, bm0[["doc_a", "doc_b"]].to_numpy())) == set(
        map(tuple, jn0[["doc_a", "doc_b"]].to_numpy())
    )

    # unknown strategies fail loudly instead of silently running the
    # quadratic shuffle the caller opted out of
    with pytest.raises(ValueError, match="unknown strategy"):
        ngram_jaccard_pairs(few, threshold=0.5, strategy="Bitmap")

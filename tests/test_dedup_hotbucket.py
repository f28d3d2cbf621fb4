"""Hot-bucket guard for the LSH dedup family: exact copies share ALL band
signatures, so banding raw docs turns B copies of one boilerplate page into
B^2/2 candidate pairs per band — the job that never finishes on a real
crawl (30-50% exact copies). `_rep_pairs` collapses by md5(text) first, so
candidate volume is quadratic only in DISTINCT texts; these tests pin that
bound and the exactness of the member re-expansion.
"""

import pytest
from pyspark.sql import functions as F

from newocr_spark.analytics.dedup import (
    _rep_candidates,
    dup_clusters,
    minhash_lsh_pairs,
)

N_COPIES = 10_000
N_DISTINCT = 40


@pytest.fixture(scope="module")
def dup_heavy(spark):
    """N_COPIES exact copies of one page + N_DISTINCT distinct docs."""
    copies = spark.range(N_COPIES).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page text repeated across the crawl").alias(
            "text"
        ),
    )
    distinct = spark.range(N_COPIES, N_COPIES + N_DISTINCT).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique document body number "), F.col("id").cast("string"),
            F.lit(" with its own words"),
        ).alias("text"),
    )
    return copies.unionByName(distinct).cache()


def test_candidate_volume_is_linear_not_quadratic(spark, dup_heavy):
    """The collapsed pipeline's CANDIDATE count must scale with distinct
    texts, not members: 10k copies contribute ONE rep. Uncollapsed banding
    would enqueue ~N_BANDS * N_COPIES^2 / 2 = 2e8 candidates; collapsed,
    the bound is pairs among the 41 reps."""
    _groups, _sh, cands = _rep_candidates(dup_heavy)
    n = cands.count()
    assert n <= (N_DISTINCT + 1) ** 2  # reps only — worst case all collide
    assert n < N_COPIES  # nowhere near member-quadratic


def test_dup_clusters_on_copy_heavy_corpus(spark, dup_heavy):
    """All copies resolve into one cluster labeled by the minimum doc_id,
    with cluster_size == member count — via membership expansion, never
    via B^2/2 pair rows."""
    out = dup_clusters(dup_heavy, threshold=0.5)
    clusters = {
        r.cluster_id: r.cluster_size
        for r in out.select("cluster_id", "cluster_size").distinct().collect()
    }
    assert clusters.get(0) == N_COPIES  # the copy cluster, canon = min id
    assert out.filter(F.col("cluster_id") == 0).count() == N_COPIES
    # the distinct docs share the "unique document body number ... with its
    # own words" frame, so they may near-dup among themselves — but never
    # into the copy cluster
    assert out.filter(
        (F.col("cluster_id") == 0) & (F.col("doc_id") >= N_COPIES)
    ).count() == 0


def test_expansion_reproduces_member_pairs_exactly(spark):
    """3 copies of A + 2 copies of B with A ~ B near-dup: the expanded
    output must be the 3 within-A + 1 within-B pairs at jaccard 1.0 plus
    all 6 cross pairs at the reps' verified jaccard."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (10, "alpha beta gamma delta epsilon eta"),
        (11, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    within = {(0, 1), (0, 2), (1, 2), (10, 11)}
    cross = {(a, b) for a in (0, 1, 2) for b in (10, 11)}
    assert set(got) == within | cross
    for p in within:
        assert got[p] == 1.0
    # A/B share 4 of their 5 bigram shingles each: J = 4/6
    for p in cross:
        assert got[p] == pytest.approx(4 / 6, abs=1e-6)


def test_max_bucket_size_sidelines_but_keeps_exact_pairs(spark):
    """max_bucket_size=0 sidelines every band bucket — cross-text recall
    drops to zero by construction, but exact-copy pairs come from the
    md5 map, not the band join, and must survive."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),
        (10, "alpha beta gamma delta epsilon eta"),
        (11, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=0).collect()
    }
    assert got == {(0, 1), (10, 11)}


def test_sub_shingle_copies_never_pair(spark):
    """Exact copies shorter than the shingle width have no signature in
    the uncollapsed plan and must not pair after the collapse either."""
    docs = spark.createDataFrame(
        [(0, "word"), (1, "word"), (2, "word")], "doc_id long, text string"
    )
    assert minhash_lsh_pairs(docs, threshold=0.5).count() == 0
    assert dup_clusters(docs, threshold=0.5).count() == 0

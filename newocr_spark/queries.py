"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each entry is an operator analogue from SURVEY.md §2 (the OCR engine's
relational shapes, exercised on the driver's TPC-H-ish tables), a
training-data pipeline operation over the documents table (analytics/*)
or a web main-content extraction (web/extract.py). Spark and oracle
alias every computed column identically — the driver's compare hashes
values after sorting columns by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analytics import dedup as D
from .analytics import ranking as R
from .analytics import textstats as T


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational analogues (SURVEY §2 last column)
# ---------------------------------------------------------------------------

def q_grouped_agg(spark, sf):  # A1: per-(letter,modifier) segment averaging
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_GROUPED_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_broadcast_dim_join(spark, sf):  # S2: broadcast font-model dim join
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_BROADCAST_DIM_JOIN = """
SELECT p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_top1_per_group(spark, sf):  # J1: NN min-by (argmin per group)
    li = load(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("best_line"),
            F.round("l_extendedprice", 4).alias("best_price"),
        )
    )


SQL_TOP1_PER_GROUP = """
SELECT l_orderkey, l_linenumber AS best_line,
       round(l_extendedprice, 4) AS best_price
FROM lineitem
QUALIFY row_number() OVER (PARTITION BY l_orderkey
                           ORDER BY l_extendedprice ASC, l_linenumber ASC) = 1
"""


def q_interval_join(spark, sf):  # J2: glyph-center ∈ line-bounds range join
    ev = load(spark, sf, "events")
    bands = spark.createDataFrame(
        [(0, 0.0, 10.0), (1, 10.0, 100.0), (2, 100.0, 1000.0), (3, 1000.0, 1e9)],
        "band int, lo double, hi double",
    )
    return (
        ev.join(
            bands,
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


SQL_INTERVAL_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES (0, 0.0, 10.0), (1, 10.0, 100.0), (2, 100.0, 1000.0),
         (3, 1000.0, 1000000000.0)
)
SELECT band, count(*) AS n_events, round(avg(value), 6) AS avg_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def q_gaps_islands(spark, sf):  # G1: populated-row runs → sessionization
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 300), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("sz")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.max("sz").alias("max_session_len")
    )


SQL_GAPS_ISLANDS = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 300
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
per_session AS (
  SELECT user_id, session_id, count(*) AS sz FROM sess GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, max(sz) AS max_session_len
FROM per_session GROUP BY user_id
"""


def q_lag_arith(spark, sf):  # O3: gap/lag arithmetic (space insertion)
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    d = ev.withColumn("delta", delta).filter(F.col("delta").isNotNull())
    return d.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum(F.when(F.col("delta") > 10, 1).otherwise(0)).alias("big_gaps"),
        F.round(F.avg("delta"), 6).alias("avg_delta"),
    )


SQL_LAG_ARITH = """
WITH d AS (
  SELECT user_id,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS delta
  FROM events
)
SELECT user_id, count(*) AS n_gaps,
       CAST(sum(CASE WHEN delta > 10 THEN 1 ELSE 0 END) AS BIGINT) AS big_gaps,
       round(avg(delta), 6) AS avg_delta
FROM d WHERE delta IS NOT NULL GROUP BY user_id
"""


def q_ordered_stringagg(spark, sf):  # O4: ordered text assembly
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "  struct(l_linenumber AS ln, cast(l_partkey AS string) AS pk))),"
            "  x -> x.pk), ',')"
        ).alias("parts_in_order")
    )


SQL_ORDERED_STRINGAGG = """
SELECT l_orderkey,
       string_agg(CAST(l_partkey AS VARCHAR), ','
                  ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR))
         AS parts_in_order
FROM lineitem GROUP BY l_orderkey
"""


def q_anti_join(spark, sf):  # X1: consume-on-match (left anti)
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_grouped_avg_meta(spark, sf):  # S3/A3: averaged metadata read
    ev = load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count("*").alias("n"),
    )


SQL_GROUPED_AVG_META = """
SELECT event_type, round(avg(value), 6) AS avg_value, count(*) AS n
FROM events GROUP BY event_type
"""


def q_minmax_center(spark, sf):  # A2: min/max center tracking
    p = load(spark, sf, "part")
    return p.groupBy("p_brand").agg(
        F.round(F.min("p_retailprice"), 4).alias("min_price"),
        F.round(F.max("p_retailprice"), 4).alias("max_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


SQL_MINMAX_CENTER = """
SELECT p_brand,
       round(min(p_retailprice), 4) AS min_price,
       round(max(p_retailprice), 4) AS max_price,
       min(p_size) AS min_size, max(p_size) AS max_size
FROM part GROUP BY p_brand
"""


def q_running_max(spark, sf):  # A6: per-line max height (running window)
    ev = load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.filter(F.col("user_id") < 20)
        .withColumn("running_max", F.round(F.max("value").over(w), 6))
        .select("event_id", "user_id", "running_max")
    )


SQL_RUNNING_MAX = """
SELECT event_id, user_id,
       round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 6) AS running_max
FROM events WHERE user_id < 20
"""


def q_rollup_agg(spark, sf):  # beyond-reference: hierarchical rollup
    li = load(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty", "n",
        )
    )


SQL_ROLLUP_AGG = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_multi_dim_star(spark, sf):  # S2 composite: star-schema broadcast chain
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("revenue"))
    )


SQL_MULTI_DIM_STAR = """
SELECT r_name, n_name, round(sum(l_extendedprice), 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# training-data pipeline ops (documents)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    return D.exact_duplicates(load(spark, sf, "documents"))


def q_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(load(spark, sf, "documents"), threshold=0.5)


def q_minhash_lsh(spark, sf):
    return D.minhash_lsh_pairs(load(spark, sf, "documents"), threshold=0.5)


def q_incremental_neardup(spark, sf):
    # incremental-crawl gate: 3/4 of documents play the already-ingested
    # corpus (its persisted band index), 1/4 the new increment; the split
    # hash matches the oracle's bucket expression exactly
    docs = load(spark, sf, "documents")
    bucket = F.pmod(D._h60(F.col("doc_id").cast("string")), F.lit(4))
    history = docs.filter(bucket < 3)
    increment = docs.filter(bucket >= 3)
    return D.incremental_neardup(increment, D.band_index(history))


def q_simhash(spark, sf):
    return D.simhash_docs(load(spark, sf, "documents"))


def q_dedup_clusters(spark, sf):
    return D.dup_clusters(load(spark, sf, "documents"), threshold=0.5)


def q_dedup_keep_best(spark, sf):  # quality-aware canonical per cluster
    return D.keep_best_in_cluster(load(spark, sf, "documents"), threshold=0.5)


def q_lang_id(spark, sf):
    return T.lang_id(load(spark, sf, "documents"))


def q_doc_quality(spark, sf):
    return T.doc_quality(load(spark, sf, "documents"))


def q_fingerprints(spark, sf):
    return T.fingerprints(load(spark, sf, "documents"))


def q_token_counts(spark, sf):
    return T.token_counts(load(spark, sf, "documents"))


def q_corpus_curation(spark, sf):  # composed pipeline: dedup -> lang -> quality -> stats
    return T.corpus_curation(load(spark, sf, "documents"))


def q_source_mix(spark, sf):  # per-source corpus-mix scorecard
    return T.source_mix(load(spark, sf, "documents"))


def q_mixture_weights(spark, sf):  # sqrt-temperature source sampling weights
    return T.mixture_weights(load(spark, sf, "documents"))


def q_repetition_stats(spark, sf):  # Gopher-style within-doc repetition gate
    return T.repetition_stats(load(spark, sf, "documents"))


def q_source_overlap(spark, sf):  # cross-source near-dup flow matrix
    return D.source_overlap(load(spark, sf, "documents"), threshold=0.5)


def q_unigram_logprob(spark, sf):  # CCNet-style unigram LM quality proxy
    return T.unigram_logprob(load(spark, sf, "documents"))


def q_vocab_stats(spark, sf):  # per-source lexical-diversity scorecard
    return T.vocab_stats(load(spark, sf, "documents"))


def q_quality_buckets(spark, sf):  # CCNet head/middle/tail LM-score split
    return T.quality_buckets(load(spark, sf, "documents"))


def q_tfidf_topterms(spark, sf):  # per-doc top-3 terms by smoothed TF-IDF
    return R.tfidf_topterms(load(spark, sf, "documents"))


def q_bm25_search(spark, sf):  # BM25 top-20 docs for a fixed query-term set
    return R.bm25_search(load(spark, sf, "documents"))


def q_crossdoc_substr(spark, sf):  # ExactSubstr-style cross-doc duplicated
    # substring coverage (Lee et al. 2022) over the same deterministic
    # cross-doc quote injection decontaminate uses (the synthetic corpus has
    # ~zero natural 8-gram overlap, so without injection the gate would
    # certify an empty signal)
    from .analytics import curation as C

    return T.crossdoc_substrings(C._with_contamination(load(spark, sf, "documents")))


def q_crossdoc_cut(spark, sf):  # ExactSubstr span REMOVAL (keep one
    # canonical copy, cut the rest) over the same injected cross-doc quotes
    from .analytics import curation as C

    return T.crossdoc_cut(C._with_contamination(load(spark, sf, "documents")))


def q_pii_scrub(spark, sf):  # PII redaction over deterministically injected PII
    from .analytics import curation as C

    return C.pii_scrub(C._with_pii(load(spark, sf, "documents")))


def q_decontaminate(spark, sf):  # benchmark 8-gram decontamination over
    # deterministically injected eval-quote leakage (the synthetic corpus
    # has ~zero natural 8-gram overlap; real decontamination uses long
    # n-grams — see analytics/curation.py:decontaminate)
    from .analytics import curation as C

    return C.decontaminate(C._with_contamination(load(spark, sf, "documents")))


def q_stratified_sample(spark, sf):  # deterministic per-language sampling
    from .analytics import curation as C

    return C.stratified_sample(load(spark, sf, "documents"))


def q_pack_sequences(spark, sf):  # training-sequence packing (token stream)
    from .analytics import curation as C

    return C.pack_sequences(load(spark, sf, "documents"))


def q_pack_manifest(spark, sf):  # exploded (doc, occupied sequence) layout
    from .analytics import curation as C

    return C.pack_manifest(load(spark, sf, "documents"))


def q_pack_bucketed(spark, sf):  # length-aware NO-SPLIT packing layout
    from .analytics import curation as C

    return C.pack_bucketed(load(spark, sf, "documents"))


def q_pack_efficiency(spark, sf):  # per-mode utilization/split scorecard
    from .analytics import curation as C

    return C.pack_efficiency(load(spark, sf, "documents"))


def q_dsir_weights(spark, sf):  # DSIR importance-resampling data selection
    from .analytics import curation as C

    return C.dsir_weights(load(spark, sf, "documents"))


def q_winnow_fingerprints(spark, sf):  # MOSS winnowing sketch rows
    return T.winnow_fingerprints(load(spark, sf, "documents"))


def q_chunk_windows(spark, sf):  # sliding-window retrieval/eval chunking
    from .analytics import curation as C

    return C.chunk_windows(load(spark, sf, "documents"))


def q_c4_clean(spark, sf):  # C4-style line filter + page rules
    from .analytics import curation as C

    return C.c4_clean(C._with_page(load(spark, sf, "documents")))


def q_lang_confusion(spark, sf):  # declared-vs-predicted language audit
    return T.lang_confusion(load(spark, sf, "documents"))


def q_source_kl(spark, sf):  # per-source unigram KL drift vs the corpus
    return T.source_kl(load(spark, sf, "documents"))


def q_decon_report(spark, sf):  # per (train, bench) contamination attribution
    from .analytics import curation as C

    return C.decon_report(C._with_contamination(load(spark, sf, "documents")))


def q_source_quota(spark, sf):  # per-source quality cap (top-k, ties share fate)
    return T.source_quota(load(spark, sf, "documents"))


def q_line_dedup(spark, sf):  # CCNet line-level corpus dedup (keep one copy)
    from .analytics import curation as C

    return C.line_dedup(C._with_page(load(spark, sf, "documents")))


def q_gopher_quality(spark, sf):  # Gopher table-A1 quality gate (non-repetition half)
    return T.gopher_quality(T._with_gopher_page(load(spark, sf, "documents")))


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "grouped_agg": q_grouped_agg,
    "broadcast_dim_join": q_broadcast_dim_join,
    "top1_per_group": q_top1_per_group,
    "interval_join": q_interval_join,
    "gaps_islands": q_gaps_islands,
    "lag_arith": q_lag_arith,
    "ordered_stringagg": q_ordered_stringagg,
    "anti_join": q_anti_join,
    "grouped_avg_meta": q_grouped_avg_meta,
    "minmax_center": q_minmax_center,
    "running_max": q_running_max,
    "multi_dim_star": q_multi_dim_star,
    "rollup_agg": q_rollup_agg,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "incremental_neardup": q_incremental_neardup,
    "simhash": q_simhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "lang_id": q_lang_id,
    "doc_quality": q_doc_quality,
    "fingerprints": q_fingerprints,
    "token_counts": q_token_counts,
    "corpus_curation": q_corpus_curation,
    "repetition_stats": q_repetition_stats,
    "source_mix": q_source_mix,
    "mixture_weights": q_mixture_weights,
    "source_overlap": q_source_overlap,
    "unigram_logprob": q_unigram_logprob,
    "vocab_stats": q_vocab_stats,
    "quality_buckets": q_quality_buckets,
    "tfidf_topterms": q_tfidf_topterms,
    "bm25_search": q_bm25_search,
    "crossdoc_substr": q_crossdoc_substr,
    "crossdoc_cut": q_crossdoc_cut,
    "pii_scrub": q_pii_scrub,
    "decontaminate": q_decontaminate,
    "decon_report": q_decon_report,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "pack_manifest": q_pack_manifest,
    "pack_bucketed": q_pack_bucketed,
    "pack_efficiency": q_pack_efficiency,
    "dsir_weights": q_dsir_weights,
    "c4_clean": q_c4_clean,
    "line_dedup": q_line_dedup,
    "source_quota": q_source_quota,
    "source_kl": q_source_kl,
    "lang_confusion": q_lang_confusion,
    "gopher_quality": q_gopher_quality,
    "chunk_windows": q_chunk_windows,
    "winnow_fingerprints": q_winnow_fingerprints,
}


def _register_web_queries() -> None:
    """north_rule main-content extraction: HTML boilerplate strip, DOM
    heuristics, PDF/layout parse — each oracle-checked via deterministic
    round-trip fixtures (web/extract.py)."""
    from .web import extract as W

    QUERIES["html_main_text"] = W.q_html_main_text
    QUERIES["html_spans"] = W.q_html_spans
    QUERIES["html_tables"] = W.q_html_tables
    QUERIES["html_links"] = W.q_html_links
    QUERIES["html_linkgraph"] = W.q_html_linkgraph
    QUERIES["url_canonical"] = (
        lambda spark, sf: W.url_canonical(
            W._with_urls(
                spark.read.parquet(f"{sf}/documents.parquet").select(
                    "doc_id", "source"
                )
            )
        )
    )
    QUERIES["url_dedup"] = (
        lambda spark, sf: W.url_dedup(
            spark.read.parquet(f"{sf}/documents.parquet").select(
                "doc_id", "n_chars"
            )
        )
    )
    QUERIES["domain_stats"] = (
        lambda spark, sf: W.domain_stats(
            spark.read.parquet(f"{sf}/documents.parquet").select(
                "doc_id", "n_chars"
            )
        )
    )
    QUERIES["crawl_frontier"] = W.q_crawl_frontier
    QUERIES["warc_extract"] = W.q_warc_extract
    QUERIES["robots_gate"] = W.q_robots_gate
    QUERIES["anchor_text"] = W.q_anchor_text
    QUERIES["sitemap_delta"] = W.q_sitemap_delta
    QUERIES["sitemap_index"] = W.q_sitemap_index
    QUERIES["html_block_stats"] = W.q_html_block_stats
    QUERIES["html_metadata"] = W.q_html_metadata
    QUERIES["pdf_extract"] = W.q_pdf_extract
    QUERIES["web_extract"] = W.q_web_extract
    ORACLES["html_main_text"] = W.html_main_text_sql()
    ORACLES["html_spans"] = W.html_spans_sql()
    ORACLES["html_tables"] = W.html_tables_sql()
    ORACLES["html_links"] = W.html_links_sql()
    ORACLES["html_linkgraph"] = W.html_linkgraph_sql()
    ORACLES["url_canonical"] = W.url_canonical_sql()
    ORACLES["url_dedup"] = W.url_dedup_sql()
    ORACLES["crawl_frontier"] = W.crawl_frontier_sql()
    # the WARC round trip reproduces q_html_main_text exactly, so the
    # same closed-form law certifies framing + HTTP parse + strip
    ORACLES["warc_extract"] = W.html_main_text_sql()
    ORACLES["robots_gate"] = W.robots_gate_sql()
    ORACLES["anchor_text"] = W.anchor_text_sql()
    ORACLES["sitemap_delta"] = W.sitemap_delta_sql()
    ORACLES["sitemap_index"] = W.sitemap_index_sql()
    ORACLES["domain_stats"] = W.domain_stats_sql()
    ORACLES["html_block_stats"] = W.html_block_stats_sql()
    ORACLES["html_metadata"] = W.html_metadata_sql()
    ORACLES["pdf_extract"] = W.pdf_extract_sql()
    ORACLES["web_extract"] = W.web_extract_sql()


ORACLES = {
    "grouped_agg": SQL_GROUPED_AGG,
    "broadcast_dim_join": SQL_BROADCAST_DIM_JOIN,
    "top1_per_group": SQL_TOP1_PER_GROUP,
    "interval_join": SQL_INTERVAL_JOIN,
    "gaps_islands": SQL_GAPS_ISLANDS,
    "lag_arith": SQL_LAG_ARITH,
    "ordered_stringagg": SQL_ORDERED_STRINGAGG,
    "anti_join": SQL_ANTI_JOIN,
    "grouped_avg_meta": SQL_GROUPED_AVG_META,
    "minmax_center": SQL_MINMAX_CENTER,
    "running_max": SQL_RUNNING_MAX,
    "multi_dim_star": SQL_MULTI_DIM_STAR,
    "rollup_agg": SQL_ROLLUP_AGG,
    "dedup_exact": D.EXACT_DUP_SQL,
    "ngram_jaccard": D.jaccard_pairs_sql(0.5),
    "minhash_lsh": D.minhash_lsh_sql(0.5),
    "incremental_neardup": D.incremental_neardup_sql(),
    "simhash": D.simhash_sql(),
    "dedup_clusters": D.dup_clusters_sql(0.5),
    "dedup_keep_best": D.keep_best_in_cluster_sql(0.5),
    "lang_id": T.lang_id_sql(),
    "source_quota": T.source_quota_sql(),
    "source_kl": T.source_kl_sql(),
    "lang_confusion": T.lang_confusion_sql(),
    "doc_quality": T.doc_quality_sql(),
    "fingerprints": T.fingerprints_sql(),
    "token_counts": T.token_counts_sql(),
    "corpus_curation": T.corpus_curation_sql(),
    "repetition_stats": T.repetition_stats_sql(),
    "source_mix": T.source_mix_sql(),
    "mixture_weights": T.mixture_weights_sql(),
    "winnow_fingerprints": T.winnow_fingerprints_sql(),
    "source_overlap": D.source_overlap_sql(0.5),
    "unigram_logprob": T.unigram_logprob_sql(),
    "vocab_stats": T.vocab_stats_sql(),
    "quality_buckets": T.quality_buckets_sql(),
    "tfidf_topterms": R.tfidf_topterms_sql(),
    "bm25_search": R.bm25_search_sql(),
}


def _register_curation_oracles() -> None:
    from .analytics import curation as C

    ORACLES["pii_scrub"] = C.pii_scrub_sql()
    ORACLES["decontaminate"] = C.decontaminate_sql(contaminated=True)
    ORACLES["decon_report"] = C.decon_report_sql(contaminated=True)
    ORACLES["crossdoc_substr"] = T.crossdoc_substrings_sql(
        docs_cte=C.contamination_sql()
    )
    ORACLES["crossdoc_cut"] = T.crossdoc_cut_sql(
        docs_cte=C.contamination_sql()
    )
    ORACLES["stratified_sample"] = C.stratified_sample_sql()
    ORACLES["pack_sequences"] = C.pack_sequences_sql()
    ORACLES["pack_manifest"] = C.pack_manifest_sql()
    ORACLES["pack_bucketed"] = C.pack_bucketed_sql()
    ORACLES["pack_efficiency"] = C.pack_efficiency_sql()
    ORACLES["dsir_weights"] = C.dsir_weights_sql()
    ORACLES["c4_clean"] = C.c4_clean_sql()
    ORACLES["line_dedup"] = C.line_dedup_sql()
    ORACLES["gopher_quality"] = T.gopher_quality_sql()
    ORACLES["chunk_windows"] = C.chunk_windows_sql()


_register_curation_oracles()
_register_web_queries()

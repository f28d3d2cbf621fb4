"""Lexical ranking operators over documents(doc_id, text, ...).

These rank by term statistics — the classic TF-IDF / BM25
(Robertson & Sparck Jones; Robertson et al., TREC-3 — public formulas)
retrieval pair. Pure pyspark.sql built-ins with exactly-mirrored DuckDB
oracle SQL.

Scale notes (100 TB):
  * tokenize is a narrow JVM regexp map; the explode is the wide step and
    carries (doc_id, term) only — text never rides an exchange.
  * tfidf: two hash-aggregates (per-doc tf, per-term df) with map-side
    partials; tf ⋈ df is an equi-join on term (AQE broadcasts the
    vocab side when it is small; at crawl scale it is a shuffle
    equi-join with no skew — term frequencies are Zipfian but the join
    key fanout per term is bounded by df, and the window that follows
    partitions by doc_id, not term).
  * bm25: the query-term filter lands BEFORE the per-doc aggregate, so
    only rows matching the (tiny) query vocabulary ever aggregate; the
    corpus-wide scalars (n_docs, avgdl) ride a broadcast 1-row frame;
    top-k is orderBy().limit() — Spark's distributed TakeOrdered, never
    a single-partition window.

Determinism: scores are round(·, 6) and every ordering breaks ties on a
key column (term / doc_id), so the Spark plan and the DuckDB oracle agree
bit-for-bit after the driver's sorted-column hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# lowercase word tokens: letter/digit runs (ranking wants word units, not
# the BPE-ish punctuation splits of textstats.token_counts)
RANK_TOKEN_RE = "[a-z0-9]+"

# default BM25 query: terms present in the synthetic corpus vocabulary
BM25_QUERY = ("spark", "window", "hash", "vector")
BM25_K1 = 1.2
BM25_B = 0.75


def _word_tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(RANK_TOKEN_RE), F.lit(0))


def tfidf_topterms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF.

    tf = raw term count in the doc; idf = ln((N+1)/(df+1)) + 1 (the
    sklearn-style smooth idf — always positive, so single-doc corpora
    still rank). Ties break on term ascending; ranks are 1-based.
    """
    n_docs = docs.select(F.count("*").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(_word_tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


def tfidf_topterms_sql(k: int = 3) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{RANK_TOKEN_RE}')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tf, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, round(tfidf, 6) AS tfidf, rnk
    FROM ranked WHERE rnk <= {k}
    """


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = 20,
) -> DataFrame:
    """BM25 ranking of documents against a fixed query-term set.

    score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
                   · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))

    Only documents matching ≥1 query term score (BM25 of a no-hit doc is
    0 — excluded, matching the inverted-index shape where such docs are
    never touched). The final top-k is orderBy().limit() so ranking on a
    ROUNDED score (ties → doc_id) stays a distributed TakeOrdered.
    """
    toks = docs.select("doc_id", _word_tokens(F.col("text")).alias("toks"))
    lens = toks.select("doc_id", F.size("toks").alias("doclen"))
    stats = lens.agg(F.count("*").alias("n_docs"), F.avg("doclen").alias("avgdl"))
    terms = toks.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term").isin(list(query_terms))
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    k1_, b_ = F.lit(float(k1)), F.lit(float(b))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            )
            * F.col("tf")
            * (k1_ + F.lit(1.0))
            / (
                F.col("tf")
                + k1_ * (F.lit(1.0) - b_ + b_ * F.col("doclen") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25"),
        F.count("*").alias("n_terms_hit"),
    )
    return per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(topk)


def bm25_search_sql(
    query_terms: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = 20,
) -> str:
    in_list = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{RANK_TOKEN_RE}') AS toks
      FROM documents
    ),
    lens AS (SELECT doc_id, len(toks) AS doclen FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM lens),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms
      WHERE term IN ({in_list}) GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({float(k1)} + 1.0)
               / (tf.tf + {float(k1)} * (1.0 - {float(b)} + {float(b)} * lens.doclen / stats.avgdl))
               AS contrib
      FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, round(sum(contrib), 6) AS bm25, count(*) AS n_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT {topk}
    """

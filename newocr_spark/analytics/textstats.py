"""Text analysis operators over documents(doc_id, text, ...).

Pure pyspark.sql built-ins with exactly-mirrored DuckDB oracle SQL:
language-ID (stopword-hit heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace split), and document
fingerprinting (md5 whole-doc + positional sampled rolling shingle mins —
a winnowing-style selection that is deterministic in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# tiny per-language stopword profiles for the heuristic
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "es"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "est"),
    "de": ("der", "die", "und", "das", "in", "von", "zu", "ist"),
}


def _spread(df: DataFrame) -> DataFrame:
    """Small-file artifact guard: a compute-heavy narrow op over a source
    with fewer splits than half the cluster runs on a handful of cores (a
    single-row-group parquet file is ONE task, whatever the cluster size).
    Spread it; a real crawl/embedding store arrives pre-split, making this
    a no-op there."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() * 2 < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def _hits(lang: str):
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(arr, _tokens(F.col("text"))))


def lang_id(docs: DataFrame) -> DataFrame:
    """Distinct-stopword-hit argmax; deterministic tie-break en>es>fr>de."""
    df = docs.select("doc_id", "text")
    for lang in STOPWORDS:
        df = df.withColumn(f"hits_{lang}", _hits(lang))
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        cond = F.col(f"hits_{lang}") >= best_hits
        best = F.when(
            (F.col(f"hits_{lang}") > 0) & cond, F.lit(lang)
        ).otherwise(best)
        best_hits = F.greatest(best_hits, F.col(f"hits_{lang}"))
    return df.select(
        "doc_id",
        best.alias("lang_pred"),
        *[F.col(f"hits_{l}").alias(f"hits_{l}") for l in STOPWORDS],
    )


def lang_id_sql() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    hit_cols = ", ".join(
        f"len(list_intersect({list(STOPWORDS[l])!r}::VARCHAR[], {toks})) AS hits_{l}"
        for l in STOPWORDS
    )
    langs = list(STOPWORDS)
    # same fold as the Spark loop: iterate reversed, earlier langs win ties
    best = "'und'"
    best_hits = "0"
    for lang in reversed(langs):
        best = (
            f"CASE WHEN hits_{lang} > 0 AND hits_{lang} >= {best_hits} "
            f"THEN '{lang}' ELSE {best} END"
        )
        best_hits = f"greatest({best_hits}, hits_{lang})"
    hit_out = ", ".join(f"hits_{l}" for l in langs)
    return f"""
    WITH h AS (SELECT doc_id, {hit_cols} FROM documents)
    SELECT doc_id, {best} AS lang_pred, {hit_out} FROM h
    """


def doc_quality(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword / token statistics per doc."""
    toks = _tokens(F.col("text"))
    n_chars = F.length("text")
    # punctuation = anything not alnum or whitespace
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", ""))
    n_tokens = F.size(toks)
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(en, toks))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 6).alias("avg_token_len"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        stop_hits.alias("stopword_hits"),
        F.round(
            (F.lit(1.0) - n_punct / n_chars) * F.least(F.lit(1.0), n_tokens / F.lit(20.0)),
            6,
        ).alias("quality_score"),
    )


def doc_quality_sql() -> str:
    en = list(STOPWORDS["en"])
    return f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           round(length(text) * 1.0 / len(string_split_regex(trim(text), '\\s+')), 6)
             AS avg_token_len,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                 * 1.0 / length(text), 6) AS punct_ratio,
           len(list_intersect({en!r}::VARCHAR[],
                              string_split_regex(trim(text), '\\s+'))) AS stopword_hits,
           round((1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                        * 1.0 / length(text))
                 * least(1.0, len(string_split_regex(trim(text), '\\s+')) / 20.0), 6)
             AS quality_score
    FROM documents
    """


def source_mix(docs: DataFrame) -> DataFrame:
    """Per-source corpus-mix scorecard — the table a pre-training data
    owner sets mixing weights from: how much of the corpus each source
    contributes (doc and char share), how good it is (mean quality
    score, doc_quality's formula), and how language-diverse it is.

    100 TB shape: one narrow projection (the quality expressions fuse
    into the scan) feeding a (source) hash-aggregate with map-side
    partials — source cardinality is tiny (domains/registers), so the
    reduce side is trivial; the corpus-total denominators come from a
    broadcast single-row crossJoin, not a second scan-wide shuffle."""
    per_doc = docs.select(
        "source",
        "lang",
        F.length("text").alias("n_chars"),
        (
            (
                F.lit(1.0)
                - (
                    F.length("text")
                    - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", ""))
                )
                / F.length("text")
            )
            * F.least(
                F.lit(1.0), F.size(_tokens(F.col("text"))) / F.lit(20.0)
            )
        ).alias("q"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.countDistinct("lang").alias("n_langs"),
    )
    totals = per_source.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_chars").alias("tot_chars")
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs", "n_chars", "avg_quality", "n_langs",
            F.round(F.col("n_docs") / F.col("tot_docs"), 6).alias("doc_share"),
            F.round(F.col("n_chars") / F.col("tot_chars"), 6).alias("char_share"),
        )
    )


def source_mix_sql() -> str:
    return """
    WITH per_doc AS (
      SELECT source, lang, length(text) AS n_chars,
             (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                    * 1.0 / length(text))
             * least(1.0, len(string_split_regex(trim(text), '\\s+')) / 20.0) AS q
      FROM documents
    ),
    per_source AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             round(avg(q), 6) AS avg_quality,
             count(DISTINCT lang) AS n_langs
      FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_chars, avg_quality, n_langs,
           round(n_docs * 1.0 / sum(n_docs) OVER (), 6) AS doc_share,
           round(n_chars * 1.0 / sum(n_chars) OVER (), 6) AS char_share
    FROM per_source
    """


def mixture_weights(docs: DataFrame, token_budget: int = 1_000_000) -> DataFrame:
    """Square-root temperature sampling weights per source — the data-
    mixing knob every multi-source pretraining run sets (Arivazhagan et
    al. 2019 sample with p_s^α; The Pile, Gao et al. 2020, publishes the
    resulting per-source epoch table). weight_s ∝ sqrt(token_share_s),
    normalized: large sources are downsampled, small ones upsampled,
    relative to proportional mixing. `epochs` = how many passes over
    source s a `token_budget`-token training run at these weights implies
    (> 1 means the source repeats — the Pile's own framing).

    α is fixed at 1/2 and computed with `sqrt` rather than `pow` because
    IEEE 754 REQUIRES sqrt to be correctly rounded — the Spark (JVM) and
    DuckDB (libm) values are bit-identical, which a fractional `pow`
    does not guarantee. Generalizing α means accepting pow's ulp slack.

    Output: (source, n_docs, n_tok, token_share, weight, epochs).

    100 TB shape: one (source) hash-aggregate with map-side partials over
    a narrow tokenize-and-count projection (source cardinality is tiny);
    the two normalization totals ride broadcast single-row crossJoins —
    no second corpus scan, no window over docs."""
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_tokens(F.col("text")))).cast("long").alias("n_tok"),
    )
    tots = per_source.agg(F.sum("n_tok").alias("tot_tok"))
    w = per_source.crossJoin(F.broadcast(tots)).select(
        "source", "n_docs", "n_tok",
        (F.col("n_tok") / F.col("tot_tok")).alias("share"),
        F.sqrt(F.col("n_tok") / F.col("tot_tok")).alias("w_raw"),
    )
    z = w.agg(F.sum("w_raw").alias("z"))
    return w.crossJoin(F.broadcast(z)).select(
        "source", "n_docs", "n_tok",
        F.round("share", 6).alias("token_share"),
        F.round(F.col("w_raw") / F.col("z"), 6).alias("weight"),
        F.round(
            F.lit(token_budget) * (F.col("w_raw") / F.col("z")) / F.col("n_tok"), 6
        ).alias("epochs"),
    )


def mixture_weights_sql(token_budget: int = 1_000_000) -> str:
    """Oracle: identical sqrt-temperature arithmetic in DuckDB (sqrt is
    correctly rounded in both engines; window totals replace the
    broadcast crossJoins)."""
    from .dedup import TOKENS_SQL

    return f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tok,
             n_tok * 1.0 / sum(n_tok) OVER () AS share,
             sqrt(n_tok * 1.0 / sum(n_tok) OVER ()) AS w_raw
      FROM per_source
    )
    SELECT source, n_docs, n_tok,
           round(share, 6) AS token_share,
           round(w_raw / sum(w_raw) OVER (), 6) AS weight,
           round({token_budget} * (w_raw / sum(w_raw) OVER ()) / n_tok, 6)
             AS epochs
    FROM w
    """


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """CCNet-style LM quality proxy (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    score each document by the mean log-probability of its tokens under a
    unigram LM fit on the corpus itself. Gibberish / rare-token spam gets
    a very negative score, fluent text sits near the corpus mode — the
    same signal CCNet's KenLM perplexity buckets ("head/middle/tail")
    threshold on, with the unigram model standing in for the 5-gram LM.

    Output: (doc_id, n_tokens, logprob) where logprob =
    avg over token instances of ln(count(tok)/total_tokens).

    100 TB shape: tokens aggregate to (doc_id, tok) counts FIRST (a
    well-distributed shuffle key), so the skewed join key — stopwords
    dominate any natural-language vocab — carries one row per distinct
    (doc, token), not one per occurrence; AQE skew-join splits the
    stopword partitions beyond that. The vocab side is (tok, count) —
    at corpus scale, broadcast the head of the vocab (covering ~99.9% of
    mass) and floor the tail, as CCNet does; here the full join keeps the
    oracle exact. Bucketing into head/middle/tail at scale is
    approxQuantile thresholds over this output, not a global sort."""
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("tok")
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c_dt"))
    vocab = dt.groupBy("tok").agg(F.sum("c_dt").alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    return (
        dt.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("c_dt") * F.log(F.col("c") / F.col("t")))
                / F.sum("c_dt"),
                6,
            ).alias("logprob"),
        )
    )


def unigram_logprob_sql() -> str:
    return """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    dt AS (SELECT doc_id, tok, count(*) AS c_dt FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, sum(c_dt) AS c FROM dt GROUP BY tok),
    tot AS (SELECT sum(c) AS t FROM vocab)
    SELECT doc_id, CAST(sum(c_dt) AS BIGINT) AS n_tokens,
           round(sum(c_dt * ln(c * 1.0 / t)) / sum(c_dt), 6) AS logprob
    FROM dt JOIN vocab USING (tok), tot
    GROUP BY doc_id
    """


def value_rank(
    vals: DataFrame, value_col: str, partition_cols: tuple = ()
) -> DataFrame:
    """Strict-above rank over a (value, cnt) histogram — the shared core
    of every percentile/quota rule here (quality_buckets, source_quota,
    curation.dsir_weights): for each distinct value, the count of rows
    with a strictly GREATER value (ties share fate, so the rule is
    reproducible in pure SQL with no float-threshold interpolation to
    disagree on). Input columns: (*partition_cols, value_col, cnt);
    output: (*partition_cols, value_col, n_above). The input is already
    a histogram, so the ORDER BY window runs over distinct values —
    never over docs."""
    w = (
        W.partitionBy(*partition_cols)
        .orderBy(F.desc(value_col))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return vals.select(
        *partition_cols,
        value_col,
        (F.sum("cnt").over(w) - F.col("cnt")).alias("n_above"),
    )


def quality_buckets(docs: DataFrame) -> DataFrame:
    """CCNet head/middle/tail quality bucketing (Wenzek et al. 2020 §4.3):
    split the corpus into equal thirds by LM score — 'head' is the
    best-scoring third (lowest perplexity / highest mean token
    log-probability), the bucket CCNet trains on first. Uses
    `unigram_logprob` as the LM score.

    Output: (doc_id, n_tokens, logprob, bucket).

    Bucket boundaries are defined at VALUE granularity with exact integer
    rank logic — a doc is 'head' iff strictly fewer than n/3 docs score
    above its (6-dp rounded) logprob — so ties share a bucket and the
    whole rule is reproducible in pure SQL (no float threshold
    interpolation to disagree on).

    100 TB shape: docs reduce to a (logprob, count) histogram first — a
    hash-aggregate whose key space is bounded by the 6-dp rounding (a few
    million distinct values at most, regardless of corpus size) — so the
    only ORDER BY window runs over that tiny value frame, never over
    docs; the bucketed thresholds then broadcast back onto the doc-level
    frame. No global sort of the corpus anywhere."""
    lp = unigram_logprob(docs)
    vals = lp.groupBy("logprob").agg(F.count("*").alias("cnt"))
    tot = vals.agg(F.sum("cnt").alias("tot"))
    ranked = (
        value_rank(vals, "logprob")
        .crossJoin(F.broadcast(tot))
        .select(
            "logprob",
            F.when(F.col("n_above") * 3 < F.col("tot"), "head")
            .when(F.col("n_above") * 3 < F.col("tot") * 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
    return lp.join(F.broadcast(ranked), "logprob").select(
        "doc_id", "n_tokens", "logprob", "bucket"
    )


def quality_buckets_sql() -> str:
    return f"""
    WITH lp AS ({unigram_logprob_sql()}),
    vals AS (SELECT logprob, count(*) AS cnt FROM lp GROUP BY logprob),
    tot AS (SELECT sum(cnt) AS tot FROM vals),
    ranked AS (
      SELECT logprob,
             sum(cnt) OVER (ORDER BY logprob DESC
                            ROWS UNBOUNDED PRECEDING) - cnt AS n_above
      FROM vals
    )
    SELECT lp.doc_id, lp.n_tokens, lp.logprob,
           CASE WHEN r.n_above * 3 < t.tot THEN 'head'
                WHEN r.n_above * 3 < t.tot * 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lp JOIN ranked r USING (logprob), tot t
    """


def vocab_stats(docs: DataFrame) -> DataFrame:
    """Per-source vocabulary scorecard: token count, distinct-type count,
    hapax-legomenon fraction (types occurring exactly once in the source),
    and type-token ratio. The lexical-diversity panel a corpus owner reads
    next to `source_mix`: machine-generated or templated sources show
    abnormally LOW ttr/hapax (few types repeated endlessly), OCR noise and
    spam show abnormally HIGH hapax (each garble is a new "word") —
    both tails are the first thing to audit before mixing.

    Output: (source, n_tokens, n_types, hapax_frac, ttr).

    100 TB shape: two hash-aggregates — (source, tok) counts with map-side
    partials first (the distinct-type reduction, a well-spread key even
    when one source dominates), then the tiny per-source rollup; the text
    column never survives past the in-codegen tokenize+explode. Exact
    integer arithmetic end-to-end, so the oracle certifies every column."""
    toks = docs.select(
        "source", F.explode(_tokens(F.lower(F.col("text")))).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    return st.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.count("*"), 6
        ).alias("hapax_frac"),
        F.round(F.count("*") / F.sum("c"), 6).alias("ttr"),
    )


def vocab_stats_sql() -> str:
    return """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    st AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS hapax_frac,
           round(count(*) * 1.0 / sum(c), 6) AS ttr
    FROM st GROUP BY source
    """


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
# (the GPT-2 pre-tokenizer's shape without the byte-level merge table)
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(docs: DataFrame) -> DataFrame:
    """Token counting with a BPE-ish regex pre-tokenizer: total tokens,
    distinct tokens, alpha/digit/punct splits. Pure JVM regexp — one
    narrow map, no shuffle besides the implicit scan."""
    # lit() pattern avoids SQL-string-literal backslash mangling of \s
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), F.lit(0))
    alpha = F.size(F.filter("toks", lambda t: t.rlike("^[A-Za-z]+$")))
    digit = F.size(F.filter("toks", lambda t: t.rlike("^[0-9]+$")))
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n_bpe_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
            alpha.alias("n_alpha"),
            digit.alias("n_digit"),
            (F.size("toks") - alpha - digit).alias("n_punct"),
        )
    )


def token_counts_sql() -> str:
    toks = f"regexp_extract_all(text, '{BPE_ISH}')"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_bpe_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+'))) AS n_alpha,
           len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS n_digit,
           len(toks)
             - len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+')))
             - len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS n_punct
    FROM t
    """


def fingerprints(docs: DataFrame) -> DataFrame:
    """Whole-doc md5 + min/max shingle hashes (winnowing-style selection)."""
    from .dedup import _h60, _shingles

    sh = _shingles(docs, 2)
    mins = sh.groupBy("doc_id").agg(
        F.min(_h60(F.col("shingle"))).alias("min_shingle_h"),
        F.max(_h60(F.col("shingle"))).alias("max_shingle_h"),
        F.count("*").alias("n_shingles"),
    )
    return docs.select("doc_id", F.md5("text").alias("doc_md5")).join(mins, "doc_id")


def fingerprints_sql() -> str:
    from .dedup import H60_SQL, shingles_sql

    h = H60_SQL.format(x="shingle")
    return f"""
    WITH sh AS ({shingles_sql()}),
    mins AS (
      SELECT doc_id, min({h}) AS min_shingle_h, max({h}) AS max_shingle_h,
             count(*) AS n_shingles
      FROM sh GROUP BY doc_id
    )
    SELECT d.doc_id, md5(d.text) AS doc_md5, m.min_shingle_h, m.max_shingle_h,
           m.n_shingles
    FROM documents d JOIN mins m ON m.doc_id = d.doc_id
    """


def winnow_fingerprints(
    docs: DataFrame, k: int = 4, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    selection rule): hash every k-gram of tokens, slide a window of w
    consecutive hashes, and select each window's MINIMUM hash. The
    selected set (the document's "sketch") carries the paper's guarantee:
    any shared substring of at least w + k - 1 tokens contributes at
    least one shared fingerprint, while only ~2/(w+1) of all k-gram
    hashes are kept. Candidate dup pairs are then an equi-join on `fp` —
    the scalable substring-match primitive `fingerprints`' min/max sketch
    can't provide.

    Docs shorter than k tokens yield zero rows (no k-grams, matching
    `_shingles`); docs with 1 ≤ m < w hashes yield one window over all
    of them. Output: (doc_id, fp) distinct per doc.

    100 TB shape: the whole selection is ONE in-codegen projection —
    k-gram hashing and window minima are `transform(sequence(...))` /
    `array_min(slice(...))` over per-doc arrays, then one explode; no
    shuffle, no Python. Join fan-out downstream is bounded by the sketch
    density 2/(w+1), and md5-derived hashes spread the fp key space
    evenly. No reference analogue — public-paper citation only."""
    from .dedup import _h60

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be positive: {k}, {w}")
    toks = _tokens(F.col("text"))
    d = docs.select("doc_id", toks.alias("toks"), (F.size(toks) - k + 1).alias("m"))
    d = d.filter(F.col("m") >= 1).select(
        "doc_id",
        "m",
        F.transform(
            F.sequence(F.lit(1), F.col("m")),
            lambda i: _h60(F.array_join(F.slice(F.col("toks"), i, k), " ")),
        ).alias("hashes"),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("m") - w + 1, F.lit(1))),
            lambda p: F.array_min(F.slice(F.col("hashes"), p, w)),
        )
    )
    return d.select("doc_id", F.explode(fps).alias("fp"))


def winnow_fingerprints_sql(k: int = 4, w: int = 4) -> str:
    """Oracle: identical k-gram hashing and window-min selection in DuckDB
    (range/list_transform/list_min mirror sequence/transform/array_min;
    same md5-derived 60-bit hash)."""
    from .dedup import H60_SQL, TOKENS_SQL

    h = H60_SQL.format(
        x=f"array_to_string(list_slice(toks, i, i + {k} - 1), ' ')"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks,
             len({TOKENS_SQL}) - {k} + 1 AS m
      FROM documents
    ),
    h AS (
      SELECT doc_id, m,
             list_transform(range(1, m + 1), i -> {h}) AS hashes
      FROM t WHERE m >= 1
    )
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             range(1, greatest(m - {w} + 1, 1) + 1),
             p -> list_min(list_slice(hashes, p, p + {w} - 1))
           ))) AS fp
    FROM h
    """


def corpus_curation(docs: DataFrame, quality_floor: float = 0.85) -> DataFrame:
    """End-to-end training-data curation — the canonical pre-training
    corpus pass, composed from the operators above:

        exact dedup (keep canonical doc per content hash)
          → language gate (identified language only)
          → quality gate (rounded score >= quality_floor)
          → per-language corpus stats (docs, tokens, mean quality)

    Every stage is the declarative operator already registered in the
    contract, so Catalyst fuses the gates into the scans; the stats roll
    up map-side-partial on a low-cardinality key."""
    canon = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = docs.join(canon.select("doc_id"), "doc_id")
    lang = lang_id(kept).select("doc_id", "lang_pred")
    qual = doc_quality(kept).select("doc_id", "n_tokens", "quality_score")
    cur = (
        kept.select("doc_id")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter(
            (F.col("lang_pred") != "und")
            & (F.col("quality_score") >= quality_floor)
        )
    )
    return (
        cur.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        )
        .select("lang_pred", "n_docs", "n_tokens", "avg_quality")
    )


def corpus_curation_sql(quality_floor: float = 0.85) -> str:
    lang = lang_id_sql().replace("FROM documents", "FROM kept")
    qual = doc_quality_sql().replace("FROM documents", "FROM kept")
    return f"""
    WITH canon AS (
      SELECT md5(text) AS h, min(doc_id) AS doc_id FROM documents GROUP BY 1
    ),
    kept AS (
      SELECT d.* FROM documents d JOIN canon c ON c.doc_id = d.doc_id
    ),
    l AS ({lang}),
    q AS ({qual}),
    cur AS (
      SELECT k.doc_id, l.lang_pred, q.n_tokens, q.quality_score
      FROM kept k
      JOIN l ON l.doc_id = k.doc_id
      JOIN q ON q.doc_id = k.doc_id
      WHERE l.lang_pred != 'und' AND q.quality_score >= {quality_floor}
    )
    SELECT lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(avg(quality_score), 6) AS avg_quality
    FROM cur GROUP BY lang_pred
    """


# Gopher-style repetition gate defaults, set from the measured sf0.01
# distribution (top_tok p75≈0.11, top_bigram p75≈0.05, dup_bigram
# max≈0.27) so the gate is non-trivial on the synthetic corpus; real
# deployments tune per corpus exactly as Rae et al. 2021 (Gopher,
# table A1) tune their fraction thresholds.
REP_TOP_TOK_MAX = 0.12
REP_TOP_BIGRAM_MAX = 0.08
REP_DUP_BIGRAM_MAX = 0.2

# Full Gopher battery (Rae et al. 2021, table A1): top {2,3,4}-gram
# CHARACTER fractions and duplicate {5..10}-gram CHARACTER fractions —
# the rules the count-based bigram gate can't express (a paragraph pasted
# 3x barely moves bigram counts but owns a large share of the doc's
# characters through its long duplicate n-grams). Definitions here:
#   top_{n}gram_char_frac = max over n-grams of count*len(gram) / chars
#     (the n-gram COVERING the most characters — a deterministic variant
#      of Gopher's "most frequently-occurring n-gram"; max_by on count
#      alone is tie-ambiguous across engines)
#   dup_{n}gram_char_frac = sum over n-grams with count>1 of
#     count*len(gram) / chars (overlap-counted, as the public RedPajama/
#      Dolma implementations do — exact de-overlapping is not
#      SQL-expressible and changes decisions only at the margin)
# Top-gram thresholds pinned at the measured sf0.01 p99 (top_2 0.229 /
# top_3 0.313 / top_4 0.390) so the gate flags the ~1% most-repetitive
# tail of the synthetic corpus; the duplicate-gram thresholds keep
# Gopher's published table-A1 values (this corpus has ZERO natural
# duplicate >=5-grams — any nonzero coverage is anomalous, and a
# 3x-pasted paragraph lands near 1.0; tests/test_curation.py).
REP_TOP_NGRAM_NS = (2, 3, 4)
REP_DUP_NGRAM_NS = (5, 6, 7, 8, 9, 10)
REP_TOP_NGRAM_MAX = {2: 0.23, 3: 0.32, 4: 0.39}
REP_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def repetition_stats(
    docs: DataFrame,
    top_tok_max: float = REP_TOP_TOK_MAX,
    top_bigram_max: float = REP_TOP_BIGRAM_MAX,
    dup_bigram_max: float = REP_DUP_BIGRAM_MAX,
) -> DataFrame:
    """Within-document repetition signals + keep gate — the Gopher-class
    quality rule dedup can't express (dedup compares ACROSS docs; a
    machine-generated doc that repeats itself is unique corpus-wide but
    still poison for training):

      top_tok_frac     — occurrences of the most frequent token / tokens
      dup_tok_frac     — (tokens - distinct tokens) / tokens
      top_bigram_frac  — occurrences of the most frequent bigram / bigrams
      dup_bigram_frac  — occurrences belonging to repeated bigrams / bigrams
      keep             — all fractions under their thresholds

    100 TB shape: ONE exploded (doc_id, n, gram) frame covers every gram
    width n = 1..10 — tokens are the n=1 slice, bigrams the n=2 slice, so
    the whole battery is a single explode feeding one (doc_id, n, gram)
    hash-aggregate (map-side partial) and two per-doc rollups. Gram
    STRINGS are never built at all: each window is reduced in-codegen to
    (xxhash64 of the sliced token array, char length from a precomputed
    per-token length array), so the explode emits only 8-byte longs and
    nothing wider ever rides a shuffle (same join-key compression +
    ~1e-9 within-doc collision caveat as dedup._hashed — a collision can
    only nudge a count, never corrupt a gram; array hashing is
    separator-unambiguous, unlike joined strings). The sliding windows
    come from the same in-codegen slice as _shingles, kept NON-distinct
    because repetition is the signal here. Docs with no n-grams at a
    width (fewer than n tokens) report zero fractions. Measured at
    sf0.1 local[32]: 8.0s (string grams, split tok/bigram pipelines) →
    2.3s warm."""
    # small-file artifact guard: the explode below is the compute-heavy
    # stage; a single-row-group parquet source would run it as ONE task
    # regardless of cluster size
    docs = _spread(docs)
    toked = docs.select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).withColumn("lens", F.transform("toks", lambda x: F.length(x)))
    toks, lens = F.col("toks"), F.col("lens")
    # ---- full Gopher battery: one exploded (doc_id, n, gram) frame for
    # all widths 1..10 (1 = tokens, 2 = bigrams) ----
    all_ns = sorted({1, 2, *REP_TOP_NGRAM_NS, *REP_DUP_NGRAM_NS})

    def _windows_of(nn):
        # closure factory, NOT a default-arg lambda: pyspark dispatches a
        # two-parameter callable as the (element, index) binary transform,
        # which would silently bind the width to the array index.
        # glen = token chars + (nn-1) separators == length of the joined
        # gram string the oracle counts, without allocating it.
        return lambda i: F.struct(
            F.lit(nn).alias("n"),
            F.xxhash64(F.slice(toks, i + 1, nn)).alias("g64"),
            (
                F.aggregate(F.slice(lens, i + 1, nn), F.lit(0), lambda a, x: a + x)
                + nn - 1
            ).alias("glen"),
        )

    per_n = [
        F.when(
            F.size(toks) >= nn,
            F.transform(F.sequence(F.lit(0), F.size(toks) - nn), _windows_of(nn)),
        ).otherwise(
            F.array().cast("array<struct<n:int,g64:bigint,glen:int>>")
        )
        for nn in all_ns
    ]
    grams = toked.select(
        "doc_id", F.explode(F.flatten(F.array(*per_n))).alias("g")
    ).select(
        "doc_id",
        F.col("g.n").alias("n"),
        F.col("g.g64").alias("g64"),
        F.col("g.glen").alias("glen"),
    )
    g_counts = grams.groupBy("doc_id", "n", "g64").agg(
        F.count("*").alias("c"), F.max("glen").alias("glen")
    )
    covered = F.col("c") * F.col("glen")
    dup = F.col("c") > 1
    g_stats = g_counts.groupBy("doc_id", "n").agg(
        F.max(covered).alias("top_chars"),
        F.coalesce(F.sum(F.when(dup, covered)), F.lit(0)).alias("dup_chars"),
        F.sum("c").alias("sum_c"),
        F.count("*").alias("n_dist"),
        F.max("c").alias("max_c"),
        F.coalesce(F.sum(F.when(dup, F.col("c"))), F.lit(0)).alias("dup_c"),
    )

    def _at(nn, col):
        return F.max(F.when(F.col("n") == nn, F.col(col)))

    per_doc = g_stats.groupBy("doc_id").agg(
        _at(1, "sum_c").alias("n_tok"),
        _at(1, "n_dist").alias("n_distinct"),
        _at(1, "max_c").alias("max_c"),
        _at(2, "sum_c").alias("n_bg"),
        _at(2, "max_c").alias("max_bg"),
        _at(2, "dup_c").alias("dup_bg"),
        *[_at(nn, "top_chars").alias(f"top_ch_{nn}") for nn in REP_TOP_NGRAM_NS],
        *[_at(nn, "dup_chars").alias(f"dup_ch_{nn}") for nn in REP_DUP_NGRAM_NS],
    )
    n_chars = docs.select("doc_id", F.length("text").alias("n_chars"))

    joined = per_doc.join(n_chars, "doc_id")
    top_tok = F.round(F.col("max_c") / F.col("n_tok"), 6)
    dup_tok = F.round((F.col("n_tok") - F.col("n_distinct")) / F.col("n_tok"), 6)
    top_bg = F.coalesce(F.round(F.col("max_bg") / F.col("n_bg"), 6), F.lit(0.0))
    dup_bg = F.coalesce(F.round(F.col("dup_bg") / F.col("n_bg"), 6), F.lit(0.0))

    def _frac(col):
        return F.coalesce(F.round(col / F.col("n_chars"), 6), F.lit(0.0))

    out = joined.select(
        "doc_id",
        top_tok.alias("top_tok_frac"),
        dup_tok.alias("dup_tok_frac"),
        top_bg.alias("top_bigram_frac"),
        dup_bg.alias("dup_bigram_frac"),
        *[
            _frac(F.col(f"top_ch_{nn}")).alias(f"top_{nn}gram_char_frac")
            for nn in REP_TOP_NGRAM_NS
        ],
        *[
            _frac(F.col(f"dup_ch_{nn}")).alias(f"dup_{nn}gram_char_frac")
            for nn in REP_DUP_NGRAM_NS
        ],
    )
    gate = (
        (F.col("top_tok_frac") <= top_tok_max)
        & (F.col("top_bigram_frac") <= top_bigram_max)
        & (F.col("dup_bigram_frac") <= dup_bigram_max)
    )
    for nn in REP_TOP_NGRAM_NS:
        gate = gate & (F.col(f"top_{nn}gram_char_frac") <= REP_TOP_NGRAM_MAX[nn])
    for nn in REP_DUP_NGRAM_NS:
        gate = gate & (F.col(f"dup_{nn}gram_char_frac") <= REP_DUP_NGRAM_MAX[nn])
    return out.withColumn("keep", gate)


def repetition_stats_sql(
    top_tok_max: float = REP_TOP_TOK_MAX,
    top_bigram_max: float = REP_TOP_BIGRAM_MAX,
    dup_bigram_max: float = REP_DUP_BIGRAM_MAX,
) -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    all_ns = sorted({*REP_TOP_NGRAM_NS, *REP_DUP_NGRAM_NS})
    # one branch per gram width (DuckDB cannot bind a VALUES column inside
    # a LATERAL generate_series bound)
    g_branches = " UNION ALL ".join(
        f"SELECT doc_id, {nn} AS n, "
        f"array_to_string(toks[i.i : i.i + {nn - 1}], ' ') AS gram "
        f"FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - {nn - 1}))"
        f" AS i) i"
        for nn in all_ns
    )
    top_cols = ", ".join(
        f"max(CASE WHEN n = {nn} THEN top_chars END) AS top_ch_{nn}"
        for nn in REP_TOP_NGRAM_NS
    )
    dup_cols = ", ".join(
        f"max(CASE WHEN n = {nn} THEN dup_chars END) AS dup_ch_{nn}"
        for nn in REP_DUP_NGRAM_NS
    )
    top_fracs = ", ".join(
        f"COALESCE(round(top_ch_{nn} * 1.0 / n_chars, 6), 0.0)"
        f" AS top_{nn}gram_char_frac"
        for nn in REP_TOP_NGRAM_NS
    )
    dup_fracs = ", ".join(
        f"COALESCE(round(dup_ch_{nn} * 1.0 / n_chars, 6), 0.0)"
        f" AS dup_{nn}gram_char_frac"
        for nn in REP_DUP_NGRAM_NS
    )
    frac_names = ", ".join(
        [f"top_{nn}gram_char_frac" for nn in REP_TOP_NGRAM_NS]
        + [f"dup_{nn}gram_char_frac" for nn in REP_DUP_NGRAM_NS]
    )
    gate_terms = " AND ".join(
        [f"top_tok_frac <= {top_tok_max}",
         f"top_bigram_frac <= {top_bigram_max}",
         f"dup_bigram_frac <= {dup_bigram_max}"]
        + [
            f"top_{nn}gram_char_frac <= {REP_TOP_NGRAM_MAX[nn]}"
            for nn in REP_TOP_NGRAM_NS
        ]
        + [
            f"dup_{nn}gram_char_frac <= {REP_DUP_NGRAM_MAX[nn]}"
            for nn in REP_DUP_NGRAM_NS
        ]
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks, length(text) AS n_chars
               FROM documents),
    tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    ts AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_distinct,
                  max(c) AS max_c
           FROM tc GROUP BY 1),
    bg AS (SELECT doc_id, array_to_string(toks[i.i : i.i + 1], ' ') AS b
           FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 1))
                            AS i) i),
    bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
    bs AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS max_bg,
                  COALESCE(sum(c) FILTER (c > 1), 0) AS dup_bg
           FROM bc GROUP BY 1),
    g AS ({g_branches}),
    gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    gs AS (SELECT doc_id, n,
                  max(c * length(gram)) AS top_chars,
                  COALESCE(sum(c * length(gram)) FILTER (c > 1), 0) AS dup_chars
           FROM gc GROUP BY 1, 2),
    gp AS (SELECT doc_id, {top_cols}, {dup_cols} FROM gs GROUP BY doc_id),
    fr AS (
      SELECT ts.doc_id,
             round(max_c / n_tok, 6) AS top_tok_frac,
             round((n_tok - n_distinct) / n_tok, 6) AS dup_tok_frac,
             COALESCE(round(max_bg / n_bg, 6), 0.0) AS top_bigram_frac,
             COALESCE(round(dup_bg / n_bg, 6), 0.0) AS dup_bigram_frac,
             {top_fracs}, {dup_fracs}
      FROM ts
      LEFT JOIN bs ON bs.doc_id = ts.doc_id
      LEFT JOIN gp ON gp.doc_id = ts.doc_id
      JOIN t ON t.doc_id = ts.doc_id
    )
    SELECT doc_id, top_tok_frac, dup_tok_frac, top_bigram_frac,
           dup_bigram_frac, {frac_names},
           ({gate_terms}) AS keep
    FROM fr
    """

# ---------------------------------------------------------------------------
# Cross-document duplicate substrings (ExactSubstr-style)
# ---------------------------------------------------------------------------

CROSSDOC_WINDOW = 8      # tokens; same width precedent as decontaminate()
CROSSDOC_MAX_FRAC = 0.5  # keep gate: duplicated-token coverage ceiling


def _hashed_windows(docs: DataFrame, window: int):
    """Shared front end of the crossdoc operators: (toked, wins) where
    toked = (doc_id, text, toks) with lineage truncated, and wins =
    (doc_id, pos, g64) — every length-`window` token window reduced
    in-codegen to xxhash64 of the sliced token array, so only 8-byte longs
    ever ride the downstream exchanges (same equality-class compression
    and ~1e-9 collision caveat as repetition_stats)."""
    toked = _spread(docs).select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    toks = F.col("toks")
    wins = toked.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= window,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - window),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(F.slice(toks, i + 1, window)).alias("g64"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,g64:bigint>>"))
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.g64").alias("g64"))
    return toked, wins


def _interval_islands(pos_df: DataFrame, window: int) -> DataFrame:
    """(doc_id, pos) window starts → (doc_id, isl, lo, hi) interval-union
    islands, where each window covers [pos, pos + window). A window starts
    a new island iff it begins at/after every previous window's end
    (adjacent-but-disjoint islands sum identically, so only true overlap
    is merged)."""
    w_ord = W.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + window).over(
        w_ord.rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        pos_df.withColumn(
            "new_isl",
            F.when(
                prev_max_end.isNull() | (F.col("pos") >= prev_max_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(w_ord.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("lo"),
            F.max(F.col("pos") + window).alias("hi"),  # exclusive
        )
    )


def crossdoc_substrings(
    docs: DataFrame,
    window: int = CROSSDOC_WINDOW,
    min_docs: int = 2,
    max_frac: float = CROSSDOC_MAX_FRAC,
) -> DataFrame:
    """Cross-document duplicated-substring coverage + keep gate — the
    ExactSubstr half of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499): document-level
    dedup (exact_duplicates / minhash) misses a boilerplate PARAGRAPH
    pasted into thousands of otherwise-unique pages; substring-level
    dedup catches it. The paper builds a corpus suffix array to find
    variable-length duplicate spans; the distributed form here is the
    fixed-window equivalence: a span of length >= `window` is duplicated
    across docs iff ALL its length-`window` token windows are, so
    window-level matching recovers exactly the >= window-token
    duplicated coverage.

    Per doc:
      n_tok           — whitespace token count
      n_windows       — token windows of length `window`
      n_dup_windows   — windows also present in >= min_docs-1 OTHER docs
      dup_tokens      — tokens covered by >= 1 duplicated window
                        (overlapping windows merged interval-union style,
                        so a token is never counted twice)
      dup_token_frac  — dup_tokens / n_tok
      keep            — dup_token_frac <= max_frac

    100 TB shape: windows ride the exchanges as 8-byte longs
    (_hashed_windows); the global duplicate-window set is ONE (g64)
    hash-aggregate with map-side partial distinct-doc counts, fed back by
    a semi-join on the 8-byte key; coverage is one per-doc window (single
    doc_id shuffle) doing an interval-union gaps-and-islands pass.
    Everything is O(total tokens) rows — no pairwise term anywhere,
    unlike the pairs-producing dedup family, so duplicate-heavy corpora
    cannot blow it up (B copies of a page contribute B window rows, not
    B^2 candidates)."""
    toked, wins = _hashed_windows(docs, window)
    toks = F.col("toks")
    dup_keys = (
        wins.groupBy("g64")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g64")
    )
    dup_pos = wins.join(dup_keys, "g64", "leftsemi")
    per_doc_dup = (
        _interval_islands(dup_pos, window)
        .groupBy("doc_id")
        .agg(F.sum(F.col("hi") - F.col("lo")).alias("dup_tokens"))
    )
    n_dup = dup_pos.groupBy("doc_id").agg(F.count("*").alias("n_dup_windows"))
    base = toked.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.greatest(F.size(toks) - window + 1, F.lit(0)).alias("n_windows"),
    )
    return (
        base.join(n_dup, "doc_id", "left")
        .join(per_doc_dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.coalesce(
                F.round(F.col("dup_tokens") / F.col("n_tok"), 6), F.lit(0.0)
            ).alias("dup_token_frac"),
        )
        .withColumn("keep", F.col("dup_token_frac") <= max_frac)
    )


def crossdoc_cut(
    docs: DataFrame,
    window: int = CROSSDOC_WINDOW,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-substring REMOVAL — the actual treatment
    in Lee et al. 2022 (arXiv:2107.06499 §4: ExactSubstr "deduplicates two
    documents by removing one of the duplicated spans", rather than
    dropping whole documents as the crossdoc_substrings gate does). Every
    duplicated window names a canonical owner (the minimum doc_id sharing
    it — deterministic, no RNG); the owner's occurrence interval is
    PROTECTED, and every other doc has its unprotected duplicated
    intervals cut. Protection is positional: a doc never cuts a token
    covered by a window it owns, so every duplicated window provably
    survives in at least its owner doc even when duplicated spans with
    different owners overlap (per-window ownership with naive
    interval-union cutting can delete every copy: if the owner's
    occurrence is itself inside a span owned by another doc, both copies
    would be cut — the sweep below subtracts owned coverage first).

    Output per doc:
      clean_text  — docs with nothing to cut pass their text through
                    VERBATIM; cut docs are rebuilt from the surviving
                    tokens (token-boundary exact, single-space rejoin —
                    whitespace inside a cut doc is normalized, the
                    tokenizer being \\s+-based)
      n_cut       — tokens removed
      kept_copy   — true iff this doc owns at least one duplicated window

    100 TB shape: identical exchange discipline to crossdoc_substrings
    (_hashed_windows longs, one global (g64) aggregate now also carrying
    min(doc_id)); the owned/non-owned coverage subtraction is a single
    per-doc event sweep (±1 deltas at interval ends, two running sums,
    one doc_id shuffle); the cut itself is a JVM higher-order filter over
    the token array — no Python, text never explodes."""
    toked, wins = _hashed_windows(docs, window)
    toks = F.col("toks")
    dup_keys = (
        wins.groupBy("g64")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("nd") >= min_docs)
        .select("g64", "owner")
    )
    tagged = wins.join(dup_keys, "g64").select(
        "doc_id",
        "pos",
        (F.col("doc_id") == F.col("owner")).alias("is_owner"),
    )
    owned = (
        tagged.filter("is_owner").select("doc_id").distinct()
        .withColumn("kept_copy", F.lit(True))
    )
    # event sweep: +1/-1 deltas at [pos, pos+window) boundaries, summed per
    # (doc, position) so tie order cannot matter, then two running
    # coverage counts; a segment [pos, next_pos) is cut iff it is covered
    # by >= 1 NON-owned duplicated window and 0 owned ones
    delta_no = F.when(~F.col("is_owner"), F.col("d")).otherwise(0)
    delta_ow = F.when(F.col("is_owner"), F.col("d")).otherwise(0)
    events = (
        tagged.select(
            "doc_id", "is_owner", F.col("pos").alias("p"), F.lit(1).alias("d")
        )
        .unionByName(
            tagged.select(
                "doc_id",
                "is_owner",
                (F.col("pos") + window).alias("p"),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("doc_id", "p")
        .agg(
            F.sum(delta_no).alias("dn"),
            F.sum(delta_ow).alias("dow"),
        )
    )
    w_ord = W.partitionBy("doc_id").orderBy("p")
    run = w_ord.rowsBetween(W.unboundedPreceding, 0)
    swept = events.select(
        "doc_id",
        F.col("p").alias("lo"),
        F.lead("p").over(w_ord).alias("hi"),
        F.sum("dn").over(run).alias("n_cov"),
        F.sum("dow").over(run).alias("o_cov"),
    ).filter(
        F.col("hi").isNotNull()
        & (F.col("n_cov") > 0)
        & (F.col("o_cov") == 0)
    )
    ranges = swept.groupBy("doc_id").agg(
        F.collect_list(F.struct("lo", "hi")).alias("cuts"),
        F.sum(F.col("hi") - F.col("lo")).alias("n_cut"),
    )
    joined = toked.join(ranges, "doc_id", "left").join(owned, "doc_id", "left")
    keep_tok = lambda pair: ~F.exists(  # noqa: E731
        F.col("cuts"), lambda c: (pair["i"] >= c["lo"]) & (pair["i"] < c["hi"])
    )
    cleaned = F.when(F.col("cuts").isNull(), F.col("text")).otherwise(
        F.array_join(
            F.transform(
                F.filter(
                    F.transform(
                        toks,
                        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
                    ),
                    keep_tok,
                ),
                lambda p: p["t"],
            ),
            " ",
        )
    )
    return joined.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.coalesce("n_cut", F.lit(0)).alias("n_cut"),
        F.coalesce("kept_copy", F.lit(False)).alias("kept_copy"),
    )


def _windows_cte(window: int, docs_cte: str) -> str:
    """Shared SQL front end of the crossdoc oracle mirrors: src/t/w CTE
    bodies producing (doc_id, pos, gram) — gram STRINGS as the equality
    classes (the Spark side's hash is only a compression, so string
    grouping reproduces the same aggregates)."""
    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""src AS ({docs_cte}),
    t AS (SELECT doc_id, text, {toks} AS toks FROM src),
    w AS (SELECT doc_id, i.i AS pos,
                 array_to_string(toks[i.i : i.i + {window - 1}], ' ') AS gram
          FROM t, LATERAL (SELECT UNNEST(generate_series(
                 1, len(toks) - {window - 1})) AS i) i)"""


def crossdoc_substrings_sql(
    window: int = CROSSDOC_WINDOW,
    min_docs: int = 2,
    max_frac: float = CROSSDOC_MAX_FRAC,
    docs_cte: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB mirror of crossdoc_substrings. `docs_cte` lets the contract
    query feed the contamination-injected corpus."""
    return f"""
    WITH {_windows_cte(window, docs_cte)},
    d AS (SELECT gram FROM w GROUP BY gram
          HAVING count(DISTINCT doc_id) >= {min_docs}),
    p AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {window}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR pos >= max(pos + {window}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_isl
      FROM p),
    isl2 AS (
      SELECT doc_id, pos,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM isl),
    cov AS (
      SELECT doc_id, sum(covered) AS dup_tokens FROM (
        SELECT doc_id, isl, max(pos + {window}) - min(pos) AS covered
        FROM isl2 GROUP BY doc_id, isl) GROUP BY doc_id),
    nd AS (SELECT doc_id, count(*) AS n_dup_windows FROM p GROUP BY doc_id),
    base AS (SELECT doc_id, len(toks) AS n_tok,
                    greatest(len(toks) - {window - 1}, 0) AS n_windows
             FROM t)
    SELECT b.doc_id,
           CAST(b.n_tok AS BIGINT) AS n_tok,
           CAST(b.n_windows AS BIGINT) AS n_windows,
           CAST(COALESCE(nd.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           COALESCE(round(cov.dup_tokens * 1.0 / b.n_tok, 6), 0.0)
             AS dup_token_frac,
           (COALESCE(round(cov.dup_tokens * 1.0 / b.n_tok, 6), 0.0)
             <= {max_frac}) AS keep
    FROM base b
    LEFT JOIN nd ON nd.doc_id = b.doc_id
    LEFT JOIN cov ON cov.doc_id = b.doc_id
    """


def crossdoc_cut_sql(
    window: int = CROSSDOC_WINDOW,
    min_docs: int = 2,
    docs_cte: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB mirror of crossdoc_cut — the same owned/non-owned event
    sweep over gram strings; untouched docs pass text through verbatim."""
    return f"""
    WITH {_windows_cte(window, docs_cte)},
    d AS (SELECT gram, min(doc_id) AS owner FROM w GROUP BY gram
          HAVING count(DISTINCT doc_id) >= {min_docs}),
    tagged AS (SELECT w.doc_id, w.pos, (w.doc_id = d.owner) AS is_owner
               FROM w JOIN d USING (gram)),
    owned AS (SELECT DISTINCT doc_id FROM tagged WHERE is_owner),
    events AS (
      SELECT doc_id, p,
             sum(CASE WHEN NOT is_owner THEN dd ELSE 0 END) AS dn,
             sum(CASE WHEN is_owner THEN dd ELSE 0 END) AS dow
      FROM (
        SELECT doc_id, is_owner, pos AS p, 1 AS dd FROM tagged
        UNION ALL
        SELECT doc_id, is_owner, pos + {window} AS p, -1 AS dd FROM tagged)
      GROUP BY doc_id, p),
    swept AS (
      SELECT doc_id, p AS lo,
             lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS hi,
             sum(dn) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cov,
             sum(dow) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS o_cov
      FROM events),
    rng AS (SELECT doc_id, lo, hi FROM swept
            WHERE hi IS NOT NULL AND n_cov > 0 AND o_cov = 0),
    cut_stats AS (SELECT doc_id, sum(hi - lo) AS n_cut FROM rng
                  GROUP BY doc_id),
    toks_pos AS (
      SELECT t.doc_id, p.i AS pos, toks[p.i] AS tok
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks))) AS i) p
      WHERE t.doc_id IN (SELECT doc_id FROM cut_stats)),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM toks_pos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM rng r
        WHERE r.doc_id = tp.doc_id
          AND tp.pos >= r.lo AND tp.pos < r.hi)),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CASE WHEN cs.doc_id IS NULL THEN t.text
                ELSE COALESCE(rb.clean_text, '') END AS clean_text,
           CAST(COALESCE(cs.n_cut, 0) AS BIGINT) AS n_cut,
           (ow.doc_id IS NOT NULL) AS kept_copy
    FROM t
    LEFT JOIN rebuilt rb ON rb.doc_id = t.doc_id
    LEFT JOIN cut_stats cs ON cs.doc_id = t.doc_id
    LEFT JOIN owned ow ON ow.doc_id = t.doc_id
    """


# ---------------------------------------------------------------------------
# Gopher document-level quality rules (Rae et al. 2021, table A1 — the
# NON-repetition half; `repetition_stats` covers the repetition half).
# Published rule set, applied verbatim:
#   word count in [50, 100_000]; mean word length in [3, 10]; symbol-to-
#   word ratio (# or ...) <= 0.1; < 90% of lines bullet-started; < 30% of
#   lines ellipsis-ended; >= 80% of words contain an alphabetic char;
#   >= 2 of the required stop words {the, be, to, of, and, that, have,
#   with}. No reference analogue (NewOCR has no curation ops).
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _with_gopher_page(docs: DataFrame) -> DataFrame:
    """Deterministically synthesize a multi-line page per doc so every
    Gopher rule fires on a known slice of the corpus (the synthetic word
    soup is one short line: the line rules would be vacuous and the
    50-word floor would drop everything). Every line is a pure function
    of (doc_id, text) so the oracle rebuilds the identical page in SQL.

    cls = doc_id % 53 picks ONE violation class (classes are mutually
    exclusive by construction; ~2% of docs each at sf0.01):
      1 every line bullet-prefixed      -> fails ok_bullet_lines
      2 three of five lines end '...'   -> fails ok_ellipsis_lines
      3 a line of L '#' marks           -> fails ok_symbol_ratio only
        (alpha fraction stays >= (5L+4)/(6L+5) > 0.8)
      4 2L numeric words                -> fails ok_alpha_words only
      5 stop-word tail omitted          -> fails ok_stopwords (the soup
        vocabulary contains only 'the' from the required set)
      6 five-word page                  -> fails ok_word_count
      7 5L single-char words            -> fails ok_mean_word_len (< 3)
      else a five-line page (one bullet line, one ' of and that have'
        tail) that passes every rule."""
    u = _tokens(F.col("text"))
    L = F.size(u)
    body = F.array_join(u, " ")
    bullet = lambda line: F.concat(F.lit("- "), line)
    dots = lambda line: F.concat(line, F.lit("..."))
    l2 = bullet(body)
    l3 = F.concat(body, F.lit(" of and that have"))
    five = [body, l2, l3, body, body]
    blob = lambda word, n: F.array_join(F.array_repeat(F.lit(word), n), " ")
    cls = F.col("doc_id") % 53
    page = (
        F.when(cls == 1, F.concat_ws("\n", *[bullet(x) for x in five]))
        .when(cls == 2, F.concat_ws("\n", dots(body), l2, dots(l3), dots(body), body))
        .when(cls == 3, F.concat_ws("\n", *five, blob("#", L)))
        .when(cls == 4, F.concat_ws("\n", *five, blob("12345", 2 * L)))
        .when(cls == 5, F.concat_ws("\n", body, l2, body, body, body))
        .when(cls == 6, F.array_join(F.slice(u, 1, 5), " "))
        .when(cls == 7, F.concat_ws("\n", *five, blob("x", 5 * L)))
        .otherwise(F.concat_ws("\n", *five))
    )
    return docs.select("doc_id", page.alias("text"))


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, table A1,
    quality-filter half) over (doc_id, text) pages.

    Output: (doc_id, n_words, n_lines, mean_word_len, symbol_frac,
    bullet_frac, ellipsis_frac, alpha_frac, req_stopwords, ok_word_count,
    ok_mean_word_len, ok_symbol_ratio, ok_bullet_lines, ok_ellipsis_lines,
    ok_alpha_words, ok_stopwords, keep).

    Every gate is EXACT INTEGER arithmetic (10*n_sym <= n_words, not
    n_sym/n_words <= 0.1) so Spark and DuckDB cannot disagree on a float
    boundary; the fractional columns are 6-dp-rounded REPORTS, never
    inputs to a decision.

    100 TB shape: one narrow in-codegen projection per doc — split /
    higher-order filter / aggregate / regexp_count are all JVM
    expressions, so there is no shuffle, no Python, and only (doc_id,
    text) in the scan. Like `c4_clean` this is a cheapest-first gate:
    compose it BEFORE any dedup/LSH stage so quadratic-adjacent stages
    never see the spam it drops."""
    w = _tokens(F.col("text"))
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(w).cast("long")
    word_chars = F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    n_hash = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
    ).cast("long")
    n_ellipsis = F.regexp_count(F.col("text"), F.lit(r"\.\.\.")).cast("long")
    n_sym = n_hash + n_ellipsis
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(F.filter(lines, lambda l: l.startswith("- "))).cast("long")
    n_ellip_lines = F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("long")
    req = F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
    n_req = F.size(F.array_intersect(req, w)).cast("long")
    ok_word_count = (n_words >= 50) & (n_words <= 100000)
    ok_mean_word_len = (3 * n_words <= word_chars) & (word_chars <= 10 * n_words)
    ok_symbol_ratio = 10 * n_sym <= n_words
    ok_bullet_lines = 10 * n_bullet < 9 * n_lines
    ok_ellipsis_lines = 10 * n_ellip_lines < 3 * n_lines
    ok_alpha_words = 5 * n_alpha >= 4 * n_words
    ok_stopwords = n_req >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        F.round(word_chars / n_words, 6).alias("mean_word_len"),
        F.round(n_sym / n_words, 6).alias("symbol_frac"),
        F.round(n_bullet / n_lines, 6).alias("bullet_frac"),
        F.round(n_ellip_lines / n_lines, 6).alias("ellipsis_frac"),
        F.round(n_alpha / n_words, 6).alias("alpha_frac"),
        n_req.alias("req_stopwords"),
        ok_word_count.alias("ok_word_count"),
        ok_mean_word_len.alias("ok_mean_word_len"),
        ok_symbol_ratio.alias("ok_symbol_ratio"),
        ok_bullet_lines.alias("ok_bullet_lines"),
        ok_ellipsis_lines.alias("ok_ellipsis_lines"),
        ok_alpha_words.alias("ok_alpha_words"),
        ok_stopwords.alias("ok_stopwords"),
        (
            ok_word_count
            & ok_mean_word_len
            & ok_symbol_ratio
            & ok_bullet_lines
            & ok_ellipsis_lines
            & ok_alpha_words
            & ok_stopwords
        ).alias("keep"),
    )


def gopher_quality_sql() -> str:
    """Full oracle: identical page synthesis + identical integer gates."""
    nl = "chr(10)"
    five = (
        f"body || {nl} || '- ' || body || {nl} || body || ' of and that have' "
        f"|| {nl} || body || {nl} || body"
    )
    req = list(GOPHER_REQUIRED_STOPWORDS)
    return f"""
    WITH u AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS toks,
             array_to_string(string_split_regex(trim(text), '\\s+'), ' ') AS body,
             len(string_split_regex(trim(text), '\\s+')) AS L
      FROM documents),
    pages AS (
      SELECT doc_id,
        CASE doc_id % 53
          WHEN 1 THEN '- ' || body || {nl} || '- - ' || body || {nl}
                      || '- ' || body || ' of and that have' || {nl}
                      || '- ' || body || {nl} || '- ' || body
          WHEN 2 THEN body || '...' || {nl} || '- ' || body || {nl}
                      || body || ' of and that have...' || {nl}
                      || body || '...' || {nl} || body
          WHEN 3 THEN {five} || {nl} || rtrim(repeat('# ', L))
          WHEN 4 THEN {five} || {nl} || rtrim(repeat('12345 ', 2 * L))
          WHEN 5 THEN body || {nl} || '- ' || body || {nl} || body
                      || {nl} || body || {nl} || body
          WHEN 6 THEN array_to_string(toks[1:5], ' ')
          WHEN 7 THEN {five} || {nl} || rtrim(repeat('x ', 5 * L))
          ELSE {five}
        END AS text
      FROM u),
    feat AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS w,
             string_split(text, chr(10)) AS lines,
             text
      FROM pages),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS word_chars,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(length(text) - length(replace(text, '#', ''))
                  + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l -> starts_with(l, '- '))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ellip,
             CAST(len(list_intersect({req!r}::VARCHAR[], w)) AS BIGINT) AS n_req
      FROM feat)
    SELECT doc_id, n_words, n_lines,
           round(word_chars * 1.0 / n_words, 6) AS mean_word_len,
           round(n_sym * 1.0 / n_words, 6) AS symbol_frac,
           round(n_bullet * 1.0 / n_lines, 6) AS bullet_frac,
           round(n_ellip * 1.0 / n_lines, 6) AS ellipsis_frac,
           round(n_alpha * 1.0 / n_words, 6) AS alpha_frac,
           n_req AS req_stopwords,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (3 * n_words <= word_chars AND word_chars <= 10 * n_words) AS ok_mean_word_len,
           (10 * n_sym <= n_words) AS ok_symbol_ratio,
           (10 * n_bullet < 9 * n_lines) AS ok_bullet_lines,
           (10 * n_ellip < 3 * n_lines) AS ok_ellipsis_lines,
           (5 * n_alpha >= 4 * n_words) AS ok_alpha_words,
           (n_req >= 2) AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
            AND 10 * n_sym <= n_words
            AND 10 * n_bullet < 9 * n_lines
            AND 10 * n_ellip < 3 * n_lines
            AND 5 * n_alpha >= 4 * n_words
            AND n_req >= 2) AS keep
    FROM m
    """


SOURCE_QUOTA_K = 10


def source_quota(docs: DataFrame, k: int = SOURCE_QUOTA_K) -> DataFrame:
    """Per-source quality quota: keep (up to) the K best-scoring docs of
    each source — the cap a corpus owner applies to stop one over-crawled
    domain from dominating the mixture (the per-domain page-count caps in
    C4/Gopher-style pipelines), with `unigram_logprob`'s CCNet LM score
    deciding WHICH pages survive the cap rather than crawl order.
    (`doc_quality`'s bounded score saturates at 1.0 on clean prose —
    corpus-wide ties would make the cap vacuous; the LM score's 6-dp
    values are near-unique.)

    keep is exact-integer rank logic at VALUE granularity: a doc is kept
    iff strictly fewer than k same-source docs score above its 6-dp
    logprob — ties share fate (a tie straddling the cap admits the whole
    tie, documented and deterministic; no RNG tiebreak for two engines to
    disagree on).

    Output: (doc_id, source, logprob, n_better, keep).

    100 TB shape: the `quality_buckets` histogram discipline applied
    per source — docs reduce to a (source, logprob) histogram first
    (6-dp rounding bounds the key space regardless of corpus size), the
    only ORDER BY window runs over that tiny value frame partitioned by
    source (never over docs, so a billion-page domain costs the same
    window as a thousand-page one), and the per-value verdicts broadcast
    back onto the doc frame. No global or per-source sort of docs
    anywhere."""
    lp = unigram_logprob(docs).select("doc_id", "logprob")
    scored = docs.select("doc_id", "source").join(lp, "doc_id")
    vals = scored.groupBy("source", "logprob").agg(F.count("*").alias("cnt"))
    ranked = value_rank(vals, "logprob", ("source",)).withColumnRenamed(
        "n_above", "n_better"
    )
    return scored.join(F.broadcast(ranked), ["source", "logprob"]).select(
        "doc_id",
        "source",
        "logprob",
        F.col("n_better").cast("long").alias("n_better"),
        (F.col("n_better") < k).alias("keep"),
    )


def source_quota_sql(k: int = SOURCE_QUOTA_K) -> str:
    """Oracle: the identical per-source value histogram and rank rule."""
    return f"""
    WITH lp AS ({unigram_logprob_sql()}),
    scored AS (
      SELECT d.doc_id, d.source, lp.logprob
      FROM documents d JOIN lp USING (doc_id)
    ),
    vals AS (
      SELECT source, logprob, count(*) AS cnt
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, logprob,
             sum(cnt) OVER (PARTITION BY source
                            ORDER BY logprob DESC
                            ROWS UNBOUNDED PRECEDING) - cnt AS n_better
      FROM vals
    )
    SELECT s.doc_id, s.source, s.logprob,
           CAST(r.n_better AS BIGINT) AS n_better,
           r.n_better < {k} AS keep
    FROM scored s JOIN ranked r USING (source, logprob)
    """


def source_kl(docs: DataFrame) -> DataFrame:
    """Per-source vocabulary drift: KL(P_source || P_corpus) over unigram
    distributions, in nats — the single-number "how far is this source's
    token distribution from the mixture" panel a corpus owner reads next
    to `source_mix` and `vocab_stats` before setting mixing weights
    (domain-shift measurement via token-distribution KL is the standard
    check in data-selection work, e.g. the importance-weight denominators
    in DSIR, Xie et al. 2023). A templated or machine-generated source
    shows high KL (mass on few tokens); a source matching the mixture
    shows ~0.

    KL is exact (no smoothing needed): every source token is in the
    corpus vocabulary by construction, so P_corpus > 0 wherever
    P_source > 0.

    Output: (source, n_tokens, n_types, kl_nats) — 6-dp rounded.

    100 TB shape: tokens reduce to (source, tok) counts FIRST (one
    hash-aggregate with map-side partials — the `vocab_stats` shape);
    the corpus vocabulary derives from that same reduced frame, joins
    back on tok (stopword skew carries one row per distinct pair, not
    per occurrence), and per-source sums + the single-row corpus total
    ride broadcasts. Text never rides an exchange; no window, no sort."""
    st = (
        docs.select(
            "source", F.explode(_tokens(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c_st"))
    )
    vocab = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    stot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = vocab.agg(F.sum("c_t").alias("n"))
    return (
        st.join(vocab, "tok")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.first("n_s").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            F.round(
                F.sum(
                    (F.col("c_st") / F.col("n_s"))
                    * F.log(
                        (F.col("c_st") / F.col("n_s"))
                        / (F.col("c_t") / F.col("n"))
                    )
                ),
                6,
            ).alias("kl_nats"),
        )
    )


def source_kl_sql() -> str:
    """Oracle: identical (source, tok) reduction and exact KL in DuckDB."""
    return """
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    st AS (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY tok),
    stot AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
    tot AS (SELECT sum(c_t) AS n FROM vocab)
    SELECT st.source,
           CAST(any_value(stot.n_s) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(sum((st.c_st * 1.0 / stot.n_s)
                     * ln((st.c_st * 1.0 / stot.n_s)
                          / (vocab.c_t * 1.0 / tot.n))), 6) AS kl_nats
    FROM st
    JOIN vocab USING (tok)
    JOIN stot USING (source), tot
    GROUP BY st.source
    """


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-label audit: confusion matrix between the corpus's
    DECLARED `lang` column (crawl metadata — HTTP headers, HTML lang
    attributes, upstream tags) and `lang_id`'s content-based prediction.
    Mislabeled slices are a classic corpus defect (a "de" shard full of
    English boilerplate), and the per-(declared, predicted) counts with
    within-declared-language rates are the table an owner reads to decide
    which labels to trust before language-stratified sampling or
    per-language mixing.

    Output: (lang, lang_pred, n_docs, frac_of_lang) — frac_of_lang is
    the row's share of its declared language, 6-dp.

    100 TB shape: lang_id is a narrow in-codegen projection (stopword
    intersections + a literal CASE fold); the matrix is ONE (lang,
    lang_pred) hash-aggregate with map-side partials over label-pair
    cardinality (languages²), and the per-language denominators ride a
    broadcast equi-join on the tiny matrix itself — text never shuffles,
    no window, no sort."""
    pred = lang_id(docs).select("doc_id", "lang_pred")
    labeled = docs.select("doc_id", "lang").join(pred, "doc_id")
    cm = labeled.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n_docs")
    )
    per_lang = cm.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return (
        cm.join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "lang_pred",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("n_lang"), 6).alias(
                "frac_of_lang"
            ),
        )
    )


def lang_confusion_sql() -> str:
    """Oracle: lang_id's SQL fold joined back to the declared labels."""
    return f"""
    WITH pred AS ({lang_id_sql()}),
    labeled AS (
      SELECT d.lang, p.lang_pred FROM documents d JOIN pred p USING (doc_id)
    ),
    cm AS (
      SELECT lang, lang_pred, count(*) AS n_docs
      FROM labeled GROUP BY 1, 2
    ),
    per_lang AS (SELECT lang, sum(n_docs) AS n_lang FROM cm GROUP BY lang)
    SELECT cm.lang, cm.lang_pred, CAST(cm.n_docs AS BIGINT) AS n_docs,
           round(cm.n_docs * 1.0 / per_lang.n_lang, 6) AS frac_of_lang
    FROM cm JOIN per_lang USING (lang)
    """

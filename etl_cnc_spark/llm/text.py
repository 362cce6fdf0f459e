"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.10).

All pure relational / higher-order-function compositions — the whole
module runs JVM-side (no Python UDFs), so every operator keeps
whole-stage codegen and scales linearly with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..utils import pairwise_set_overlap, q4, sql_pairwise_set_overlap, sql_q4

# A tiny function-word list for the language-ID heuristic. The
# fixture corpus is a synthetic word salad, so the *predictions* are
# arbitrary — the point is the scoring machinery (stopword-ratio
# n-gram heuristic), which is what a real pipeline would swap lists
# into.
EN_STOPWORDS = ["the", "of", "and", "a", "in", "to", "is", "on", "for", "with"]


@register(
    "text_stats",
    oracle="""
    WITH words AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), wstats AS (
        SELECT lang, count(*) AS n_words, count(DISTINCT w) AS n_distinct_words
        FROM words GROUP BY lang
    ), dstats AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS DOUBLE)/count(*) AS avg_chars
        FROM documents GROUP BY lang
    )
    SELECT d.lang, n_docs, avg_chars, n_words, n_distinct_words
    FROM dstats d JOIN wstats w ON d.lang = w.lang
    """,
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, avg length, word
    counts, vocabulary size (explode → two hash aggregates)."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    wstats = words.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.countDistinct("w").alias("n_distinct_words"),
    )
    dstats = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
    )
    return dstats.join(wstats, "lang").select(
        "lang", "n_docs", "avg_chars", "n_words", "n_distinct_words"
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
               CAST(t.tf AS DOUBLE) * ln((n.n + 1.0)/(d.df + 1.0)) AS tfidf
        FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, term, tf, df, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS BIGINT) AS rn
        FROM scored WHERE doc_id < 20
    )
    SELECT doc_id, term, tf, df, {sql_q4("tfidf")} AS tfidf, rn
    FROM ranked WHERE rn <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term ranking, pure relational algebra (preferred over
    ml.feature.IDF whose smoothing differs — SURVEY §2.10): term
    frequencies, document frequencies, idf = ln((N+1)/(df+1)), top-5
    terms per doc for the first 20 docs."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .where(F.col("doc_id") < 20)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "df", q4(F.col("tfidf")).alias("tfidf"), "rn")
    )


@register(
    "text_lang_profile",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE)/count(*) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(language, source) corpus profile."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           {sql_q4("CAST(len(list_filter(string_split(text, ' '),"
                   f" x -> x IN ({_STOP_SQL})) ) AS DOUBLE)"
                   " / len(string_split(text, ' '))")} AS en_score,
           (CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ({_STOP_SQL}))) AS DOUBLE)
            / len(string_split(text, ' ')) >= 0.02) AS pred_en
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit ratio per document (the
    n-gram-profile family of detectors, reduced to one feature). A
    real pipeline swaps in per-language function-word lists and takes
    the argmax; the machinery (higher-order filter, ratio, threshold)
    is identical."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    hits = F.size(F.filter(words, lambda x: x.isin(*EN_STOPWORDS)))
    score = hits.cast("double") / F.size(words)
    return d.select(
        "doc_id",
        "lang",
        q4(score).alias("en_score"),
        (score >= 0.02).alias("pred_en"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_words,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                    w -> CAST(length(w) AS BIGINT)), 'sum') AS BIGINT) AS sum_word_len,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ({_STOP_SQL}))) AS BIGINT) AS n_stop
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           {sql_q4("CAST(sum_word_len AS DOUBLE)/n_words")} AS avg_word_len,
           {sql_q4("CAST(n_stop AS DOUBLE)/n_words")} AS stop_ratio,
           {sql_q4("0.5 * least(CAST(n_words AS DOUBLE)/100.0, 1.0)"
                   " + 0.3 * (1.0 - least(CAST(sum_word_len AS DOUBLE)/n_words/10.0, 1.0))"
                   " + 0.2 * least(10.0*(CAST(n_stop AS DOUBLE)/n_words), 1.0)")}
             AS quality_score
    FROM feat
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, mean word length, stopword
    ratio, combined into a bounded [0,1] score — the standard
    pre-training filter-feature shape (each term is a clamped ratio,
    so the score is scale-free)."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(F.filter(words, lambda x: x.isin(*EN_STOPWORDS))).cast("long")
    awl = sum_word_len.cast("double") / n_words
    sr = n_stop.cast("double") / n_words
    score = (
        0.5 * F.least(n_words / F.lit(100.0), F.lit(1.0))
        + 0.3 * (F.lit(1.0) - F.least(awl / F.lit(10.0), F.lit(1.0)))
        + 0.2 * F.least(F.lit(10.0) * sr, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        q4(awl).alias("avg_word_len"),
        q4(sr).alias("stop_ratio"),
        q4(score).alias("quality_score"),
    )


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                w -> CAST((length(w) + 3) // 4 AS BIGINT)), 'sum') AS BIGINT)
             AS n_subword_tokens
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish subword
    estimate (⌈len/4⌉ chunks per word — the usual chars-per-token
    budget heuristic). Pure integer arithmetic, exact on both
    engines."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    sub = F.aggregate(
        F.transform(words, lambda w: ((F.length(w) + 3) / 4).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_ws_tokens"),
        sub.alias("n_subword_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH sh AS (
        SELECT doc_id, unnest(
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    SELECT doc_id, min(md5(s)) AS fingerprint,
           substring(min(md5(s)), 1, 8) AS fp_short
    FROM sh GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum hash over rolling 3-gram
    shingles (a 1-permutation MinHash — the winnowing/fingerprint
    family). md5 keeps it engine-deterministic; docs sharing a
    fingerprint are near-dup candidates."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 3 guard: Spark's sequence(1, 0) DESCENDS (element_at 0
    # throws); short docs have no trigrams, same as the oracle.
    sh = w.where(F.size("w") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2), i -> concat_ws(' ',"
                " element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))"
            )
        ).alias("s"),
    )
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("s")).alias("fingerprint"),
        F.substring(F.min(F.md5("s")), 1, 8).alias("fp_short"),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase → strip non-alnum →
    collapse whitespace → trim. The standard pre-dedup/pre-tokenize
    stage; row-local regex work inside codegen, linear at any scale."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select(
        "doc_id", norm.alias("norm_text"), F.length(norm).cast("long").alias("norm_len")
    )


@register(
    "text_pii_mask",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1 555 0' || CAST(doc_id AS VARCHAR) AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
             '[0-9]+', '<NUM>', 'g') AS masked
    FROM w
    """,
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking: emails then digit runs replaced by placeholder
    tokens (the standard pre-training scrub pass). Row-local regex
    rewriting inside codegen — linear at any corpus size. Emails and
    phone-ish digits are synthesized deterministically per row so the
    masking actually fires on every document."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555 0"),
        F.col("doc_id").cast("string"),
    )
    masked = F.regexp_replace(
        F.regexp_replace(raw, "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "<EMAIL>"),
        "[0-9]+",
        "<NUM>",
    )
    return d.select("doc_id", masked.alias("masked"))


@register(
    "text_bigram_freq",
    oracle="""
    WITH sh AS (
      SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      FROM (SELECT string_split(text, ' ') AS w FROM documents)
    ), counts AS (SELECT bg, count(*) AS n FROM sh GROUP BY bg),
    ranked AS (
      SELECT bg, n,
             CAST(row_number() OVER (ORDER BY n DESC, bg) AS BIGINT) AS rn
      FROM counts
    )
    SELECT bg, n, rn FROM ranked WHERE rn <= 50
    """,
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table (top 50, count-then-bigram
    ordered): the n-gram language-model / contamination-check
    building block. Explode → one aggregate → global top-k
    (TakeOrderedAndProject, no full sort)."""
    d = table(spark, sf_dir, "documents")
    w = d.select(F.split("text", " ").alias("w"))
    # size >= 2 guard: sequence(1, 0) descends and element_at(w, 0)
    # throws; single-token docs have no bigrams (oracle range is empty).
    sh = w.where(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg")
    )
    counts = sh.groupBy("bg").agg(F.count(F.lit(1)).alias("n"))
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-
    # partition top-k + driver merge), THEN rank the surviving 50
    # rows with the range-partitioned parallel rank helper — the
    # full vocab never meets any global ordering stage.
    from ..operators.prefix import global_ordered

    top = counts.orderBy(F.col("n").desc(), "bg").limit(50).localCheckpoint(eager=False)
    return global_ordered(
        top,
        [F.col("n").desc(), F.col("bg")],
        bucket_key="n",
        bucket_desc=True,
        rank_col="rn",
    )


@register(
    "text_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), doc_bg AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      FROM toks
    ), uni AS (
      SELECT unnest(w) AS tok FROM toks
    ), uni_cnt AS (
      SELECT tok, count(*) AS uc FROM uni GROUP BY tok
    ), bg_cnt AS (
      SELECT bg, count(*) AS bc FROM doc_bg GROUP BY bg
    ), scored AS (
      SELECT d.doc_id,
             CAST(floor(ln(CAST(b.bc AS DOUBLE) / CAST(u.uc AS DOUBLE))
                        * 1e6) AS BIGINT) AS lp_micro
      FROM doc_bg d
      JOIN bg_cnt b ON b.bg = d.bg
      JOIN uni_cnt u ON u.tok = string_split(d.bg, ' ')[1]
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro_sum,
           CAST(SUM(lp_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS avg_lp_micro
    FROM scored GROUP BY doc_id
    """,
    notes="cross-engine ln() agrees to ~1 ulp (StrictMath vs libm); "
    "floor(x*1e6) flip probability per value ~1e-10 — accepted, and "
    "the per-doc SUM is exact BIGINT so no order sensitivity.",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score per document — the
    CCNet/KenLM-style perplexity filter of an LLM data pipeline,
    self-trained on the corpus: P(w2|w1) = count(w1 w2)/count(w1)
    (MLE — every document bigram occurs in the corpus, so no
    smoothing is needed), scored as the per-doc mean log-probability.

    Float discipline: each bigram's log-prob is quantized ONCE to
    integer micronats; per-document totals are then exact BIGINT sums
    (order-free across any partitioning), and the mean uses integer
    DIV. The n-gram tables are corpus-global aggregates joined back
    to the exploded bigrams — broadcast-sized for a bounded
    vocabulary, and a plain shuffle join when the vocab outgrows
    that (Catalyst/AQE picks)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 2 guard on the bigram path only (unigram counts keep
    # every doc): sequence(1, 0) descends and element_at(w, 0) throws.
    doc_bg = toks.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg"),
    )
    uni_cnt = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    bg_cnt = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("bc"))
    lp = F.floor(
        F.log(F.col("bc").cast("double") / F.col("uc").cast("double")) * 1e6
    ).cast("long")
    scored = (
        doc_bg.join(F.broadcast(bg_cnt), "bg")
        .join(
            F.broadcast(uni_cnt),
            F.split(F.col("bg"), " ").getItem(0) == F.col("tok"),
        )
        .select("doc_id", lp.alias("lp_micro"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micro").cast("long").alias("logprob_micro_sum"),
        F.expr("SUM(lp_micro) DIV count(*)").alias("avg_lp_micro"),
    )


MIN_TOKENS = 30


@register(
    "pipeline_training_mix",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS toks, md5(text) AS h
        FROM documents WHERE len(string_split(text, ' ')) >= {MIN_TOKENS}
    ), winners AS (
        SELECT min(doc_id) AS doc_id FROM kept GROUP BY h
    ), final AS (
        SELECT k.lang, k.toks FROM kept k
        JOIN winners w ON k.doc_id = w.doc_id
    ), per_lang AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS docs,
               CAST(SUM(toks) AS BIGINT) AS tokens
        FROM final GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM per_lang
    )
    SELECT lang, docs, tokens,
           {sql_q4("CAST(tokens AS DOUBLE) / total")} AS share,
           {sql_q4("(CAST(total AS DOUBLE) / n_langs)"
                   " / CAST(tokens AS DOUBLE)")} AS upsample
    FROM per_lang, tot
    """,
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data mix pipeline: quality gate (min token
    count) → exact dedup (md5 groupBy, min-doc_id winner) → per-
    language token accounting → sampling weights targeting a uniform
    language mix (upsample = uniform-share / observed-share) — the
    composition a data-curation run executes before tokenization.

    Plan shape at 100 TB: the quality filter pushes to the scan; the
    dedup shuffle moves 16-byte digests + ids, not documents; the
    language rollup is |langs| rows; totals broadcast back. Three
    shuffles total, each strictly smaller than the last."""
    d = table(spark, sf_dir, "documents")
    kept = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.md5("text").alias("h"),
    ).where(F.col("toks") >= MIN_TOKENS).persist()
    winners = kept.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    final = kept.join(winners.select("doc_id"), "doc_id")
    per_lang = final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("toks").alias("tokens")
    )
    tot = per_lang.agg(
        F.sum("tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "docs",
        "tokens",
        q4(F.col("tokens").cast("double") / F.col("total")).alias("share"),
        q4(
            (F.col("total").cast("double") / F.col("n_langs"))
            / F.col("tokens").cast("double")
        ).alias("upsample"),
    )


CHUNK, STRIDE = 50, 25  # tokens per chunk, overlap stride


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), idx AS (
        SELECT doc_id, w,
               unnest(range(1, greatest(len(w) - {CHUNK} + 1, 1) + 1,
                            {STRIDE})) AS start
        FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) / {STRIDE} AS BIGINT) AS chunk_id,
           CAST(least({CHUNK}, len(w) - start + 1) AS BIGINT) AS n_tokens,
           w[start] AS first_tok,
           md5(array_to_string(w[start:start+{CHUNK - 1}], ' ')) AS chunk_md5
    FROM idx
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the RAG/embedding prep
    step: each doc splits into {CHUNK}-token chunks with {STRIDE}-token
    stride (50% overlap), emitting per-chunk ids, lengths, and a
    content fingerprint ready for the embedding stage (and for
    chunk-level dedup via the md5). Pure explode over a stride
    sequence + array slice — narrow, shuffle-free, scales with corpus
    size; chunk boundaries are token-positional so re-chunking is
    deterministic and incremental loads chunk identically."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    idx = toks.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("w") - CHUNK + 1, F.lit(1)),
                F.lit(STRIDE),
            )
        ).alias("start"),
    )
    return idx.select(
        "doc_id",
        ((F.col("start") - 1) / STRIDE).cast("long").alias("chunk_id"),
        F.least(F.lit(CHUNK), F.size("w") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.element_at("w", F.col("start")).alias("first_tok"),
        F.md5(
            F.concat_ws(" ", F.slice("w", F.col("start"), CHUNK))
        ).alias("chunk_md5"),
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS g
      FROM toks
    ), gcount AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY g
    ), per_doc AS (
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count_if(c.n = 1) AS BIGINT) AS unique_grams
      FROM grams d JOIN gcount c ON d.g = c.g
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_grams, unique_grams,
           {sql_q4("CAST(unique_grams AS DOUBLE) / n_grams")} AS novelty
    FROM per_doc
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's word trigrams
    that occur NOWHERE else in the corpus — low novelty flags
    boilerplate/template documents (their n-grams repeat corpus-wide),
    high novelty marks genuinely fresh text; the complement of the
    duplication signal and a standard curation feature next to
    quality and LM scores. Corpus trigram counts aggregate once and
    join back to the exploded grams (broadcast while the gram table
    is bounded; plain shuffle join beyond); counts are exact ints so
    only the final ratio is float (one division, quantized)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 3 guard: short docs have no trigrams; Spark's
    # sequence(1, 0) would descend and element_at(w, 0) throws.
    grams = toks.where(F.size("w") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat_ws(' ', element_at(w, i),"
                " element_at(w, i + 1), element_at(w, i + 2)))"
            )
        ).alias("g"),
    )
    gcount = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    per_doc = (
        grams.join(F.broadcast(gcount), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("unique_grams"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "unique_grams",
        q4(F.col("unique_grams").cast("double") / F.col("n_grams")).alias(
            "novelty"
        ),
    )


@register(
    "pipeline_rag_corpus",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, md5(text) AS h,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents WHERE len(string_split(text, ' ')) >= {MIN_TOKENS}
    ), winners AS (
        SELECT h, max(toks * 1000000 - doc_id) AS best FROM kept GROUP BY h
    ), final AS (
        SELECT k.doc_id, k.toks FROM kept k
        JOIN winners w ON k.h = w.h
                      AND k.toks * 1000000 - k.doc_id = w.best
    ), chunked AS (
        SELECT doc_id, toks,
               CAST(greatest((toks - {CHUNK}) // {STRIDE}, 0)
                    + 1 AS BIGINT) AS n_chunks
        FROM final
    )
    SELECT CAST(doc_id // 64 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS tokens,
           CAST(SUM(n_chunks) AS BIGINT) AS chunks
    FROM chunked GROUP BY 1
    """,
)
def pipeline_rag_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone RAG-corpus materialization: quality gate → quality-
    aware exact dedup (keep the longest duplicate) → chunk-count
    accounting ({CHUNK}-token windows, {STRIDE} stride — closed form,
    no explode needed for planning) → shard rollup. The manifest a
    retrieval stack needs before embedding: per shard, how many docs,
    tokens, and chunks are coming. Composes the session's curation
    operators end to end in three strictly-shrinking shuffles
    (digest dedup → per-doc arithmetic → |shards| rollup)."""
    d = table(spark, sf_dir, "documents")
    kept = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    ).where(F.col("toks") >= MIN_TOKENS)
    pref = F.col("toks") * 1000000 - F.col("doc_id")
    winners = kept.select("h", pref.alias("pref")).groupBy("h").agg(
        F.max("pref").alias("best")
    )
    final = (
        kept.alias("k")
        .join(
            winners.alias("w"),
            (F.col("k.h") == F.col("w.h"))
            & (
                F.col("k.toks") * 1000000 - F.col("k.doc_id")
                == F.col("w.best")
            ),
        )
        .select("k.doc_id", "k.toks")
    )
    n_chunks = (
        F.greatest(F.floor((F.col("toks") - CHUNK) / STRIDE), F.lit(0)) + 1
    ).cast("long")
    chunked = final.select("doc_id", "toks", n_chunks.alias("n_chunks"))
    return chunked.groupBy(
        F.expr("doc_id DIV 64").cast("long").alias("shard_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("long").alias("tokens"),
        F.sum("n_chunks").cast("long").alias("chunks"),
    )


# ------------------------------------------- training-prep additions (r2)

SEQ_LEN = 512  # pack length in whitespace tokens
MIX_TOTAL = 100_000  # examples to allocate across languages
_SQRT_MICRO = 1_000_000  # fixed-point quantum for temperature weights


@register(
    "pipeline_seq_pack",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        FROM documents
    ), run AS (
        SELECT doc_id, tokens,
               CAST(SUM(tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM toks
    )
    SELECT doc_id, tokens,
           cum - tokens AS cum_before,
           (cum - tokens) // {SEQ_LEN} AS pack_id,
           ((cum - tokens) // {SEQ_LEN}) <> ((cum - 1) // {SEQ_LEN})
               AS crosses_boundary
    FROM run
    """,
)
def pipeline_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-style pretraining
    prep step: documents concatenated in a fixed (doc_id) order and
    cut into SEQ_LEN-token training sequences. Per doc: its running
    token offset, the pack (sequence) it starts in, and whether it
    straddles a pack boundary (the attention-masking / doc-boundary
    bookkeeping a training reader needs).

    The running offset uses ``global_ordered`` (range-partitioned
    parallel prefix sums, operators/prefix.py) — the corpus-wide
    cumulative sum runs parallel at any corpus size; the oracle
    states the same algebra as a plain SQL window."""
    from ..operators.prefix import global_ordered

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tokens"),
    ).persist()
    run = global_ordered(
        d,
        [F.col("doc_id")],
        bucket_key="doc_id",
        sums={"tokens": "cum"},
        rank_col=None,
    )
    cum_before = F.col("cum") - F.col("tokens")
    return run.select(
        "doc_id",
        "tokens",
        cum_before.alias("cum_before"),
        F.expr(f"(cum - tokens) DIV {SEQ_LEN}").alias("pack_id"),
        (
            F.expr(f"(cum - tokens) DIV {SEQ_LEN}")
            != F.expr(f"(cum - 1) DIV {SEQ_LEN}")
        ).alias("crosses_boundary"),
    )


@register(
    "pipeline_mix_temperature",
    oracle=f"""
    WITH per_lang AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY lang
    ), weighted AS (
        SELECT lang, n_docs, tokens,
               CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * {_SQRT_MICRO})
                    AS BIGINT) AS w_micro
        FROM per_lang
    ), tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS t FROM weighted)
    SELECT lang, n_docs, tokens, w_micro,
           CAST((w_micro * {MIX_TOTAL}) // (SELECT t FROM tot) AS BIGINT)
               AS alloc
    FROM weighted
    """,
)
def pipeline_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (T=2 ⇒ weight ∝ tokens^0.5)
    — the multilingual up/down-sampling rule (mT5/XLM-R style): raw
    token counts per language are flattened toward uniform so
    low-resource languages aren't drowned. Weights are quantized to
    integer micro-units (floor(sqrt·1e6)) and the allocation is pure
    BIGINT arithmetic — cross-engine exact at any group count, since
    only correctly-rounded sqrt touches floating point and the
    total is an order-free integer sum. One groupBy + one broadcast
    single-row total: two metadata-sized shuffles at 100 TB."""
    d = table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")))
        .cast("long")
        .alias("tokens"),
    )
    weighted = per_lang.withColumn(
        "w_micro",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * _SQRT_MICRO).cast(
            "long"
        ),
    )
    tot = weighted.agg(F.sum("w_micro").cast("long").alias("t"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "tokens",
            "w_micro",
            F.expr(f"(w_micro * {MIX_TOTAL}) DIV t").alias("alloc"),
        )
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in range(1, len(w) - 1)]) AS g
        FROM toks WHERE len(w) >= 3
    ), cnt AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(SUM(c) - count(*) AS BIGINT) AS n_repeated
    FROM cnt GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram counting — the Gopher/FineWeb 'repetition'
    quality filter: documents whose n-grams repeat heavily are
    boilerplate/spam and get culled before training. Per doc: total
    trigrams, distinct trigrams, and the repeat surplus (all exact
    integers; the downstream filter is a threshold on
    n_repeated/n_grams). explode → two hash aggregations, both
    partitioned by doc — embarrassingly parallel over the corpus."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 3
    )
    grams = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat(element_at(w, i), ' ',"
                " element_at(w, i + 1), ' ', element_at(w, i + 2)))"
            )
        ).alias("g"),
    )
    cnt = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_repeated"),
    )


N_PHASES = 4  # curriculum phases


@register(
    "pipeline_curriculum",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               (CAST(n_chars AS BIGINT) * 1000)
                 // CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS difficulty
        FROM documents
    ), phased AS (
        SELECT CAST(ntile({N_PHASES}) OVER (ORDER BY difficulty, doc_id)
                    AS BIGINT) AS phase,
               words, difficulty
        FROM scored
    )
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS tokens,
           CAST(min(difficulty) AS BIGINT) AS min_difficulty,
           CAST(max(difficulty) AS BIGINT) AS max_difficulty
    FROM phased GROUP BY phase
    """,
)
def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: rank the corpus by a
    difficulty score (average word length in milli-chars — integral,
    so bucketing and ties are exact) and split it into N_PHASES
    equal-size phases, easy→hard, reporting each phase's size, token
    mass, and difficulty range. Phases come from the distributed
    prefix-rank machinery (`global_ordered` + exact ntile-from-rank
    arithmetic) — no single-partition window at any corpus size; the
    oracle keeps the standard ntile formulation."""
    from ..operators.prefix import global_ordered, ntile_from_rank

    d = table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("long")
    scored = d.select(
        "doc_id",
        words.alias("words"),
        F.expr("CAST(n_chars AS BIGINT) * 1000").alias("_c1000"),
    ).select(
        "doc_id",
        "words",
        F.expr("_c1000 DIV words").alias("difficulty"),
    ).persist()
    ranked = global_ordered(
        scored,
        [F.col("difficulty"), F.col("doc_id")],
        bucket_key="difficulty",
        rank_col="_rk",
    )
    n_df = scored.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    phased = ranked.crossJoin(F.broadcast(n_df)).select(
        ntile_from_rank(F.col("_rk"), F.col("_n"), N_PHASES).alias("phase"),
        "words",
        "difficulty",
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").cast("long").alias("tokens"),
        F.min("difficulty").alias("min_difficulty"),
        F.max("difficulty").alias("max_difficulty"),
    )


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH feat AS (
        SELECT source, lang, doc_id, n_chars,
               len(string_split(text, ' ')) AS n_words,
               sha256(text) AS h
        FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
           {sql_q4("1.0 - CAST(count(DISTINCT h) AS DOUBLE)/count(*)")}
               AS dup_rate,
           {sql_q4("CAST(sum(n_words) AS DOUBLE)/count(*)")} AS avg_words,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM feat GROUP BY 1, 2
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-(source, language) composition report
    published alongside a training corpus — document and token-proxy
    volumes, exact-duplicate rate, length envelope.

    Scale design: ONE pass over the corpus computing per-doc
    features (word count via split — no explode, the row count never
    grows), then one hash aggregate keyed by the (source, lang)
    card cell; the duplicate rate rides the same aggregate as a
    count(DISTINCT digest) (expands to the standard two-level
    partial aggregate — 32-byte digests shuffle, never text).
    Cells = sources × languages — bounded output regardless of
    corpus size."""
    d = table(spark, sf_dir, "documents")
    feat = d.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.sha2("text", 256).alias("h"),
    )
    return feat.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.count_distinct("h").cast("long").alias("n_unique"),
        q4(
            1.0 - F.count_distinct("h").cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
        q4(F.sum("n_words").cast("double") / F.count(F.lit(1))).alias(
            "avg_words"
        ),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# ------------------------------------------------- corpus-level stats

VOCAB_BUCKET_W = 20  # docs per growth-curve sample bucket


@register(
    "text_vocab_growth",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), per_doc AS (
        SELECT CAST(doc_id // {VOCAB_BUCKET_W} AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS toks
        FROM words GROUP BY 1
    ), tok_bucket AS (
        SELECT bucket, CAST(sum(toks) AS BIGINT) AS toks
        FROM per_doc GROUP BY bucket
    ), first_seen AS (
        SELECT w, CAST(min(doc_id) // {VOCAB_BUCKET_W} AS BIGINT) AS fb
        FROM words GROUP BY w
    ), vocab_bucket AS (
        SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_vocab
        FROM first_seen GROUP BY fb
    ), curve AS (
        SELECT t.bucket, 
               sum(t.toks) OVER (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens,
               sum(COALESCE(v.new_vocab, 0)) OVER (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_vocab
        FROM tok_bucket t LEFT JOIN vocab_bucket v ON t.bucket = v.bucket
    )
    SELECT bucket, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_vocab AS BIGINT) AS cum_vocab,
           {sql_q4("CAST(cum_vocab AS DOUBLE) / cum_tokens")} AS ttr
    FROM curve
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve of the corpus: cumulative
    distinct tokens vs cumulative token count, sampled per bucket of
    20 docs, with the type-token ratio — the dataset-health curve
    that shows whether a crawl is still contributing novel language
    or has gone repetitive (TTR collapse = boilerplate flood).

    Scale shape: "cumulative distinct" does NOT need a running
    distinct — each term contributes exactly once at its FIRST
    bucket (min(doc_id) per term, one hash aggregate), so the curve
    is a prefix sum over the bounded bucket grid. The only ordered
    window runs over |corpus|/bucket_width rows; at 100 TB you widen
    the bucket (the curve needs ~10³ sample points regardless of
    corpus size), keeping the window driver-small while every
    data-sized stage stays an unordered hash aggregate."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok_bucket = words.groupBy(
        (F.col("doc_id") / VOCAB_BUCKET_W).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("toks"))
    vocab_bucket = (
        words.groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(
            (F.col("first_doc") / VOCAB_BUCKET_W).cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        tok_bucket.join(vocab_bucket, "bucket", "left")
        .select(
            "bucket",
            "toks",
            F.coalesce("new_vocab", F.lit(0)).alias("nv"),
        )
        .select(
            "bucket",
            F.sum("toks").over(w).alias("cum_tokens"),
            F.sum("nv").over(w).alias("cum_vocab"),
        )
    )
    return curve.select(
        "bucket",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
        q4(F.col("cum_vocab").cast("double") / F.col("cum_tokens")).alias("ttr"),
    )


@register(
    "text_token_entropy",
    oracle=f"""
    WITH words AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), counts AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c
        FROM words GROUP BY source, w
    ), totals AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS vocab
        FROM counts GROUP BY source
    ), contrib AS (
        SELECT c.source, t.n, t.vocab,
               CAST(floor(-(CAST(c.c AS DOUBLE)/t.n)
                          * log2(CAST(c.c AS DOUBLE)/t.n) * 1e10 + 0.5)
                    AS BIGINT) AS h_e10,
               CAST(floor((CAST(c.c AS DOUBLE)/t.n)
                          * (CAST(c.c AS DOUBLE)/t.n) * 1e10 + 0.5)
                    AS BIGINT) AS s_e10
        FROM counts c JOIN totals t ON c.source = t.source
    ), agg AS (
        SELECT source, max(n) AS n_tokens, max(vocab) AS vocab,
               CAST(sum(h_e10) AS DOUBLE) / 1e10 AS entropy_bits,
               CAST(sum(s_e10) AS DOUBLE) / 1e10 AS simpson
        FROM contrib GROUP BY source
    )
    SELECT source, n_tokens, vocab, {sql_q4("entropy_bits")} AS entropy_bits,
           {sql_q4("entropy_bits / log2(CAST(vocab AS DOUBLE))")}
               AS norm_entropy,
           {sql_q4("simpson")} AS simpson
    FROM agg
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon token entropy (bits), normalized entropy, and the
    Simpson concentration index per source — the information-density
    triple a corpus-quality dashboard runs next to text_quality:
    low entropy / high Simpson flags template-generated or keyword-
    stuffed sources that per-document stats miss.

    Scale shape: one explode + two hash aggregates to the bounded
    (source × vocab) grid; per-term entropy contributions are
    quantized to e-10 fixed point and summed as INTEGERS (the
    stat_psi_drift discipline), so the entropy is exact and
    partition-order-free however the term grid shuffles."""
    d = table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    counts = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    p = F.col("c").cast("double") / F.col("n")
    contrib = counts.join(F.broadcast(totals), "source").select(
        "source",
        "n",
        "vocab",
        F.floor(-p * F.log2(p) * F.lit(1e10) + F.lit(0.5))
        .cast("long")
        .alias("h_e10"),
        F.floor(p * p * F.lit(1e10) + F.lit(0.5)).cast("long").alias("s_e10"),
    )
    agg = contrib.groupBy("source").agg(
        F.max("n").alias("n_tokens"),
        F.max("vocab").alias("vocab"),
        (F.sum("h_e10").cast("double") / F.lit(1e10)).alias("entropy_bits"),
        (F.sum("s_e10").cast("double") / F.lit(1e10)).alias("simpson"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        q4(F.col("entropy_bits")).alias("entropy_bits"),
        q4(
            F.col("entropy_bits") / F.log2(F.col("vocab").cast("double"))
        ).alias("norm_entropy"),
        q4(F.col("simpson")).alias("simpson"),
    )


# -------------------------------------------- preference-pair curation

@register(
    "pipeline_preference_pairs",
    oracle="""
    WITH scored AS (
        SELECT source, lang, doc_id,
               CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) * 1000000000000
                 + n_chars * 10000000 + doc_id AS score
        FROM documents
    ), grp AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
               arg_max(doc_id, score) AS chosen_doc,
               arg_min(doc_id, score) AS rejected_doc,
               max(score) AS chosen_score, min(score) AS rejected_score
        FROM scored GROUP BY source, lang
    )
    SELECT source, lang, n_docs, chosen_doc, rejected_doc,
           chosen_score, rejected_score
    FROM grp WHERE n_docs >= 2
    """,
)
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF data-prep step: in
    each candidate pool (here (source, lang), standing in for "N
    sampled responses to one prompt") pick the best- and worst-scored
    document as the (chosen, rejected) pair. Scoring is a
    deterministic composite (distinct-token count, then length, then
    doc_id as the final tiebreak) packed into ONE comparable BIGINT,
    which is the trick that keeps the whole selection a plain
    max_by/min_by hash aggregate: no window, no sort, one shuffle on
    the pool key, mergeable partials — at 100 TB the pair extraction
    costs the same as a count per pool. Pools with a single candidate
    cannot form a pair and are dropped (n_docs >= 2)."""
    d = table(spark, sf_dir, "documents")
    score = (
        F.size(F.array_distinct(F.split("text", " "))).cast("long")
        * F.lit(1000000000000).cast("long")
        + F.col("n_chars") * F.lit(10000000).cast("long")
        + F.col("doc_id")
    )
    scored = d.select("source", "lang", "doc_id", score.alias("score"))
    return (
        scored.groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max_by("doc_id", "score").alias("chosen_doc"),
            F.min_by("doc_id", "score").alias("rejected_doc"),
            F.max("score").alias("chosen_score"),
            F.min("score").alias("rejected_score"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            "source", "lang", "n_docs", "chosen_doc", "rejected_doc",
            "chosen_score", "rejected_score",
        )
    )


# -------------------------------------------- tokenizer fertility

@register(
    "text_tokenizer_fertility",
    oracle="""
    WITH base AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
               n_chars,
               CAST(strlen(text) AS BIGINT) AS bytes
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           floor(CAST(sum(n_chars) AS DOUBLE) / sum(toks) * 10000 + 0.5)
             / 10000.0 AS chars_per_token,
           floor(CAST(sum(bytes) AS DOUBLE) / sum(toks) * 10000 + 0.5)
             / 10000.0 AS bytes_per_token,
           floor(CAST(sum(toks) AS DOUBLE) / sum(n_chars) * 10000 + 0.5)
             / 10000.0 AS fertility
    FROM base GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility accounting per language — the budgeting
    number every multilingual training mix is planned around: tokens
    per char (fertility), chars per token, and bytes per token.  A
    language whose tokenizer fertility is 2x pays 2x the compute for
    the same text; this table is what the mix designer reads before
    setting per-language sampling weights (pipeline_training_mix).

    Whitespace tokens stand in for the BPE segmenter (the fixture
    corpus is space-delimited word salad); byte counts come from
    octet_length so multi-byte scripts would be measured honestly.
    All sums are exact integers -> one hash aggregate, ratios divided
    once per group."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        "n_chars",
        F.octet_length("text").cast("long").alias("bytes"),
    )
    g = base.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("schars"),
        F.sum("bytes").cast("long").alias("sbytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "total_tokens",
        q4(F.col("schars").cast("double") / F.col("total_tokens")).alias(
            "chars_per_token"
        ),
        q4(F.col("sbytes").cast("double") / F.col("total_tokens")).alias(
            "bytes_per_token"
        ),
        q4(F.col("total_tokens").cast("double") / F.col("schars")).alias(
            "fertility"
        ),
    )


# -------------------------------------------- deterministic data splits

SPLIT_TRAIN, SPLIT_VAL = 90, 95  # /100 bucket fences: 90/5/5


@register(
    "ml_train_test_split",
    oracle=f"""
    WITH assigned AS (
        SELECT lang,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 100 AS bucket,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ), tagged AS (
        SELECT lang, toks,
               CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
                    WHEN bucket < {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
    ), per AS (
        SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(toks) AS BIGINT) AS n_tokens
        FROM tagged GROUP BY split, lang
    ), lt AS (
        SELECT lang, sum(n_docs) AS lang_docs FROM per GROUP BY lang
    )
    SELECT per.split, per.lang, per.n_docs, per.n_tokens,
           floor(CAST(per.n_docs AS DOUBLE) / lt.lang_docs * 10000 + 0.5)
             / 10000.0 AS lang_share
    FROM per JOIN lt ON lt.lang = per.lang
    """,
)
def ml_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by content
    hash, with the stratification report that validates it — the
    split every training pipeline needs but must NEVER do with
    ``rand()``: a hash split (md5(doc_id) % 100 against fixed
    fences) is identical at any parallelism, stable across reruns
    and appends (a new document never reshuffles old assignments),
    and needs no persisted assignment table — the split IS a pure
    function of the row. The report shows per-(split, lang) doc and
    token counts plus each split's share within its language, which
    is how you check the hash didn't accidentally skew a stratum.
    One map-side expression + one aggregate."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 100
    )
    tagged = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )
    per = tagged.groupBy("split", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
    )
    lt = per.groupBy("lang").agg(F.sum("n_docs").alias("lang_docs"))
    return per.join(F.broadcast(lt), "lang").select(
        "split",
        "lang",
        "n_docs",
        "n_tokens",
        q4(F.col("n_docs").cast("double") / F.col("lang_docs")).alias(
            "lang_share"
        ),
    )


# -------------------------------------------- per-doc keyword extraction

KW_TOPN = 3
KW_DOC_MOD = 20  # report every 20th doc (bounded driver output)


@register(
    "text_keyword_extract",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY tok
    ), scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) / df.df AS score
        FROM tf JOIN df ON df.tok = tf.tok
        WHERE tf.doc_id % {KW_DOC_MOD} = 0
    ), ranked AS (
        SELECT doc_id, tok, tf, df, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, tok) AS BIGINT) AS rank
        FROM scored
    )
    SELECT doc_id, rank, tok, tf, df, {sql_q4("score")} AS score
    FROM ranked WHERE rank <= {KW_TOPN}
    """,
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by the tf/df
    ratio (term frequency over corpus document frequency — high when
    a token is dense in THIS doc but rare across the corpus, the
    same discrimination signal as tf-idf but computed as one exact
    IEEE division of integers, so ranking is engine-stable with no
    log() in the order key). This is the inverted-index + salience
    shape: explode to (doc, token) term postings (the data-sized
    shuffle), document frequencies as a second aggregate over the
    postings, salience join, top-k per doc via the standard
    row_number window. At 100 TB the postings table IS the search
    index build — everything downstream of it is bounded by distinct
    (doc, token), and the df side joins back in by token (no
    broadcast needed: it shares the token shuffle key)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.where(F.col("doc_id") % KW_DOC_MOD == 0)
        .join(df, "tok")
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (F.col("tf").cast("double") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KW_TOPN)
        .select("doc_id", "rank", "tok", "tf", "df", q4(F.col("score")).alias("score"))
    )


# -------------------------------------------- cross-source vocab overlap

@register(
    "text_vocab_overlap",
    oracle=f"""
    SELECT src_a, src_b, n_a AS vocab_a, n_b AS vocab_b, shared,
           jaccard, containment
    FROM ({sql_pairwise_set_overlap(
        "SELECT DISTINCT source, unnest(string_split(text, ' ')) AS elem"
        " FROM documents",
        "source", "src_a", "src_b")})
    """,
)
def text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between document sources — the
    corpus-composition diagnostic behind dedup priorities and mix
    design: two sources with near-1 containment are near-duplicates
    at the DOMAIN level (scraping the same sites), visible long
    before any document-level dedup runs. Exact Jaccard and
    containment of the distinct-token sets via the shared
    pairwise_set_overlap helper (same machinery as
    events_user_overlap): one distinct (source, token) pass, a
    token-keyed self-join bounded by |sources|² per token,
    vocabulary sizes broadcast back in. At 100 TB swap the exact
    self-join for the KMV sketches (agg_kmv_setops) once |sources|
    or vocabularies explode — this key is the exact auditor for
    that estimate."""
    dv = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    out = pairwise_set_overlap(dv, "source", "src_a", "src_b")
    return out.select(
        "src_a",
        "src_b",
        F.col("n_a").alias("vocab_a"),
        F.col("n_b").alias("vocab_b"),
        "shared",
        "jaccard",
        "containment",
    )


# ------------------------------------------- Gopher-style quality rules

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = "3.0"
GOPHER_MWL_HI = "10.0"
GOPHER_ALPHA_FRAC = "0.8"
GOPHER_MIN_STOPWORDS = 2
GOPHER_TOPFREQ_MAX = "0.2"
_SQL_STOPSET = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), wf AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
        FROM w GROUP BY doc_id, word
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               CAST(sum(c * strlen(word)) AS BIGINT) AS sum_wlen,
               CAST(sum(CASE WHEN regexp_matches(word, '^[a-zA-Z]+$')
                    THEN c ELSE 0 END) AS BIGINT) AS n_alpha,
               CAST(count(CASE WHEN word IN ({_SQL_STOPSET})
                    THEN 1 END) AS BIGINT) AS n_stop_distinct,
               CAST(max(c) AS BIGINT) AS top_freq
        FROM wf GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
               AS rule_word_count,
           CAST(sum_wlen AS DOUBLE) / n_words
               BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI}
               AS rule_mean_word_len,
           CAST(n_alpha AS DOUBLE) / n_words >= {GOPHER_ALPHA_FRAC}
               AS rule_alpha_frac,
           n_stop_distinct >= {GOPHER_MIN_STOPWORDS} AS rule_stopwords,
           CAST(top_freq AS DOUBLE) / n_words <= {GOPHER_TOPFREQ_MAX}
               AS rule_repetition,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AND (CAST(sum_wlen AS DOUBLE) / n_words
                  BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI})
             AND (CAST(n_alpha AS DOUBLE) / n_words >= {GOPHER_ALPHA_FRAC})
             AND (n_stop_distinct >= {GOPHER_MIN_STOPWORDS})
             AND (CAST(top_freq AS DOUBLE) / n_words <= {GOPHER_TOPFREQ_MAX})
               AS gopher_pass
    FROM per_doc
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, public —
    the MassiveText filtering recipe): word-count bounds, mean word
    length in [3,10], ≥80% alphabetic words, ≥2 distinct stopwords,
    and a repetition gate (most frequent word ≤20% of tokens). Each
    rule is emitted as its own boolean plus the conjunction, so a
    curation pipeline can report per-rule rejection rates — the form
    the paper's appendix tables take.

    Scale shape: ONE explode of the corpus into (doc, word, count)
    — the same token rollup every text_* key shares, map-side
    combined so the shuffle carries distinct words per doc, not
    tokens — then one hash aggregate back to per-doc sufficient
    statistics (5 integers); every rule is a final per-row
    comparison. The word-frequency tier also feeds the repetition
    gate via max(c), so no second pass over text."""
    d = table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    wf = w.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_doc = wf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.length("word")).cast("long").alias("sum_wlen"),
        F.sum(
            F.when(
                F.col("word").rlike("^[a-zA-Z]+$"), F.col("c")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_alpha"),
        F.count(F.when(F.col("word").isin(*EN_STOPWORDS), 1))
        .cast("long")
        .alias("n_stop_distinct"),
        F.max("c").cast("long").alias("top_freq"),
    )
    mwl = F.col("sum_wlen").cast("double") / F.col("n_words")
    alpha = F.col("n_alpha").cast("double") / F.col("n_words")
    topr = F.col("top_freq").cast("double") / F.col("n_words")
    r_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_mwl = mwl.between(float(GOPHER_MWL_LO), float(GOPHER_MWL_HI))
    r_alpha = alpha >= float(GOPHER_ALPHA_FRAC)
    r_stop = F.col("n_stop_distinct") >= GOPHER_MIN_STOPWORDS
    r_rep = topr <= float(GOPHER_TOPFREQ_MAX)
    return per_doc.select(
        "doc_id",
        "n_words",
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_alpha.alias("rule_alpha_frac"),
        r_stop.alias("rule_stopwords"),
        r_rep.alias("rule_repetition"),
        (r_wc & r_mwl & r_alpha & r_stop & r_rep).alias("gopher_pass"),
    )


# ------------------------------------------------- word burstiness

BURST_MIN_DOCS = 25  # report words present in at least this many docs


@register(
    "text_word_burstiness",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), wf AS (
        SELECT word, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM w GROUP BY word, doc_id
    ), nd AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM documents
    ), m AS (
        SELECT word,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS tf,
               CAST(sum(c*c) AS BIGINT) AS tf2
        FROM wf GROUP BY word
    )
    SELECT m.word, m.df, m.tf,
           {sql_q4("CAST(m.tf AS DOUBLE) / d.n_docs")} AS mean_per_doc,
           {sql_q4("(CAST(m.tf2 AS DOUBLE)"
                   " - CAST(m.tf AS DOUBLE)*m.tf / d.n_docs) / d.n_docs"
                   " / (CAST(m.tf AS DOUBLE) / d.n_docs)")} AS burstiness
    FROM m CROSS JOIN nd d
    WHERE m.df >= {BURST_MIN_DOCS}
    """,
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (variance-to-mean ratio of per-document
    counts, zeros included — Church & Gale's topical-vs-function
    word diagnostic, public): VMR ≈ 1 means Poisson-scattered
    (function words), VMR ≫ 1 means the word clumps into few
    documents (topical) — the signal behind stopword induction and
    keyword weighting in corpus curation.

    Scale shape: token explode → (word, doc) counts (map-side
    combine), then a per-word moment rollup (df, Σc, Σc²) — all
    exact integers; the docs-without-the-word zeros enter through
    the closed form (moments over N total docs), so no dense
    word×doc matrix is ever materialized. The doc count joins as a
    broadcast scalar; output is bounded by the df floor."""
    d = table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    wf = w.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nd = d.agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
    m = wf.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("tf"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("tf2"),
    )
    mean = F.col("tf").cast("double") / F.col("n_docs")
    var = (
        F.col("tf2").cast("double")
        - F.col("tf").cast("double") * F.col("tf") / F.col("n_docs")
    ) / F.col("n_docs")
    return (
        m.where(F.col("df") >= BURST_MIN_DOCS)
        .crossJoin(F.broadcast(nd))
        .select(
            "word",
            "df",
            "tf",
            q4(mean).alias("mean_per_doc"),
            q4(var / mean).alias("burstiness"),
        )
    )


# ------------------------------------- corpus divergence between sources

JSD_Q = 1_000_000_000  # fixed-point quantum for per-word JSD terms


@register(
    "text_js_divergence",
    oracle=f"""
    WITH w AS (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), wf AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS c
        FROM w GROUP BY source, word
    ), tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n FROM wf GROUP BY source
    ), shared AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(count(*) AS BIGINT) AS n_shared_words,
               CAST(sum(a.c) AS BIGINT) AS ca_shared,
               CAST(sum(b.c) AS BIGINT) AS cb_shared,
               CAST(sum(CAST(floor(
                   CAST(a.c AS DOUBLE) / ta.n * log2(
                       2.0 * (CAST(a.c AS DOUBLE) / ta.n)
                       / (CAST(a.c AS DOUBLE) / ta.n
                          + CAST(b.c AS DOUBLE) / tb.n))
                   * {JSD_Q} + 0.5) AS BIGINT)) AS BIGINT) AS pa_q,
               CAST(sum(CAST(floor(
                   CAST(b.c AS DOUBLE) / tb.n * log2(
                       2.0 * (CAST(b.c AS DOUBLE) / tb.n)
                       / (CAST(a.c AS DOUBLE) / ta.n
                          + CAST(b.c AS DOUBLE) / tb.n))
                   * {JSD_Q} + 0.5) AS BIGINT)) AS BIGINT) AS pb_q
        FROM wf a
        JOIN wf b ON a.word = b.word AND a.source < b.source
        JOIN tot ta ON ta.source = a.source
        JOIN tot tb ON tb.source = b.source
        GROUP BY a.source, b.source
    )
    SELECT s.sa AS source_a, s.sb AS source_b, s.n_shared_words,
           {sql_q4(f"0.5 * (CAST(s.pa_q AS DOUBLE) / {JSD_Q}"
                   f" + 1.0 - CAST(s.ca_shared AS DOUBLE) / ta.n)"
                   f" + 0.5 * (CAST(s.pb_q AS DOUBLE) / {JSD_Q}"
                   f" + 1.0 - CAST(s.cb_shared AS DOUBLE) / tb.n)")}
               AS jsd_bits
    FROM shared s
    JOIN tot ta ON ta.source = s.sa
    JOIN tot tb ON tb.source = s.sb
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between every pair of source
    unigram distributions — the symmetric, bounded [0,1] corpus-drift
    measure curation pipelines use to compare slices before mixing.

    The closed-form trick that keeps it one INNER join: a word
    present in only one source contributes p·log2(2p/p) = p to its
    side's sum, so the exclusive-word mass folds in as
    (1 − shared_mass) analytically — no full-outer join, no zero
    rows. Per-shared-word terms are fixed-point quantized (1e-9)
    before summing (order-free integers); scale shape is one token
    rollup, a word-keyed equi self-join bounded by |sources|² per
    word, and broadcast per-source totals — the same skeleton as
    text_vocab_overlap with an information-theoretic payload."""
    d = table(spark, sf_dir, "documents")
    w = d.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    wf = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    tot = wf.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = wf.select(
        F.col("source").alias("sa"), "word", F.col("c").alias("ca")
    )
    b = wf.select(
        F.col("source").alias("sb"),
        F.col("word").alias("wb"),
        F.col("c").alias("cb"),
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    pairs = (
        a.join(b, (F.col("word") == F.col("wb")) & (F.col("sa") < F.col("sb")))
        .join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    term = lambda x, y: F.floor(  # noqa: E731
        x * F.log2(2.0 * x / (x + y)) * JSD_Q + 0.5
    ).cast("long")
    shared = pairs.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_words"),
        F.sum("ca").cast("long").alias("ca_shared"),
        F.sum("cb").cast("long").alias("cb_shared"),
        F.sum(term(p, q)).cast("long").alias("pa_q"),
        F.sum(term(q, p)).cast("long").alias("pb_q"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    jsd = 0.5 * (
        F.col("pa_q").cast("double") / JSD_Q
        + 1.0
        - F.col("ca_shared").cast("double") / F.col("na")
    ) + 0.5 * (
        F.col("pb_q").cast("double") / JSD_Q
        + 1.0
        - F.col("cb_shared").cast("double") / F.col("nb")
    )
    return shared.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_shared_words",
        q4(jsd).alias("jsd_bits"),
    )


# --------------------------------- Kneser-Ney smoothed LM scoring

KN_D_X100 = 75  # absolute discount D = 0.75, carried as integer 75/100


@register(
    "text_kn_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), doc_bg AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      FROM toks
    ), bg_cnt AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS bc FROM doc_bg GROUP BY bg
    ), w1_stats AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             CAST(sum(bc) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS types_after
      FROM bg_cnt GROUP BY 1
    ), cont AS (
      SELECT string_split(bg, ' ')[2] AS w2,
             CAST(count(*) AS BIGINT) AS types_before
      FROM bg_cnt GROUP BY 1
    ), n_bg_types AS (
      SELECT CAST(count(*) AS BIGINT) AS nt FROM bg_cnt
    ), scored AS (
      SELECT d.doc_id,
             CAST(floor(ln(
                 (greatest(CAST(b.bc AS DOUBLE) - {KN_D_X100}/100.0, 0.0)
                  + ({KN_D_X100}/100.0) * s.types_after
                    * (CAST(c.types_before AS DOUBLE) / t.nt))
                 / s.c1) * 1e6) AS BIGINT) AS lp_micro
      FROM doc_bg d
      JOIN bg_cnt b ON b.bg = d.bg
      JOIN w1_stats s ON s.w1 = string_split(d.bg, ' ')[1]
      JOIN cont c ON c.w2 = string_split(d.bg, ' ')[2]
      CROSS JOIN n_bg_types t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(lp_micro) AS BIGINT) AS kn_logprob_micro_sum,
           CAST(SUM(lp_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS kn_avg_lp_micro
    FROM scored GROUP BY doc_id
    """,
    notes="same ~1-ulp cross-engine ln() tolerance as text_lm_score; "
    "per-doc sums exact BIGINT.",
)
def text_kn_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995,
    public — the smoothing KenLM defaults to): P(w2|w1) =
    (max(c(w1w2)−D, 0) + D·N1+(w1·)·P_cont(w2)) / c(w1·) with the
    continuation prior P_cont(w2) = N1+(·w2)/|bigram types| — the
    principled upgrade over text_lm_score's MLE: probability mass
    reserved for unseen continuations, in proportion to how
    PROMISCUOUS each word's left-contexts are, not how frequent the
    word is. Scored as per-doc mean log-prob (micronats).

    Scale shape: three corpus-global count tables (bigram counts,
    per-w1 totals + right-type counts, per-w2 left-type counts) —
    all mergeable hash aggregates joined back to the exploded
    bigrams (broadcast for bounded vocab, shuffle join beyond); the
    per-term log is quantized once and per-doc sums stay exact
    integers."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    # size >= 2 guard: sequence(1, 0) descends and element_at(w, 0)
    # throws; single-token docs have no bigrams (oracle range empty).
    # corpus bigrams feed the count table AND the scoring join;
    # the bigram-vocab counts feed four consumers — both DATA-SCALED,
    # persist() per the SCALE.md r13 rule (5 documents scans pre-r13)
    doc_bg = toks.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg"),
    ).persist()
    bg_cnt = doc_bg.groupBy("bg").agg(
        F.count(F.lit(1)).cast("long").alias("bc")
    ).persist()
    w1c = F.split(F.col("bg"), " ").getItem(0)
    w2c = F.split(F.col("bg"), " ").getItem(1)
    w1_stats = bg_cnt.groupBy(w1c.alias("w1")).agg(
        F.sum("bc").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("types_after"),
    )
    cont = bg_cnt.groupBy(w2c.alias("w2")).agg(
        F.count(F.lit(1)).cast("long").alias("types_before")
    )
    nt = bg_cnt.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    D = KN_D_X100 / 100.0
    p_kn = (
        F.greatest(F.col("bc").cast("double") - D, F.lit(0.0))
        + D
        * F.col("types_after")
        * (F.col("types_before").cast("double") / F.col("nt"))
    ) / F.col("c1")
    scored = (
        doc_bg.join(F.broadcast(bg_cnt), "bg")
        .join(F.broadcast(w1_stats), w1c == F.col("w1"))
        .join(F.broadcast(cont), w2c == F.col("w2"))
        .crossJoin(F.broadcast(nt))
        .select(
            "doc_id",
            F.floor(F.log(p_kn) * 1e6).cast("long").alias("lp_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lp_micro").cast("long").alias("kn_logprob_micro_sum"),
        F.expr("SUM(lp_micro) DIV count(*)").alias("kn_avg_lp_micro"),
    )


# ------------------------------------------------- BPE pair counts

BPE_TOP_K = 20


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), pairs AS (
        SELECT substr(w, i, 2) AS pair
        FROM words CROSS JOIN range(1, 64) r(i)
        WHERE i + 1 <= strlen(w)
    ), counts AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
    ), ranked AS (
        SELECT pair, n,
               CAST(row_number() OVER (ORDER BY n DESC, pair)
                    AS BIGINT) AS rk
        FROM counts
    )
    SELECT rk, pair, n FROM ranked WHERE rk <= {BPE_TOP_K}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting core of BPE tokenizer training (Sennrich et al.
    2016, public): adjacent symbol-pair frequencies within words
    across the corpus, ranked — each training iteration merges the
    top pair and recounts, so this aggregate IS the per-iteration
    workload; the driver loop around it is trivial. Top-20 emitted
    (the next-merge candidate queue).

    Scale shape: the pair explode is row-local (positions within
    words, bounded by word length), counts are one map-side-combined
    hash aggregate on the pair symbol, and the top-k is a
    TakeOrderedAndProject — never a full sort. At real tokenizer
    scale the words tier is pre-aggregated to (word, count) first so
    pair counts multiply by word frequency instead of re-exploding
    duplicate words — the same two-tier cascade as text_tfidf."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(w) - 1, 1)),"
                " i -> substr(w, i, 2))"
            )
        ).alias("pair"),
        F.length("w").alias("wl"),
    ).where(F.length("pair") == 2)
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), "pair")
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= BPE_TOP_K)
        .select("rk", "pair", "n")
    )


# ------------------------------------------------- length bucketing

LB_BUCKET_TOKENS = 32  # bucket width in tokens
LB_BATCH_MAX = 512  # padded batch row length (tokens)


@register(
    "pipeline_length_buckets",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), b AS (
        SELECT doc_id, n_tok, n_tok // {LB_BUCKET_TOKENS} AS bucket
        FROM lens
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tok) AS BIGINT) AS min_tok,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT)
               AS pad_waste_bucketed,
           CAST({LB_BATCH_MAX} * count(*) - sum(n_tok) AS BIGINT)
               AS pad_waste_naive
    FROM b GROUP BY bucket
    """,
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length bucketing for batch packing: documents grouped into
    32-token buckets with, per bucket, the padding waste under
    bucketed batching (pad to the bucket max) vs naive batching
    (pad every row to the global 512) — the before/after numbers
    that justify length-grouped sampling in every training-IO stack
    (complementing pipeline_seq_pack, which packs instead of pads).

    Scale shape: token counts are row-local (size of split), the
    bucket rollup is ONE hash aggregate with integer min/max/sum —
    output bounded by the length domain / 32."""
    d = table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    b = lens.withColumn(
        "bucket", F.expr(f"n_tok DIV {LB_BUCKET_TOKENS}")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
        (F.max("n_tok") * F.count(F.lit(1)) - F.sum("n_tok"))
        .cast("long")
        .alias("pad_waste_bucketed"),
        (F.lit(LB_BATCH_MAX) * F.count(F.lit(1)) - F.sum("n_tok"))
        .cast("long")
        .alias("pad_waste_naive"),
    )


# ------------------------------------------------- readability score


@register(
    "text_readability",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), syl AS (
        SELECT doc_id, word,
               CAST(len(regexp_extract_all(word, '[aeiouy]+'))
                    AS BIGINT) AS syls
        FROM w
    ), per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(syls) AS BIGINT) AS n_syllables,
               CAST(count_if(syls >= 3) AS BIGINT) AS n_polysyllabic
        FROM syl GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_syllables, n_polysyllabic,
           floor((206.835e0 - 1.015e0 * n_words
                  - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words))
                 * 1e4 + 0.5) / 1e4 AS flesch_score,
           CAST(n_polysyllabic * 10000 // n_words AS BIGINT)
               AS polysyllabic_bps
    FROM per_doc
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    heuristic (each [aeiouy]+ run ≈ one syllable — the standard
    dictionary-free approximation) plus the polysyllabic-word rate
    — readability features used by educational-quality curation
    filters (the fixture is single-sentence, so the
    sentences-per-doc term is 1 and the formula reduces
    accordingly; the machinery — per-word regex feature → per-doc
    rollup — is the real shape).

    Scale: one row-local regex pass per word inside the shared
    token explode, one hash aggregate; integer counts, one final
    double."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    syl = w.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(word, '[aeiouy]+', 0)"))
        .cast("long")
        .alias("syls"),
    )
    per_doc = syl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("syls").cast("long").alias("n_syllables"),
        F.count_if(F.col("syls") >= 3).cast("long").alias("n_polysyllabic"),
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * F.col("n_words")
        - 84.6 * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_polysyllabic",
        (F.floor(flesch * 1e4 + 0.5) / 1e4).alias("flesch_score"),
        F.expr("n_polysyllabic * 10000L DIV n_words").alias(
            "polysyllabic_bps"
        ),
    )


# ----------------------------------------------------- Zipf-law fit

ZIPF_TOPN = 1000  # fit over the head of the rank-frequency curve
_ZIPF_Q = 1_000_000  # fixed-point scale for ln(rank), ln(freq)


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f FROM words GROUP BY w
    ), ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rk FROM freq
    ), pts AS (
        SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * {_ZIPF_Q} + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(f AS DOUBLE)) * {_ZIPF_Q} + 0.5)
                    AS BIGINT) AS y
        FROM ranked WHERE rk <= {ZIPF_TOPN}
    ), sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM pts
    )
    SELECT n,
           {sql_q4(
               "(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)"
               " / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)"
           )} AS zipf_slope,
           {sql_q4(
               f"(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE)*sxy"
               f" - CAST(sx AS DOUBLE)*sy)"
               f" / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sx)"
               f" / n / {_ZIPF_Q}"
           )} AS log_c,
           {sql_q4(
               "pow(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy, 2)"
               " / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)"
               " * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))"
           )} AS r2
    FROM sums
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus: OLS slope of ln(frequency) on
    ln(rank) over the top-N rank-frequency curve (natural text slopes
    toward −1; heavily templated or deduplicated corpora drift away —
    a cheap corpus-health fingerprint training-data pipelines track
    across snapshots).

    Scale shape: word frequencies are ONE hash aggregate; ranks come
    from the bucketed prefix machine over the |vocab|-sized frequency
    table (descending frequency, word tie-break — never an
    unpartitioned window), the curve is cut to the top-N head, and
    the log-log points are fixed-point quantized so the OLS
    sufficient statistics are exact BIGINTs (the ×1e6 scales cancel
    in the slope and r²; the intercept divides once at the end).
    The only doubles are the three closed-form output expressions,
    built from identical text on both engines."""
    from ..operators.prefix import global_ordered

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f")).persist()
    )
    ranked = global_ordered(
        freq,
        [F.col("f").desc(), F.col("w")],
        bucket_key="f",
        bucket_desc=True,
        rank_col="rk",
    )
    pts = ranked.where(F.col("rk") <= ZIPF_TOPN).select(
        F.floor(F.log(F.col("rk").cast("double")) * _ZIPF_Q + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("f").cast("double")) * _ZIPF_Q + 0.5)
        .cast("long")
        .alias("y"),
    ).localCheckpoint(eager=False)
    sums = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    var_n = nd * F.col("sxx") - sxd * F.col("sx")
    vary_n = nd * F.col("syy") - syd * F.col("sy")
    slope = cov_n / var_n
    return sums.select(
        "n",
        q4(slope).alias("zipf_slope"),
        q4((syd - slope * F.col("sx")) / F.col("n") / F.lit(_ZIPF_Q)).alias(
            "log_c"
        ),
        q4(F.pow(cov_n, 2) / (var_n * vary_n)).alias("r2"),
    )


@register(
    "text_hapax_stats",
    oracle=f"""
    WITH words AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS f
        FROM words GROUP BY source, w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(f) AS BIGINT) AS tokens,
           CAST(count_if(f = 1) AS BIGINT) AS hapax,
           CAST(count_if(f = 2) AS BIGINT) AS dis,
           {sql_q4("CAST(count_if(f = 1) AS DOUBLE) / count(*)")}
               AS hapax_ratio,
           {sql_q4("CAST(count(*) AS DOUBLE) / sum(f)")} AS type_token_ratio
    FROM freq GROUP BY source
    """,
)
def text_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-tail profile: vocabulary size, token
    count, hapax legomena (frequency-1 words), dis legomena
    (frequency-2), hapax ratio and type-token ratio — the lexical-
    richness fingerprints that expose boilerplate-heavy or
    machine-generated sources (low hapax ratio) before they pollute
    a training mix.

    Scale shape: explode → ONE hash aggregate to (source, word)
    frequencies (map-side combined) → ONE aggregate to |sources|
    rows.  All counts are exact integers; the two ratios divide once
    per source row."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return freq.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("f").cast("long").alias("tokens"),
        F.count_if(F.col("f") == 1).cast("long").alias("hapax"),
        F.count_if(F.col("f") == 2).cast("long").alias("dis"),
        q4(
            F.count_if(F.col("f") == 1).cast("double") / F.count(F.lit(1))
        ).alias("hapax_ratio"),
        q4(F.count(F.lit(1)).cast("double") / F.sum("f")).alias(
            "type_token_ratio"
        ),
    )


# ------------------------------------------ Burrows' delta stylometry

BD_TOPN = 50       # most-frequent corpus words form the feature set
_BD_FQ = 1_000_000  # fixed-point scale for relative frequencies
_BD_ZQ = 1_000_000  # fixed-point scale for per-word |z1 - z2| terms


@register(
    "text_burrows_delta",
    oracle=f"""
    WITH words AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), cnt AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c
        FROM words GROUP BY source, w
    ), toks AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY source
    ), top AS (
        SELECT w FROM (
            SELECT w, sum(c) AS tot FROM cnt GROUP BY w
            ORDER BY tot DESC, w LIMIT {BD_TOPN}
        )
    ), grid AS (
        SELECT top.w, toks.source,
               CAST(floor(coalesce(cnt.c, 0) * {_BD_FQ}.0 / toks.t)
                    AS BIGINT) AS fq
        FROM top CROSS JOIN toks
        LEFT JOIN cnt ON cnt.w = top.w AND cnt.source = toks.source
    ), wstat AS (
        SELECT w, CAST(count(*) AS BIGINT) AS s,
               CAST(sum(fq) AS BIGINT) AS sf,
               CAST(sum(fq*fq) AS BIGINT) AS sff
        FROM grid GROUP BY w
    ), z AS (
        SELECT g.w, g.source,
               (g.fq - CAST(sf AS DOUBLE)/s)
               / sqrt((sff - CAST(sf AS DOUBLE)*sf/s) / (s - 1)) AS zv
        FROM grid g JOIN wstat ON wstat.w = g.w
    )
    SELECT a.source AS s1, b.source AS s2,
           {sql_q4(
               f"CAST(sum(CAST(floor(abs(a.zv - b.zv) * {_BD_ZQ}) AS BIGINT))"
               f" AS DOUBLE) / {_BD_ZQ} / {BD_TOPN}"
           )} AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' delta between every pair of sources — the standard
    stylometric distance (Burrows 2002, public): each source is a
    vector of z-scored relative frequencies of the corpus's top-{BD_TOPN}
    words, and delta is the mean absolute z difference.  Low delta =
    stylistically interchangeable sources (a templated-content
    smell); high delta = distinct registers worth separate mixing
    weights.

    Scale shape: (source, word) counts are ONE hash aggregate; the
    feature set is a TakeOrdered top-{BD_TOPN} broadcast; the z grid is
    |top words| × |sources| — metadata-sized — densified with zeros
    via a bounded cross join.  Relative frequencies and the per-word
    |z₁−z₂| terms are fixed-point quantized so every cross-engine
    fold is an exact integer; the z expression itself is shared
    text over exact integer sums (sample std, ddof=1)."""
    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c")).persist()
    )
    toks = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    top = (
        cnt.groupBy("w")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.col("tot").desc(), "w")
        .limit(BD_TOPN)
        .select("w")
    )
    grid = (
        F.broadcast(top)
        .crossJoin(toks)
        .join(cnt, ["w", "source"], "left")
        .select(
            "w",
            "source",
            F.floor(
                F.coalesce(F.col("c"), F.lit(0)) * F.lit(float(_BD_FQ)) / F.col("t")
            )
            .cast("long")
            .alias("fq"),
        ).localCheckpoint(eager=False)
    )
    wstat = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("fq").cast("long").alias("sf"),
        F.sum(F.col("fq") * F.col("fq")).cast("long").alias("sff"),
    )
    z = grid.join(F.broadcast(wstat), "w").select(
        "w",
        "source",
        (
            (F.col("fq") - F.col("sf").cast("double") / F.col("s"))
            / F.sqrt(
                (F.col("sff") - F.col("sf").cast("double") * F.col("sf") / F.col("s"))
                / (F.col("s") - 1)
            )
        ).alias("zv"),
    ).localCheckpoint(eager=False)
    a = z.select("w", F.col("source").alias("s1"), F.col("zv").alias("z1"))
    b = z.select("w", F.col("source").alias("s2"), F.col("zv").alias("z2"))
    return (
        a.join(b, "w")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            q4(
                F.sum(
                    F.floor(F.abs(F.col("z1") - F.col("z2")) * _BD_ZQ).cast(
                        "long"
                    )
                ).cast("double")
                / F.lit(_BD_ZQ)
                / F.lit(BD_TOPN)
            ).alias("delta")
        )
    )


# ------------------------------------------- Simpson diversity


@register(
    "text_simpson_diversity",
    oracle="""
    WITH w AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), f AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS f
        FROM w GROUP BY 1, 2
    ), s AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
               CAST(sum(f) AS BIGINT) AS n,
               CAST(sum(f*(f-1)) AS BIGINT) AS pairs
        FROM f GROUP BY 1
    )
    SELECT lang, vocab, n,
           floor((CAST(pairs AS DOUBLE)/(CAST(n AS DOUBLE)*(n-1)))
                *10000 + 0.5)/10000.0 AS simpson_l,
           floor((CAST(n AS DOUBLE)*(n-1)/pairs)*10000 + 0.5)/10000.0
               AS inv_simpson,
           floor((1.0 - CAST(pairs AS DOUBLE)/(CAST(n AS DOUBLE)*(n-1)))
                *10000 + 0.5)/10000.0 AS gini_simpson
    FROM s
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index of the token distribution per
    language: λ = Σf(f−1)/(N(N−1)) — the probability two tokens
    drawn without replacement coincide — with its inverse (effective
    vocabulary size) and the Gini–Simpson complement.  The unbiased
    pair-count form keeps every accumulator an exact integer; only
    the three final ratios are float.  Complements the Shannon-based
    `text_token_entropy` with the pair-collision view of lexical
    concentration (a corpus-mix health gate: a collapsing
    inv_simpson flags template/boilerplate flooding).

    Scale shape: explode → ONE (lang, word) hash aggregate
    (map-side combined) → ONE |langs|-row fold.  Shuffle carries
    word frequencies, never documents."""
    d = table(spark, sf_dir, "documents")
    f = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    s = f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("f").cast("long").alias("n"),
        F.sum(F.col("f") * (F.col("f") - 1)).cast("long").alias("pairs"),
    )
    nn = F.col("n").cast("double")
    lam = F.col("pairs").cast("double") / (nn * (nn - 1))
    return s.select(
        "lang",
        "vocab",
        "n",
        q4(lam).alias("simpson_l"),
        q4(nn * (nn - 1) / F.col("pairs")).alias("inv_simpson"),
        q4(F.lit(1.0) - lam).alias("gini_simpson"),
    )


# --------------------------------- train/eval n-gram contamination

CONTAM_N = 5  # shingle width (words)
CONTAM_THRESH = "0.2"  # contaminated if >= 20% of eval shingles hit


@register(
    "text_contamination_check",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                   AS BIGINT) % 10 AS b
        FROM documents
    ), sh AS (
        SELECT doc_id, b,
               unnest(list_transform(
                   generate_series(1, len(w) - {CONTAM_N - 1}),
                   i -> array_to_string(w[i:i + {CONTAM_N - 1}], ' ')))
                   AS s
        FROM docs WHERE len(w) >= {CONTAM_N}
    ), es AS (SELECT DISTINCT doc_id, s FROM sh WHERE b = 9),
    ts AS (SELECT DISTINCT s FROM sh WHERE b <> 9),
    counts AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        FROM es GROUP BY 1
    ), hits AS (
        SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM es e JOIN ts ON e.s = ts.s GROUP BY 1
    )
    SELECT c.doc_id, c.n_shingles,
           coalesce(h.n_hit, 0) AS n_hit,
           {sql_q4("CAST(coalesce(h.n_hit, 0) AS DOUBLE) / c.n_shingles")}
               AS hit_ratio,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / c.n_shingles
               >= {CONTAM_THRESH} AS contaminated
    FROM counts c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram contamination audit — the decontamination
    gate every LLM data pipeline runs before trusting a benchmark
    (GPT-3 appendix C shape): documents hash-split 90/10 into
    train/eval by md5(doc_id), each eval doc's DISTINCT 5-word
    shingles are probed against the global distinct train-shingle
    set, and the hit ratio flags eval docs whose content leaks from
    the training corpus.

    Scale shape: only shingle STRINGS shuffle (at true scale,
    hash-digest them first — same plan); the train side dedups to
    distinct shingles before the probe join (one hash aggregate),
    the hit count is a shingle-keyed equi-join + per-doc aggregate,
    and zero-hit eval docs survive via the left join. No pairwise
    doc×doc work anywhere — cost is linear in corpus shingles."""
    d = table(spark, sf_dir, "documents")
    b = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 10
    )
    docs = d.select(
        "doc_id", F.split("text", " ").alias("w"), b.alias("b")
    ).where(F.size("w") >= CONTAM_N)
    # shingle index built ONCE (persist()ed — DATA-SCALED, so lineage
    # is kept and executor loss recomputes, SCALE.md r13 rule): the
    # eval and train branches read cached shingle rows, not the
    # corpus scan — at 100 TB this materialization IS the inverted
    # index build
    sh = docs.select(
        "doc_id",
        "b",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {CONTAM_N - 1}),"
                f" i -> array_join(slice(w, i, {CONTAM_N}), ' '))"
            )
        ).alias("s"),
    ).persist()
    es = sh.where(F.col("b") == 9).select("doc_id", "s").distinct()
    ts = sh.where(F.col("b") != 9).select("s").distinct()
    counts = es.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    hits = (
        es.join(ts, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    ratio = F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col(
        "n_shingles"
    )
    return counts.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        q4(ratio).alias("hit_ratio"),
        (ratio >= float(CONTAM_THRESH)).alias("contaminated"),
    )


INTERLEAVE_HEAD = 30  # verified prefix of the interleaved order


@register(
    "pipeline_interleave_roundrobin",
    oracle=f"""
    WITH srcs AS (
        SELECT source,
               row_number() OVER (ORDER BY source) - 1 AS sidx,
               CAST(count(*) AS BIGINT) AS n_src
        FROM documents GROUP BY source
    ), pos AS (
        SELECT d.doc_id, d.source, s.n_src,
               (row_number() OVER (PARTITION BY d.source
                    ORDER BY d.doc_id) - 1)
               * (SELECT count(*) FROM srcs) + s.sidx AS p
        FROM documents d JOIN srcs s ON d.source = s.source
    )
    SELECT CAST(p AS BIGINT) AS pos, doc_id, source, n_src
    FROM pos ORDER BY p LIMIT {INTERLEAVE_HEAD}
    """,
)
def pipeline_interleave_roundrobin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic round-robin source interleaving — the
    reproducible training-stream order for multi-source corpora
    (alternating sources per step smooths gradient mixing without an
    RNG): doc r of source s lands at global position
    r·|sources| + index(s), with sources indexed by sorted name, so
    any two runs — and any two ENGINES — derive the identical
    sequence. The check verifies the first {INTERLEAVE_HEAD}
    positions exactly (uneven sources leave tail gaps by design —
    positions stay unique and ordered).

    Scale shape: one row_number per source partition (partitioned
    window, shuffle on source), a broadcast 20-row source-index
    table, and TakeOrdered for the audited prefix — no global
    sort."""
    d = table(spark, sf_dir, "documents")
    srcs = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_src"))
        .withColumn(
            "sidx",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
    )
    nsrc = srcs.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pos = (
        d.join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "doc_id",
            "source",
            "n_src",
            (
                (F.row_number().over(w) - 1) * F.col("n_sources")
                + F.col("sidx")
            ).cast("long").alias("pos"),
        )
    )
    return (
        pos.orderBy("pos")
        .limit(INTERLEAVE_HEAD)
        .select("pos", "doc_id", "source", "n_src")
    )


# ---------------------------------------- compression-ratio quality

COMP_BANDS = (0, 30, 45, 60, 100)  # ratio percent band edges


@register(
    "text_compression_quality",
    notes="zlib compressibility — the Gopher-family repetition "
    "signal; the deflate byte count is library-version-dependent, so "
    "the driver records rows-only; tests/test_r7_wave_y.py recomputes "
    "every ratio with the same zlib and asserts exact band counts.",
)
def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality gate: zlib-deflate each document and
    band it by compressed/raw size — THE cheap repetition detector
    in LLM curation (boilerplate and template spam compress far
    below organic prose; Gopher-class pipelines drop the extreme
    bands). Runs as an Arrow-batched pandas UDF (bulk bytes never
    leave the executor; one Python call per batch, not per row) —
    the sanctioned slow-path shape for logic Spark's JVM functions
    cannot express. Output: per-band doc counts with min/max ratio
    percews (exact integers from the deterministic level-6
    deflate)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ratio(texts):
        import zlib

        return texts.map(
            lambda t: 100
            * len(zlib.compress(t.encode("utf-8"), 6))
            // max(1, len(t.encode("utf-8")))
        )

    # real type objects (string hints would not resolve from a
    # function-local pandas import)
    _ratio.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    ratio_pct = pandas_udf(_ratio, "long")

    d = table(spark, sf_dir, "documents")
    edges = list(COMP_BANDS)
    band = F.lit(len(edges) - 2)
    for i in range(len(edges) - 2, -1, -1):
        band = F.when(F.col("r") < edges[i + 1], i).otherwise(band)
    r = d.select(ratio_pct(F.col("text")).alias("r"))
    return (
        r.groupBy(band.cast("long").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("r").cast("long").alias("min_pct"),
            F.max("r").cast("long").alias("max_pct"),
        )
    )


# ------------------------------------------- stylometry wave (r8)


@register(
    "text_yule_k",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS f
        FROM tok GROUP BY lang, w
    ), agg AS (
        SELECT lang,
               CAST(sum(f) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(f*f) AS BIGINT) AS sum_f2
        FROM tf GROUP BY lang
    )
    SELECT lang, n_tokens, n_types,
           floor(1e4 * (CAST(sum_f2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens) * 1e4 + 0.5) / 1e4
               AS yule_k
    FROM agg
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per language — the classic vocabulary-
    richness constant (K = 1e4 * (sum tf^2 - N) / N^2, invariant to
    corpus size under Yule's urn model): high K means heavy repetition
    of few types (boilerplate), low K means diverse language — a
    drop-in corpus-health scalar next to hapax/Simpson/Zipf.

    Scale shape: sum over types of tf^2 IS the collision mass — one
    token explode + one (lang, term) hash aggregate + one per-lang
    fold, all exact BIGINTs; no ranking, no window."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    agg = tf.groupBy("lang").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("sum_f2"),
    )
    return agg.select(
        "lang",
        "n_tokens",
        "n_types",
        q4(
            F.lit(1e4)
            * (F.col("sum_f2").cast("double") - F.col("n_tokens"))
            / (F.col("n_tokens").cast("double") * F.col("n_tokens"))
        ).alias("yule_k"),
    )


@register(
    "text_mendenhall_curve",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), hist AS (
        SELECT lang, CAST(length(w) AS BIGINT) AS wlen,
               CAST(count(*) AS BIGINT) AS cnt
        FROM tok GROUP BY lang, length(w)
    ), tot AS (
        SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY lang
    )
    SELECT h.lang, h.wlen, h.cnt,
           floor(CAST(h.cnt AS DOUBLE) / t.n * 1e4 + 0.5) / 1e4 AS share
    FROM hist h JOIN tot t ON t.lang = h.lang
    """,
)
def text_mendenhall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mendenhall's characteristic curve per language: the word-length
    frequency spectrum (share of 1-letter, 2-letter, ... words) — the
    oldest stylometric fingerprint, still used to spot machine-
    generated or template text whose length spectrum diverges from
    natural prose.

    Scale shape: token explode → (lang, length) hash aggregate →
    per-lang totals joined back (lang cardinality is bounded, so the
    totals side broadcasts); output is grid-sized."""
    d = table(spark, sf_dir, "documents")
    hist = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", F.length("w").cast("long").alias("wlen"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = hist.groupBy("lang").agg(F.sum("cnt").cast("long").alias("n"))
    return hist.join(F.broadcast(tot), "lang").select(
        "lang",
        "wlen",
        "cnt",
        q4(F.col("cnt").cast("double") / F.col("n")).alias("share"),
    )


_STTR_SEG = 20  # tokens per STTR segment (full segments only)


@register(
    "text_sttr_segmented",
    oracle=f"""
    WITH segs AS (
        SELECT lang,
               unnest([CAST(len(list_distinct(
                   string_split(text, ' ')[({_STTR_SEG}*(i-1)+1):({_STTR_SEG}*i)]
               )) AS BIGINT)
               for i in range(1, len(string_split(text, ' ')) // {_STTR_SEG} + 1)])
                   AS d
        FROM documents
    ), agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(d*d) AS BIGINT) AS sdd
        FROM segs GROUP BY lang
    )
    SELECT lang, n_segments,
           floor(CAST(sd AS DOUBLE) / n_segments / {_STTR_SEG} * 1e4 + 0.5)
               / 1e4 AS mean_ttr,
           floor(sqrt((CAST(sdd AS DOUBLE) / n_segments
                       - pow(CAST(sd AS DOUBLE) / n_segments, 2)))
                 / {_STTR_SEG} * 1e4 + 0.5) / 1e4 AS sd_ttr
    FROM agg WHERE n_segments > 0
    """,
)
def text_sttr_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized type-token ratio per language: TTR computed on
    fixed 20-token segments (full segments only) then averaged — the
    stylometry-standard fix for raw TTR's corpus-size dependence
    (Kubat & Milicka's STTR, public); sd_ttr flags languages whose
    diversity swings segment to segment (mixed boilerplate + prose).

    Hash-parity discipline: each segment's distinct count is a small
    integer, so mean and variance come from exact BIGINT sums of d
    and d^2 — no double accumulates across rows.

    Scale shape: segmentation is a per-document JVM array fold
    (slice + array_distinct inside one higher-order transform — no
    explode of raw tokens), then one (lang) hash aggregate over
    segment counts."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    k = F.floor(F.size(words) / _STTR_SEG).cast("int")
    # Spark's sequence(1, 0) DESCENDS — clamp the stop and gate on k
    # so sub-segment documents contribute no (partial) segments.
    seg_counts = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.size(
                F.array_distinct(
                    F.slice(words, (i - 1) * _STTR_SEG + 1, _STTR_SEG)
                )
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    segs = d.select("lang", F.explode(seg_counts).alias("d"))
    agg = segs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
    )
    mean_d = F.col("sd").cast("double") / F.col("n_segments")
    return agg.where(F.col("n_segments") > 0).select(
        "lang",
        "n_segments",
        q4(mean_d / _STTR_SEG).alias("mean_ttr"),
        q4(
            F.sqrt(
                F.col("sdd").cast("double") / F.col("n_segments")
                - F.pow(mean_d, 2)
            )
            / _STTR_SEG
        ).alias("sd_ttr"),
    )


_OOV_K = 16  # in-vocabulary size (top-K corpus terms; 1e5 at real scale)


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w
    ), vocab AS (
        SELECT w FROM tf ORDER BY f DESC, w LIMIT {_OOV_K}
    ), per_doc AS (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count_if(v.w IS NULL) AS BIGINT) AS n_oov
        FROM tok t LEFT JOIN vocab v ON v.w = t.w
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           floor(CAST(n_oov AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4
               AS oov_rate
    FROM per_doc
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-16 terms (top-1e5 at production scale) — the tokenizer-
    coverage audit run before training: a document whose tokens fall
    mostly outside the frequent vocabulary will fragment into rare
    pieces (or UNKs) and is usually noise, code, or another language.

    Scale shape: the vocabulary is a bounded TakeOrdered over the
    term-frequency aggregate and BROADCASTS into the token probe (a
    left join against a K-row side); per-doc rates are one hash
    aggregate.  The token explode is the only data-sized stage."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("f"))
    vocab = tf.orderBy(F.col("f").desc(), "w").limit(_OOV_K).select(
        F.col("w").alias("vw")
    )
    per_doc = (
        tok.join(F.broadcast(vocab), F.col("vw") == F.col("w"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count_if(F.col("vw").isNull()).cast("long").alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        q4(F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


# --------------------------------------- curation waterfall (r8 wave)

# Gate rules in application order; a document is attributed to the
# FIRST rule it fails (the attrition-waterfall convention, so the
# per-rule "failed here" counts sum to total rejects).
_QG_MIN_TOKENS = 15
_QG_MIN_TTR = 0.35
_QG_MAX_DOM = 0.20
_QG_RULES = ("too_short", "low_diversity", "repetitive", "exact_dup", "non_en")


@register(
    "pipeline_quality_gate_report",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_dis,
               (SELECT max(cnt) FROM (
                   SELECT count(*) AS cnt
                   FROM unnest(string_split(text, ' ')) AS t(w) GROUP BY w
               )) AS top_tf,
               row_number() OVER (PARTITION BY text ORDER BY doc_id)
                   AS dup_rank
        FROM documents
    ), flagged AS (
        SELECT doc_id,
               (n_tok < {_QG_MIN_TOKENS}) AS f1,
               (CAST(n_dis AS DOUBLE) / n_tok < {_QG_MIN_TTR}) AS f2,
               (CAST(top_tf AS DOUBLE) / n_tok > {_QG_MAX_DOM}) AS f3,
               (dup_rank > 1) AS f4,
               (lang <> 'en') AS f5
        FROM feat
    ), attributed AS (
        SELECT CASE WHEN f1 THEN 1 WHEN f2 THEN 2 WHEN f3 THEN 3
                    WHEN f4 THEN 4 WHEN f5 THEN 5 ELSE 0 END AS first_fail,
               f1, f2, f3, f4, f5
        FROM flagged
    ), per_rule AS (
        SELECT r.ord, r.rule,
               CAST(sum(CASE r.ord WHEN 1 THEN CAST(f1 AS INT)
                        WHEN 2 THEN CAST(f2 AS INT)
                        WHEN 3 THEN CAST(f3 AS INT)
                        WHEN 4 THEN CAST(f4 AS INT)
                        ELSE CAST(f5 AS INT) END) AS BIGINT)
                   AS n_failing_total,
               CAST(count_if(first_fail = r.ord) AS BIGINT) AS n_failed_here
        FROM attributed
        CROSS JOIN (VALUES (1, 'too_short'), (2, 'low_diversity'),
                           (3, 'repetitive'), (4, 'exact_dup'),
                           (5, 'non_en')) r(ord, rule)
        GROUP BY r.ord, r.rule
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM attributed
    )
    SELECT a.ord AS rule_order, a.rule, a.n_failing_total, a.n_failed_here,
           CAST(t.n_docs - sum(b.n_failed_here) AS BIGINT)
               AS survivors_after
    FROM per_rule a
    JOIN per_rule b ON b.ord <= a.ord
    CROSS JOIN tot t
    GROUP BY a.ord, a.rule, a.n_failing_total, a.n_failed_here, t.n_docs
    """,
)
def pipeline_quality_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-gate attrition waterfall over the document corpus:
    five quality rules (length floor, type-token-ratio floor,
    top-token dominance, exact-duplicate keep-first, language filter)
    applied in a fixed order, each document attributed to the FIRST
    rule it fails — the 'why did my corpus shrink' report every
    pre-training data pipeline publishes next to its dataset card
    (n_failing_total = marginal rule hit rate; n_failed_here sums to
    total rejects; survivors_after tracks the funnel).

    Scale shape: ONE pass computes every per-doc feature (token
    folds are JVM higher-order functions; the duplicate rank is a
    text-partitioned window — hash-partitioned, no global order);
    attribution is a CASE; the waterfall cumulative is a bounded
    5x5 rule-grid self-join, not a window."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    top_tf = F.array_max(
        F.transform(
            F.array_distinct(words),
            lambda w: F.size(F.filter(words, lambda x: x == w)).cast("long"),
        )
    )
    wd = Window.partitionBy("text").orderBy("doc_id")
    feat = d.select(
        "doc_id",
        "lang",
        F.size(words).cast("long").alias("n_tok"),
        F.size(F.array_distinct(words)).cast("long").alias("n_dis"),
        top_tf.alias("top_tf"),
        F.row_number().over(wd).alias("dup_rank"),
    )
    flagged = feat.select(
        (F.col("n_tok") < _QG_MIN_TOKENS).alias("f1"),
        (F.col("n_dis").cast("double") / F.col("n_tok") < _QG_MIN_TTR).alias("f2"),
        (F.col("top_tf").cast("double") / F.col("n_tok") > _QG_MAX_DOM).alias("f3"),
        (F.col("dup_rank") > 1).alias("f4"),
        (F.col("lang") != "en").alias("f5"),
    )
    attributed = flagged.withColumn(
        "first_fail",
        F.when(F.col("f1"), 1)
        .when(F.col("f2"), 2)
        .when(F.col("f3"), 3)
        .when(F.col("f4"), 4)
        .when(F.col("f5"), 5)
        .otherwise(0),
    )
    rules = F.explode(
        F.array(*[
            F.struct(F.lit(i + 1).alias("ord"), F.lit(r).alias("rule"))
            for i, r in enumerate(_QG_RULES)
        ])
    )
    per_rule = (
        attributed.select("*", rules.alias("r"))
        .groupBy(F.col("r.ord").alias("ord"), F.col("r.rule").alias("rule"))
        .agg(
            F.sum(
                F.when(F.col("r.ord") == 1, F.col("f1").cast("int"))
                .when(F.col("r.ord") == 2, F.col("f2").cast("int"))
                .when(F.col("r.ord") == 3, F.col("f3").cast("int"))
                .when(F.col("r.ord") == 4, F.col("f4").cast("int"))
                .otherwise(F.col("f5").cast("int"))
            )
            .cast("long")
            .alias("n_failing_total"),
            F.count_if(F.col("first_fail") == F.col("r.ord"))
            .cast("long")
            .alias("n_failed_here"),
        )
    )
    tot = attributed.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    a = per_rule.select(
        F.col("ord").alias("a_ord"),
        F.col("rule").alias("a_rule"),
        F.col("n_failing_total").alias("a_total"),
        F.col("n_failed_here").alias("a_here"),
    )
    b = per_rule.select(
        F.col("ord").alias("b_ord"), F.col("n_failed_here").alias("b_here")
    )
    return (
        a.join(b, F.col("b_ord") <= F.col("a_ord"))
        .crossJoin(F.broadcast(tot))
        .groupBy("a_ord", "a_rule", "a_total", "a_here", "n_docs")
        .agg(F.sum("b_here").alias("_cum"))
        .select(
            F.col("a_ord").alias("rule_order"),
            F.col("a_rule").alias("rule"),
            F.col("a_total").alias("n_failing_total"),
            F.col("a_here").alias("n_failed_here"),
            (F.col("n_docs") - F.col("_cum")).cast("long").alias(
                "survivors_after"
            ),
        )
    )


# ---------------------------------- lexical richness indices (r8 wave U)


@register(
    "text_lexical_richness",
    oracle=f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS f
        FROM words GROUP BY lang, w
    ), agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(f) AS BIGINT) AS n,
               CAST(count_if(f = 1) AS BIGINT) AS v1,
               CAST(count_if(f = 2) AS BIGINT) AS v2
        FROM freq GROUP BY lang
    )
    SELECT lang, v AS vocab, n AS tokens,
           {sql_q4("ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE))")}
               AS herdan_c,
           {sql_q4("CAST(v AS DOUBLE) / sqrt(CAST(n AS DOUBLE))")}
               AS guiraud_r,
           {sql_q4("power(CAST(n AS DOUBLE),"
                   " power(CAST(v AS DOUBLE), -0.165))")} AS brunet_w,
           {sql_q4("CASE WHEN v1 = v THEN 0.0 ELSE"
                   " 100.0 * ln(CAST(n AS DOUBLE))"
                   " / (1.0 - CAST(v1 AS DOUBLE) / v) END")} AS honore_r,
           {sql_q4("CAST(v2 AS DOUBLE) / v")} AS sichel_s
    FROM agg
    """,
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical-richness index panel: Herdan's C
    (log-log TTR), Guiraud's R (root TTR), Brunet's W (N^(V^-0.165)),
    Honoré's R (hapax-weighted 100·lnN / (1 - V1/V)) and Sichel's S
    (dis-legomena share V2/V) — the size-robust vocabulary-diversity
    measures stylometry uses where the raw type-token ratio
    (text_hapax_stats) collapses with corpus length; together they
    fingerprint template-heavy or machine-generated languages.

    All five indices are single libm expressions over FOUR exact
    integers (V, N, V1, V2) per language, so the relational work is
    identical to text_hapax_stats: explode → one hash aggregate to
    (lang, word) — map-side combined, shuffling only distinct words —
    → one aggregate to |langs| rows. Degenerate all-hapax corpora
    (V1 = V) return Honoré R = 0 by spec rather than dividing by 0.

    Scale shape at 100 TB: the only shuffle carries (lang, word)
    digests; output rows = |language domain|."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    agg = freq.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("f").cast("long").alias("n"),
        F.count_if(F.col("f") == 1).cast("long").alias("v1"),
        F.count_if(F.col("f") == 2).cast("long").alias("v2"),
    )
    v = F.col("v").cast("double")
    n = F.col("n").cast("double")
    v1 = F.col("v1").cast("double")
    return agg.select(
        "lang",
        F.col("v").alias("vocab"),
        F.col("n").alias("tokens"),
        q4(F.log(v) / F.log(n)).alias("herdan_c"),
        q4(v / F.sqrt(n)).alias("guiraud_r"),
        q4(F.pow(n, F.pow(v, F.lit(-0.165)))).alias("brunet_w"),
        q4(
            F.when(F.col("v1") == F.col("v"), F.lit(0.0)).otherwise(
                F.lit(100.0) * F.log(n) / (F.lit(1.0) - v1 / v)
            )
        ).alias("honore_r"),
        q4(F.col("v2").cast("double") / v).alias("sichel_s"),
    )


# ----------------------------- char bigram entropy rate (r8 wave W)

_CBE_Q = 1_000_000_000


@register(
    "text_char_bigram_entropy",
    oracle=f"""
    WITH grams AS (
        SELECT lang, unnest([substring(text, i, 2)
               for i in range(1, length(text))]) AS g
        FROM documents WHERE length(text) >= 2
    ), cells AS (
        SELECT lang, g, CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY lang, g
    ), big AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * {_CBE_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS s2
        FROM cells GROUP BY lang
    ), pre AS (
        SELECT lang, CAST(sum(CAST(floor(c1 * ln(CAST(c1 AS DOUBLE))
                    * {_CBE_Q} + 0.5) AS BIGINT)) AS BIGINT) AS s1
        FROM (SELECT lang, substring(g, 1, 1) AS p,
                     CAST(sum(c) AS BIGINT) AS c1
              FROM cells GROUP BY lang, p)
        GROUP BY lang
    )
    SELECT b.lang, b.n AS n_bigrams,
           {sql_q4(f"ln(CAST(b.n AS DOUBLE)) - CAST(b.s2 AS DOUBLE)"
                   f" / {_CBE_Q} / b.n")} AS h_bigram,
           {sql_q4(f"ln(CAST(b.n AS DOUBLE)) - CAST(p.s1 AS DOUBLE)"
                   f" / {_CBE_Q} / b.n")} AS h_prefix,
           {sql_q4(f"(CAST(p.s1 AS DOUBLE) - CAST(b.s2 AS DOUBLE))"
                   f" / {_CBE_Q} / b.n")} AS h_cond,
           {sql_q4(f"exp((CAST(p.s1 AS DOUBLE) - CAST(b.s2 AS DOUBLE))"
                   f" / {_CBE_Q} / b.n)")} AS perplexity
    FROM big b JOIN pre p ON p.lang = b.lang
    """,
)
def text_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-level conditional entropy H(c2|c1) =
    H(bigram) - H(prefix) in nats, with its perplexity — the
    Shannon-style order-1 entropy RATE that separates natural
    language (low, structured) from near-random or templated text,
    complementing the order-0 token view of text_token_entropy.

    Bigrams come from ONE higher-order explode (transform over
    sequence, no UDF); both entropies use the H = ln N - (1/N)
    sum c·ln c identity with each c·ln c term 1e-9-quantized so the
    folds are order-free, and the prefix marginal is derived FROM the
    bigram cells (substring of the gram), not a second corpus pass.
    The conditional entropy cancels the ln N terms: H_cond =
    (s1 - s2)/(Q·N).

    Scale shape at 100 TB: the only heavy shuffle carries (lang,
    bigram) cells — bounded by the squared alphabet, not the corpus;
    everything downstream is |langs|-row arithmetic."""
    d = table(spark, sf_dir, "documents")
    grams = d.where(F.length("text") >= 2).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("g"),
    )
    cells = grams.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )

    def _clq(col: Column) -> Column:
        return (
            F.floor(col * F.log(col.cast("double")) * _CBE_Q + F.lit(0.5))
            .cast("long")
        )

    big = cells.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(_clq(F.col("c"))).cast("long").alias("s2"),
    )
    pre = (
        cells.groupBy("lang", F.substring("g", 1, 1).alias("p"))
        .agg(F.sum("c").cast("long").alias("c1"))
        .groupBy("lang")
        .agg(F.sum(_clq(F.col("c1"))).cast("long").alias("s1"))
    )
    j = big.join(pre, "lang")
    nd = F.col("n").cast("double")
    h2 = F.log(nd) - F.col("s2").cast("double") / _CBE_Q / F.col("n")
    h1 = F.log(nd) - F.col("s1").cast("double") / _CBE_Q / F.col("n")
    hc = (F.col("s1").cast("double") - F.col("s2")) / _CBE_Q / F.col("n")
    return j.select(
        "lang",
        F.col("n").alias("n_bigrams"),
        q4(h2).alias("h_bigram"),
        q4(h1).alias("h_prefix"),
        q4(hc).alias("h_cond"),
        q4(F.exp(hc)).alias("perplexity"),
    )


# ----------------------------------- Heaps' law fit (r8 wave AH)

_HEAPS_Q = 1_000_000_000


@register(
    "text_heaps_law",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), per_doc AS (
        SELECT CAST(doc_id // {VOCAB_BUCKET_W} AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS toks
        FROM words GROUP BY 1
    ), tok_bucket AS (
        SELECT bucket, CAST(sum(toks) AS BIGINT) AS toks
        FROM per_doc GROUP BY bucket
    ), first_seen AS (
        SELECT w, CAST(min(doc_id) // {VOCAB_BUCKET_W} AS BIGINT) AS fb
        FROM words GROUP BY w
    ), vocab_bucket AS (
        SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_vocab
        FROM first_seen GROUP BY fb
    ), curve AS (
        SELECT t.bucket,
               CAST(sum(t.toks) OVER (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n,
               CAST(sum(COALESCE(v.new_vocab, 0)) OVER (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS v
        FROM tok_bucket t LEFT JOIN vocab_bucket v ON t.bucket = v.bucket
    ), pts AS (
        SELECT CAST(floor(ln(CAST(n AS DOUBLE)) * {_HEAPS_Q} + 0.5)
                   AS BIGINT) AS xq,
               CAST(floor(ln(CAST(v AS DOUBLE)) * {_HEAPS_Q} + 0.5)
                   AS BIGINT) AS yq
        FROM curve
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
               CAST(sum(CAST(floor(CAST(xq AS DOUBLE) * xq / {_HEAPS_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS sxxq,
               CAST(sum(CAST(floor(CAST(xq AS DOUBLE) * yq / {_HEAPS_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS sxyq,
               CAST(sum(CAST(floor(CAST(yq AS DOUBLE) * yq / {_HEAPS_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS syyq
        FROM pts
    )
    SELECT m AS n_points,
           {sql_q4(
               f"(CAST(sxyq AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m"
               f" / {_HEAPS_Q})"
               f" / (CAST(sxxq AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m"
               f" / {_HEAPS_Q})"
           )} AS beta,
           {sql_q4(
               f"exp(CAST(sy AS DOUBLE) / m / {_HEAPS_Q}"
               f" - (CAST(sxyq AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m"
               f" / {_HEAPS_Q})"
               f" / (CAST(sxxq AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m"
               f" / {_HEAPS_Q})"
               f" * CAST(sx AS DOUBLE) / m / {_HEAPS_Q})"
           )} AS k,
           {sql_q4(
               f"power(CAST(sxyq AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m"
               f" / {_HEAPS_Q}, 2)"
               f" / ((CAST(sxxq AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m"
               f" / {_HEAPS_Q})"
               f" * (CAST(syyq AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m"
               f" / {_HEAPS_Q}))"
           )} AS r2
    FROM mom
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit V = k·N^beta to the corpus vocabulary-growth
    curve: log-log OLS over the per-bucket (cumulative tokens,
    cumulative vocabulary) points of text_vocab_growth, reporting
    beta (typically 0.4-0.6 for natural language — near 1 means the
    crawl never stops minting tokens, near 0 means it's closed
    vocabulary/templated), the scale constant k, and the fit R^2.

    The curve reuses the first-seen-bucket trick (no running
    distinct); per-point ln terms quantize at 1e-9 and the five OLS
    moments fold as BIGINTs with products rescaled back by one Q so
    they stay far inside 2^63; slope/intercept/R^2 are single-row
    arithmetic.

    Scale shape at 100 TB: the vocab_growth shuffles (term digests)
    plus one bounded-grid prefix and a 1-row reduction."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok_bucket = (
        words.groupBy(
            F.expr(f"doc_id DIV {VOCAB_BUCKET_W}").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("toks"))
    )
    vocab_bucket = (
        words.groupBy("w")
        .agg(F.expr(f"min(doc_id) DIV {VOCAB_BUCKET_W}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    wb = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        tok_bucket.join(vocab_bucket, "bucket", "left")
        .select(
            "bucket",
            F.sum("toks").over(wb).cast("long").alias("n"),
            F.sum(F.coalesce(F.col("new_vocab"), F.lit(0)))
            .over(wb)
            .cast("long")
            .alias("v"),
        )
    )
    pts = curve.select(
        F.floor(F.log(F.col("n").cast("double")) * _HEAPS_Q + F.lit(0.5))
        .cast("long")
        .alias("xq"),
        F.floor(F.log(F.col("v").cast("double")) * _HEAPS_Q + F.lit(0.5))
        .cast("long")
        .alias("yq"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(
            F.floor(
                F.col("xq").cast("double") * F.col("xq") / _HEAPS_Q + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sxxq"),
        F.sum(
            F.floor(
                F.col("xq").cast("double") * F.col("yq") / _HEAPS_Q + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sxyq"),
        F.sum(
            F.floor(
                F.col("yq").cast("double") * F.col("yq") / _HEAPS_Q + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("syyq"),
    )
    m = F.col("m")
    sxx = F.col("sxxq").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / m / _HEAPS_Q
    sxy = F.col("sxyq").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ) / m / _HEAPS_Q
    syy = F.col("syyq").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ) / m / _HEAPS_Q
    beta = sxy / sxx
    intercept = (
        F.col("sy").cast("double") / m / _HEAPS_Q
        - beta * F.col("sx").cast("double") / m / _HEAPS_Q
    )
    return mom.select(
        m.alias("n_points"),
        q4(beta).alias("beta"),
        q4(F.exp(intercept)).alias("k"),
        q4(sxy * sxy / (sxx * syy)).alias("r2"),
    )


# ------------------------------ Renyi entropy spectrum (r8 wave AJ)

_RENYI_Q = 1_000_000_000


@register(
    "text_renyi_spectrum",
    oracle=f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS f
        FROM words GROUP BY lang, w
    ), tot AS (
        SELECT lang, CAST(sum(f) AS BIGINT) AS n,
               CAST(max(f) AS BIGINT) AS fmax,
               CAST(count(*) AS BIGINT) AS v
        FROM freq GROUP BY lang
    ), folds AS (
        SELECT f.lang,
               CAST(sum(CAST(floor(sqrt(CAST(f.f AS DOUBLE) / t.n)
                    * {_RENYI_Q} + 0.5) AS BIGINT)) AS BIGINT) AS s_half,
               CAST(sum(CAST(floor(f.f * ln(CAST(f.f AS DOUBLE)) * 1e6
                    + 0.5) AS BIGINT)) AS BIGINT) AS s_ln,
               CAST(sum(f.f * f.f) AS BIGINT) AS s_sq
        FROM freq f JOIN tot t ON t.lang = f.lang
        GROUP BY f.lang
    )
    SELECT t.lang, t.v AS vocab, t.n AS tokens,
           {sql_q4(f"2.0 * ln(CAST(s_half AS DOUBLE) / {_RENYI_Q})")}
               AS h_renyi_half,
           {sql_q4("ln(CAST(t.n AS DOUBLE))"
                   " - CAST(s_ln AS DOUBLE) / 1e6 / t.n")} AS h_shannon,
           {sql_q4("-ln(CAST(s_sq AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n))")}
               AS h_renyi_2,
           {sql_q4("-ln(CAST(t.fmax AS DOUBLE) / t.n)")} AS h_min
    FROM tot t JOIN folds f2 ON f2.lang = t.lang
    """,
)
def text_renyi_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renyi entropy spectrum of the per-language word distribution
    at alpha = 1/2, 1, 2, infinity: H_1/2 (weights rare words up),
    Shannon H_1, collision entropy H_2 = -ln sum p^2 (what a
    birthday-attack or near-dup sampler feels), and min-entropy
    H_inf = -ln p_max (the single most predictable token) — the
    whole diversity PROFILE, monotone decreasing in alpha; how fast
    it drops tells a curation pass whether diversity lives in the
    head or the tail.

    All four points come from one frequency table: sqrt/ln terms
    quantize per word type at fixed scales and fold as BIGINTs, the
    collision sum is exact integer f^2, and H_inf reads max(f). The
    H_1/2 fold sums sqrt(p) directly so the engine never forms
    p^alpha doubles row-by-row.

    Scale shape at 100 TB: one (lang, word) hash aggregate — same
    single shuffle as text_hapax_stats — then |langs|-row math."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    tot = freq.groupBy("lang").agg(
        F.sum("f").cast("long").alias("n"),
        F.max("f").cast("long").alias("fmax"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    folds = (
        freq.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.sum(
                F.floor(
                    F.sqrt(F.col("f").cast("double") / F.col("n")) * _RENYI_Q
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("s_half"),
            F.sum(
                F.floor(
                    F.col("f") * F.log(F.col("f").cast("double")) * 1e6
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("s_ln"),
            F.sum(F.col("f") * F.col("f")).cast("long").alias("s_sq"),
        )
    )
    j = tot.join(folds, "lang")
    nd = F.col("n").cast("double")
    return j.select(
        "lang",
        F.col("v").alias("vocab"),
        F.col("n").alias("tokens"),
        q4(
            F.lit(2.0) * F.log(F.col("s_half").cast("double") / _RENYI_Q)
        ).alias("h_renyi_half"),
        q4(F.log(nd) - F.col("s_ln").cast("double") / 1e6 / F.col("n")).alias(
            "h_shannon"
        ),
        q4(-F.log(F.col("s_sq").cast("double") / (nd * F.col("n")))).alias(
            "h_renyi_2"
        ),
        q4(-F.log(F.col("fmax").cast("double") / F.col("n"))).alias("h_min"),
    )


# -------------------------- dedup importance weights (r8 wave AL)

_DW_Q = 1_000_000_000


@register(
    "pipeline_dedup_weights",
    oracle=f"""
    WITH clustered AS (
        SELECT doc_id, lang, md5(text) AS ck FROM documents
    ), sizes AS (
        SELECT ck, CAST(count(*) AS BIGINT) AS sz FROM clustered GROUP BY ck
    ), weighted AS (
        SELECT c.lang, s.sz,
               CAST(floor(1.0 * {_DW_Q} / s.sz + 0.5) AS BIGINT) AS wq
        FROM clustered c JOIN sizes s ON s.ck = c.ck
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count_if(sz = 1) AS BIGINT) AS n_unique,
           {sql_q4(f"CAST(sum(wq) AS DOUBLE) / {_DW_Q}")} AS effective_docs,
           {sql_q4(f"CAST(sum(wq) AS DOUBLE) / {_DW_Q} / count(*)")}
               AS effective_frac
    FROM weighted GROUP BY lang
    """,
)
def pipeline_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware importance weights: every document gets weight
    1/|its exact-duplicate cluster| (md5 content key), so training on
    the FULL corpus with these weights equals training on the
    deduplicated corpus — the keep-everything alternative to
    dedup_exact's row dropping that preserves shard locality and
    lets the weight column ride along at 100 TB instead of forcing a
    rewrite. Per language: document count, singleton count, the
    effective (weighted) document count and its fraction.

    Weights quantize at 1e-9 per document before the per-language
    fold (order-free); summed over a whole cluster they telescope to
    exactly 1, so sum(effective_docs) across languages equals the
    global distinct-content count — the property test's invariant.

    Scale shape: one hash aggregate to content digests, one digest
    join back (shuffles carry md5 keys, never text), one |langs|-row
    report."""
    d = table(spark, sf_dir, "documents")
    clustered = d.select("doc_id", "lang", F.md5("text").alias("ck"))
    sizes = clustered.groupBy("ck").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    weighted = clustered.join(sizes, "ck").select(
        "lang",
        "sz",
        F.floor(F.lit(1.0) * _DW_Q / F.col("sz") + F.lit(0.5))
        .cast("long")
        .alias("wq"),
    )
    return weighted.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("sz") == 1).cast("long").alias("n_unique"),
        q4(F.sum("wq").cast("double") / _DW_Q).alias("effective_docs"),
        q4(
            F.sum("wq").cast("double") / _DW_Q / F.count(F.lit(1))
        ).alias("effective_frac"),
    )


# --------------------------- langid confusion matrix (r8 wave AN)


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT (lang = 'en') AS is_en,
               (CAST(len(list_filter(string_split(text, ' '),
                     x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.02) AS pred_en
        FROM documents
    ), c AS (
        SELECT CAST(count_if(is_en AND pred_en) AS BIGINT) AS tp,
               CAST(count_if(NOT is_en AND pred_en) AS BIGINT) AS fp,
               CAST(count_if(NOT is_en AND NOT pred_en) AS BIGINT) AS tn,
               CAST(count_if(is_en AND NOT pred_en) AS BIGINT) AS fn
        FROM scored
    )
    SELECT tp, fp, tn, fn,
           {sql_q4("CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn)")}
               AS accuracy,
           {sql_q4("CAST(tp AS DOUBLE) / (tp + fp)")} AS precision_en,
           {sql_q4("CAST(tp AS DOUBLE) / (tp + fn)")} AS recall_en
    FROM c
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the text_langid heuristic against the
    DECLARED language label: TP/FP/TN/FN plus accuracy and
    English-class precision/recall — the detector-quality readout a
    curation pipeline checks before trusting language routing (the
    declared label plays gold here; in production it is a held-out
    annotation set).

    Same stopword-ratio predictor as text_langid (shared spec), one
    conditional aggregate, four counters, three ratios.

    Scale shape at 100 TB: one pass, 1-row output."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    hits = F.size(F.filter(words, lambda x: x.isin(*EN_STOPWORDS)))
    pred = (hits.cast("double") / F.size(words)) >= 0.02
    scored = d.select(
        (F.col("lang") == "en").alias("is_en"), pred.alias("pred_en")
    )
    c = scored.agg(
        F.count_if(F.col("is_en") & F.col("pred_en")).cast("long").alias("tp"),
        F.count_if(~F.col("is_en") & F.col("pred_en")).cast("long").alias("fp"),
        F.count_if(~F.col("is_en") & ~F.col("pred_en"))
        .cast("long")
        .alias("tn"),
        F.count_if(F.col("is_en") & ~F.col("pred_en"))
        .cast("long")
        .alias("fn"),
    )
    return c.select(
        "tp",
        "fp",
        "tn",
        "fn",
        q4(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn"))
        ).alias("accuracy"),
        q4(F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
            "precision_en"
        ),
        q4(F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias(
            "recall_en"
        ),
    )


# --------------------------------- round-9 wave D: corpus boilerplate

_BP_SEG_WORDS = 8  # non-overlapping segment width ("line" analog)
_BP_MIN_DOCS = 3  # a segment in >= this many distinct docs is boilerplate
_BP_FRAC_Q = 1_000_000_000


@register(
    "text_boilerplate_segments",
    oracle=f"""
    WITH idx AS (
        SELECT doc_id, source, text,
               unnest(range(0, CAST(ceil(len(string_split(text, ' '))
                   / {_BP_SEG_WORDS}.0) AS BIGINT))) AS i
        FROM documents
    ), segs AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   list_slice(string_split(text, ' '),
                              i*{_BP_SEG_WORDS} + 1,
                              i*{_BP_SEG_WORDS} + {_BP_SEG_WORDS}), ' '))
                   AS h
        FROM idx
    ), freq AS (
        SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndoc
        FROM segs GROUP BY h
    ), per_doc AS (
        SELECT s.doc_id, s.source,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(count_if(f.ndoc >= {_BP_MIN_DOCS}) AS BIGINT) AS n_bp
        FROM segs s JOIN freq f USING (h)
        GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_segs) AS BIGINT) AS n_segments,
           CAST(sum(n_bp) AS BIGINT) AS n_boilerplate,
           {sql_q4(f"CAST(sum(CAST(floor(CAST(n_bp AS DOUBLE) / n_segs"
                   f" * {_BP_FRAC_Q} + 0.5) AS BIGINT)) AS DOUBLE)"
                   f" / {_BP_FRAC_Q} / count(*)")} AS avg_bp_fraction,
           CAST(count_if(2 * n_bp >= n_segs) AS BIGINT) AS n_docs_majority_bp
    FROM per_doc GROUP BY source
    """,
)
def text_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection, the line-dedup curation
    rule of CCNet/RefinedWeb-style pipelines re-expressed on word
    segments: split every document into non-overlapping 8-word
    segments, hash each, and call a segment boilerplate when it
    appears in >= 3 DISTINCT documents (nav bars, license footers,
    templated headers at web scale). Reports, per source, the average
    boilerplate fraction and how many documents are majority-
    boilerplate — the docs a curation pass should strip or drop.

    Exactness: segment membership is an md5 equi-join (no float);
    per-doc fractions quantize at 1e-9 before the source-level mean
    so the fold is order-free; the majority test is the integer
    2*n_bp >= n_segs.

    Scale shape at 100 TB: segments ~ words/8 rows; ONE hash
    aggregate to the segment-frequency table (map-side combined),
    one hash equi-join back on the digest (shuffle on h — the same
    shape as dedup_exact), one doc-level and one source-level
    aggregate. No windows, no cross joins."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / float(_BP_SEG_WORDS)).cast("long")
    segs = d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("i"),
        words.alias("ws"),
    ).select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("ws"),
                    F.col("i") * _BP_SEG_WORDS + 1,
                    _BP_SEG_WORDS,
                ),
                " ",
            )
        ).alias("h"),
    )
    freq = segs.groupBy("h").agg(
        F.count_distinct("doc_id").cast("long").alias("ndoc")
    )
    per_doc = (
        segs.join(freq, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.count_if(F.col("ndoc") >= _BP_MIN_DOCS)
            .cast("long")
            .alias("n_bp"),
        )
    )
    frac_q = F.floor(
        F.col("n_bp").cast("double") / F.col("n_segs") * _BP_FRAC_Q + 0.5
    ).cast("long")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_segs").cast("long").alias("n_segments"),
        F.sum("n_bp").cast("long").alias("n_boilerplate"),
        q4(
            F.sum(frac_q).cast("double") / _BP_FRAC_Q / F.count(F.lit(1))
        ).alias("avg_bp_fraction"),
        F.count_if(2 * F.col("n_bp") >= F.col("n_segs"))
        .cast("long")
        .alias("n_docs_majority_bp"),
    )


# char classes audited by the script profile (ASCII ranges; bytes
# outside them count as non-ASCII/other — the script-mismatch signal)
_SCRIPT_CLASSES = (
    ("letter", "[a-zA-Z]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\r\\n]"),
    ("punct", "[!-/:-@\\[-`{-~]"),
)


@register(
    "text_unicode_script_profile",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               {", ".join(
                   f"CAST(length(text) - length(regexp_replace(text,"
                   f" '{pat}', '', 'g')) AS BIGINT) AS n_{name}"
                   for name, pat in _SCRIPT_CLASSES
               )}
        FROM documents
    ), per_lang AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               {", ".join(
                   f"CAST(sum(n_{name}) AS BIGINT) AS n_{name}"
                   for name, _ in _SCRIPT_CLASSES
               )}
        FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_chars,
           {", ".join(
               sql_q4(f"CAST(n_{name} AS DOUBLE) / n_chars")
               + f" AS frac_{name}"
               for name, _ in _SCRIPT_CLASSES
           )},
           {sql_q4("CAST(n_chars - n_letter - n_digit - n_space - n_punct"
                   " AS DOUBLE) / n_chars")} AS frac_other,
           CAST(n_chars - n_letter - n_digit - n_space - n_punct AS DOUBLE)
               / n_chars > 0.2 AS script_mismatch
    FROM per_lang
    """,
)
def text_unicode_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class profile per language label: fractions of ASCII
    letters, digits, whitespace, punctuation, and everything else —
    the cheap first-line curation signal that catches mislabeled or
    mojibake documents (a corpus labeled 'en' whose non-ASCII
    fraction exceeds 20% is flagged as a script mismatch) and feeds
    charset-aware sampling decisions before any expensive language-ID
    model runs.

    Exactness: each class count is length(text) minus the length
    after deleting that class (regexp_replace, global), so every
    ingredient is an exact BIGINT; fractions divide once per lang.

    Scale shape at 100 TB: one scan with per-row regex work (JVM
    codegen), ONE hash aggregate to |langs| rows; no joins, no
    windows, no UDFs."""
    d = table(spark, sf_dir, "documents")
    cols = [
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), pat, ""))
        )
        .cast("long")
        .alias(f"n_{name}")
        for name, pat in _SCRIPT_CLASSES
    ]
    per_doc = d.select(
        "lang", F.length("text").cast("long").alias("n_chars"), *cols
    )
    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        *[
            F.sum(f"n_{name}").cast("long").alias(f"n_{name}")
            for name, _ in _SCRIPT_CLASSES
        ],
    )
    other = (
        F.col("n_chars")
        - F.col("n_letter")
        - F.col("n_digit")
        - F.col("n_space")
        - F.col("n_punct")
    ).cast("double") / F.col("n_chars")
    return per_lang.select(
        "lang",
        "n_docs",
        "n_chars",
        *[
            q4(F.col(f"n_{name}").cast("double") / F.col("n_chars")).alias(
                f"frac_{name}"
            )
            for name, _ in _SCRIPT_CLASSES
        ],
        q4(other).alias("frac_other"),
        (other > 0.2).alias("script_mismatch"),
    )


@register(
    "text_chao1_richness",
    oracle=f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        FROM words GROUP BY lang, w
    ), folds AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS v_obs,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count_if(c = 1) AS BIGINT) AS f1,
               CAST(count_if(c = 2) AS BIGINT) AS f2
        FROM freq GROUP BY lang
    )
    SELECT lang, n_tokens, v_obs, f1, f2,
           {sql_q4("v_obs + CASE WHEN f2 > 0"
                   " THEN CAST(f1 AS DOUBLE)*f1 / (2.0*f2)"
                   " ELSE CAST(f1 AS DOUBLE)*(f1 - 1) / 2.0 END")}
               AS chao1,
           {sql_q4("1.0 - CAST(f1 AS DOUBLE) / n_tokens")}
               AS good_turing_coverage
    FROM folds
    """,
)
def text_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate per language: V̂ = V_obs +
    f1²/(2·f2) from the singleton/doubleton counts (the bias-corrected
    f1(f1-1)/2 form when f2 = 0), plus Good-Turing coverage
    1 - f1/N — the 'how much vocabulary have we NOT seen yet'
    numbers that decide whether a corpus slice is big enough to
    train a tokenizer on, where text_heaps_law can only extrapolate
    a power law and text_vocab_growth only reports the curve.

    Exactness: everything derives from exact type-frequency counts
    (two hash aggregates); the estimators are one closed-form double
    per language.

    Scale shape at 100 TB: explode to words, hash-aggregate to the
    (lang, word) type table (map-side combined), then a |langs|-row
    fold over per-type counts — the same two-level shape as
    text_vocab_growth; no windows, no joins."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    )
    freq = words.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    folds = freq.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("v_obs"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.count_if(F.col("c") == 1).cast("long").alias("f1"),
        F.count_if(F.col("c") == 2).cast("long").alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    chao1 = F.col("v_obs") + F.when(
        F.col("f2") > 0, f1 * f1 / (2.0 * F.col("f2"))
    ).otherwise(f1 * (f1 - 1) / 2.0)
    return folds.select(
        "lang",
        "n_tokens",
        "v_obs",
        "f1",
        "f2",
        q4(chao1).alias("chao1"),
        q4(1.0 - f1 / F.col("n_tokens")).alias("good_turing_coverage"),
    )


# ------------------------- round-9 wave J: token-budget allocation

_BA_Q = 1_000_000_000
_STOP_SQL_BA = _STOP_SQL  # reuse text_quality's stopword list


@register(
    "pipeline_budget_allocation",
    oracle=f"""
    WITH feat AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_words,
               CAST(floor((
                 0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE)
                     / 100.0, 1.0)
                 + 0.3 * (1.0 - least(CAST(list_aggregate(list_transform(
                       string_split(text, ' '),
                       w -> CAST(length(w) AS BIGINT)), 'sum') AS DOUBLE)
                     / len(string_split(text, ' ')) / 10.0, 1.0))
                 + 0.2 * least(10.0 * (CAST(len(list_filter(
                       string_split(text, ' '),
                       x -> x IN ({_STOP_SQL_BA}))) AS DOUBLE)
                     / len(string_split(text, ' '))), 1.0)
               ) * {_BA_Q} + 0.5) AS BIGINT) AS qq
        FROM documents
    ), per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS tokens,
               CAST(sum(qq) // count(*) AS BIGINT) AS aq
        FROM feat GROUP BY source
    ), tot AS (
        SELECT CAST(sum(tokens) // 2 AS BIGINT) AS budget FROM per_src
    ), ranked AS (
        SELECT source, n_docs, tokens, aq,
               CAST(row_number() OVER (ORDER BY aq DESC, source) AS BIGINT)
                   AS rnk,
               CAST(coalesce(sum(tokens) OVER (ORDER BY aq DESC, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM per_src
    )
    SELECT source, rnk AS quality_rank, n_docs, tokens,
           {sql_q4(f"CAST(aq AS DOUBLE) / {_BA_Q}")} AS avg_quality,
           CAST(least(tokens, greatest(0, budget - cum_before)) AS BIGINT)
               AS alloc_tokens,
           {sql_q4("CAST(least(tokens, greatest(0, budget - cum_before))"
                   " AS DOUBLE) / tokens")} AS take_fraction
    FROM ranked CROSS JOIN tot
    """,
)
def pipeline_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy token-budget allocation across sources: rank
    sources by mean document quality (the shared text_quality score),
    then fill a 50%-of-corpus token budget top-down — full take until
    the boundary source, a partial take there, zero below — the
    closed-form solution to maximizing total quality under a token
    budget when quality is constant within a source (the first-order
    version of the temperature mixing in pipeline_training_mix, and
    the number a curation run needs BEFORE sampling: how much of each
    source survives).

    Determinism: per-doc quality quantizes at 1e-9 and the per-source
    key is the integer floor-division mean (sum // count), so the
    greedy order (aq DESC, source) is a total order both engines
    agree on; the fill is one prefix sum over the |sources| dimension
    and two clamps — all exact integers.

    Scale shape at 100 TB: one scan with JVM per-row scoring, one
    hash aggregate to |sources| rows, one prefix over that ~20-row
    dimension (census-allowlisted), broadcast budget."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(F.filter(words, lambda x: x.isin(*EN_STOPWORDS)))
    quality = (
        0.5 * F.least(n_words.cast("double") / 100.0, F.lit(1.0))
        + 0.3
        * (
            1.0
            - F.least(
                sum_word_len.cast("double") / n_words / 10.0, F.lit(1.0)
            )
        )
        + 0.2 * F.least(10.0 * (n_stop.cast("double") / n_words), F.lit(1.0))
    )
    feat = d.select(
        "source",
        n_words.cast("long").alias("n_words"),
        F.floor(quality * _BA_Q + F.lit(0.5)).cast("long").alias("qq"),
    )
    per_src = feat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("tokens"),
        F.floor(F.sum("qq") / F.count(F.lit(1))).cast("long").alias("aq"),
    )
    tot = per_src.agg(
        F.floor(F.sum("tokens") / 2).cast("long").alias("budget")
    )
    w = Window.orderBy(F.col("aq").desc(), "source")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_src.select(
        "source",
        "n_docs",
        "tokens",
        "aq",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.coalesce(F.sum("tokens").over(w_prev), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    alloc = F.least(
        F.col("tokens"), F.greatest(F.lit(0), F.col("budget") - F.col("cum_before"))
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("rnk").alias("quality_rank"),
        "n_docs",
        "tokens",
        q4(F.col("aq").cast("double") / _BA_Q).alias("avg_quality"),
        alloc.cast("long").alias("alloc_tokens"),
        q4(alloc.cast("double") / F.col("tokens")).alias("take_fraction"),
    )


_CER_Q = 1_000_000_000


@register(
    "text_char_entropy_rate",
    oracle=f"""
    WITH docs AS (
        SELECT lang, text FROM documents
    ), bi AS (
        SELECT lang, substr(text, i, 2) AS g
        FROM docs, LATERAL (
            SELECT unnest(range(1, length(text))) AS i
        )
    ), tri AS (
        SELECT lang, substr(text, i, 3) AS g
        FROM docs, LATERAL (
            SELECT unnest(range(1, length(text) - 1)) AS i
        )
    ), hbi AS (
        SELECT lang,
               CAST(sum(c * CAST(floor(-log2(CAST(c AS DOUBLE) / n)
                   * {_CER_Q} + 0.5) AS BIGINT)) AS HUGEINT) AS hq,
               max(n) AS n
        FROM (
            SELECT lang, g, CAST(count(*) AS BIGINT) AS c,
                   CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
                       AS n
            FROM bi GROUP BY lang, g
        ) GROUP BY lang
    ), htri AS (
        SELECT lang,
               CAST(sum(c * CAST(floor(-log2(CAST(c AS DOUBLE) / n)
                   * {_CER_Q} + 0.5) AS BIGINT)) AS HUGEINT) AS hq,
               max(n) AS n
        FROM (
            SELECT lang, g, CAST(count(*) AS BIGINT) AS c,
                   CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
                       AS n
            FROM tri GROUP BY lang, g
        ) GROUP BY lang
    )
    SELECT b.lang, b.n AS n_bigrams, t.n AS n_trigrams,
           {sql_q4(f"CAST(b.hq AS DOUBLE) / {_CER_Q} / b.n")} AS h_bigram,
           {sql_q4(f"CAST(t.hq AS DOUBLE) / {_CER_Q} / t.n")} AS h_trigram,
           {sql_q4(f"CAST(t.hq AS DOUBLE) / {_CER_Q} / t.n"
                   f" - CAST(b.hq AS DOUBLE) / {_CER_Q} / b.n")}
               AS entropy_rate_bits
    FROM hbi b JOIN htri t USING (lang)
    """,
)
def text_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level conditional entropy rate per language:
    H(c₃ | c₁c₂) = H(trigram) - H(bigram) — Shannon's block-entropy
    ladder, the classic 'how predictable is this text, given two
    characters of context' number that separates natural language
    (~1-2 bits/char) from templated/generated filler and from
    encrypted/compressed noise (→ log₂|alphabet|), one level deeper
    than text_char_bigram_entropy's unconditional H₂.

    Exactness: n-gram counts are exact; each -c·log₂(c/n) term
    quantizes at 1e-9 and the folds accumulate in decimal(38,0)/
    HUGEINT (token-scale sums × 1e9 pass int64 at 100 TB); the
    subtraction is one double per language.

    Scale shape at 100 TB: two n-gram explodes into map-side-combined
    hash aggregates keyed (lang, gram); per-lang totals by a window
    partitioned by lang; |langs| output rows."""
    d = table(spark, sf_dir, "documents")
    dec = "decimal(38,0)"

    def _grams(k: int):
        # length >= k guard: Spark's sequence(1, 0) DESCENDS to [1, 0]
        # and substr(text, 0, k) re-reads position 1, so a doc shorter
        # than k would count a phantom gram while the oracle's range()
        # is cleanly empty (the r11 ADVICE n-gram discipline).
        idx = F.explode(
            F.sequence(F.lit(1), F.length("text") - (k - 1))
        ).alias("i")
        g = d.where(F.length("text") >= k).select("lang", "text", idx).select(
            "lang", F.col("text").substr(F.col("i"), F.lit(k)).alias("g")
        )
        cnt = g.groupBy("lang", "g").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        wl = Window.partitionBy("lang")
        withn = cnt.select(
            "lang", "c", F.sum("c").over(wl).cast("long").alias("n")
        )
        term = F.floor(
            -F.log2(F.col("c").cast("double") / F.col("n")) * _CER_Q
            + F.lit(0.5)
        ).cast("long")
        return withn.groupBy("lang").agg(
            F.sum(F.col("c").cast(dec) * term).alias("hq"),
            F.max("n").alias("n"),
        )

    hbi = _grams(2).select(
        "lang", F.col("hq").alias("hq2"), F.col("n").alias("n2")
    )
    htri = _grams(3).select(
        "lang", F.col("hq").alias("hq3"), F.col("n").alias("n3")
    )
    h2 = F.col("hq2").cast("double") / _CER_Q / F.col("n2")
    h3 = F.col("hq3").cast("double") / _CER_Q / F.col("n3")
    return hbi.join(htri, "lang").select(
        "lang",
        F.col("n2").alias("n_bigrams"),
        F.col("n3").alias("n_trigrams"),
        q4(h2).alias("h_bigram"),
        q4(h3).alias("h_trigram"),
        q4(h3 - h2).alias("entropy_rate_bits"),
    )


# ------------------------------------------------------------------
# PMI collocations (r10)

_PMI_MIN_COUNT = 5  # bigram support floor (standard collocation practice)


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
    ), n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT ws[CAST(t.i AS INT)] AS w1,
                   ws[CAST(t.i AS INT) + 1] AS w2
            FROM toks, UNNEST(range(1, len(ws))) AS t(i)
        ) GROUP BY w1, w2
    ), n2 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bi)
    SELECT b.w1, b.w2, b.c AS c_bigram, ua.c AS c_w1, ub.c AS c_w2,
           {sql_q4("ln((CAST(b.c AS DOUBLE) * n1.n * n1.n)"
                   " / (CAST(n2.n AS DOUBLE) * ua.c * ub.c))")} AS pmi,
           {sql_q4("ln((CAST(b.c AS DOUBLE) * n1.n * n1.n)"
                   " / (CAST(n2.n AS DOUBLE) * ua.c * ub.c))"
                   " / (-ln(CAST(b.c AS DOUBLE) / n2.n))")} AS npmi
    FROM bi b
    JOIN uni ua ON ua.w = b.w1
    JOIN uni ub ON ub.w = b.w2
    CROSS JOIN n1 CROSS JOIN n2
    WHERE b.c >= {_PMI_MIN_COUNT}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations over the corpus:
    adjacent word bigrams with support ≥ {_PMI_MIN_COUNT}, scored by
    PMI = ln(p(w1,w2) / (p(w1)p(w2))) and its normalized form
    NPMI = PMI / −ln p(w1,w2) ∈ [−1, 1] — the classic phrase-mining
    signal a tokenizer-curation pipeline uses to decide which word
    pairs deserve merged tokens (and a direct lens on templated
    boilerplate). All probabilities are exact count ratios; the
    single log runs on an identically-parenthesized argument
    (c·N1²)/(N2·c1·c2) in both engines, so the q4 hash is stable.

    Scale shape: one explode for unigrams, one positional zip for
    bigrams, three hash aggregates, two equi-joins onto the unigram
    counts (broadcastable: the distinct vocabulary is tiny relative
    to the corpus) and two 1-row broadcast totals. Nothing pairwise,
    nothing data×data."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ws")).persist()
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c")).persist()
    )
    n1 = uni.agg(F.sum("c").cast("long").alias("n1"))
    bi = (
        # size(ws) >= 2 guard: sequence(1, 0) would step DOWN to [1, 0]
        # and element_at(ws, 0) throws — single-token docs have no
        # bigrams, exactly like the oracle's empty range(1, len(ws)).
        toks.where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c")).persist()
    )
    n2 = bi.agg(F.sum("c").cast("long").alias("n2"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    scored = (
        bi.where(F.col("c") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    pmi = F.log(
        (F.col("c").cast("double") * F.col("n1") * F.col("n1"))
        / (F.col("n2").cast("double") * F.col("c_w1") * F.col("c_w2"))
    )
    return scored.select(
        "w1",
        "w2",
        F.col("c").alias("c_bigram"),
        "c_w1",
        "c_w2",
        q4(pmi).alias("pmi"),
        q4(pmi / (-F.log(F.col("c").cast("double") / F.col("n2")))).alias(
            "npmi"
        ),
    )


# ------------------------------------------------------------------
# ROUGE-L and Self-BLEU generation-eval metrics (r11)

_RL_MAX_DOC = 40  # bounded candidate/reference pair block


@register(
    "text_rouge_l",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < {_RL_MAX_DOC}
    ), p AS (
        SELECT c.doc_id // 2 AS pair_id,
               c.w AS a, r.w AS b,
               CAST(len(c.w) AS BIGINT) AS la,
               CAST(len(r.w) AS BIGINT) AS lb
        FROM t c JOIN t r ON r.doc_id = c.doc_id + 1
        WHERE c.doc_id % 2 = 0
    ), dp AS (
        SELECT pair_id, la, lb,
               list_reduce(
                 list_concat(
                   [list_transform(range(1, CAST(lb AS INT) + 2),
                                   x -> CAST(0 AS BIGINT))],
                   list_transform(range(1, CAST(la AS INT) + 1),
                                  i -> [CAST(i AS BIGINT)])),
                 (prev, ix) ->
                   list_reduce(
                     list_concat(
                       [[CAST(0 AS BIGINT)]],
                       list_transform(range(1, CAST(lb AS INT) + 1),
                                      j -> [CAST(j AS BIGINT)])),
                     (acc, jx) -> acc ||
                       [CASE WHEN a[CAST(ix[1] AS INT)]
                                  = b[CAST(jx[1] AS INT)]
                             THEN prev[CAST(jx[1] AS INT)] + 1
                             ELSE greatest(
                                 prev[CAST(jx[1] AS INT) + 1],
                                 acc[len(acc)]) END])
               ) AS lastrow
        FROM p
    )
    SELECT pair_id, la, lb,
           lastrow[CAST(lb AS INT) + 1] AS lcs_len,
           {sql_q4("CAST(lastrow[CAST(lb AS INT) + 1] AS DOUBLE) / la")}
               AS rouge_prec,
           {sql_q4("CAST(lastrow[CAST(lb AS INT) + 1] AS DOUBLE) / lb")}
               AS rouge_rec,
           {sql_q4("CASE WHEN lastrow[CAST(lb AS INT) + 1] = 0 THEN 0.0"
                   " ELSE 2.0 * (CAST(lastrow[CAST(lb AS INT) + 1]"
                   " AS DOUBLE) / la)"
                   " * (CAST(lastrow[CAST(lb AS INT) + 1] AS DOUBLE) / lb)"
                   " / ((CAST(lastrow[CAST(lb AS INT) + 1] AS DOUBLE) / la)"
                   " + (CAST(lastrow[CAST(lb AS INT) + 1] AS DOUBLE) / lb))"
                   " END")} AS rouge_f1
    FROM dp
    """,
)
def text_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L between candidate/reference document pairs (doc 2k vs
    doc 2k+1 in a bounded id block): longest-common-subsequence
    precision, recall and F1 — the reference-based generation-eval
    metric every summarization / SFT-quality pipeline reports.

    Exactness: the full (la+1)x(lb+1) LCS dynamic program runs as a
    nested exact-BIGINT fold over the token arrays (outer fold
    carries the previous DP row, inner fold builds the next row
    left-to-right) — the same nested-HOF machinery as
    events_dtw_daily, so both engines execute the identical integer
    recurrence and only the final precision/recall/F1 projections
    are float (identically parenthesized, q4).

    Scale shape: pairing is an equi-join on doc_id+1 inside a
    bounded id block; the DP is per-pair metadata (la,lb <= corpus
    max doc length, ~100 tokens here) evaluated inside one codegen'd
    projection — at 100 TB the pair table is whatever the eval set
    is, and each pair's cost is its own token product, never
    data x data."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < _RL_MAX_DOC)
    t = d.select("doc_id", F.split("text", " ").alias("w"))
    c = t.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        F.col("doc_id").alias("cid"),
        F.col("w").alias("a"),
    )
    r = t.select(F.col("doc_id").alias("rid"), F.col("w").alias("b"))
    p = (
        c.join(r, c["cid"] + 1 == r["rid"])
        .select(
            "pair_id",
            "a",
            "b",
            F.size("a").cast("long").alias("la"),
            F.size("b").cast("long").alias("lb"),
        )
    )
    dp_expr = """
    aggregate(sequence(1, CAST(la AS INT)),
      array_repeat(0L, CAST(lb AS INT) + 1),
      (prev, i) ->
        aggregate(sequence(1, CAST(lb AS INT)),
          array(0L),
          (acc, j) -> concat(acc, array(
              CASE WHEN element_at(a, i) = element_at(b, j)
                   THEN element_at(prev, j) + 1L
                   ELSE greatest(element_at(prev, j + 1),
                                 element_at(acc, -1)) END))))
    """
    scored = p.select(
        "pair_id",
        "la",
        "lb",
        F.element_at(F.expr(dp_expr), (F.col("lb") + 1).cast("int"))
        .alias("lcs_len"),
    )
    prec = F.col("lcs_len").cast("double") / F.col("la")
    rec = F.col("lcs_len").cast("double") / F.col("lb")
    return scored.select(
        "pair_id",
        "la",
        "lb",
        "lcs_len",
        q4(prec).alias("rouge_prec"),
        q4(rec).alias("rouge_rec"),
        q4(
            F.when(F.col("lcs_len") == 0, F.lit(0.0)).otherwise(
                2.0 * prec * rec / (prec + rec)
            )
        ).alias("rouge_f1"),
    )


@register(
    "text_self_bleu",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < {_RL_MAX_DOC}
    ), p AS (
        SELECT c.doc_id // 2 AS pair_id,
               c.w AS a, r.w AS b,
               CAST(len(c.w) AS BIGINT) AS la,
               CAST(len(r.w) AS BIGINT) AS lb
        FROM t c JOIN t r ON r.doc_id = c.doc_id + 1
        WHERE c.doc_id % 2 = 0
    ), cu AS (
        SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cc
        FROM (SELECT pair_id, unnest(a) AS g FROM p) GROUP BY 1, 2
    ), ru AS (
        SELECT pair_id, g, CAST(count(*) AS BIGINT) AS rc
        FROM (SELECT pair_id, unnest(b) AS g FROM p) GROUP BY 1, 2
    ), u1 AS (
        SELECT cu.pair_id,
               CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS clip1,
               CAST(sum(cc) AS BIGINT) AS tot1
        FROM cu LEFT JOIN ru ON ru.pair_id = cu.pair_id AND ru.g = cu.g
        GROUP BY cu.pair_id
    ), cb AS (
        SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cc
        FROM (
            SELECT pair_id, a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS g
            FROM p, UNNEST(range(1, len(a))) AS x(i)
        ) GROUP BY 1, 2
    ), rb AS (
        SELECT pair_id, g, CAST(count(*) AS BIGINT) AS rc
        FROM (
            SELECT pair_id, b[CAST(i AS INT)] || ' ' || b[CAST(i AS INT) + 1] AS g
            FROM p, UNNEST(range(1, len(b))) AS x(i)
        ) GROUP BY 1, 2
    ), u2 AS (
        SELECT cb.pair_id,
               CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS clip2,
               CAST(sum(cc) AS BIGINT) AS tot2
        FROM cb LEFT JOIN rb ON rb.pair_id = cb.pair_id AND rb.g = cb.g
        GROUP BY cb.pair_id
    )
    SELECT p.pair_id, la, lb, clip1, tot1, clip2, tot2,
           {sql_q4("CAST(clip1 AS DOUBLE) / tot1")} AS p1,
           {sql_q4("CAST(clip2 AS DOUBLE) / tot2")} AS p2,
           {sql_q4("CASE WHEN la > lb THEN 1.0"
                   " ELSE exp(1.0 - CAST(lb AS DOUBLE) / la) END")} AS bp,
           {sql_q4("CASE WHEN clip1 = 0 OR clip2 = 0 THEN 0.0 ELSE"
                   " (CASE WHEN la > lb THEN 1.0"
                   "  ELSE exp(1.0 - CAST(lb AS DOUBLE) / la) END)"
                   " * exp(0.5 * (ln(CAST(clip1 AS DOUBLE) / tot1)"
                   "              + ln(CAST(clip2 AS DOUBLE) / tot2)))"
                   " END")} AS bleu2
    FROM p JOIN u1 ON u1.pair_id = p.pair_id
           JOIN u2 ON u2.pair_id = p.pair_id
    """,
)
def text_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-2 between candidate/reference document pairs (the
    same doc-2k/doc-2k+1 block as text_rouge_l): clipped unigram and
    bigram precisions, brevity penalty, and their geometric mean —
    BLEU as a corpus-diversity / near-duplication lens (high
    self-BLEU across a generated corpus flags mode collapse) and the
    n-gram-precision complement to ROUGE-L's recall view.

    Exactness: clipped counts are pure integer min/sum aggregates
    over per-pair n-gram count tables; only the final precision/BP/
    geometric-mean projections are float (identically parenthesized
    in both engines, q4).

    Scale shape: two explodes (uni/bigram) per side, four hash
    aggregates, two per-pair equi-joins on (pair_id, gram) — all
    shuffles keyed by the pair, nothing data x data; bigram build
    guards single-token docs (Spark's descending sequence(1, 0))."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < _RL_MAX_DOC)
    t = d.select("doc_id", F.split("text", " ").alias("w"))
    c = t.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        F.col("doc_id").alias("cid"),
        F.col("w").alias("a"),
    )
    r = t.select(F.col("doc_id").alias("rid"), F.col("w").alias("b"))
    # the paired-doc frame feeds the uni/bi clipped-count branches and
    # the length totals (~5 consumers; 10 documents scans before r13)
    # — DATA-SCALED, persist() per the SCALE.md r13 rule
    p = c.join(r, c["cid"] + 1 == r["rid"]).select(
        "pair_id",
        "a",
        "b",
        F.size("a").cast("long").alias("la"),
        F.size("b").cast("long").alias("lb"),
    ).persist()

    def grams(col: str, n: int) -> F.Column:
        if n == 1:
            return F.explode(F.col(col))
        return F.explode(
            F.expr(
                f"transform(sequence(1, size({col}) - 1),"
                f" i -> concat(element_at({col}, i), ' ',"
                f" element_at({col}, i + 1)))"
            )
        )

    def clipped(n: int, clip_name: str, tot_name: str) -> DataFrame:
        # size >= 2 guard for the bigram path (sequence(1, 0) descends)
        base = p if n == 1 else p.where((F.size("a") >= 2) & (F.size("b") >= 2))
        cg = (
            base.select("pair_id", grams("a", n).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count(F.lit(1)).cast("long").alias("cc"))
        )
        rg = (
            base.select("pair_id", grams("b", n).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count(F.lit(1)).cast("long").alias("rc"))
        )
        return (
            cg.join(rg, ["pair_id", "g"], "left")
            .groupBy("pair_id")
            .agg(
                F.sum(F.least(F.col("cc"), F.coalesce(F.col("rc"), F.lit(0))))
                .cast("long")
                .alias(clip_name),
                F.sum("cc").cast("long").alias(tot_name),
            )
        )

    u1 = clipped(1, "clip1", "tot1")
    u2 = clipped(2, "clip2", "tot2")
    joined = p.select("pair_id", "la", "lb").join(u1, "pair_id").join(u2, "pair_id")
    p1 = F.col("clip1").cast("double") / F.col("tot1")
    p2 = F.col("clip2").cast("double") / F.col("tot2")
    bp = F.when(F.col("la") > F.col("lb"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("lb").cast("double") / F.col("la"))
    )
    return joined.select(
        "pair_id",
        "la",
        "lb",
        "clip1",
        "tot1",
        "clip2",
        "tot2",
        q4(p1).alias("p1"),
        q4(p2).alias("p2"),
        q4(bp).alias("bp"),
        q4(
            F.when((F.col("clip1") == 0) | (F.col("clip2") == 0), F.lit(0.0))
            .otherwise(bp * F.exp(0.5 * (F.log(p1) + F.log(p2))))
        ).alias("bleu2"),
    )


_VOCAB_KS = [100, 500, 2000, 8000, 30000]


@register(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ), ranked AS (
        SELECT w, c,
               CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rn,
               CAST(sum(c) OVER (ORDER BY c DESC, w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM uni
    ), tots AS (
        SELECT CAST(count(*) AS BIGINT) AS nv,
               CAST(sum(c) AS BIGINT) AS tot
        FROM uni
    )
    SELECT k, least(k, nv) AS vocab_used, cum AS covered_tokens, tot
               AS total_tokens,
           {sql_q4("CAST(cum AS DOUBLE) / tot")} AS coverage
    FROM (SELECT CAST(unnest({_VOCAB_KS}) AS BIGINT) AS k) g
    CROSS JOIN tots
    JOIN ranked ON ranked.rn = least(g.k, tots.nv)
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design coverage curve: what fraction of all corpus
    token OCCURRENCES the top-K vocabulary types cover, for a K grid
    — the first plot anyone sizing a vocab (or auditing OOV fallout)
    draws. Ties rank deterministically by (count desc, token).

    Exactness: counts and the cumulative coverage are exact BIGINTs;
    only the final ratio is float (one division, q4).

    Scale shape: one explode + hash aggregate to the vocab table,
    then the range-partitioned bucketed-prefix rank helper
    (global_ordered with an inclusive running sum — never a
    single-partition window), a 1-row totals broadcast, and a
    5-row grid equi-join on rank = least(K, |V|). At 100 TB the
    vocab table is the only shuffled payload."""
    from ..operators.prefix import global_ordered

    d = table(spark, sf_dir, "documents")
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c")).persist()
    )
    ranked = global_ordered(
        uni,
        [F.col("c").desc(), F.col("w")],
        bucket_key="c",
        bucket_desc=True,
        sums={"c": "cum"},
        rank_col="rn",
    )
    tots = uni.agg(
        F.count(F.lit(1)).cast("long").alias("nv"),
        F.sum("c").cast("long").alias("tot"),
    )
    grid = spark.createDataFrame([(k,) for k in _VOCAB_KS], "k long")
    return (
        F.broadcast(grid)
        .crossJoin(F.broadcast(tots))
        .join(ranked, F.col("rn") == F.least(F.col("k"), F.col("nv")))
        .select(
            "k",
            F.least(F.col("k"), F.col("nv")).alias("vocab_used"),
            F.col("cum").alias("covered_tokens"),
            F.col("tot").alias("total_tokens"),
            q4(F.col("cum").cast("double") / F.col("tot")).alias("coverage"),
        )
    )


TEMP_MIX_BUDGET = 1000000  # training token budget the mix is planned for


@register(
    "pipeline_temperature_mix",
    oracle=f"""
    WITH per_lang AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS docs,
               CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                    AS BIGINT) AS tokens
        FROM documents GROUP BY lang
    ), s AS (
        SELECT lang, docs, tokens,
               CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS s_micro
        FROM per_lang
    ), tot AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS total,
               CAST(SUM(s_micro) AS BIGINT) AS s_total
        FROM s
    )
    SELECT lang, docs, tokens,
           {sql_q4("CAST(tokens AS DOUBLE) / total")} AS share,
           {sql_q4("CAST(s_micro AS DOUBLE) / s_total")} AS temp_weight,
           {sql_q4(f"{TEMP_MIX_BUDGET} * (CAST(s_micro AS DOUBLE) / s_total)"
                   " / CAST(tokens AS DOUBLE)")} AS epochs
    FROM s CROSS JOIN tot
    """,
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language-mix planning (the exponential
    smoothing of XLM-R / mBERT / GPT-3 data mixing, public): sampling
    weight for language L is count_L^alpha / sum(count^alpha) with
    alpha = 1/2, which upsamples low-resource languages relative to
    their raw share without going all the way to uniform
    (pipeline_training_mix's target). Also reports expected EPOCHS
    over each language's corpus for a fixed training token budget —
    epochs > 1 flags languages the plan would repeat (memorization /
    dedup-pressure signal).

    Float discipline: alpha = 1/2 makes count^alpha a SQRT — the one
    power both engines round identically (IEEE-754 correctly-rounded,
    unlike pow) — and each sqrt quantizes to integer micro-units
    BEFORE the cross-language sum, so the normalizing constant is an
    exact BIGINT fold no matter the partial-aggregation order.

    Scale shape: one map-side-combinable groupBy to |languages| rows;
    the totals broadcast back as a 1-row aggregate. The fact table is
    scanned once; nothing downstream is data-sized."""
    d = table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).cast("long").alias("tokens"),
    )
    s = per_lang.select(
        "lang",
        "docs",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("s_micro"),
    )
    tot = s.agg(
        F.sum("tokens").cast("long").alias("total"),
        F.sum("s_micro").cast("long").alias("s_total"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "lang",
        "docs",
        "tokens",
        q4(F.col("tokens").cast("double") / F.col("total")).alias("share"),
        q4(F.col("s_micro").cast("double") / F.col("s_total")).alias("temp_weight"),
        q4(
            F.lit(TEMP_MIX_BUDGET)
            * (F.col("s_micro").cast("double") / F.col("s_total"))
            / F.col("tokens").cast("double")
        ).alias("epochs"),
    )

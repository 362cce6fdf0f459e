"""ML feature-preparation and model-evaluation operators: target
encoding, weight-of-evidence / information value, decile lift-gains,
and ranking-quality metrics (NDCG / MRR / precision@k).

These are the feature-store and offline-eval queries every tabular-ML
platform runs as BATCH SQL over the warehouse, re-expressed
Spark-first with the repo's hash-parity discipline: exact integer
sufficient statistics through every shuffle, per-term fixed-point
quantization wherever a transcendental appears inside a sum, doubles
only in final closed-form expressions. Global ranks go through the
bucketed prefix machine (operators/prefix.py), never an unpartitioned
window.

No reference citations possible — /root/reference is empty (see
SURVEY.md §0); surface derives from public feature-engineering
practice (target/WoE encoding: credit-scoring literature; NDCG:
Järvelin & Kekäläinen 2002, public).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..llm.text import EN_STOPWORDS
from ..utils import cents, q4, sql_q4
from .prefix import global_ordered, ntile_from_rank

# ------------------------------------------------- target encoding

TE_PRIOR = 20  # smoothing pseudo-count toward the global mean


@register(
    "ml_target_encoding",
    oracle=f"""
    WITH lab AS (
        SELECT o_orderpriority AS cat,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ), g AS (
        SELECT cat, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM lab GROUP BY cat
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(pos) AS BIGINT) AS pos_all
        FROM g
    )
    SELECT g.cat, g.n, g.pos,
           {sql_q4("CAST(g.pos AS DOUBLE) / g.n")} AS raw_rate,
           {sql_q4(f"(CAST(g.pos AS DOUBLE) + {TE_PRIOR} * "
                   f"(CAST(t.pos_all AS DOUBLE) / t.n_all))"
                   f" / (g.n + {TE_PRIOR})")} AS smoothed_enc
    FROM g CROSS JOIN tot t
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of a categorical feature
    (order priority, target = order finished): the per-category
    target rate shrunk toward the global rate by a pseudo-count
    prior — the leakage-resistant categorical encoder behind most
    gradient-boosting feature pipelines.

    Scale shape: ONE hash aggregate to |categories| rows (counts and
    positive counts — mergeable integers, map-side combined), the
    global rate joins as a broadcast 1-row aggregate, and the only
    doubles are the two final divisions per category. The encoder
    table is tiny by construction; applying it back to the fact
    table is a broadcast join."""
    o = table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = lab.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum("pos").cast("long").alias("pos_all"),
    )
    prior_rate = F.col("pos_all").cast("double") / F.col("n_all")
    return g.crossJoin(F.broadcast(tot)).select(
        "cat",
        "n",
        "pos",
        q4(F.col("pos").cast("double") / F.col("n")).alias("raw_rate"),
        q4(
            (F.col("pos").cast("double") + TE_PRIOR * prior_rate)
            / (F.col("n") + TE_PRIOR)
        ).alias("smoothed_enc"),
    )


# -------------------------------------- weight of evidence / IV

WOE_Q = 1_000_000_000  # fixed-point quantum for per-category IV terms


@register(
    "ml_woe_iv",
    oracle=f"""
    WITH lab AS (
        SELECT o_orderpriority AS cat,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ), g AS (
        SELECT cat, CAST(sum(y) AS BIGINT) AS bad,
               CAST(count(*) - sum(y) AS BIGINT) AS good
        FROM lab GROUP BY cat
    ), tot AS (
        SELECT CAST(sum(bad) AS BIGINT) AS bad_all,
               CAST(sum(good) AS BIGINT) AS good_all
        FROM g
    ), woe AS (
        SELECT g.cat, g.good, g.bad,
               ln((CAST(g.good AS DOUBLE) / t.good_all)
                  / (CAST(g.bad AS DOUBLE) / t.bad_all)) AS woe,
               CAST(floor(
                   (CAST(g.good AS DOUBLE) / t.good_all
                    - CAST(g.bad AS DOUBLE) / t.bad_all)
                   * ln((CAST(g.good AS DOUBLE) / t.good_all)
                        / (CAST(g.bad AS DOUBLE) / t.bad_all))
                   * {WOE_Q} + 0.5) AS BIGINT) AS iv_term_q
        FROM g CROSS JOIN tot t
    ), iv AS (
        SELECT CAST(sum(iv_term_q) AS BIGINT) AS iv_q FROM woe
    )
    SELECT w.cat, w.good, w.bad, {sql_q4("w.woe")} AS woe,
           {sql_q4(f"CAST(i.iv_q AS DOUBLE) / {WOE_Q}")} AS iv_total
    FROM woe w CROSS JOIN iv i
    """,
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence per category + total information value —
    the credit-scoring feature-screening pair: WoE_i =
    ln((good_i/good)/(bad_i/bad)), IV = Σ (good%−bad%)·WoE_i.
    IV > 0.3 ⇒ strong predictor; the screening rule feature
    platforms batch-compute for every candidate column.

    Hash-parity discipline: the IV sum adds per-category DOUBLES, so
    each term is fixed-point-quantized (1e-9) before summing —
    identical integers on both engines regardless of aggregation
    order; WoE itself is a per-row final expression (safe). One hash
    aggregate + broadcast totals, same shape as ml_target_encoding."""
    o = table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = lab.groupBy("cat").agg(
        F.sum("y").cast("long").alias("bad"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("good"),
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("bad").cast("long").alias("bad_all"),
        F.sum("good").cast("long").alias("good_all"),
    )
    gshare = F.col("good").cast("double") / F.col("good_all")
    bshare = F.col("bad").cast("double") / F.col("bad_all")
    woe_expr = F.log(gshare / bshare)
    woe = g.crossJoin(F.broadcast(tot)).select(
        "cat",
        "good",
        "bad",
        woe_expr.alias("woe"),
        F.floor((gshare - bshare) * woe_expr * WOE_Q + 0.5)
        .cast("long")
        .alias("iv_term_q"),
    ).localCheckpoint(eager=False)
    iv = woe.agg(F.sum("iv_term_q").cast("long").alias("iv_q"))
    return woe.crossJoin(F.broadcast(iv)).select(
        "cat",
        "good",
        "bad",
        q4(F.col("woe")).alias("woe"),
        q4(F.col("iv_q").cast("double") / WOE_Q).alias("iv_total"),
    )


# ------------------------------------------------- decile lift/gains

LIFT_K = 10  # deciles


@register(
    "ml_lift_gains",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS score_cents,
               event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(y) AS BIGINT) AS pos_all
        FROM scored
    ), ranked AS (
        SELECT y,
               CAST(ntile({LIFT_K}) OVER (
                    ORDER BY score_cents DESC, event_id) AS BIGINT) AS decile
        FROM scored
    ), d AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM ranked GROUP BY decile
    ), c AS (
        SELECT decile, n, pos,
               CAST(sum(pos) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_pos
        FROM d
    )
    SELECT c.decile, c.n, c.pos, c.cum_pos,
           {sql_q4("CAST(c.cum_pos AS DOUBLE) / t.pos_all")} AS gain,
           {sql_q4("(CAST(c.pos AS DOUBLE) / c.n)"
                   " / (CAST(t.pos_all AS DOUBLE) / t.n_all)")} AS lift
    FROM c CROSS JOIN tot t
    """,
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gains table for a score against a
    binary outcome (event value as the model score, purchase as the
    positive): rank all rows by score desc, cut into exact deciles,
    report per-decile capture rate (gain) and lift over the base
    rate — the campaign-targeting evaluation every CRM/ML platform
    prints before a model ships.

    Scale shape: the GLOBAL ranking is the hard part at 10¹¹ rows
    and runs through ``global_ordered`` (value-bucketed partitioned
    windows + hierarchical offset fold — never ntile's
    single-partition sort); exact SQL-standard deciles then fall out
    arithmetically from (rank, n). Decile stats are integer
    mergeable sums; the cumulative fold runs over 10 metadata rows."""
    e = table(spark, sf_dir, "events")
    # per-event scored frame feeding the totals row and the prefix
    # machine's three passes — DATA-SCALED, persist() per the SCALE.md
    # r13 rule (6 events scans before r13)
    scored = e.select(
        (F.floor(F.col("value") * 100 + 0.5)).cast("long").alias(
            "score_cents"
        ),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).persist()
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("pos_all"),
    )
    ranked = global_ordered(
        scored,
        [F.col("score_cents").desc(), F.col("event_id")],
        bucket_key="score_cents",
        bucket_desc=True,
        rank_col="rk",
    )
    d = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "y",
            ntile_from_rank(
                F.col("rk"), F.col("n_all"), LIFT_K
            ).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "decile",
        "n",
        "pos",
        F.sum("pos").over(wcum).cast("long").alias("cum_pos"),
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "pos",
        "cum_pos",
        q4(F.col("cum_pos").cast("double") / F.col("pos_all")).alias("gain"),
        q4(
            (F.col("pos").cast("double") / F.col("n"))
            / (F.col("pos_all").cast("double") / F.col("n_all"))
        ).alias("lift"),
    )


# ---------------------------------------- ranking eval: NDCG/MRR/P@k

NDCG_NQ = 50  # query block: first 50 vectors (matches sim_topk_exact)
NDCG_K = 5
_NDCG_Q = 10**9
# 1/log2(rank+1) position weights, fixed-point quantized so both
# engines add identical integers (rank is bounded by K, so the whole
# discount table is a compile-time constant)
_DCG_W = [1000000000, 630929754, 500000000, 430676558, 386852807]
# cumulative ideal DCG for R = 0..5 relevant docs in the corpus
_IDCG_C = [0, 1000000000, 1630929754, 2130929754, 2561606312, 2948459119]

_SQL_DCG_W = (
    "CASE rn " + " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_DCG_W)
    ) + " END"
)
_SQL_IDCG = (
    f"CASE WHEN n_rel_corpus >= {NDCG_K} THEN {_IDCG_C[NDCG_K]} " + " ".join(
        f"WHEN n_rel_corpus = {r} THEN {_IDCG_C[r]}" for r in range(NDCG_K)
    ) + " END"
)


@register(
    "ml_ndcg_eval",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid, a.label AS qlabel,
               CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
               list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum')
               / sqrt(list_aggregate(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {NDCG_NQ}
    ), ranked AS (
        SELECT qid, qlabel, rel,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS BIGINT) AS rn
        FROM scored
    ), corp AS (
        SELECT s.qid, CAST(sum(s.rel) AS BIGINT) AS n_rel_corpus
        FROM scored s GROUP BY s.qid
    ), topk AS (
        SELECT qid,
               CAST(sum(rel * ({_SQL_DCG_W})) AS BIGINT) AS dcg_q,
               CAST(sum(rel) AS BIGINT) AS n_rel_topk,
               CAST(coalesce(min(CASE WHEN rel = 1 THEN rn END), 0)
                    AS BIGINT) AS first_rel_rank
        FROM ranked WHERE rn <= {NDCG_K}
        GROUP BY qid
    )
    SELECT t.qid, t.n_rel_topk, t.first_rel_rank, c.n_rel_corpus,
           {sql_q4(f"CAST(t.dcg_q AS DOUBLE) / ({_SQL_IDCG})")} AS ndcg,
           {sql_q4("CASE WHEN t.first_rel_rank = 0 THEN 0.0 "
                   "ELSE 1.0 / t.first_rel_rank END")} AS rr,
           {sql_q4(f"CAST(t.n_rel_topk AS DOUBLE) / {NDCG_K}")} AS p_at_k
    FROM topk t JOIN corp c ON c.qid = t.qid
    """,
)
def ml_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the exact cosine retrieval run:
    per query, NDCG@5 (binary relevance = same class label), the
    reciprocal rank of the first relevant hit, and precision@5 —
    the offline metrics every retrieval/RAG deployment tracks
    (Järvelin & Kekäläinen's DCG formulation, public).

    Hash-parity discipline: the rank-position discounts 1/log2(r+1)
    are COMPILE-TIME fixed-point constants (rank bounded by k), so
    DCG sums are exact integers on both engines; the ideal DCG is a
    CASE lookup on the corpus relevant-count. The ranking itself
    reuses the sim_topk_exact shape — broadcast query block, JVM
    zip_with/aggregate folds, per-query bounded window."""
    from ..llm.dedup import _dot64, _norm2

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = F.broadcast(q).join(c, F.col("qid") != F.col("cid"))
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(
        F.col("qn2") * F.col("cn2")
    )
    scored = pairs.select(
        "qid",
        "cid",
        F.when(F.col("qlabel") == F.col("clabel"), 1)
        .otherwise(0)
        .alias("rel"),
        cos.alias("cos"),
    ).persist()
    corp = scored.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_rel_corpus")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    ranked = scored.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).where(F.col("rn") <= NDCG_K)
    dcg_w = F.element_at(
        F.lit(_DCG_W).cast("array<long>"), F.col("rn").cast("int")
    )
    topk = ranked.groupBy("qid").agg(
        F.sum(F.col("rel") * dcg_w).cast("long").alias("dcg_q"),
        F.sum("rel").cast("long").alias("n_rel_topk"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0)
        )
        .cast("long")
        .alias("first_rel_rank"),
    )
    idcg = F.element_at(
        F.lit(_IDCG_C).cast("array<long>"),
        (F.least(F.col("n_rel_corpus"), F.lit(NDCG_K)) + 1).cast("int"),
    )
    return topk.join(corp, "qid").select(
        "qid",
        "n_rel_topk",
        "first_rel_rank",
        "n_rel_corpus",
        q4(F.col("dcg_q").cast("double") / idcg).alias("ndcg"),
        q4(
            F.when(F.col("first_rel_rank") == 0, 0.0).otherwise(
                1.0 / F.col("first_rel_rank")
            )
        ).alias("rr"),
        q4(F.col("n_rel_topk").cast("double") / NDCG_K).alias("p_at_k"),
    )


# ------------------------------------------------- PR-AUC (average precision)

AP_Q = 1_000_000_000  # fixed-point quantum for per-threshold AP terms


@register(
    "ml_auc_pr",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grid AS (
        SELECT s, CAST(count(*) AS BIGINT) AS c_all,
               CAST(sum(y) AS BIGINT) AS c_pos
        FROM scored GROUP BY s
    ), cum AS (
        SELECT s, c_all, c_pos,
               CAST(sum(c_all) OVER w AS BIGINT) AS cum_all,
               CAST(sum(c_pos) OVER w AS BIGINT) AS cum_pos
        FROM grid
        WINDOW w AS (ORDER BY s DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT CAST(sum(c_all) AS BIGINT) AS n,
               CAST(sum(c_pos) AS BIGINT) AS n_pos
        FROM grid
    ), terms AS (
        SELECT CAST(sum(CAST(floor(
                   CAST(c.c_pos AS DOUBLE) / t.n_pos
                   * (CAST(c.cum_pos AS DOUBLE) / c.cum_all)
                   * {AP_Q} + 0.5) AS BIGINT)) AS BIGINT) AS ap_q
        FROM cum c CROSS JOIN tot t
        WHERE c.c_pos > 0
    )
    SELECT t.n, t.n_pos,
           {sql_q4(f"CAST(x.ap_q AS DOUBLE) / {AP_Q}")} AS auc_pr,
           {sql_q4("CAST(t.n_pos AS DOUBLE) / t.n")} AS baseline_rate
    FROM tot t CROSS JOIN terms x
    """,
)
def ml_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC, step-interpolated with threshold
    ties handled at the score-group level): AP = Σ over score
    groups of (ΔTP/POS) · precision-at-group-end — the metric that
    actually ranks models under class imbalance, complementing
    ml_roc_auc (a no-skill model scores the base rate here, not
    0.5, so the baseline rides along).

    Scale shape — the stat_ks_test bounded-domain discipline: rows
    hash-aggregate onto the score grid FIRST; cumulative TP/ALL are
    exact integers over the grid (swap in global_ordered if the
    score domain explodes), and each group's AP term is fixed-point
    quantized (1e-9) before the final sum so threshold-order float
    drift cannot change the hash."""
    e = table(spark, sf_dir, "events")
    scored = e.select(
        (F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grid = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.sum("y").cast("long").alias("c_pos"),
    ).localCheckpoint(eager=False)
    cum = global_ordered(
        grid,
        [F.col("s").desc()],
        bucket_key="s",
        bucket_desc=True,
        sums={"c_all": "cum_all", "c_pos": "cum_pos"},
        rank_col=None,
    ).localCheckpoint(eager=False)
    tot = grid.agg(
        F.sum("c_all").cast("long").alias("n"),
        F.sum("c_pos").cast("long").alias("n_pos"),
    )
    terms = (
        cum.where(F.col("c_pos") > 0)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(
                    F.col("c_pos").cast("double")
                    / F.col("n_pos")
                    * (
                        F.col("cum_pos").cast("double")
                        / F.col("cum_all")
                    )
                    * AP_Q
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("ap_q")
        )
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        "n",
        "n_pos",
        q4(F.col("ap_q").cast("double") / AP_Q).alias("auc_pr"),
        q4(F.col("n_pos").cast("double") / F.col("n")).alias(
            "baseline_rate"
        ),
    )


# ------------------------------------------------- feature hashing

FH_BUCKETS = 256  # hashing-trick output dimensionality


@register(
    "ml_feature_hashing",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(word), 1, 4) AS INTEGER)
                    % {FH_BUCKETS} AS BIGINT) AS bucket,
               CASE WHEN CAST('0x' || substr(md5(word), 5, 1) AS INTEGER)
                         % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM w
    )
    SELECT doc_id, bucket,
           CAST(sum(sgn) AS BIGINT) AS feat_value,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM hashed GROUP BY doc_id, bucket
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009, public): tokens
    hash into a fixed 256-bucket feature space with a signed-hash
    correction (second hash decides ±1, making the estimator
    unbiased under collisions) — the unbounded-vocabulary
    featurizer that needs NO vocabulary table, dictionary broadcast,
    or training pass, which is exactly why it scales: per-row pure
    hash arithmetic, one (doc, bucket) aggregate, output bounded by
    docs × 256.

    Both engines derive bucket and sign from the same md5 hex
    prefix, so the sparse feature matrix is hash-verified cell by
    cell."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 4), 16, 10)
        .cast("long")
        % FH_BUCKETS
    )
    sgn = F.when(
        F.conv(F.substring(F.md5(F.col("word")), 5, 1), 16, 10)
        .cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    return (
        w.select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("long").alias("feat_value"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


# ------------------------------------------------- mutual information

MI_Q = 1_000_000_000  # fixed-point quantum for per-cell MI terms
MI_BAND_W = 100.0  # value band width for the discretized variable


@register(
    "ml_mutual_info",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS a,
               CAST(floor(value / {MI_BAND_W}) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
    ), ma AS (
        SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY a
    ), mb AS (
        SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY b
    ), terms AS (
        SELECT CAST(sum(CAST(floor(
                   CAST(cl.c AS DOUBLE) / t.n
                   * log2(CAST(cl.c AS DOUBLE) * t.n
                          / (CAST(ma.ca AS DOUBLE) * mb.cb))
                   * {MI_Q} + 0.5) AS BIGINT)) AS BIGINT) AS mi_q,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cells cl
        JOIN ma ON ma.a = cl.a
        JOIN mb ON mb.b = cl.b
        CROSS JOIN tot t
    )
    SELECT t.n, x.n_cells,
           {sql_q4(f"CAST(x.mi_q AS DOUBLE) / {MI_Q}")} AS mi_bits
    FROM tot t CROSS JOIN terms x
    """,
)
def ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; value band) in bits — the
    model-free dependence measure feature selection ranks columns
    by (zero iff independent; catches non-monotone structure that
    correlation misses). MI = Σ p(a,b)·log2(p(a,b)/(p(a)p(b))) over
    the contingency grid.

    Scale shape — the stat_chi2_test skeleton with an
    information-theoretic payload: one hash aggregate to the
    bounded (type × band) grid, marginals re-aggregated from the
    grid (never the rows), and each cell's MI term fixed-point
    quantized (1e-9) before the final sum so the result is
    order-free and hash-exact."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("event_type").alias("a"),
        F.floor(F.col("value") / MI_BAND_W).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(eager=False)
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    ma = cells.groupBy("a").agg(F.sum("c").cast("long").alias("ca"))
    mb = cells.groupBy("b").agg(F.sum("c").cast("long").alias("cb"))
    joined = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    term = F.floor(
        F.col("c").cast("double")
        / F.col("n")
        * F.log2(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("ca").cast("double") * F.col("cb"))
        )
        * MI_Q
        + 0.5
    ).cast("long")
    terms = joined.agg(
        F.sum(term).cast("long").alias("mi_q"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        "n",
        "n_cells",
        q4(F.col("mi_q").cast("double") / MI_Q).alias("mi_bits"),
    )


# ------------------------------------------------- rater agreement

KAPPA_Q_THRESH = "0.55"  # quality-score band for the second rater


@register(
    "ml_cohen_kappa",
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
               CAST(count(CASE WHEN word IN ('the', 'of', 'and', 'a', 'in', 'to', 'is', 'on', 'for', 'with')
                    THEN 1 END) AS BIGINT) AS n_stop_distinct,
               CAST(max(c) AS BIGINT) AS top_freq,
               CAST(sum(CASE WHEN word IN ('the', 'of', 'and', 'a', 'in', 'to', 'is', 'on', 'for', 'with') THEN c ELSE 0 END)
                    AS BIGINT) AS n_stop_tokens
        FROM wf GROUP BY doc_id
    ), raters AS (
        SELECT doc_id,
               (n_words BETWEEN 20 AND 100000)
                 AND (CAST(sum_wlen AS DOUBLE) / n_words BETWEEN 3 AND 10)
                 AND (n_stop_distinct >= 2)
                 AND (CAST(top_freq AS DOUBLE) / n_words <= 0.2) AS r1,
               0.5 * least(n_words / 100.0, 1.0)
                 + 0.3 * (1.0 - least(CAST(sum_wlen AS DOUBLE) / n_words
                                      / 10.0, 1.0))
                 + 0.2 * least(10.0 * CAST(n_stop_tokens AS DOUBLE)
                               / n_words, 1.0)
                 >= 0.55 AS r2
        FROM per_doc
    ), grid AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(r1 AND r2) AS BIGINT) AS a,
               CAST(count_if(r1 AND NOT r2) AS BIGINT) AS b,
               CAST(count_if(NOT r1 AND r2) AS BIGINT) AS c,
               CAST(count_if(NOT r1 AND NOT r2) AS BIGINT) AS d
        FROM raters
    )
    SELECT n, a, b, c, d,
           floor((CAST(a + d AS DOUBLE) / n) * 10000 + 0.5) / 10000.0 AS po,
           floor((((CAST(a + d AS DOUBLE) / n) - ((CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d)) / (CAST(n AS DOUBLE) * n))) / (1.0 - ((CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d)) / (CAST(n AS DOUBLE) * n)))) * 10000 + 0.5) / 10000.0 AS kappa
    FROM grid
    """,
)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality
    'raters' — the Gopher-style rule conjunction vs the continuous
    quality score thresholded at 0.55 — chance-corrected agreement
    κ = (p_o − p_e)/(1 − p_e), the number annotation pipelines
    report before trusting auto-labels (Cohen 1960, public; the
    2×2 case of Fleiss' multi-rater generalization).

    Scale shape: ONE token rollup feeds BOTH raters' sufficient
    statistics (shared shuffle — the two label definitions are
    per-doc expressions over the same five integers), then the 2×2
    agreement grid is a single count_if aggregate and kappa is one
    closed-form double."""
    d = table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wf = w.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_doc = wf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.length("word")).cast("long").alias("sum_wlen"),
        F.count(F.when(F.col("word").isin(*EN_STOPWORDS), 1))
        .cast("long")
        .alias("n_stop_distinct"),
        F.max("c").cast("long").alias("top_freq"),
        F.sum(
            F.when(F.col("word").isin(*EN_STOPWORDS), F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("n_stop_tokens"),
    )
    mwl = F.col("sum_wlen").cast("double") / F.col("n_words")
    r1 = (
        F.col("n_words").between(20, 100000)
        & mwl.between(3.0, 10.0)
        & (F.col("n_stop_distinct") >= 2)
        & (F.col("top_freq").cast("double") / F.col("n_words") <= 0.2)
    )
    score = (
        0.5 * F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0))
        + 0.3 * (F.lit(1.0) - F.least(mwl / F.lit(10.0), F.lit(1.0)))
        + 0.2
        * F.least(
            F.lit(10.0)
            * F.col("n_stop_tokens").cast("double")
            / F.col("n_words"),
            F.lit(1.0),
        )
    )
    r2 = score >= float(KAPPA_Q_THRESH)
    raters = per_doc.select(r1.alias("r1"), r2.alias("r2"))
    grid = raters.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("r1") & F.col("r2")).cast("long").alias("a"),
        F.count_if(F.col("r1") & ~F.col("r2")).cast("long").alias("b"),
        F.count_if(~F.col("r1") & F.col("r2")).cast("long").alias("c"),
        F.count_if(~F.col("r1") & ~F.col("r2")).cast("long").alias("d"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("a") + F.col("d")).cast("double") / nd
    pe = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")).cast("double")
        * (F.col("b") + F.col("d"))
    ) / (nd * nd)
    return grid.select(
        "n",
        "a",
        "b",
        "c",
        "d",
        q4(po).alias("po"),
        q4((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


# ------------------------------------------- GBM histogram build

GBM_Q = 1_000_000_000  # fixed-point quantum for per-row gradients
GBM_LAMBDA = "1.0"  # L2 regularization in the split-gain formula
GBM_BAND_W = 25.0  # value-band width for the continuous feature


@register(
    "ml_gbm_histogram",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CAST(hour(ts) AS BIGINT) AS f_hour,
               CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS f_wday,
               least(CAST(floor(value / {GBM_BAND_W}) AS BIGINT), 19)
                   AS f_band
        FROM events
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(y) AS BIGINT) AS pos_all
        FROM base
    ), melted AS (
        SELECT 'hour' AS feature, f_hour AS bin, y FROM base
        UNION ALL SELECT 'weekday', f_wday, y FROM base
        UNION ALL SELECT 'value_band', f_band, y FROM base
    ), hist AS (
        SELECT m.feature, m.bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor((m.y - CAST(t.pos_all AS DOUBLE)
                    / t.n_all) * {GBM_Q} + 0.5) AS BIGINT)) AS BIGINT)
                   AS g_q
        FROM melted m CROSS JOIN tot t
        GROUP BY m.feature, m.bin
    ), cum AS (
        SELECT feature, bin, n, g_q,
               CAST(sum(n) OVER w AS BIGINT) AS nl,
               CAST(sum(g_q) OVER w AS BIGINT) AS gl_q,
               CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
               CAST(sum(g_q) OVER (PARTITION BY feature) AS BIGINT) AS gt_q
        FROM hist
        WINDOW w AS (PARTITION BY feature ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), gains AS (
        SELECT c.feature, c.bin, c.n, c.g_q,
               CASE WHEN c.nl < c.nt THEN
                 (CAST(c.gl_q AS DOUBLE)/{GBM_Q})
                   * (CAST(c.gl_q AS DOUBLE)/{GBM_Q})
                   / (c.nl * (CAST(t.pos_all AS DOUBLE)/t.n_all)
                      * (1 - CAST(t.pos_all AS DOUBLE)/t.n_all)
                      + {GBM_LAMBDA})
                 + (CAST(c.gt_q - c.gl_q AS DOUBLE)/{GBM_Q})
                   * (CAST(c.gt_q - c.gl_q AS DOUBLE)/{GBM_Q})
                   / ((c.nt - c.nl) * (CAST(t.pos_all AS DOUBLE)/t.n_all)
                      * (1 - CAST(t.pos_all AS DOUBLE)/t.n_all)
                      + {GBM_LAMBDA})
                 - (CAST(c.gt_q AS DOUBLE)/{GBM_Q})
                   * (CAST(c.gt_q AS DOUBLE)/{GBM_Q})
                   / (c.nt * (CAST(t.pos_all AS DOUBLE)/t.n_all)
                      * (1 - CAST(t.pos_all AS DOUBLE)/t.n_all)
                      + {GBM_LAMBDA})
               END AS gain
        FROM cum c CROSS JOIN tot t
    )
    SELECT feature, bin, n, g_q,
           floor(coalesce(gain, 0.0) * 1e4 + 0.5) / 1e4 AS gain,
           gain IS NOT NULL AND gain = max(gain)
               OVER (PARTITION BY feature) AS is_best_split
    FROM gains
    """,
)
def ml_gbm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gradient-boosting histogram-build + split-find iteration
    (the XGBoost/LightGBM hot loop, public): logistic pseudo-
    residuals against the constant init p₀, histogrammed per
    (feature, bin) for three features (hour, weekday, value band),
    then the exact split gain G_L²/(H_L+λ) + G_R²/(H_R+λ) −
    G²/(H+λ) at every bin boundary via cumulative window sums, with
    the argmax flagged per feature. Distributed XGBoost IS this
    query per tree node: the histogram shuffle is the only
    data-sized stage.

    Hash-parity discipline: per-row gradients are fixed-point
    quantized (1e-9) before the histogram sum, so G accumulators
    are exact integers; H is count × p₀(1−p₀) (exact ratio); gains
    are final per-bin doubles over bounded bins. The melt is 3× the
    rows but map-side combines to Σ|bins| ≈ 51 groups."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.hour("ts").cast("long").alias("f_hour"),
        F.expr("CAST(weekday(CAST(ts AS DATE)) AS BIGINT)").alias("f_wday"),
        F.least(
            F.floor(F.col("value") / GBM_BAND_W).cast("long"), F.lit(19)
        ).alias("f_band"),
    ).persist()
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("pos_all"),
    )
    melted = (
        base.select(F.lit("hour").alias("feature"),
                    F.col("f_hour").alias("bin"), "y")
        .unionByName(
            base.select(F.lit("weekday").alias("feature"),
                        F.col("f_wday").alias("bin"), "y")
        )
        .unionByName(
            base.select(F.lit("value_band").alias("feature"),
                        F.col("f_band").alias("bin"), "y")
        ).persist()
    )
    p0 = F.col("pos_all").cast("double") / F.col("n_all")
    hist = (
        melted.crossJoin(F.broadcast(tot))
        .groupBy("feature", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor((F.col("y") - p0) * GBM_Q + 0.5).cast("long")
            )
            .cast("long")
            .alias("g_q"),
        )
    )
    wcum = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "bin",
        "n",
        "g_q",
        F.sum("n").over(wcum).cast("long").alias("nl"),
        F.sum("g_q").over(wcum).cast("long").alias("gl_q"),
        F.sum("n").over(wall).cast("long").alias("nt"),
        F.sum("g_q").over(wall).cast("long").alias("gt_q"),
    ).crossJoin(F.broadcast(tot))
    lam = float(GBM_LAMBDA)
    h_unit = p0 * (1 - p0)
    gl = F.col("gl_q").cast("double") / GBM_Q
    gr = (F.col("gt_q") - F.col("gl_q")).cast("double") / GBM_Q
    gt = F.col("gt_q").cast("double") / GBM_Q
    gain = F.when(
        F.col("nl") < F.col("nt"),
        gl * gl / (F.col("nl") * h_unit + lam)
        + gr * gr / ((F.col("nt") - F.col("nl")) * h_unit + lam)
        - gt * gt / (F.col("nt") * h_unit + lam),
    )
    gains = cum.select(
        "feature", "bin", "n", "g_q", gain.alias("gain_raw")
    )
    return gains.select(
        "feature",
        "bin",
        "n",
        "g_q",
        (
            F.floor(F.coalesce(F.col("gain_raw"), F.lit(0.0)) * 1e4 + 0.5)
            / 1e4
        ).alias("gain"),
        (
            F.col("gain_raw").isNotNull()
            & (F.col("gain_raw") == F.max("gain_raw").over(wall))
        ).alias("is_best_split"),
    )


# ------------------------------------------------- Friedman test

FRD_CHI2_CRIT = "9.488"  # chi-square upper 5%, df = k-1 = 4


@register(
    "stat_friedman_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               event_type,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT d, event_type,
               CAST(2 * rank() OVER (PARTITION BY d ORDER BY y)
                    + count(*) OVER (PARTITION BY d, y) - 1
                    AS BIGINT) AS r2
        FROM daily
    ), sums AS (
        SELECT event_type,
               CAST(sum(r2) AS BIGINT) AS r2_sum,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY event_type
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(max(n_blocks) AS BIGINT) AS n,
               CAST(sum(CAST(r2_sum AS HUGEINT) * r2_sum) AS HUGEINT)
                   AS ssq4
        FROM sums
    )
    SELECT k, n,
           floor((12e0 * (CAST(ssq4 AS DOUBLE) / 4) / (n * k * (k + 1))
                  - 3e0 * n * (k + 1)) * 1e4 + 0.5) / 1e4 AS chi2,
           (12e0 * (CAST(ssq4 AS DOUBLE) / 4) / (n * k * (k + 1))
            - 3e0 * n * (k + 1)) > {FRD_CHI2_CRIT} AS significant
    FROM tot
    """,
)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across event types with days as blocks:
    rank the k types WITHIN each day by volume (tie midranks),
    compare rank sums — the repeated-measures, distribution-free
    alternative to stat_anova_oneway when day effects would pollute
    a pooled test (Friedman 1937, public).

    Hash-parity discipline: midranks are carried DOUBLED
    (2·rank + ties − 1 — the ml_roc_auc integer-midrank trick), so
    rank sums are exact integers (squares in HUGEINT/decimal); the
    χ² statistic divides the doubled squares by 4 in one final
    double expression shared across engines. Scale shape: the rank
    window partitions by day over k rows each — bounded by the type
    domain, never data-proportional."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wr = Window.partitionBy("d").orderBy("y")
    wt = Window.partitionBy("d", "y")
    ranked = daily.select(
        "d",
        "event_type",
        (
            2 * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt)
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    dec = "decimal(38,0)"
    tot = sums.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n_blocks").cast("long").alias("n"),
        F.sum(F.col("r2_sum").cast(dec) * F.col("r2_sum").cast(dec)).alias(
            "ssq4"
        ),
    )
    chi2 = (
        12.0
        * (F.col("ssq4").cast("double") / 4)
        / (F.col("n") * F.col("k") * (F.col("k") + 1))
        - 3.0 * F.col("n") * (F.col("k") + 1)
    )
    return tot.select(
        "k",
        "n",
        (F.floor(chi2 * 1e4 + 0.5) / 1e4).alias("chi2"),
        (chi2 > float(FRD_CHI2_CRIT)).alias("significant"),
    )


# ------------------------------------------------- class weighting

CW_BETA = "0.999"  # effective-number-of-samples decay


@register(
    "ml_class_weights",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all,
               CAST(count(*) AS BIGINT) AS k
        FROM g
    ), w AS (
        SELECT g.event_type, g.n, t.n_all, t.k,
               CAST(t.n_all AS DOUBLE) / (t.k * g.n) AS w_invfreq,
               (1e0 - {CW_BETA}) / (1e0 - pow({CW_BETA}, g.n)) AS w_ens_raw
        FROM g CROSS JOIN tot t
    ), z AS (
        SELECT CAST(sum(CAST(floor(w_ens_raw * 1e12 + 0.5) AS BIGINT))
                    AS BIGINT) AS zq
        FROM w
    )
    SELECT w.event_type, w.n,
           floor(w.w_invfreq * 1e4 + 0.5) / 1e4 AS w_invfreq,
           floor((CAST(floor(w.w_ens_raw * 1e12 + 0.5) AS BIGINT)
                  * CAST(w.k AS DOUBLE) / z.zq) * 1e4 + 0.5) / 1e4
               AS w_effective
    FROM w CROSS JOIN z
    """,
)
def ml_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance weighting table: inverse-frequency weights
    (N/(k·n_c)) and the effective-number-of-samples weights
    (1−β)/(1−β^n_c), normalized to sum to k (Cui et al. 2019,
    public) — the per-class loss multipliers a trainer reads before
    fitting on skewed labels.

    The normalizer sums per-class doubles, so each raw weight is
    fixed-point quantized (1e-12) before the sum — order-free
    integers — and the per-class output scales by the same quantized
    values on both engines. One hash aggregate + broadcast totals."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    beta = float(CW_BETA)
    w = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "n_all",
        "k",
        (F.col("n_all").cast("double") / (F.col("k") * F.col("n"))).alias(
            "w_invfreq"
        ),
        (
            (1.0 - beta) / (1.0 - F.pow(F.lit(beta), F.col("n")))
        ).alias("w_ens_raw"),
    )
    wq = F.floor(F.col("w_ens_raw") * 1e12 + 0.5).cast("long")
    z = w.select(wq.alias("wq")).agg(
        F.sum("wq").cast("long").alias("zq")
    )
    return w.crossJoin(F.broadcast(z)).select(
        "event_type",
        "n",
        (F.floor(F.col("w_invfreq") * 1e4 + 0.5) / 1e4).alias("w_invfreq"),
        (
            F.floor(
                wq * F.col("k").cast("double") / F.col("zq") * 1e4 + 0.5
            )
            / 1e4
        ).alias("w_effective"),
    )


# -------------------------------- out-of-fold (CV) target encoding

TE_CV_K = 5  # deterministic hash folds


@register(
    "ml_target_encoding_cv",
    oracle=f"""
    WITH lab AS (
        SELECT o_orderpriority AS cat,
               CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                    1, 6)) AS BIGINT) % {TE_CV_K} AS fold,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ), gfc AS (
        SELECT fold, cat, CAST(count(*) AS BIGINT) AS n_fc,
               CAST(sum(y) AS BIGINT) AS pos_fc
        FROM lab GROUP BY fold, cat
    ), gc AS (
        SELECT cat, CAST(sum(n_fc) AS BIGINT) AS n_c,
               CAST(sum(pos_fc) AS BIGINT) AS pos_c
        FROM gfc GROUP BY cat
    ), gf AS (
        SELECT fold, CAST(sum(n_fc) AS BIGINT) AS n_f,
               CAST(sum(pos_fc) AS BIGINT) AS pos_f
        FROM gfc GROUP BY fold
    ), tot AS (
        SELECT CAST(sum(n_f) AS BIGINT) AS n_all,
               CAST(sum(pos_f) AS BIGINT) AS pos_all
        FROM gf
    )
    SELECT gfc.fold, gfc.cat, gfc.n_fc,
           {sql_q4(
               f"(CAST(gc.pos_c - gfc.pos_fc AS DOUBLE) + {TE_PRIOR}"
               " * (CAST(t.pos_all - gf.pos_f AS DOUBLE)"
               " / (t.n_all - gf.n_f)))"
               f" / (gc.n_c - gfc.n_fc + {TE_PRIOR})"
           )} AS oof_enc
    FROM gfc
    JOIN gc USING (cat) JOIN gf USING (fold) CROSS JOIN tot t
    """,
)
def ml_target_encoding_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-FOLD target encoding — the leakage-safe variant of
    ml_target_encoding: rows in hash fold f receive an encoding
    computed from every fold EXCEPT f (per-category counts minus the
    fold's own, shrunk by a pseudo-count prior toward the
    out-of-fold global rate).  This is the encoder the training
    split must use; encoding with a row's own target leaks.

    Fold assignment is the repo's deterministic content-hash split
    (md5(key) mod K — stable at any parallelism, append-safe), so
    the "split" is a pure function of the row, never a persisted
    table.  Scale shape: ONE hash aggregate to |folds|×|categories|
    cells; the per-category, per-fold, and global totals all fold
    FROM that cell table (metadata-sized), and everything joins back
    broadcast.  The fact table is touched exactly once."""
    o = table(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6),
            16,
            10,
        ).cast("long")
        % TE_CV_K
    )
    lab = o.select(
        F.col("o_orderpriority").alias("cat"),
        fold.alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    ).persist()
    gfc = lab.groupBy("fold", "cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_fc"),
        F.sum("y").cast("long").alias("pos_fc"),
    ).localCheckpoint(eager=False)
    gc = gfc.groupBy("cat").agg(
        F.sum("n_fc").cast("long").alias("n_c"),
        F.sum("pos_fc").cast("long").alias("pos_c"),
    )
    gf = gfc.groupBy("fold").agg(
        F.sum("n_fc").cast("long").alias("n_f"),
        F.sum("pos_fc").cast("long").alias("pos_f"),
    )
    tot = gf.agg(
        F.sum("n_f").cast("long").alias("n_all"),
        F.sum("pos_f").cast("long").alias("pos_all"),
    )
    oof_rate = (F.col("pos_all") - F.col("pos_f")).cast("double") / (
        F.col("n_all") - F.col("n_f")
    )
    return (
        gfc.join(F.broadcast(gc), "cat")
        .join(F.broadcast(gf), "fold")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "cat",
            "n_fc",
            q4(
                (
                    (F.col("pos_c") - F.col("pos_fc")).cast("double")
                    + F.lit(TE_PRIOR) * oof_rate
                )
                / (F.col("n_c") - F.col("n_fc") + TE_PRIOR)
            ).alias("oof_enc"),
        )
    )


# ------------------------------------- multinomial naive Bayes (text)

NB_Q = 1_000_000  # micronat quantization of per-(word,class) log-probs


@register(
    "ml_naive_bayes",
    oracle=f"""
    WITH train_doc AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
    ), test_doc AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1
    ), train_tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM train_doc
    ), cw AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS cw
        FROM train_tok GROUP BY lang, w
    ), lt AS (
        SELECT lang, CAST(sum(cw) AS BIGINT) AS tl FROM cw GROUP BY lang
    ), vc AS (
        SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cw
    ), dl AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS dl
        FROM train_doc GROUP BY lang
    ), dd AS (
        SELECT CAST(sum(dl) AS BIGINT) AS d_all FROM dl
    ), classes AS (
        SELECT lt.lang, tl, dl,
               CAST(floor(ln(1.0 / (tl + v)) * {NB_Q}) AS BIGINT) AS lp0q,
               CAST(floor(ln(CAST(dl AS DOUBLE) / d_all) * {NB_Q})
                    AS BIGINT) AS priorq
        FROM lt JOIN dl USING (lang) CROSS JOIN vc CROSS JOIN dd
    ), lp AS (
        SELECT cw.lang, cw.w,
               CAST(floor(ln(CAST(cw + 1 AS DOUBLE) / (tl + v)) * {NB_Q})
                    AS BIGINT) AS lpq
        FROM cw JOIN lt USING (lang) CROSS JOIN vc
    ), test_cnt AS (
        SELECT doc_id, lang AS true_lang, w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
              FROM test_doc) GROUP BY 1, 2, 3
    ), scored AS (
        SELECT tc.doc_id, tc.true_lang, cl.lang AS cand,
               CAST(max(cl.priorq)
                    + sum(tc.c * coalesce(lp.lpq, cl.lp0q)) AS BIGINT)
                   AS score_q
        FROM test_cnt tc
        CROSS JOIN classes cl
        LEFT JOIN lp ON lp.lang = cl.lang AND lp.w = tc.w
        GROUP BY 1, 2, 3
    ), pred AS (
        SELECT doc_id, true_lang, cand,
               row_number() OVER (PARTITION BY doc_id
                   ORDER BY score_q DESC, cand) AS rk
        FROM scored
    )
    SELECT true_lang, cand AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rk = 1 GROUP BY 1, 2
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained and
    evaluated in one query: even doc_ids train Laplace-smoothed
    per-(word, lang) token log-probs, odd doc_ids are scored
    (log-prior + Σ count·log-prob, OOV terms falling back to the
    smoothed-zero class constant) and the output is the confusion
    matrix of argmax predictions — the classic generative text
    baseline (McCallum & Nigam 1998, public) as pure batch SQL.

    Scale shape: training is two hash aggregates (token counts to
    |vocab|×|classes| rows, then per-class totals); class-level
    constants (vocab size, doc priors, OOV log-prob) ride broadcast
    1-row / |classes|-row frames.  Scoring joins the test tokens to
    the log-prob table on the word key — broadcastable when the
    vocabulary is bounded, a plain shuffle equi-join beyond — and the
    per-document sum is EXACT: log-probs are quantized to micronat
    BIGINTs once per (word, class), so no double ever crosses an
    exchange.  The argmax window is partitioned per document
    (|classes| rows each)."""
    d = table(spark, sf_dir, "documents")
    train_doc = d.where(F.col("doc_id") % 2 == 0)
    test_doc = d.where(F.col("doc_id") % 2 == 1)
    # vocab x classes token-count table, three consumers (class
    # totals, vocab size, the log-prob table) — vocabulary-scaled, so
    # persist() per the SCALE.md r13 rule (this key replayed the
    # documents scan 8x before r13)
    cw = (
        train_doc.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cw"))
        .persist()
    )
    lt = cw.groupBy("lang").agg(F.sum("cw").cast("long").alias("tl"))
    vc = cw.agg(F.count_distinct("w").cast("long").alias("v"))
    dl = train_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    dd = dl.agg(F.sum("dl").cast("long").alias("d_all"))
    classes = (
        lt.join(dl, "lang")
        .crossJoin(F.broadcast(vc))
        .crossJoin(F.broadcast(dd))
        .select(
            "lang",
            "tl",
            "dl",
            F.floor(F.log(F.lit(1.0) / (F.col("tl") + F.col("v"))) * NB_Q)
            .cast("long")
            .alias("lp0q"),
            F.floor(
                F.log(F.col("dl").cast("double") / F.col("d_all")) * NB_Q
            )
            .cast("long")
            .alias("priorq"),
        )
    )
    lp = (
        cw.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(vc))
        .select(
            F.col("lang").alias("lp_lang"),
            F.col("w").alias("lp_w"),
            F.floor(
                F.log((F.col("cw") + 1).cast("double") / (F.col("tl") + F.col("v")))
                * NB_Q
            )
            .cast("long")
            .alias("lpq"),
        )
    )
    test_cnt = (
        test_doc.select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .groupBy("doc_id", "true_lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cand = classes.select(
        F.col("lang").alias("cand"), "lp0q", "priorq"
    )
    scored = (
        test_cnt.crossJoin(F.broadcast(cand))
        .join(
            lp,
            (F.col("lp_lang") == F.col("cand")) & (F.col("lp_w") == F.col("w")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            (
                F.max("priorq")
                + F.sum(F.col("c") * F.coalesce(F.col("lpq"), F.col("lp0q")))
            )
            .cast("long")
            .alias("score_q")
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("cand")
    )
    pred = scored.withColumn("rk", F.row_number().over(wp)).where(
        F.col("rk") == 1
    )
    return pred.groupBy(
        "true_lang", F.col("cand").alias("pred_lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


# --------------------------------------------- kNN label classifier

KNN_NQ = 50  # query block (matches ml_ndcg_eval / sim_topk_exact)
KNN_K = 5


@register(
    "ml_knn_classifier",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               a.label AS true_label, b.label AS nlabel,
               list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum')
               / sqrt(list_aggregate(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {KNN_NQ}
    ), ranked AS (
        SELECT qid, true_label, nlabel,
               row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS rn
        FROM scored
    ), votes AS (
        SELECT qid, true_label, nlabel,
               CAST(count(*) AS BIGINT) AS v
        FROM ranked WHERE rn <= {KNN_K}
        GROUP BY qid, true_label, nlabel
    ), pred AS (
        SELECT qid, true_label, nlabel AS pred_label,
               row_number() OVER (PARTITION BY qid
                    ORDER BY v DESC, nlabel) AS pr
        FROM votes
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n_queries
    FROM pred WHERE pr = 1 GROUP BY 1, 2
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label classification over the embedding
    corpus: each query vector takes the majority label of its {KNN_K}
    nearest cosine neighbors (smallest-label tie-break), reported as
    the confusion matrix — the standard embedding-quality probe (a
    kNN accuracy that beats the priors means the space encodes the
    labels).

    Scale shape: the sim_topk_exact retrieval template — the bounded
    query block broadcasts against the corpus, the cosine is the
    shared JVM zip_with/aggregate fold, the per-query candidate
    window is bounded (top-{KNN_K}), and voting + argmax are
    per-query aggregates over ≤{KNN_K} rows.  Scaling the query side
    shards the query block; the corpus side stays one scan."""
    from ..llm.dedup import _dot64, _norm2

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < KNN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = F.broadcast(q).join(c, F.col("qid") != F.col("cid"))
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(
        F.col("qn2") * F.col("cn2")
    )
    wq = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    ranked = pairs.select(
        "qid", "true_label", "nlabel", cos.alias("cos"), "cid"
    ).withColumn("rn", F.row_number().over(wq))
    votes = (
        ranked.where(F.col("rn") <= KNN_K)
        .groupBy("qid", "true_label", "nlabel")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("v").desc(), F.col("nlabel")
    )
    pred = votes.withColumn("pr", F.row_number().over(wv)).where(
        F.col("pr") == 1
    )
    return pred.groupBy(
        F.col("true_label").cast("long").alias("true_label"),
        F.col("nlabel").cast("long").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_queries"))


# ------------------------------------------ linear attribution

ATTR_Q = 10000  # fixed-point quantum for |x - mean| deviations


@register(
    "ml_linear_attribution",
    oracle=f"""
    WITH x AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS x2,
               CAST(floor(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS s1,
               CAST(sum(x2) AS BIGINT) AS s2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1*x1) AS BIGINT) AS s11,
               CAST(sum(x2*x2) AS BIGINT) AS s22,
               CAST(sum(x1*x2) AS BIGINT) AS s12,
               CAST(sum(x1*y) AS BIGINT) AS s1y,
               CAST(sum(x2*y) AS BIGINT) AS s2y
        FROM x
    ), b AS (
        SELECT n, s1, s2,
               ((CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n)
                 *(CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*sy/n)
                - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n)
                 *(CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*sy/n))
               / ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n)
                 *(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n)
                - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n)
                 *(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n))
                   AS b1,
               ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n)
                 *(CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*sy/n)
                - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n)
                 *(CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*sy/n))
               / ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n)
                 *(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n)
                - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n)
                 *(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n))
                   AS b2
        FROM s
    ), dev AS (
        SELECT CAST(sum(CAST(floor(abs(CAST(x.x1 AS DOUBLE)
                    - CAST(b.s1 AS DOUBLE)/b.n)*{ATTR_Q} + 0.5)
                    AS BIGINT)) AS BIGINT) AS d1,
               CAST(sum(CAST(floor(abs(CAST(x.x2 AS DOUBLE)
                    - CAST(b.s2 AS DOUBLE)/b.n)*{ATTR_Q} + 0.5)
                    AS BIGINT)) AS BIGINT) AS d2,
               max(b.n) AS n, max(b.b1) AS b1, max(b.b2) AS b2
        FROM x, b
    )
    SELECT f.feature,
           floor(f.beta*10000 + 0.5)/10000.0 AS beta,
           floor(f.mac*10000 + 0.5)/10000.0 AS mean_abs_contrib,
           floor((f.mac/(abs(b1)*(CAST(d1 AS DOUBLE)/{ATTR_Q}/n)
                 + abs(b2)*(CAST(d2 AS DOUBLE)/{ATTR_Q}/n)))
                *10000 + 0.5)/10000.0 AS share
    FROM dev, LATERAL (VALUES
        ('quantity', b1, abs(b1)*(CAST(d1 AS DOUBLE)/{ATTR_Q}/n)),
        ('discount_pct', b2, abs(b2)*(CAST(d2 AS DOUBLE)/{ATTR_Q}/n))
    ) AS f(feature, beta, mac)
    """,
)
def ml_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global feature attribution for the closed-form two-feature
    OLS of price-in-dollars on (quantity, discount%): for a LINEAR
    model the exact Shapley value of feature j on row i is
    β_j·(x_ij − x̄_j), so the global report is β_j, the mean
    absolute contribution |β_j|·MAD_j, and each feature's share of
    total attribution — the standard "which feature drives the
    model" table, computed exactly without any sampling.  Betas come
    from the centered 2×2 normal equations on exact integer moments;
    the per-row |x − x̄| deviations are quantized to the 1/ATTR_Q
    grid (the `stat_levene` discipline) so their sums are exact
    integers in both engines.

    Scale shape: two map-side-combining passes over the fact table —
    one 9-number moment fold, then one deviation fold against the
    broadcast 1-row beta frame — and a 2-row final select.  No
    shuffle wider than a dozen numbers."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x2"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    n = F.col("n").cast("double")
    c = lambda a, sa, sb: (  # noqa: E731
        F.col(a).cast("double")
        - F.col(sa).cast("double") * F.col(sb) / n
    )
    s11c, s22c, s12c = c("s11", "s1", "s1"), c("s22", "s2", "s2"), c(
        "s12", "s1", "s2"
    )
    s1yc, s2yc = c("s1y", "s1", "sy"), c("s2y", "s2", "sy")
    det = s11c * s22c - s12c * s12c
    b = s.select(
        "n",
        "s1",
        "s2",
        ((s22c * s1yc - s12c * s2yc) / det).alias("b1"),
        ((s11c * s2yc - s12c * s1yc) / det).alias("b2"),
    )
    dq = lambda xc, sc: F.floor(  # noqa: E731
        F.abs(
            F.col(xc).cast("double")
            - F.col(sc).cast("double") / F.col("n")
        )
        * ATTR_Q
        + F.lit(0.5)
    ).cast("long")
    dev = x.crossJoin(F.broadcast(b)).agg(
        F.sum(dq("x1", "s1")).cast("long").alias("d1"),
        F.sum(dq("x2", "s2")).cast("long").alias("d2"),
        F.max("n").alias("nn"),
        F.max("b1").alias("b1"),
        F.max("b2").alias("b2"),
    )
    mad1 = F.col("d1").cast("double") / ATTR_Q / F.col("nn")
    mad2 = F.col("d2").cast("double") / ATTR_Q / F.col("nn")
    total = F.abs(F.col("b1")) * mad1 + F.abs(F.col("b2")) * mad2
    rows = dev.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quantity").alias("feature"),
                    F.col("b1").alias("beta"),
                    (F.abs(F.col("b1")) * mad1).alias("mac"),
                    total.alias("tot"),
                ),
                F.struct(
                    F.lit("discount_pct").alias("feature"),
                    F.col("b2").alias("beta"),
                    (F.abs(F.col("b2")) * mad2).alias("mac"),
                    total.alias("tot"),
                ),
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.feature").alias("feature"),
        q4(F.col("r.beta")).alias("beta"),
        q4(F.col("r.mac")).alias("mean_abs_contrib"),
        q4(F.col("r.mac") / F.col("r.tot")).alias("share"),
    )


# ------------------------------------- drop-column importance


@register(
    "ml_drop_column_importance",
    oracle="""
    WITH x AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS x2,
               CAST(floor(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS s1,
               CAST(sum(x2) AS BIGINT) AS s2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1*x1) AS BIGINT) AS s11,
               CAST(sum(x2*x2) AS BIGINT) AS s22,
               CAST(sum(y*y) AS BIGINT) AS syy,
               CAST(sum(x1*x2) AS BIGINT) AS s12,
               CAST(sum(x1*y) AS BIGINT) AS s1y,
               CAST(sum(x2*y) AS BIGINT) AS s2y
        FROM x
    ), ctr AS (
        SELECT n,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n AS c11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n AS c22,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy/n AS cyy,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n AS c12,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*sy/n AS c1y,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*sy/n AS c2y
        FROM s
    ), r2 AS (
        SELECT n,
               ((c22*c1y - c12*c2y)*c1y + (c11*c2y - c12*c1y)*c2y)
               / ((c11*c22 - c12*c12) * cyy) AS r2_full,
               c1y*c1y/(c11*cyy) AS r2_x1,
               c2y*c2y/(c22*cyy) AS r2_x2
        FROM ctr
    )
    SELECT f.feature,
           floor(f.imp*10000 + 0.5)/10000.0 AS r2_drop,
           floor(r2_full*10000 + 0.5)/10000.0 AS r2_full,
           CAST(n AS BIGINT) AS n
    FROM r2, LATERAL (VALUES
        ('quantity', r2_full - r2_x2),
        ('discount_pct', r2_full - r2_x1)
    ) AS f(feature, imp)
    """,
)
def ml_drop_column_importance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drop-column feature importance for the two-feature OLS of
    price on (quantity, discount%): importance of feature j is the
    exact R² lost when the model is refit WITHOUT j — for linear
    models both the full and the reduced fits have closed forms over
    the same centered moment matrix, so the usually-expensive
    retrain-per-feature protocol collapses to one pass of exact
    integer sums.  R²_full uses β'X'y/SST over the 2×2 normal
    equations; each reduced fit is the single-feature r².

    Scale shape: ONE map-side-combining aggregate over the fact
    table (ten integers wide), then 1-row closed-form algebra and a
    2-row explode.  Nothing else touches data."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x2"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    n = F.col("n").cast("double")
    c = lambda a, sa, sb: (  # noqa: E731
        F.col(a).cast("double")
        - F.col(sa).cast("double") * F.col(sb) / n
    )
    ctr = s.select(
        "n",
        c("s11", "s1", "s1").alias("c11"),
        c("s22", "s2", "s2").alias("c22"),
        c("syy", "sy", "sy").alias("cyy"),
        c("s12", "s1", "s2").alias("c12"),
        c("s1y", "s1", "sy").alias("c1y"),
        c("s2y", "s2", "sy").alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    r2_full = (
        (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"))
        * F.col("c1y")
        + (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
        * F.col("c2y")
    ) / (det * F.col("cyy"))
    r2_x1 = (
        F.col("c1y") * F.col("c1y") / (F.col("c11") * F.col("cyy"))
    )
    r2_x2 = (
        F.col("c2y") * F.col("c2y") / (F.col("c22") * F.col("cyy"))
    )
    r2 = ctr.select(
        "n",
        r2_full.alias("r2f"),
        (r2_full - r2_x2).alias("imp1"),
        (r2_full - r2_x1).alias("imp2"),
    )
    rows = r2.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quantity").alias("feature"),
                    F.col("imp1").alias("imp"),
                    F.col("r2f").alias("r2f"),
                    F.col("n").cast("long").alias("n"),
                ),
                F.struct(
                    F.lit("discount_pct").alias("feature"),
                    F.col("imp2").alias("imp"),
                    F.col("r2f").alias("r2f"),
                    F.col("n").cast("long").alias("n"),
                ),
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.feature").alias("feature"),
        q4(F.col("r.imp")).alias("r2_drop"),
        q4(F.col("r.r2f")).alias("r2_full"),
        F.col("r.n").alias("n"),
    )


# ------------------------------------------------ pinball loss

PIN_TAUS = (1, 5, 9)  # tau = k/10


@register(
    "ml_pinball_loss",
    oracle=f"""
    WITH x AS (
        SELECT CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y
        FROM lineitem
    ), qh AS (
        SELECT quantile_disc(y, 0.1) AS q1,
               quantile_disc(y, 0.5) AS q5,
               quantile_disc(y, 0.9) AS q9,
               CAST(count(*) AS BIGINT) AS n
        FROM x
    ), loss AS (
        SELECT t.k,
               CASE t.k WHEN 1 THEN max(q.q1)
                        WHEN 5 THEN max(q.q5)
                        ELSE max(q.q9) END AS qhat,
               max(q.n) AS n,
               CAST(sum(CASE WHEN x.y > (CASE t.k
                        WHEN 1 THEN q.q1 WHEN 5 THEN q.q5
                        ELSE q.q9 END)
                   THEN t.k * (x.y - (CASE t.k
                        WHEN 1 THEN q.q1 WHEN 5 THEN q.q5
                        ELSE q.q9 END))
                   ELSE (10 - t.k) * ((CASE t.k
                        WHEN 1 THEN q.q1 WHEN 5 THEN q.q5
                        ELSE q.q9 END) - x.y) END) AS BIGINT)
                   AS units
        FROM x, qh q, (VALUES (1), (5), (9)) AS t(k)
        GROUP BY t.k
    )
    SELECT k/10.0 AS tau,
           CAST(qhat AS DOUBLE)/100.0 AS q_hat,
           floor((CAST(units AS DOUBLE)/10.0/n/100.0)*10000 + 0.5)
                /10000.0 AS mean_pinball
    FROM loss
    """,
)
def ml_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss evaluation of the three constant
    quantile predictors q̂_τ = percentile_disc(price, τ) for
    τ ∈ {{0.1, 0.5, 0.9}} — the loss every quantile forecaster is
    scored with; evaluating the in-sample percentile gives the
    attainable floor a model must beat.  With τ = k/10 the per-row
    loss is the INTEGER k·(y−q̂) or (10−k)·(q̂−y) in cents, so the
    sums are exact and only the final mean divides.

    Scale shape: one percentile fold (sort-based, the documented
    exact-percentile trade vs the KLL approx default), broadcast of
    the 1-row q̂ frame, then one conditional integer aggregate over
    the fact table per τ (a 3-way explode of the same scan)."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(cents(F.col("l_extendedprice")).alias("y"))
    qh = x.agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY y)")
        .alias("q1"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)")
        .alias("q5"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)")
        .alias("q9"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    taus = F.explode(
        F.array(*[F.lit(k) for k in PIN_TAUS])
    ).alias("k")
    j = x.crossJoin(F.broadcast(qh)).select("y", "n", "q1", "q5", "q9", taus)
    qhat = (
        F.when(F.col("k") == 1, F.col("q1"))
        .when(F.col("k") == 5, F.col("q5"))
        .otherwise(F.col("q9"))
    )
    unit = F.when(
        F.col("y") > qhat, F.col("k") * (F.col("y") - qhat)
    ).otherwise((10 - F.col("k")) * (qhat - F.col("y")))
    loss = j.groupBy("k").agg(
        F.max(qhat).alias("qhat"),
        F.max("n").alias("n"),
        F.sum(unit).cast("long").alias("units"),
    )
    return loss.select(
        (F.col("k") / 10.0).alias("tau"),
        (F.col("qhat").cast("double") / 100.0).alias("q_hat"),
        q4(
            F.col("units").cast("double") / 10.0 / F.col("n") / 100.0
        ).alias("mean_pinball"),
    )


# --------------------------------------------- learning curve

LC_BUCKETS = 10


@register(
    "ml_learning_curve",
    oracle=f"""
    WITH x AS (
        SELECT CAST(concat('0x', substr(md5(concat(
                    CAST(l_orderkey AS VARCHAR), '-',
                    CAST(l_linenumber AS VARCHAR))), 1, 6))
                    AS BIGINT) % {LC_BUCKETS} AS b,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(floor(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ), pm AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(q*q) AS BIGINT) AS sqq,
               CAST(sum(q*y) AS BIGINT) AS sqy,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM x GROUP BY b
    ), cum AS (
        SELECT b,
               CAST(sum(n) OVER w AS BIGINT) AS n,
               CAST(sum(sq) OVER w AS BIGINT) AS sq,
               CAST(sum(sy) OVER w AS BIGINT) AS sy,
               CAST(sum(sqq) OVER w AS BIGINT) AS sqq,
               CAST(sum(sqy) OVER w AS BIGINT) AS sqy,
               CAST(sum(syy) OVER w AS BIGINT) AS syy
        FROM pm
        WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT (b+1.0)/{LC_BUCKETS} AS train_frac, n AS n_rows,
           floor(((n*CAST(sqy AS DOUBLE) - CAST(sq AS DOUBLE)*sy)
                 *(n*CAST(sqy AS DOUBLE) - CAST(sq AS DOUBLE)*sy)
                 /((n*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq)
                  *(n*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy)))
                *10000 + 0.5)/10000.0 AS r2
    FROM cum
    """,
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve from sufficient statistics: R² of the simple
    quantity→price regression fit on growing deterministic
    hash-prefix subsets (10%, 20%, … 100% of rows by
    md5(orderkey-linenumber) — the `ml_train_test_split` hash
    discipline, so the curve is stable across reruns and appends).
    For closed-form models the whole retrain-per-fraction protocol
    collapses to CUMULATIVE sums of per-bucket exact integer
    moments: one scan, ten fits.

    Scale shape: one map-side-combining hash aggregate to
    {LC_BUCKETS} bucket rows, a {LC_BUCKETS}-row cumulative window
    (domain-bounded — census-allowlisted), and closed-form algebra
    per row."""
    li = table(spark, sf_dir, "lineitem")
    b = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit("-"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % LC_BUCKETS
    )
    x = li.select(
        b.alias("b"),
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    pm = x.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        F.sum(F.col("q") * F.col("y")).cast("long").alias("sqy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    # LC_BUCKETS rows — domain-bounded (census-allowlisted)
    w = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pm.select(
        "b",
        *[
            F.sum(c).over(w).cast("long").alias(c)
            for c in ("n", "sq", "sy", "sqq", "sqy", "syy")
        ],
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sqy").cast("double") - F.col("sq").cast(
        "double"
    ) * F.col("sy")
    vq = n * F.col("sqq").cast("double") - F.col("sq").cast(
        "double"
    ) * F.col("sq")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return cum.select(
        ((F.col("b") + 1.0) / LC_BUCKETS).alias("train_frac"),
        F.col("n").alias("n_rows"),
        q4(cov * cov / (vq * vy)).alias("r2"),
    )


# --------------------------------------------- split conformal prediction

CONF_ALPHA_NUM = 9  # coverage level 1-alpha = 0.9, kept as integers


@register(
    "ml_conformal_interval",
    oracle=f"""
    WITH base AS (
        SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                   || '-' || CAST(l_linenumber AS VARCHAR)), 1, 6)
                   AS BIGINT) % 10 AS b,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ), fit AS (
        SELECT CAST(count(*) AS BIGINT) AS n_train,
               (CAST(count(*) AS DOUBLE) * CAST(sum(x * y) AS DOUBLE)
                - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
               / (CAST(count(*) AS DOUBLE) * CAST(sum(x * x) AS DOUBLE)
                - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) AS b1
        FROM base WHERE b <= 5
    ), fit2 AS (
        SELECT n_train, b1,
               (SELECT (CAST(sum(y) AS DOUBLE)
                        - b1 * CAST(sum(x) AS DOUBLE)) / count(*)
                FROM base WHERE b <= 5) AS b0
        FROM fit
    ), cal AS (
        SELECT CAST(floor(abs(y - (b0 + b1 * x)) * 100 + 0.5) AS BIGINT)
                   AS r
        FROM base, fit2 WHERE b IN (6, 7)
    ), kk AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cal,
               CAST(floor(({CONF_ALPHA_NUM} * (count(*) + 1) + 9) / 10.0)
                   AS BIGINT) AS k
        FROM cal
    ), grid AS (
        SELECT r, CAST(count(*) AS BIGINT) AS t FROM cal GROUP BY 1
    ), cum AS (
        SELECT r, sum(t) OVER (ORDER BY r
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM grid
    ), qh AS (
        SELECT min(r) AS qhat_cents FROM cum, kk WHERE c >= kk.k
    ), test AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(count_if(
                   CAST(floor(abs(y - (b0 + b1 * x)) * 100 + 0.5)
                       AS BIGINT) <= qhat_cents) AS BIGINT) AS covered
        FROM base, fit2, qh WHERE b >= 8
    )
    SELECT fit2.n_train, kk.n_cal, test.n_test,
           {sql_q4("fit2.b0")} AS intercept,
           {sql_q4("fit2.b1")} AS slope,
           qh.qhat_cents,
           {sql_q4("CAST(test.covered AS DOUBLE) / test.n_test")}
               AS coverage
    FROM fit2, kk, qh, test
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction — the distribution-free interval
    wrapper around ANY point model: a deterministic md5 hash split
    (train 60% / calibration 20% / test 20%, append-stable), a
    closed-form OLS fit of price on quantity from exact integer
    moments on train, the (1-α)(n+1)-th smallest absolute residual
    on calibration as the interval half-width q̂, and the empirical
    coverage of ŷ ± q̂ on held-out test — which the conformal
    guarantee says must be ≥ 90% regardless of the model's quality.

    Scale shape: TWO scans total. Pass 1 aggregates per-hash-bucket
    integer moments (10 rows) and the train fit folds from the
    b≤5 rows of that tiny frame; pass 2 reads only the cal+test
    buckets once, quantizes residuals, and aggregates straight to
    the (split, residual-cents) GRID — the calibration order
    statistic then runs on grid rows through ``global_ordered``'s
    value-bucketed prefix machine (never a single-partition window
    over data) and test coverage is a grid-level fold against q̂,
    not a third scan. The 1-row fit/k/q̂ frames broadcast. All
    comparisons happen on exact integer cents derived from
    bitwise-identical double arithmetic, so both engines select the
    same q̂."""
    li = table(spark, sf_dir, "lineitem")
    b = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit("-"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    base = li.select(
        b.alias("b"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    # pass 1: per-bucket exact moments (10 rows), train fit from b<=5
    pm = base.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("bsx"),
        F.sum("y").cast("long").alias("bsy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("bsxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("bsxy"),
    )
    m = pm.where(F.col("b") <= 5).agg(
        F.sum("n").cast("long").alias("n_train"),
        F.sum("bsx").cast("long").alias("sx"),
        F.sum("bsy").cast("long").alias("sy"),
        F.sum("bsxx").cast("long").alias("sxx"),
        F.sum("bsxy").cast("long").alias("sxy"),
    )
    nd = F.col("n_train").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    b1 = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    fit = m.select(
        "n_train",
        b1.alias("b1"),
        ((sy - b1 * sx) / nd).alias("b0"),
    )
    # pass 2: cal+test buckets once -> (split, residual-cents) grid
    resid = F.floor(
        F.abs(F.col("y") - (F.col("b0") + F.col("b1") * F.col("x"))) * 100
        + 0.5
    ).cast("long")
    grid2 = (
        base.where(F.col("b") >= 6)
        .crossJoin(F.broadcast(fit))
        .groupBy(
            (F.col("b") >= 8).alias("is_test"), resid.alias("r")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        # grid rows only (distinct residual values); checkpoint-scoped
        # so the prefix machine's branches replay the grid, not the scan
        .localCheckpoint(eager=False)
    )
    calgrid = grid2.where(~F.col("is_test")).select("r", "t")
    testgrid = grid2.where(F.col("is_test")).select("r", "t")
    kk = calgrid.agg(
        F.sum("t").cast("long").alias("n_cal"),
        F.floor(
            (CONF_ALPHA_NUM * (F.sum("t") + 1) + 9) / 10.0
        )
        .cast("long")
        .alias("k"),
    )
    cum = global_ordered(
        calgrid,
        [F.col("r")],
        bucket_key="r DIV 65536",
        sums={"t": "c"},
        rank_col=None,
    )
    qh = (
        cum.crossJoin(F.broadcast(kk))
        .where(F.col("c") >= F.col("k"))
        .agg(F.min("r").alias("qhat_cents"))
    )
    test = testgrid.crossJoin(F.broadcast(qh)).agg(
        F.sum("t").cast("long").alias("n_test"),
        F.sum(F.when(F.col("r") <= F.col("qhat_cents"), F.col("t")).otherwise(0))
        .cast("long")
        .alias("covered"),
    )
    return (
        fit.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(qh))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_cal",
            "n_test",
            q4(F.col("b0")).alias("intercept"),
            q4(F.col("b1")).alias("slope"),
            "qhat_cents",
            q4(F.col("covered").cast("double") / F.col("n_test")).alias(
                "coverage"
            ),
        )
    )


# ------------------------------ deterministic interpolation oversampling

OS_Q = 100000000  # 1e8 fixed-point for the synthetic-coordinate checksum


@register(
    "ml_oversample_interpolate",
    oracle=f"""
    WITH counts AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_orig
        FROM embeddings GROUP BY 1
    ), minority AS (
        SELECT label FROM counts ORDER BY n_orig, label LIMIT 1
    ), seq AS (
        SELECT e.label, e.embedding AS a,
               lead(e.embedding) OVER (PARTITION BY e.label
                   ORDER BY e.vec_id) AS b
        FROM embeddings e JOIN minority m ON e.label = m.label
    ), synth AS (
        SELECT label,
               list_transform(generate_series(1, 64),
                   i -> (CAST(a[i] AS DOUBLE) + CAST(b[i] AS DOUBLE))
                        / 2.0) AS mid
        FROM seq WHERE b IS NOT NULL
    ), sums AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_synth,
               CAST(sum(list_aggregate(list_transform(mid,
                   x -> CAST(floor(x * {OS_Q} + 0.5) AS BIGINT)), 'sum'))
                   AS BIGINT) AS checksum_q
        FROM synth GROUP BY 1
    )
    SELECT c.label, c.n_orig,
           coalesce(s.n_synth, 0) AS n_synth,
           coalesce(s.checksum_q, 0) AS checksum_q
    FROM counts c LEFT JOIN sums s ON c.label = s.label
    """,
)
def ml_oversample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic minority oversampling (SMOTE's interpolation
    step, made seed-free): the smallest label class (tie → smaller
    label) synthesizes midpoints between CONSECUTIVE-by-id member
    embeddings — the class-imbalance fix for embedding classifiers
    that needs no RNG, so it is reproducible across reruns and
    engines. The output audits the synthesis: per-label original
    counts, synthetic count (|minority|−1), and a fixed-point
    checksum of every synthetic coordinate (quantized 1e-8 BEFORE
    the sum — order-free), which the oracle recomputes exactly.

    Scale shape: one 10-group count aggregate, a broadcast 1-row
    minority pick, a label-PARTITIONED lead window (never
    unpartitioned), and one checksum aggregate."""
    e = table(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_orig")
    )
    minority = (
        counts.orderBy("n_orig", "label").limit(1).select("label")
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    seq = (
        e.join(F.broadcast(minority), "label")
        .select(
            "label",
            "vec_id",
            F.col("embedding").alias("a"),
            F.lead("embedding").over(w).alias("b"),
        )
        .where(F.col("b").isNotNull())
    )
    mid = F.zip_with(
        F.col("a"),
        F.col("b"),
        lambda x, y: (x.cast("double") + y.cast("double")) / 2.0,
    )
    qsum = F.aggregate(
        F.transform(
            mid, lambda x: F.floor(x * OS_Q + 0.5).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sums = seq.select("label", qsum.alias("q")).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_synth"),
        F.sum("q").cast("long").alias("checksum_q"),
    )
    return counts.join(sums, "label", "left").select(
        "label",
        "n_orig",
        F.coalesce(F.col("n_synth"), F.lit(0)).cast("long").alias("n_synth"),
        F.coalesce(F.col("checksum_q"), F.lit(0))
        .cast("long")
        .alias("checksum_q"),
    )


# ------------------------------------------- retrieval-eval wave (r8)

MAP_K = 10
# LCM(1..10): multiplying precision@i by this makes every P@i an exact
# integer (hits_i * (2520/i)), so the AP numerator is order-free.
_MAP_L = 2520
_MAP_W = [0] + [_MAP_L // i for i in range(1, MAP_K + 1)]  # 1-indexed


@register(
    "ml_map_at_k",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
               list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum')
               / sqrt(list_aggregate(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                   AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {NDCG_NQ}
    ), corp AS (
        SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel_corpus
        FROM scored GROUP BY qid
    ), ranked AS (
        SELECT qid, rel,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, cid) AS BIGINT) AS rn
        FROM scored
    ), hits AS (
        SELECT qid, rel, rn,
               CAST(sum(rel) OVER (PARTITION BY qid ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS h
        FROM ranked WHERE rn <= {MAP_K}
    ), num AS (
        SELECT qid,
               CAST(sum(CASE WHEN rel = 1
                    THEN h * (CASE {' '.join(f"WHEN rn = {i} THEN {_MAP_W[i]}" for i in range(1, MAP_K + 1))} END)
                    ELSE 0 END) AS BIGINT) AS ap_num,
               CAST(sum(rel) AS BIGINT) AS n_rel_topk
        FROM hits GROUP BY qid
    )
    SELECT c.qid, n.n_rel_topk, c.n_rel_corpus,
           {sql_q4(f"CASE WHEN least(c.n_rel_corpus, {MAP_K}) = 0 THEN 0.0 "
                   f"ELSE CAST(n.ap_num AS DOUBLE) / {_MAP_L} "
                   f"/ least(c.n_rel_corpus, {MAP_K}) END")} AS ap_at_k
    FROM corp c JOIN num n ON n.qid = c.qid
    """,
)
def ml_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Precision@10 per query over the exact cosine retrieval
    run (binary relevance = same class label) — the area-under-PR
    companion to ml_ndcg_eval: AP rewards putting ALL relevant hits
    early, not just the first (mean over queries = MAP, the classic
    TREC leaderboard number; left per-query here so the hash checks
    every query, not one mean).

    Hash-parity discipline: P@i = hits_i/i is scaled by LCM(1..10) =
    2520 at COMPILE time, so the AP numerator is an exact BIGINT on
    both engines; the only double is the final division by
    2520 * min(n_rel_corpus, k).

    Scale shape: identical to sim_topk_exact — broadcast query block,
    JVM fold dot products, per-query bounded windows (rank and the
    running hit count both live inside the k=10 rows of one qid)."""
    from ..llm.dedup import _dot64, _norm2

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = F.broadcast(q).join(c, F.col("qid") != F.col("cid"))
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(F.col("qn2") * F.col("cn2"))
    scored = pairs.select(
        "qid",
        "cid",
        F.when(F.col("qlabel") == F.col("clabel"), 1).otherwise(0).alias("rel"),
        cos.alias("cos"),
    ).persist()
    corp = scored.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_rel_corpus")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    ranked = scored.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).where(F.col("rn") <= MAP_K)
    wh = (
        Window.partitionBy("qid")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hits = ranked.withColumn("h", F.sum("rel").over(wh).cast("long"))
    pw = F.element_at(F.lit(_MAP_W).cast("array<long>"), F.col("rn").cast("int") + 1)
    num = hits.groupBy("qid").agg(
        F.sum(F.when(F.col("rel") == 1, F.col("h") * pw).otherwise(0))
        .cast("long")
        .alias("ap_num"),
        F.sum("rel").cast("long").alias("n_rel_topk"),
    )
    m = F.least(F.col("n_rel_corpus"), F.lit(MAP_K))
    return corp.join(num, "qid").select(
        "qid",
        "n_rel_topk",
        "n_rel_corpus",
        q4(
            F.when(m == 0, F.lit(0.0)).otherwise(
                F.col("ap_num").cast("double") / F.lit(float(_MAP_L)) / m
            )
        ).alias("ap_at_k"),
    )


RBO_D = 10  # evaluation depth
RBO_P = 0.9  # persistence (top-weightedness) parameter
_RBO_Q = 1_000_000_000_000
# Per-depth weight (1-p)·p^(d-1)/d, fixed-point at 1e12 — computed once
# here and embedded as the SAME integer literals in both engines.  An
# item whose later of its two ranks is m contributes to every depth
# d >= m, so its total weight is the suffix sum SW[m].
_RBO_W = [
    int((1 - RBO_P) * RBO_P ** (d - 1) / d * _RBO_Q + 0.5)
    for d in range(1, RBO_D + 1)
]
_RBO_SW = [0] * (RBO_D + 2)
for _d in range(RBO_D, 0, -1):
    _RBO_SW[_d] = _RBO_SW[_d + 1] + _RBO_W[_d - 1]


@register(
    "ml_rank_biased_overlap",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum') AS dot,
               list_aggregate(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                  AS qn2,
               list_aggregate(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                  AS cn2
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {NDCG_NQ}
    ), r_cos AS (
        SELECT qid, cid,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dot / sqrt(qn2 * cn2) DESC, cid)
                    AS BIGINT) AS r1
        FROM scored
    ), r_dot AS (
        SELECT qid, cid,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY dot DESC, cid) AS BIGINT) AS r2
        FROM scored
    ), joined AS (
        SELECT a.qid, greatest(a.r1, b.r2) AS m
        FROM r_cos a JOIN r_dot b ON a.qid = b.qid AND a.cid = b.cid
        WHERE a.r1 <= {RBO_D} AND b.r2 <= {RBO_D}
    ), per_q AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS overlap_at_d,
               CAST(sum(CASE {' '.join(f"WHEN m = {d} THEN {_RBO_SW[d]}" for d in range(1, RBO_D + 1))} END)
                    AS BIGINT) AS rbo_fp
        FROM joined GROUP BY qid
    ), queries AS (
        SELECT DISTINCT qid FROM scored
    )
    SELECT q.qid,
           coalesce(p.overlap_at_d, 0) AS overlap_at_d,
           {sql_q4(f"CAST(coalesce(p.rbo_fp, 0) AS DOUBLE) / {_RBO_Q}")}
               AS rbo
    FROM queries q LEFT JOIN per_q p ON p.qid = q.qid
    """,
)
def ml_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated rank-biased overlap (RBO@10, p=0.9, Webber et al.'s
    top-weighted list-similarity measure, public) between the cosine
    ranking and the raw dot-product (MIPS) ranking of each query's
    candidates — the ranker-agreement audit a retrieval stack runs
    when switching score functions: RBO ≈ 1 means the cheaper ranker
    is a drop-in; low RBO means re-evaluate.

    Hash-parity discipline: the per-depth weights (1-p)p^(d-1)/d are
    COMPILE-TIME fixed-point integers; an item with later-rank m
    contributes the suffix sum SW[m] (also compile-time), so each
    query's RBO numerator is an exact BIGINT sum over <= 10 items.

    Scale shape: one broadcast-query scored-pairs stage feeds both
    rankings (two bounded per-qid windows over the same frame — one
    shuffle on qid); the fusion join touches 10 rows per query per
    side, exactly like sim_hybrid_rrf's bounded fusion."""
    from ..llm.dedup import _dot64, _norm2

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = F.broadcast(q).join(c, F.col("qid") != F.col("cid"))
    scored = pairs.select(
        "qid",
        "cid",
        _dot64(F.col("qe"), F.col("ce")).alias("dot"),
        (F.col("qn2") * F.col("cn2")).alias("nn"),
    ).persist()
    w1 = Window.partitionBy("qid").orderBy(
        (F.col("dot") / F.sqrt(F.col("nn"))).desc(), "cid"
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "cid")
    both = scored.select(
        "qid",
        "cid",
        F.row_number().over(w1).cast("long").alias("r1"),
        F.row_number().over(w2).cast("long").alias("r2"),
    )
    joined = both.where(
        (F.col("r1") <= RBO_D) & (F.col("r2") <= RBO_D)
    ).select("qid", F.greatest("r1", "r2").alias("m"))
    sw = F.element_at(
        F.lit(_RBO_SW[1 : RBO_D + 1]).cast("array<long>"),
        F.col("m").cast("int"),
    )
    per_q = joined.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("overlap_at_d"),
        F.sum(sw).cast("long").alias("rbo_fp"),
    )
    queries = scored.select("qid").distinct()
    return queries.join(per_q, "qid", "left").select(
        "qid",
        F.coalesce("overlap_at_d", F.lit(0)).cast("long").alias("overlap_at_d"),
        q4(
            F.coalesce("rbo_fp", F.lit(0)).cast("double") / F.lit(float(_RBO_Q))
        ).alias("rbo"),
    )


# Kendall's W: 3 rankers x n docs; composite prefix-machine bucket key
# rk_id * 2^44 + score requires score < 2^44 (a single document longer
# than 16 TB of characters would violate it — structurally safe).
_KW_C = 1 << 44


@register(
    "ml_kendall_w",
    oracle="""
    WITH feat AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS s1,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS s2,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS s3
        FROM documents
    ), r1 AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY s1, doc_id)
               AS BIGINT) AS r FROM feat
    ), r2 AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY s2, doc_id)
               AS BIGINT) AS r FROM feat
    ), r3 AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY s3, doc_id)
               AS BIGINT) AS r FROM feat
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM feat
    ), rsum AS (
        SELECT r1.doc_id, r1.r + r2.r + r3.r AS rs
        FROM r1 JOIN r2 USING (doc_id) JOIN r3 USING (doc_id)
    ), dev AS (
        SELECT CAST(sum((2*rs - 3*(n+1)) * (2*rs - 3*(n+1))) AS BIGINT)
               AS s4
        FROM rsum CROSS JOIN tot
    ), w AS (
        SELECT n, CAST(s4 AS DOUBLE)
               / (3.0 * (CAST(n AS DOUBLE) * n * n - n)) AS w_raw
        FROM dev CROSS JOIN tot
    )
    SELECT n AS n_docs,
           floor(w_raw * 1e4 + 0.5) / 1e4 AS w_stat,
           floor(w_raw * (3.0 * (n - 1)) * 1e4 + 0.5) / 1e4 AS chi2
    FROM w
    """,
)
def ml_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W among three document
    rankers (char length, token count, distinct-token count; ties
    broken by doc_id so each ranking is a strict permutation and no
    tie correction applies) — the agreement audit run before trusting
    an ensemble of heuristic quality scorers: W near 1 means the
    scorers are redundant, W near 0 means they measure different
    things.  chi2 = m(n-1)W is Friedman's large-n significance
    transform.

    Hash-parity discipline: with t_i = 2*R_i - m(n+1) (exact BIGINT),
    S4 = sum(t_i^2) = 4S is an exact integer on both engines
    (|t| <= 6n, so S4 <= 36n^3 stays within int64 through n ~ 6e5
    docs per exact audit; beyond that, run it on a stratified sample
    - a concordance estimate does not need the full corpus).

    Scale shape: all three rankings come from ONE prefix machine over
    the 3n-row melted (ranker, score, doc) frame — composite bucket
    key ranker*2^44+score, per-ranker rank = global_rank - ranker*n —
    never an unpartitioned window (the oracle's row_number is
    single-node DuckDB, where that is fine)."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    feat = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("s1"),
        F.size(words).cast("long").alias("s2"),
        F.size(F.array_distinct(words)).cast("long").alias("s3"),
    ).persist()
    melted = feat.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("rk_id"), F.col("s1").alias("s")),
                F.struct(F.lit(1).alias("rk_id"), F.col("s2").alias("s")),
                F.struct(F.lit(2).alias("rk_id"), F.col("s3").alias("s")),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.rk_id").alias("rk_id"), F.col("e.s").alias("s")).persist()
    ranked = global_ordered(
        melted,
        [F.col("rk_id"), F.col("s"), F.col("doc_id")],
        bucket_key=f"CAST(rk_id AS BIGINT) * {_KW_C} + s",
        rank_col="grk",
    )
    tot = feat.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rsum = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (F.col("grk") - F.col("rk_id").cast("long") * F.col("n")).alias("r"),
        )
        .groupBy("doc_id")
        .agg(F.sum("r").cast("long").alias("rs"))
    )
    dev = rsum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (2 * F.col("rs") - 3 * (F.col("n") + 1))
            * (2 * F.col("rs") - 3 * (F.col("n") + 1))
        )
        .cast("long")
        .alias("s4")
    )
    nd = F.col("n").cast("double")
    return dev.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_docs"),
        q4(
            F.col("s4").cast("double")
            / (F.lit(3.0) * (nd * F.col("n") * F.col("n") - F.col("n")))
        ).alias("w_stat"),
        q4(
            F.col("s4").cast("double")
            / (F.lit(3.0) * (nd * F.col("n") * F.col("n") - F.col("n")))
            * (F.lit(3.0) * (F.col("n") - 1))
        ).alias("chi2"),
    )


# ----------------------------------------------- MRR (r8 wave T)

# Cosine quantized to 1e-9 BEFORE ranking so the rank-1-relevant
# position is engine-stable even at float tie boundaries.
_MRR_Q = 1_000_000_000


@register(
    "ml_mrr",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
               CAST(floor(list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum')
               / sqrt(list_aggregate(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                   * {_MRR_Q} + 0.5) AS BIGINT) AS cq
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {NDCG_NQ}
    ), ranked AS (
        SELECT qid, rel,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cq DESC, cid) AS BIGINT) AS rn
        FROM scored
    )
    SELECT qid,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(coalesce(min(CASE WHEN rel = 1 THEN rn END), 0) AS BIGINT)
               AS first_rel_rank,
           {sql_q4("coalesce(1.0 / min(CASE WHEN rel = 1 THEN rn END), 0.0)")}
               AS rr
    FROM ranked GROUP BY qid
    """,
)
def ml_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the FIRST relevant hit per query (mean over
    queries = MRR, the standard QA/retrieval leaderboard number; left
    per-query so the hash checks all 50 queries) — the companion to
    ml_map_at_k when only one good answer matters.

    No per-query sort: the first-relevant rank is computed
    RELATIONALLY — argmax the best relevant candidate per qid (one
    hash aggregate over a struct max), then count how many candidates
    of ANY relevance beat it ((cq, cid) lexicographic compare). The
    oracle keeps the window form; values agree because cosine is
    quantized to 1e-9 before ranking on both engines.

    Scale shape: identical to sim_topk_exact — broadcast 50-query
    block, JVM fold dot products, then two hash aggregates; no window
    at all on the Spark side, so nothing depends on per-qid candidate
    counts staying small."""
    from ..llm.dedup import _dot64, _norm2

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = F.broadcast(q).join(c, F.col("qid") != F.col("cid"))
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(F.col("qn2") * F.col("cn2"))
    scored = pairs.select(
        "qid",
        "cid",
        F.when(F.col("qlabel") == F.col("clabel"), 1).otherwise(0).alias("rel"),
        F.floor(cos * _MRR_Q + F.lit(0.5)).cast("long").alias("cq"),
    ).persist()
    best = (
        scored.where(F.col("rel") == 1)
        .groupBy("qid")
        .agg(
            F.max(
                F.struct(F.col("cq").alias("a"), (-F.col("cid")).alias("b"))
            ).alias("bst")
        )
        .select(
            "qid",
            F.col("bst.a").alias("bcq"),
            (-F.col("bst.b")).alias("bcid"),
        )
    )
    joined = scored.join(F.broadcast(best), "qid", "left")
    beat = (F.col("cq") > F.col("bcq")) | (
        (F.col("cq") == F.col("bcq")) & (F.col("cid") < F.col("bcid"))
    )
    out = joined.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.when(
            F.count(F.col("bcq")) > 0, F.count_if(beat) + 1
        )
        .otherwise(0)
        .cast("long")
        .alias("first_rel_rank"),
    )
    return out.select(
        "qid",
        "n_candidates",
        "first_rel_rank",
        q4(
            F.when(
                F.col("first_rel_rank") > 0,
                F.lit(1.0) / F.col("first_rel_rank"),
            ).otherwise(0.0)
        ).alias("rr"),
    )


# ------------------------------ expected reciprocal rank (r8 wave AD)

_ERR_TQ = 1_000_000_000_000  # per-position term quantization


@register(
    "ml_err_at_k",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
               CAST(floor(list_aggregate([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, 65)], 'sum')
               / sqrt(list_aggregate(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')
                    * list_aggregate(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                   * 1000000000 + 0.5) AS BIGINT) AS cq
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {NDCG_NQ}
    ), ranked AS (
        SELECT qid, rel,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cq DESC, cid) AS BIGINT) AS rn
        FROM scored
    ), topk AS (
        SELECT qid, rel, rn,
               CAST(sum(rel) OVER (PARTITION BY qid ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS hprev
        FROM ranked WHERE rn <= {MAP_K}
    ), terms AS (
        SELECT qid,
               CAST(sum(CASE WHEN rel = 1 THEN CAST(floor({_ERR_TQ}.0
                    / (rn * CAST(power(2, coalesce(hprev, 0) + 1) AS BIGINT))
                    + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS errq,
               CAST(sum(rel) AS BIGINT) AS n_rel_topk
        FROM topk GROUP BY qid
    )
    SELECT qid, n_rel_topk,
           {sql_q4(f"CAST(errq AS DOUBLE) / {_ERR_TQ}")} AS err
    FROM terms
    """,
)
def ml_err_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank at 10 per query: the cascade-model
    ranking metric ERR = sum_r (1/r)·R_r·prod_(i<r)(1 - R_i), with
    binary relevance mapped to the standard satisfaction probability
    R = 1/2 — unlike AP (ml_map_at_k) or nDCG (ml_ndcg_eval), ERR
    models a user who STOPS at the first satisfying result, so later
    hits are discounted by the probability of still reading.

    With R = 1/2 every term is the exact rational 1/(r·2^(h+1))
    (h = relevant hits before position r), quantized at 1e-12 to a
    BIGINT per position, so the per-query fold is order-free; the
    stop-probability product never materializes as a running float.

    Scale shape: the sim_topk_exact scaffold — broadcast 50-query
    block, JVM cosine fold, per-query bounded top-10 windows."""
    from ..llm.dedup import _dot64, _norm2

    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        _norm2(F.col("embedding")).alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        _norm2(F.col("embedding")).alias("cn2"),
    )
    pairs = F.broadcast(q).join(c, F.col("qid") != F.col("cid"))
    cos = _dot64(F.col("qe"), F.col("ce")) / F.sqrt(F.col("qn2") * F.col("cn2"))
    scored = pairs.select(
        "qid",
        "cid",
        F.when(F.col("qlabel") == F.col("clabel"), 1).otherwise(0).alias("rel"),
        F.floor(cos * 1_000_000_000 + F.lit(0.5)).cast("long").alias("cq"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cq").desc(), "cid")
    ranked = scored.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).where(F.col("rn") <= MAP_K)
    wh = Window.partitionBy("qid").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, -1
    )
    topk = ranked.withColumn(
        "hprev", F.coalesce(F.sum("rel").over(wh), F.lit(0)).cast("long")
    )
    term = F.floor(
        F.lit(float(_ERR_TQ))
        / (
            F.col("rn")
            * F.pow(F.lit(2.0), F.col("hprev") + 1).cast("long")
        )
        + F.lit(0.5)
    ).cast("long")
    terms = topk.groupBy("qid").agg(
        F.sum(F.when(F.col("rel") == 1, term).otherwise(0))
        .cast("long")
        .alias("errq"),
        F.sum("rel").cast("long").alias("n_rel_topk"),
    )
    return terms.select(
        "qid",
        "n_rel_topk",
        q4(F.col("errq").cast("double") / _ERR_TQ).alias("err"),
    )


# ------------------------------------------ round-9 wave C: model eval


@register(
    "ml_survival_cindex",
    bench=True,  # the dense-2D-dominance-grid representative: per-score
    # suffix + per-day prefix partitioned windows over the dense
    # duration×score frame (frozen r9, BASELINE.md)
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CAST(ts AS DATE)) AS entry,
               min(CASE WHEN event_type = 'purchase'
                   THEN CAST(ts AS DATE) END) AS p_day,
               max(CAST(ts AS DATE)) AS last_day,
               CAST(count_if(event_type = 'click') AS BIGINT) AS s
        FROM events GROUP BY user_id
    ), coded AS (
        SELECT CASE WHEN p_day IS NOT NULL
                    THEN CAST(date_diff('day', entry, p_day) AS BIGINT)
                    ELSE CAST(date_diff('day', entry, last_day) AS BIGINT)
               END AS t,
               CASE WHEN p_day IS NOT NULL THEN 1 ELSE 0 END AS ev,
               s
        FROM per_user
    ), cells AS (
        SELECT t, s, CAST(count(*) AS BIGINT) AS c_all,
               CAST(count_if(ev = 1) AS BIGINT) AS c_ev
        FROM coded GROUP BY t, s
    ), dense AS (
        SELECT dt.t, ds.s,
               coalesce(c.c_all, 0) AS c_all, coalesce(c.c_ev, 0) AS c_ev
        FROM (SELECT DISTINCT t FROM cells) dt
        CROSS JOIN (SELECT DISTINCT s FROM cells) ds
        LEFT JOIN cells c ON c.t = dt.t AND c.s = ds.s
    ), suf AS (
        SELECT t, s, c_all, c_ev,
               CAST(coalesce(sum(c_all) OVER (PARTITION BY s ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS a_later
        FROM dense
    ), pre AS (
        SELECT t, s, c_all, c_ev, a_later,
               CAST(coalesce(sum(a_later) OVER (PARTITION BY t ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS b_lt,
               CAST(sum(a_later) OVER (PARTITION BY t) AS BIGINT) AS b_tot
        FROM suf
    ), folds AS (
        SELECT CAST(sum(c_ev * (2*b_lt + a_later)) AS BIGINT) AS num2,
               CAST(sum(c_ev * 2 * b_tot) AS BIGINT) AS den2,
               CAST(sum(c_ev) AS BIGINT) AS n_events,
               CAST(sum(c_all) AS BIGINT) AS n_subjects
        FROM pre
    )
    SELECT n_subjects, n_events,
           CAST(den2 / 2 AS BIGINT) AS comparable_pairs,
           floor(CAST(num2 AS DOUBLE) / den2 * 10000 + 0.5)/10000.0
               AS c_index
    FROM folds
    """,
)
def ml_survival_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance index for time-to-purchase with censoring
    at last activity, scored by the user's click count (higher score
    should predict EARLIER purchase): over comparable pairs (i has
    the event and t_i < t_j), C = P(score_i > score_j) with 0.5
    credit for score ties — THE standard discrimination metric for
    survival models, which ml_roc_auc cannot give because censored
    subjects have no binary label.

    Scale discipline: never the O(n²) pair enumeration. Subjects
    collapse to the (duration-day × score) grid; the pair counts come
    from a 2-D dominance prefix on the DENSE grid — a per-score
    suffix over days (who fails LATER) then a per-day prefix over
    scores (who scores LOWER) — so every window is PARTITIONED (by s
    or by t) and the numerator/denominator fold as exact BIGINTs
    (doubled to absorb the half-credit). The score here is a small
    integer; continuous risk scores must be quantized to a bounded
    grid first (same contract as the ECDF family).

    Scale shape at 100 TB: one fact pass to users, one to the grid,
    a |days|×|scores| dense frame (calendar × score-domain bounded),
    two partitioned windows, one fold."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("entry"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("p_day"),
        F.max(F.to_date("ts")).alias("last_day"),
        F.count_if(F.col("event_type") == "click").cast("long").alias("s"),
    )
    coded = per_user.select(
        F.when(
            F.col("p_day").isNotNull(), F.datediff("p_day", "entry")
        )
        .otherwise(F.datediff("last_day", "entry"))
        .cast("long")
        .alias("t"),
        F.when(F.col("p_day").isNotNull(), 1).otherwise(0).alias("ev"),
        "s",
    )
    # cells feeds THREE consumers (the dt spine, the ds spine, and the
    # dense left join) — uncached, each consumer replays the events
    # scan + the per-user aggregate + the grid aggregate (3 fact
    # passes at 100 TB; ~0.45 s of extra plan optimization per run at
    # sf0.1).  persist(), not localCheckpoint: the grid is bounded so
    # either is lifecycle-safe (the registry release wrapper scopes
    # the cache to this key), but a lazy checkpoint SERIALIZES the
    # pipeline behind an RDD materialization barrier (A/B-measured
    # ~0.1 s slower at sf0.1), while the cache lets the three
    # consumers share one computation with lineage kept.
    cells = (
        coded.groupBy("t", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c_all"),
            F.count_if(F.col("ev") == 1).cast("long").alias("c_ev"),
        )
        .persist()
    )
    dt = cells.select("t").distinct()
    ds = cells.select("s").distinct()
    dense = (
        dt.crossJoin(ds)
        .join(cells, ["t", "s"], "left")
        .select(
            "t",
            "s",
            F.coalesce(F.col("c_all"), F.lit(0)).alias("c_all"),
            F.coalesce(F.col("c_ev"), F.lit(0)).alias("c_ev"),
        )
    )
    w_suf = (
        Window.partitionBy("s")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    suf = dense.select(
        "t",
        "s",
        "c_all",
        "c_ev",
        F.coalesce(F.sum("c_all").over(w_suf), F.lit(0))
        .cast("long")
        .alias("a_later"),
    )
    w_pre = (
        Window.partitionBy("t")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("t")
    pre = suf.select(
        "t",
        "s",
        "c_all",
        "c_ev",
        "a_later",
        F.coalesce(F.sum("a_later").over(w_pre), F.lit(0))
        .cast("long")
        .alias("b_lt"),
        F.sum("a_later").over(w_tot).cast("long").alias("b_tot"),
    )
    folds = pre.agg(
        F.sum(F.col("c_ev") * (2 * F.col("b_lt") + F.col("a_later")))
        .cast("long")
        .alias("num2"),
        F.sum(F.col("c_ev") * 2 * F.col("b_tot")).cast("long").alias("den2"),
        F.sum("c_ev").cast("long").alias("n_events"),
        F.sum("c_all").cast("long").alias("n_subjects"),
    )
    return folds.select(
        "n_subjects",
        "n_events",
        (F.col("den2") / 2).cast("long").alias("comparable_pairs"),
        q4(F.col("num2").cast("double") / F.col("den2")).alias("c_index"),
    )


_TWEEDIE_Q = 1_000_000  # per-row unit-deviance fixed point


@register(
    "ml_tweedie_deviance",
    oracle=f"""
    WITH purch AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS yc
        FROM events WHERE event_type = 'purchase' AND value > 0
    ), daymu AS (
        SELECT day, CAST(sum(yc) AS BIGINT) AS dsum,
               CAST(count(*) AS BIGINT) AS dcnt
        FROM purch GROUP BY day
    ), gmean AS (
        SELECT CAST(sum(yc) AS BIGINT) AS gsum,
               CAST(count(*) AS BIGINT) AS gcnt
        FROM purch
    ), dev AS (
        SELECT CAST(sum(CAST(floor((
                   -8.0 * sqrt(yc / 100.0)
                   + 4.0 * (yc / 100.0)
                     / sqrt(CAST(dsum AS DOUBLE) / dcnt / 100.0)
                   + 4.0 * sqrt(CAST(dsum AS DOUBLE) / dcnt / 100.0)
               ) * {_TWEEDIE_Q} + 0.5) AS HUGEINT)) AS HUGEINT) AS d_day,
               CAST(sum(CAST(floor((
                   -8.0 * sqrt(yc / 100.0)
                   + 4.0 * (yc / 100.0)
                     / sqrt(CAST(gsum AS DOUBLE) / gcnt / 100.0)
                   + 4.0 * sqrt(CAST(gsum AS DOUBLE) / gcnt / 100.0)
               ) * {_TWEEDIE_Q} + 0.5) AS HUGEINT)) AS HUGEINT) AS d_null,
               CAST(count(*) AS BIGINT) AS n
        FROM purch JOIN daymu USING (day) CROSS JOIN gmean
    )
    SELECT n,
           {sql_q4(f"CAST(d_null AS DOUBLE) / {_TWEEDIE_Q} / n")}
               AS mean_dev_null,
           {sql_q4(f"CAST(d_day AS DOUBLE) / {_TWEEDIE_Q} / n")}
               AS mean_dev_day,
           {sql_q4("1.0 - CAST(d_day AS DOUBLE) / CAST(d_null AS DOUBLE)")}
               AS deviance_r2
    FROM dev
    """,
)
def ml_tweedie_deviance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tweedie unit deviance (power p = 1.5 — the compound
    Poisson-gamma family insurers and revenue modelers fit) of
    purchase values under two predictors: the global mean (null
    model) and the per-day mean (a seasonal model), plus the deviance
    pseudo-R² 1 - D_model/D_null — squared error is the WRONG loss
    for a zero-inflated skewed target, and this is the right
    model-comparison number. At p = 1.5 the unit deviance reduces to
    d(y,μ) = -8√y + 4y/√μ + 4√μ (zero at y = μ, positive
    elsewhere; y > 0 rows only, per the Tweedie support).

    Exactness: y is exact cents; μ enters as one fixed double
    expression per row from exact integer day/global sums, and the
    per-row deviance quantizes at 1e-6 before the fold, accumulating
    in decimal(38,0)/HUGEINT — order-free at any parallelism.

    Scale shape: one pass to the day-mean frame (hash agg), one
    broadcast-joined deviance pass, single-row output."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    purch = e.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 0)
    ).select(
        F.to_date("ts").alias("day"),
        cents(F.col("value")).alias("yc"),
    )
    daymu = purch.groupBy("day").agg(
        F.sum("yc").cast("long").alias("dsum"),
        F.count(F.lit(1)).cast("long").alias("dcnt"),
    )
    glob = purch.agg(
        F.sum("yc").cast("long").alias("gsum"),
        F.count(F.lit(1)).cast("long").alias("gcnt"),
    )

    def _dev(mu_expr) -> F.Column:
        y = F.col("yc") / 100.0
        return F.floor(
            (
                -8.0 * F.sqrt(y)
                + 4.0 * y / F.sqrt(mu_expr)
                + 4.0 * F.sqrt(mu_expr)
            )
            * _TWEEDIE_Q
            + F.lit(0.5)
        ).cast(dec)

    mu_day = F.col("dsum").cast("double") / F.col("dcnt") / 100.0
    mu_glob = F.col("gsum").cast("double") / F.col("gcnt") / 100.0
    dev = (
        purch.join(F.broadcast(daymu), "day")
        .crossJoin(F.broadcast(glob))
        .agg(
            F.sum(_dev(mu_day)).alias("d_day"),
            F.sum(_dev(mu_glob)).alias("d_null"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return dev.select(
        "n",
        q4(F.col("d_null").cast("double") / _TWEEDIE_Q / F.col("n")).alias(
            "mean_dev_null"
        ),
        q4(F.col("d_day").cast("double") / _TWEEDIE_Q / F.col("n")).alias(
            "mean_dev_day"
        ),
        q4(
            1.0 - F.col("d_day").cast("double") / F.col("d_null").cast("double")
        ).alias("deviance_r2"),
    )


# The multiclass scorer's continuous class position (shared with
# ml_multiclass_f1): p = (score + 3) / 0.6 over classes 0..9.
_TOPK_KS = (1, 2, 3, 5)


@register(
    "ml_topk_accuracy",
    oracle="""
    WITH rated AS (
        SELECT label AS y,
               (list_aggregate([CAST(embedding[i] AS DOUBLE)
                   * (CAST(i * 37 % 19 - 9 AS DOUBLE) / 10.0)
                   for i in range(1, 65)], 'sum') + 0.5 + 3.0) / 0.6 AS p
        FROM embeddings
    ), nb AS (
        SELECT y,
               len(list_filter(range(0, 10), c ->
                   abs(p - (c + 0.5)) < abs(p - (y + 0.5))
                   OR (abs(p - (c + 0.5)) = abs(p - (y + 0.5)) AND c < y)))
                   AS n_better
        FROM rated
    ), ks AS (SELECT k FROM (VALUES (1), (2), (3), (5)) t(k)), agg AS (
        SELECT CAST(k AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(n_better < k) AS BIGINT) AS hits
        FROM nb CROSS JOIN ks GROUP BY k
    )
    SELECT k, n, hits,
           floor(CAST(hits AS DOUBLE) / n * 10000 + 0.5)/10000.0
               AS topk_accuracy
    FROM agg
    """,
)
def ml_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k accuracy for the 10-class problem at k ∈ {1,2,3,5}: a
    prediction 'hits at k' when the true class ranks among the k
    classes nearest the scorer's continuous position (ties broken by
    class index, so the ranking is total and both engines agree
    bit-for-bit) — the metric that separates 'almost right'
    multiclass models from 'confidently wrong' ones, where plain
    accuracy (= top-1) treats both the same. Top-1 here coincides
    with ml_multiclass_f1's micro-F1 construction by design.

    Scale discipline: NO per-row window and NO shuffle on row keys —
    the rank of the true class is computed as a JVM-side array fold
    (filter+size over the 10-class sequence per row; a list
    comprehension in the oracle), then one conditional aggregate per
    k. Everything stays in whole-stage codegen.

    Scale shape at 100 TB: one scan, one 4-row hash aggregate."""
    e = table(spark, sf_dir, "embeddings")
    score = (
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.sequence(F.lit(1), F.lit(64)),
                lambda x, i: x.cast("double")
                * ((i * 37 % 19 - 9).cast("double") / 10.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        + 0.5
    )
    p = (score + 3.0) / 0.6
    rated = e.select(F.col("label").cast("long").alias("y"), p.alias("p"))
    d_true = F.abs(F.col("p") - (F.col("y") + 0.5))
    n_better = F.size(
        F.filter(
            F.sequence(F.lit(0), F.lit(9)),
            lambda c: (F.abs(F.col("p") - (c + 0.5)) < d_true)
            | (
                (F.abs(F.col("p") - (c + 0.5)) == d_true)
                & (c < F.col("y"))
            ),
        )
    )
    nb = rated.select("y", n_better.alias("n_better"))
    ks = spark.createDataFrame([(k,) for k in _TOPK_KS], "k long")
    agg = (
        nb.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_if(F.col("n_better") < F.col("k"))
            .cast("long")
            .alias("hits"),
        )
    )
    return agg.select(
        "k",
        "n",
        "hits",
        q4(F.col("hits").cast("double") / F.col("n")).alias("topk_accuracy"),
    )


_RIDGE_LAMBDA = "0.1"  # ridge penalty on the standardized design


@register(
    "ml_ridge_closed_form",
    oracle=f"""
    WITH t AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sd,
               CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sp,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqq,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT)
                   * CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sdd,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sqd,
               CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
                   * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS sqp,
               CAST(sum(CAST(CAST(floor(l_discount*100 + 0.5) AS BIGINT)
                   AS HUGEINT)
                   * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS sdp,
               CAST(sum(CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                   AS HUGEINT)
                   * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS spp
        FROM lineitem
    ), r AS (
        SELECT n,
               (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE)*sd/n)
                 / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq/n)
                      * (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd/n))
                   AS r12,
               (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*sp/n)
                 / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq/n)
                      * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*sp/n))
                   AS r1y,
               (CAST(sdp AS DOUBLE) - CAST(sd AS DOUBLE)*sp/n)
                 / sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd/n)
                      * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*sp/n))
                   AS r2y
        FROM t
    )
    SELECT n,
           floor(r12*10000 + 0.5)/10000.0 AS r12,
           floor((1.0*r1y - r12*r2y) / (1.0 - r12*r12)
               * 10000 + 0.5)/10000.0 AS beta_qty_ols,
           floor((1.0*r2y - r12*r1y) / (1.0 - r12*r12)
               * 10000 + 0.5)/10000.0 AS beta_disc_ols,
           floor(((1.0 + {_RIDGE_LAMBDA})*r1y - r12*r2y)
               / ((1.0 + {_RIDGE_LAMBDA})*(1.0 + {_RIDGE_LAMBDA}) - r12*r12)
               * 10000 + 0.5)/10000.0 AS beta_qty_ridge,
           floor(((1.0 + {_RIDGE_LAMBDA})*r2y - r12*r1y)
               / ((1.0 + {_RIDGE_LAMBDA})*(1.0 + {_RIDGE_LAMBDA}) - r12*r12)
               * 10000 + 0.5)/10000.0 AS beta_disc_ridge
    FROM r
    """,
)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression of extended price on (quantity, discount) in
    STANDARDIZED units, solved in closed form against the OLS
    solution: on a standardized 2-feature design the normal equations
    reduce to the correlation matrix, so β_ridge = (R + λI)⁻¹ r_y
    with a 2×2 inverse — showing exactly how the L2 penalty shrinks
    each coefficient toward 0 relative to OLS (λ = 0), the
    regularization-path intuition behind every large-scale linear
    model. λ = 0.1.

    Exactness: all nine sufficient sums fold as exact integers
    (price-involving squares in decimal(38,0)/HUGEINT since
    cents² × rows passes int64); the three correlations and both
    2×2 solves are fixed closed-form double expressions evaluated
    once.

    Scale shape at 100 TB: ONE hash-aggregate pass with map-side
    combine, single-row output — the canonical mergeable-sufficient-
    statistics regression."""
    li = table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    qv = F.col("l_quantity").cast("long")
    dv = cents(F.col("l_discount"))
    pv = cents(F.col("l_extendedprice"))
    t = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(qv).cast("long").alias("sq"),
        F.sum(dv).cast("long").alias("sd"),
        F.sum(pv).cast("long").alias("sp"),
        F.sum(qv * qv).cast("long").alias("sqq"),
        F.sum(dv * dv).cast("long").alias("sdd"),
        F.sum(qv * dv).cast("long").alias("sqd"),
        F.sum(qv.cast(dec) * pv).alias("sqp"),
        F.sum(dv.cast(dec) * pv).alias("sdp"),
        F.sum(pv.cast(dec) * pv).alias("spp"),
    )
    n = F.col("n").cast("double")

    def _corr(sxy, sx, sy, sxx, syy) -> F.Column:
        return (
            F.col(sxy).cast("double")
            - F.col(sx).cast("double") * F.col(sy) / n
        ) / F.sqrt(
            (F.col(sxx).cast("double") - F.col(sx).cast("double") * F.col(sx) / n)
            * (
                F.col(syy).cast("double")
                - F.col(sy).cast("double") * F.col(sy) / n
            )
        )

    r12 = _corr("sqd", "sq", "sd", "sqq", "sdd")
    r1y = _corr("sqp", "sq", "sp", "sqq", "spp")
    r2y = _corr("sdp", "sd", "sp", "sdd", "spp")
    lam = float(_RIDGE_LAMBDA)

    def _solve(shift: float, a: F.Column, b: F.Column) -> F.Column:
        return ((1.0 + shift) * a - r12 * b) / (
            (1.0 + shift) * (1.0 + shift) - r12 * r12
        )

    return t.select(
        "n",
        q4(r12).alias("r12"),
        q4(_solve(0.0, r1y, r2y)).alias("beta_qty_ols"),
        q4(_solve(0.0, r2y, r1y)).alias("beta_disc_ols"),
        q4(_solve(lam, r1y, r2y)).alias("beta_qty_ridge"),
        q4(_solve(lam, r2y, r1y)).alias("beta_disc_ridge"),
    )


@register(
    "ml_r2_shapley",
    oracle=f"""
    WITH t AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sd,
               CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sp,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqq,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT)
                   * CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sdd,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sqd,
               CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
                   * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS sqp,
               CAST(sum(CAST(CAST(floor(l_discount*100 + 0.5) AS BIGINT)
                   AS HUGEINT)
                   * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS sdp,
               CAST(sum(CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                   AS HUGEINT)
                   * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS spp
        FROM lineitem
    ), r AS (
        SELECT n,
               (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE)*sd/n)
                 / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq/n)
                      * (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd/n))
                   AS r12,
               (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*sp/n)
                 / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq/n)
                      * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*sp/n))
                   AS r1y,
               (CAST(sdp AS DOUBLE) - CAST(sd AS DOUBLE)*sp/n)
                 / sqrt((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd/n)
                      * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*sp/n))
                   AS r2y
        FROM t
    ), d AS (
        SELECT n, r12, r1y, r2y,
               (r1y*r1y + r2y*r2y - 2.0*r12*r1y*r2y) / (1.0 - r12*r12)
                   AS r2_full
        FROM r
    )
    SELECT n,
           floor(r1y*r1y*10000 + 0.5)/10000.0 AS r2_qty_alone,
           floor(r2y*r2y*10000 + 0.5)/10000.0 AS r2_disc_alone,
           floor(r2_full*10000 + 0.5)/10000.0 AS r2_full,
           floor((0.5*r1y*r1y + 0.5*(r2_full - r2y*r2y))*10000 + 0.5)/10000.0
               AS shapley_qty,
           floor((0.5*r2y*r2y + 0.5*(r2_full - r1y*r1y))*10000 + 0.5)/10000.0
               AS shapley_disc
    FROM d
    """,
)
def ml_r2_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley (LMG) decomposition of regression R² between the two
    price predictors: φ_j averages feature j's marginal R²
    contribution over both insertion orders — φ_qty = ½R²({q}) +
    ½(R²({q,d}) - R²({d})) — the ONLY attribution that both sums
    exactly to the full R² and stays fair under correlated features,
    where 'drop-column importance' double-counts shared variance.
    For two standardized features everything is closed-form in three
    correlations (R² full by the standard two-predictor identity).

    Exactness: the same nine exact sufficient sums as
    ml_ridge_closed_form (wide folds in decimal(38,0)/HUGEINT);
    correlations and the decomposition are fixed double expressions
    evaluated once.

    Scale shape at 100 TB: ONE hash-aggregate pass, single-row
    output."""
    li = table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    qv = F.col("l_quantity").cast("long")
    dv = cents(F.col("l_discount"))
    pv = cents(F.col("l_extendedprice"))
    t = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(qv).cast("long").alias("sq"),
        F.sum(dv).cast("long").alias("sd"),
        F.sum(pv).cast("long").alias("sp"),
        F.sum(qv * qv).cast("long").alias("sqq"),
        F.sum(dv * dv).cast("long").alias("sdd"),
        F.sum(qv * dv).cast("long").alias("sqd"),
        F.sum(qv.cast(dec) * pv).alias("sqp"),
        F.sum(dv.cast(dec) * pv).alias("sdp"),
        F.sum(pv.cast(dec) * pv).alias("spp"),
    )
    n = F.col("n").cast("double")

    def _corr(sxy, sx, sy, sxx, syy) -> F.Column:
        return (
            F.col(sxy).cast("double")
            - F.col(sx).cast("double") * F.col(sy) / n
        ) / F.sqrt(
            (F.col(sxx).cast("double") - F.col(sx).cast("double") * F.col(sx) / n)
            * (
                F.col(syy).cast("double")
                - F.col(sy).cast("double") * F.col(sy) / n
            )
        )

    r12 = _corr("sqd", "sq", "sd", "sqq", "sdd")
    r1y = _corr("sqp", "sq", "sp", "sqq", "spp")
    r2y = _corr("sdp", "sd", "sp", "sdd", "spp")
    r2_full = (r1y * r1y + r2y * r2y - 2.0 * r12 * r1y * r2y) / (
        1.0 - r12 * r12
    )
    return t.select(
        "n",
        q4(r1y * r1y).alias("r2_qty_alone"),
        q4(r2y * r2y).alias("r2_disc_alone"),
        q4(r2_full).alias("r2_full"),
        q4(0.5 * r1y * r1y + 0.5 * (r2_full - r2y * r2y)).alias("shapley_qty"),
        q4(0.5 * r2y * r2y + 0.5 * (r2_full - r1y * r1y)).alias(
            "shapley_disc"
        ),
    )


_QINI_Q = 1_000_000_000


@register(
    "ml_qini_auuc",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id % 2 AS treated,
               CAST(count_if(event_type = 'click') AS BIGINT) AS s,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), grid AS (
        SELECT s,
               CAST(count_if(treated = 1) AS BIGINT) AS nt,
               CAST(count_if(treated = 0) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
                   AS yt,
               CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
                   AS yc
        FROM per_user GROUP BY s
    ), cum AS (
        SELECT s,
               sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
               sum(yt) OVER w AS cyt, sum(yc) OVER w AS cyc,
               sum(nt + nc) OVER w AS cn
        FROM grid
        WINDOW w AS (ORDER BY s DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT CAST(sum(nt) AS BIGINT) AS tnt,
               CAST(sum(nc) AS BIGINT) AS tnc,
               CAST(sum(yt) AS BIGINT) AS tyt,
               CAST(sum(yc) AS BIGINT) AS tyc,
               CAST(sum(nt + nc) AS BIGINT) AS tn
        FROM grid
    ), pts AS (
        SELECT s, cn,
               CASE WHEN cnc = 0 THEN CAST(cyt AS DOUBLE)
                    ELSE cyt - CAST(cyc AS DOUBLE) * cnt / cnc END AS qini,
               lag(cn, 1, 0) OVER (ORDER BY s DESC) AS cn_prev,
               lag(CASE WHEN cnc = 0 THEN CAST(cyt AS DOUBLE)
                    ELSE cyt - CAST(cyc AS DOUBLE) * cnt / cnc END, 1, 0.0)
                   OVER (ORDER BY s DESC) AS qini_prev
        FROM cum
    ), area AS (
        SELECT CAST(sum(CAST(floor((cn - cn_prev)
                   * (qini + qini_prev) / 2.0 / tn * {_QINI_Q} + 0.5)
                   AS BIGINT)) AS BIGINT) AS areaq
        FROM pts CROSS JOIN tot
    )
    SELECT tn AS n_users, tnt AS n_treated, tnc AS n_control,
           {sql_q4("CAST(tyt AS DOUBLE) / tnt - CAST(tyc AS DOUBLE) / tnc")}
               AS ate,
           {sql_q4("tyt - CAST(tyc AS DOUBLE) * tnt / tnc")} AS qini_final,
           {sql_q4(f"CAST(areaq AS DOUBLE) / {_QINI_Q}")} AS auuc,
           {sql_q4(f"CAST(areaq AS DOUBLE) / {_QINI_Q}"
                   " - 0.5 * (tyt - CAST(tyc AS DOUBLE) * tnt / tnc)")}
               AS qini_coefficient
    FROM area CROSS JOIN tot
    """,
)
def ml_qini_auuc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve / AUUC evaluation of an uplift ranking: users split
    into treatment (user_id parity — the same deterministic A/B
    assignment as events_ab_test) are ranked by click count as the
    uplift score; at each score threshold Qini(k) = Y_t(k) -
    Y_c(k)·N_t(k)/N_c(k) (incremental purchases vs the control
    extrapolation), AUUC is the trapezoid area over the targeted
    fraction, and the Qini coefficient subtracts the random-targeting
    triangle 0.5·Qini(100%) — THE uplift-model metric: ROC/AUC
    evaluates 'who buys', Qini evaluates 'who buys BECAUSE OF the
    treatment', which is what incentive-spend decisions need.

    Scale discipline: never a per-user global rank — users collapse
    to the bounded SCORE GRID first (integer click counts; continuous
    uplift scores must be quantized, the ECDF-family contract), so
    the descending cumulative pass and the trapezoid lag both run
    over grid rows. Blocks with no controls yet fall back to
    Y_t (documented guard); per-segment trapezoid terms quantize at
    1e-9 before the fold.

    Scale shape at 100 TB: one hash aggregate to users, one to the
    score grid, one bucketed descending prefix + lag, broadcast
    totals."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("treated"),
        F.count_if(F.col("event_type") == "click").cast("long").alias("s"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).persist()
    grid = per_user.groupBy("s").agg(
        F.count_if(F.col("treated") == 1).cast("long").alias("nt"),
        F.count_if(F.col("treated") == 0).cast("long").alias("nc"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yc"),
    ).localCheckpoint(eager=False)
    cnall = (F.col("nt") + F.col("nc")).alias("nall")
    cum = global_ordered(
        grid.select("s", "nt", "nc", "yt", "yc", cnall),
        [F.col("s").desc()],
        bucket_key="s",
        bucket_desc=True,
        sums={"nt": "cnt", "nc": "cnc", "yt": "cyt", "yc": "cyc", "nall": "cn"},
        rank_col=None,
    ).localCheckpoint(eager=False)
    tot = grid.agg(
        F.sum("nt").cast("long").alias("tnt"),
        F.sum("nc").cast("long").alias("tnc"),
        F.sum("yt").cast("long").alias("tyt"),
        F.sum("yc").cast("long").alias("tyc"),
        F.sum(F.col("nt") + F.col("nc")).cast("long").alias("tn"),
    )
    qini = F.when(F.col("cnc") == 0, F.col("cyt").cast("double")).otherwise(
        F.col("cyt") - F.col("cyc").cast("double") * F.col("cnt") / F.col("cnc")
    )
    w = Window.orderBy(F.col("s").desc())
    pts = cum.select(
        "s",
        "cn",
        qini.alias("qini"),
        F.lag("cn", 1, 0).over(w).alias("cn_prev"),
        F.lag(qini, 1, 0.0).over(w).alias("qini_prev"),
    )
    area = pts.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(
                (F.col("cn") - F.col("cn_prev"))
                * (F.col("qini") + F.col("qini_prev"))
                / 2.0
                / F.col("tn")
                * _QINI_Q
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("areaq")
    )
    ate = F.col("tyt").cast("double") / F.col("tnt") - F.col("tyc").cast(
        "double"
    ) / F.col("tnc")
    qini_final = F.col("tyt") - F.col("tyc").cast("double") * F.col(
        "tnt"
    ) / F.col("tnc")
    auuc = F.col("areaq").cast("double") / _QINI_Q
    return area.crossJoin(F.broadcast(tot)).select(
        F.col("tn").alias("n_users"),
        F.col("tnt").alias("n_treated"),
        F.col("tnc").alias("n_control"),
        q4(ate).alias("ate"),
        q4(qini_final).alias("qini_final"),
        q4(auuc).alias("auuc"),
        q4(auuc - 0.5 * qini_final).alias("qini_coefficient"),
    )


# ------------------------------------------------------------------
# One exact EM step for a 2-component 1-D Gaussian mixture (r11)

_GMM_Q = 1_000_000_000  # 1e-9 fixed point for per-bin responsibilities


@register(
    "ml_gmm_em_step",
    oracle=f"""
    WITH b AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS nb
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), s AS (
        SELECT CAST(sum(nb) AS BIGINT) AS n,
               CAST(sum(v * nb) AS BIGINT) AS sv,
               CAST(sum(v * v * nb) AS HUGEINT) AS svv
        FROM b
    ), init AS (
        SELECT n, sv, svv,
               CAST(sv AS DOUBLE) / n AS mc,
               sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)
                    / (n - 1)) AS sdc
        FROM s
    ), e AS (
        SELECT i.n, i.mc, i.sdc, b.v, b.nb,
               CAST(floor(
                   exp(-((b.v - (i.mc - i.sdc)) / i.sdc)
                       * ((b.v - (i.mc - i.sdc)) / i.sdc) / 2.0)
                 / (exp(-((b.v - (i.mc - i.sdc)) / i.sdc)
                        * ((b.v - (i.mc - i.sdc)) / i.sdc) / 2.0)
                    + exp(-((b.v - (i.mc + i.sdc)) / i.sdc)
                          * ((b.v - (i.mc + i.sdc)) / i.sdc) / 2.0))
                 * {_GMM_Q} + 0.5) AS BIGINT) AS r1q
        FROM b CROSS JOIN init i
    ), m AS (
        SELECT any_value(n) AS n,
               CAST(sum(CAST(r1q AS HUGEINT) * nb) AS HUGEINT) AS n1,
               CAST(sum(CAST({_GMM_Q} - r1q AS HUGEINT) * nb) AS HUGEINT)
                   AS n2,
               CAST(sum(CAST(r1q AS HUGEINT) * nb * v) AS HUGEINT) AS s1,
               CAST(sum(CAST({_GMM_Q} - r1q AS HUGEINT) * nb * v) AS HUGEINT)
                   AS s2,
               CAST(sum(CAST(r1q AS HUGEINT) * nb * v * v) AS HUGEINT) AS q1,
               CAST(sum(CAST({_GMM_Q} - r1q AS HUGEINT) * nb * v * v)
                   AS HUGEINT) AS q2
        FROM e
    )
    SELECT CAST(n AS BIGINT) AS n,
           {sql_q4(f"CAST(n1 AS DOUBLE) / (CAST({_GMM_Q} AS DOUBLE) * n)")}
               AS w1,
           {sql_q4(f"CAST(n2 AS DOUBLE) / (CAST({_GMM_Q} AS DOUBLE) * n)")}
               AS w2,
           {sql_q4("CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0")} AS mu1,
           {sql_q4("CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0")} AS mu2,
           {sql_q4("sqrt(CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
                   " - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
                   " * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))) / 100.0")}
               AS sigma1,
           {sql_q4("sqrt(CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE)"
                   " - (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
                   " * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) / 100.0")}
               AS sigma2
    FROM m
    """,
)
def ml_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact EM step for a two-component 1-D Gaussian mixture on
    the purchase-value distribution, from the deterministic
    moment-split initialization (mu = mean -/+ sd, shared sigma = sd,
    equal weights) — the distributed-EM building block: the E-step is
    embarrassingly parallel, the M-step is a handful of mergeable
    sums, which is exactly how Spark ML's GaussianMixture iterates.

    Exactness: values bin to exact cents FIRST (the KDE discipline),
    so the E-step runs over the value-DOMAIN-bounded bin table; each
    bin's responsibility quantizes ONCE to a 1e-9 BIGINT (r2 is the
    exact complement), and every M-step sum accumulates
    DECIMAL(38,0)/HUGEINT products — order-free 128-bit integers.
    Doubles appear only in the init moments and the final
    weight/mean/sigma projections, all identically parenthesized.

    Scale shape: one hash aggregate to cents bins, a 1-row moments
    broadcast, one bins-sized projection + aggregate. At 100 TB only
    the first aggregate touches the corpus; responsibilities never
    materialize per row."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    b = (
        e.groupBy(F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    dec = "decimal(38,0)"
    s = b.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("nb")).cast("long").alias("sv"),
        F.sum((F.col("v") * F.col("nb")).cast(dec) * F.col("v")).alias("svv"),
    )
    init = s.select(
        "n",
        (F.col("sv").cast("double") / F.col("n")).alias("mc"),
        F.sqrt(
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double") * F.col("sv") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sdc"),
    )
    z1 = (F.col("v") - (F.col("mc") - F.col("sdc"))) / F.col("sdc")
    z2 = (F.col("v") - (F.col("mc") + F.col("sdc"))) / F.col("sdc")
    phi1 = F.exp(-z1 * z1 / 2.0)
    phi2 = F.exp(-z2 * z2 / 2.0)
    est = b.crossJoin(F.broadcast(init)).select(
        "n",
        "v",
        "nb",
        F.floor(phi1 / (phi1 + phi2) * _GMM_Q + 0.5).cast("long").alias("r1q"),
    )
    r1d = F.col("r1q").cast(dec)
    r2d = (F.lit(_GMM_Q) - F.col("r1q")).cast(dec)
    m = est.groupBy("n").agg(
        F.sum(r1d * F.col("nb")).alias("n1"),
        F.sum(r2d * F.col("nb")).alias("n2"),
        F.sum(r1d * F.col("nb") * F.col("v")).alias("s1"),
        F.sum(r2d * F.col("nb") * F.col("v")).alias("s2"),
        F.sum(r1d * F.col("nb") * F.col("v") * F.col("v")).alias("q1"),
        F.sum(r2d * F.col("nb") * F.col("v") * F.col("v")).alias("q2"),
    )
    mu1d = F.col("s1").cast("double") / F.col("n1").cast("double")
    mu2d = F.col("s2").cast("double") / F.col("n2").cast("double")
    return m.select(
        F.col("n").cast("long").alias("n"),
        q4(
            F.col("n1").cast("double") / (F.lit(float(_GMM_Q)) * F.col("n"))
        ).alias("w1"),
        q4(
            F.col("n2").cast("double") / (F.lit(float(_GMM_Q)) * F.col("n"))
        ).alias("w2"),
        q4(mu1d / 100.0).alias("mu1"),
        q4(mu2d / 100.0).alias("mu2"),
        q4(
            F.sqrt(
                F.col("q1").cast("double") / F.col("n1").cast("double")
                - mu1d * mu1d
            )
            / 100.0
        ).alias("sigma1"),
        q4(
            F.sqrt(
                F.col("q2").cast("double") / F.col("n2").cast("double")
                - mu2d * mu2d
            )
            / 100.0
        ).alias("sigma2"),
    )


@register(
    "ml_quantile_normalize",
    oracle=f"""
    WITH p AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), q AS (
        SELECT CAST(l_quantity AS BIGINT) * 100 AS v,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), pint AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v) - cnt AS lo,
               SUM(cnt) OVER (ORDER BY v) AS hi
        FROM p
    ), qint AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v) - cnt AS lo,
               SUM(cnt) OVER (ORDER BY v) AS hi
        FROM q
    ), ov AS (
        SELECT p.v AS pv, p.lo AS plo, p.hi AS phi,
               qq.v AS qv, qq.lo AS qlo, qq.hi AS qhi,
               least(p.hi, qq.hi) - greatest(p.lo, qq.lo) AS olap
        FROM pint p JOIN qint qq ON p.hi > qq.lo AND qq.hi > p.lo
    )
    SELECT 'l_extendedprice' AS measure, pv AS v,
           CAST(plo AS BIGINT) AS rank_lo, CAST(phi AS BIGINT) AS rank_hi,
           {sql_q4("CAST(pv * (phi - plo) + SUM(qv * olap) AS DOUBLE)"
                   " / CAST(2 * (phi - plo) AS DOUBLE)")} AS norm
    FROM ov GROUP BY pv, plo, phi
    UNION ALL
    SELECT 'l_quantity' AS measure, qv AS v,
           CAST(qlo AS BIGINT) AS rank_lo, CAST(qhi AS BIGINT) AS rank_hi,
           {sql_q4("CAST(qv * (qhi - qlo) + SUM(pv * olap) AS DOUBLE)"
                   " / CAST(2 * (qhi - qlo) AS DOUBLE)")} AS norm
    FROM ov GROUP BY qv, qlo, qhi
    """,
)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (Bolstad et al. 2003, public — the
    batch-effect remover that forces k columns onto one common
    distribution: replace the r-th smallest of each column by the
    MEAN of the r-th smallest across all columns). Computed at the
    DISTRIBUTION grain, not the row grain: each measure's ECDF is a
    piecewise-constant quantile function over its distinct-value grid
    (cells carry half-open global-rank intervals), and the normalized
    value of a cell is the rank-interval-weighted average of the
    OTHER measure's quantile function over that interval — an
    interval-overlap join between the two grids. Ties need no
    tiebreak: a cell IS its tie class. Both measures land in cent
    units (quantity x100) so the mean is unit-consistent; the
    numerator folds as exact BIGINTs, one final double division per
    cell (q4).

    Scale shape: two map-side-combinable groupBys to the value grids;
    global rank intervals via the bucketed prefix machine (never a
    single-partition window); the 50-cell quantity grid BROADCASTS
    into the overlap join, so the price grid never shuffles for it.
    Output is grid-sized, not row-sized — the mapping table a scoring
    job would broadcast back against the fact table."""
    li = table(spark, sf_dir, "lineitem")
    # lazily materialize both value grids: the fact table is scanned
    # ONCE per measure — the prefix machine's min/max pass, the rank
    # pass, and both downstream aggregates all replay the grids
    p = (
        li.groupBy(cents(F.col("l_extendedprice")).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    q = (
        li.groupBy((F.col("l_quantity").cast("long") * 100).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    pint = global_ordered(
        p, [F.col("v")], bucket_key="v", sums={"cnt": "hi"}, rank_col=None
    ).select("v", (F.col("hi") - F.col("cnt")).alias("lo"), "hi")
    qint = global_ordered(
        q, [F.col("v")], bucket_key="v", sums={"cnt": "hi"}, rank_col=None
    ).select("v", (F.col("hi") - F.col("cnt")).alias("lo"), "hi")
    ov = (
        pint.alias("p")
        .join(
            F.broadcast(qint.alias("q")),
            (F.col("p.hi") > F.col("q.lo")) & (F.col("q.hi") > F.col("p.lo")),
        )
        .select(
            F.col("p.v").alias("pv"),
            F.col("p.lo").alias("plo"),
            F.col("p.hi").alias("phi"),
            F.col("q.v").alias("qv"),
            F.col("q.lo").alias("qlo"),
            F.col("q.hi").alias("qhi"),
            (
                F.least(F.col("p.hi"), F.col("q.hi"))
                - F.greatest(F.col("p.lo"), F.col("q.lo"))
            ).alias("olap"),
        )
        # grid-sized; both normalization aggregates replay it instead
        # of re-running the prefix ranks + overlap join
        .localCheckpoint(eager=False)
    )
    p_norm = ov.groupBy("pv", "plo", "phi").agg(
        F.sum(F.col("qv") * F.col("olap")).cast("long").alias("qsum")
    ).select(
        F.lit("l_extendedprice").alias("measure"),
        F.col("pv").alias("v"),
        F.col("plo").alias("rank_lo"),
        F.col("phi").alias("rank_hi"),
        q4(
            (F.col("pv") * (F.col("phi") - F.col("plo")) + F.col("qsum")).cast(
                "double"
            )
            / (F.lit(2) * (F.col("phi") - F.col("plo"))).cast("double")
        ).alias("norm"),
    )
    q_norm = ov.groupBy("qv", "qlo", "qhi").agg(
        F.sum(F.col("pv") * F.col("olap")).cast("long").alias("psum")
    ).select(
        F.lit("l_quantity").alias("measure"),
        F.col("qv").alias("v"),
        F.col("qlo").alias("rank_lo"),
        F.col("qhi").alias("rank_hi"),
        q4(
            (F.col("qv") * (F.col("qhi") - F.col("qlo")) + F.col("psum")).cast(
                "double"
            )
            / (F.lit(2) * (F.col("qhi") - F.col("qlo"))).cast("double")
        ).alias("norm"),
    )
    return p_norm.unionByName(q_norm)


@register(
    "ml_impute_group_median",
    oracle=f"""
    WITH ca AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5)
                                      AS BIGINT)), 0) AS BIGINT) AS tot
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), aov AS (
        SELECT c_custkey, c_nationkey,
               CASE WHEN n_orders > 0 THEN tot // n_orders END AS aov
        FROM ca
    ), med AS (
        SELECT c_nationkey, med FROM (
            SELECT c_nationkey, aov AS med,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY aov) AS rn,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM aov WHERE aov IS NOT NULL
        ) WHERE rn = (n + 1) // 2
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(count(*) FILTER (WHERE a.aov IS NULL) AS BIGINT) AS n_missing,
           CAST(max(m.med) AS BIGINT) AS median_aov_cents,
           {sql_q4("CAST(SUM(COALESCE(a.aov, m.med)) AS DOUBLE) / count(*)")}
               AS mean_imputed_aov
    FROM aov a
    JOIN nation n ON n.n_nationkey = a.c_nationkey
    LEFT JOIN med m ON m.c_nationkey = a.c_nationkey
    GROUP BY n.n_name
    """,
)
def ml_impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation of a NATURALLY missing feature — the
    standard feature-store treatment for join-induced NULLs: average
    order value is undefined for customers who never ordered, so the
    missing entries take their nation's (lower) median AOV, with the
    missingness itself kept as a feature (n_missing per nation).
    AOV = exact integer cents DIV order count; the median uses the
    index rule rn = (n+1) DIV 2 over observed values only — no
    interpolation semantics to disagree on. A nation with zero
    observed customers publishes NULL (NULL-sum semantics agree on
    both engines).

    Scale shape: one left-join aggregate collapses orders to a
    per-customer (count, cents) pair; the per-nation median windows
    are PARTITIONED by nation (at 100 TB swap the exact median for
    approx_percentile per group and keep the identical shape — the
    events_anomaly_mad note); the 25-row median frame broadcast-joins
    back. Output is |nations| rows."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    ca = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.coalesce(F.sum(cents(F.col("o_totalprice"))), F.lit(0))
            .cast("long")
            .alias("tot"),
        )
    )
    aov = ca.select(
        "c_custkey",
        "c_nationkey",
        F.when(
            F.col("n_orders") > 0, F.expr("tot DIV n_orders")
        ).alias("aov"),
    )
    wv = Window.partitionBy("c_nationkey").orderBy("aov")
    wn = Window.partitionBy("c_nationkey")
    med = (
        aov.where(F.col("aov").isNotNull())
        .select(
            "c_nationkey",
            F.col("aov").alias("med"),
            F.row_number().over(wv).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("c_nationkey", "med")
    )
    return (
        aov.join(F.broadcast(n), aov["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(med), "c_nationkey", "left")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.count_if(F.col("aov").isNull()).cast("long").alias("n_missing"),
            F.max("med").cast("long").alias("median_aov_cents"),
            q4(
                F.sum(F.coalesce(F.col("aov"), F.col("med"))).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_imputed_aov"),
        )
        .withColumnRenamed("n_name", "nation")
    )

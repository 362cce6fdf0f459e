"""Descriptive-statistics operators (``df.stat``-family re-expressed
relationally): contingency tables and frequent items.

Spark ships these as driver-side helpers (``DataFrame.stat.crosstab``
/ ``freqItems``); we express them as plain aggregations instead so
they stay declarative — Catalyst plans them as one hash-aggregate
pass (plus a broadcast of the single-row total), which is exactly the
shape that scales: no driver-side result assembly, map-side partial
aggregation, cardinality of the output bounded by the attribute
domains, not the input rows.

No reference citations possible — /root/reference is empty (see
SURVEY.md §0); surface derives from the driver contract + the public
``df.stat`` API.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.prefix import global_ordered, two_sample_ecdf
from ..registry import register
from ..utils import cents, q4, sql_q4

_STATUSES = ("F", "O", "P")
_CROSSTAB_COLS = ", ".join(
    "CAST(count_if(o_orderstatus = '{s}') AS BIGINT) AS \"{s}\"".format(s=s)
    for s in _STATUSES
)


@register(
    "stat_crosstab",
    oracle=f"""
    SELECT o_orderpriority, {_CROSSTAB_COLS}
    FROM orders GROUP BY o_orderpriority
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table o_orderpriority × o_orderstatus
    (``df.stat.crosstab`` semantics, one column per status value).

    Implemented as ``groupBy().pivot(values=...)``: passing the pivot
    values explicitly skips the extra distinct-values job Spark would
    otherwise run, so the whole table is a single hash-aggregate —
    output rows = |priority domain|, independent of input size."""
    o = table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"`{s}`"), F.lit(0)).cast("long").alias(s)
            for s in _STATUSES
        ],
    )


@register(
    "stat_freq_items",
    oracle=f"""
    WITH stacked AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS item FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS col, o_orderpriority AS item FROM orders
    ), tot AS (SELECT count(*) AS total FROM orders)
    SELECT col, item, CAST(count(*) AS BIGINT) AS cnt,
           {sql_q4("count(*) / (SELECT total FROM tot)")} AS support
    FROM stacked GROUP BY col, item
    HAVING count(*) * 8 > (SELECT total FROM tot)
    """,
)
def stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent items over two orders attributes: every value
    with support > 1/8 (``df.stat.freqItems`` semantics, but exact —
    the sketch variant trades that for one pass; at our domain sizes
    the exact groupBy is already one pass + a tiny shuffle).

    The stack→groupBy shape generalizes to any column set; the total
    joins in via a broadcast of a single-row aggregate rather than a
    driver-side ``count()`` so the whole query stays one job."""
    o = table(spark, sf_dir, "orders")
    stacked = o.select(
        F.lit("o_orderstatus").alias("col"), F.col("o_orderstatus").alias("item")
    ).unionAll(
        o.select(
            F.lit("o_orderpriority").alias("col"),
            F.col("o_orderpriority").alias("item"),
        )
    )
    tot = o.agg(F.count(F.lit(1)).alias("total"))
    return (
        stacked.groupBy("col", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * 8 > F.col("total"))
        .select(
            "col",
            "item",
            "cnt",
            q4(F.col("cnt") / F.col("total")).alias("support"),
        )
    )


def _moments_sql() -> str:
    # raw moment sums are exact integers (l_quantity is integer-valued,
    # x^k <= 50^4 and partial sums < 2^53), so they are order-free;
    # the float formulas then run ONCE per group in a fixed shape
    return """
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(l_quantity AS BIGINT) *
                        CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
               CAST(SUM(CAST(l_quantity AS BIGINT) *
                        CAST(l_quantity AS BIGINT) *
                        CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
               CAST(SUM(CAST(l_quantity AS BIGINT) *
                        CAST(l_quantity AS BIGINT) *
                        CAST(l_quantity AS BIGINT) *
                        CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
        FROM lineitem GROUP BY l_returnflag
    """


@register(
    "agg_moments",
    oracle=f"""
    WITH m AS ({_moments_sql()}),
    c AS (
        SELECT l_returnflag, n, s1, s2, s3, s4,
               CAST(s1 AS DOUBLE) / n AS mu
        FROM m
    ), central AS (
        SELECT l_returnflag, n, mu,
               (CAST(s2 AS DOUBLE) / n) - mu * mu AS m2,
               (CAST(s3 AS DOUBLE) / n) - 3 * mu * (CAST(s2 AS DOUBLE) / n)
                   + 2 * mu * mu * mu AS m3,
               (CAST(s4 AS DOUBLE) / n) - 4 * mu * (CAST(s3 AS DOUBLE) / n)
                   + 6 * mu * mu * (CAST(s2 AS DOUBLE) / n)
                   - 3 * mu * mu * mu * mu AS m4
        FROM c
    )
    SELECT l_returnflag, n, {sql_q4("mu")} AS mean_qty,
           {sql_q4("m2")} AS var_pop,
           {sql_q4("m3 / pow(m2, 1.5)")} AS skewness,
           {sql_q4("m4 / (m2 * m2) - 3")} AS excess_kurtosis
    FROM central
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher statistical moments (population skewness, excess
    kurtosis) computed the distributed-exact way: raw power sums
    Σx..Σx⁴ as BIGINTs (integer-valued measure → exact, therefore
    order-independent across any partitioning — engine skewness()
    builtins use running float updates whose bias corrections AND
    summation orders differ between engines), then the central-moment
    formulas applied once per group in a fixed association order.
    Raw moment sums are also trivially mergeable — the same shape
    works as a partial-aggregate / rollup state."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
        F.sum(q * q * q * q).cast("long").alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    s2n = F.col("s2").cast("double") / F.col("n")
    s3n = F.col("s3").cast("double") / F.col("n")
    s4n = F.col("s4").cast("double") / F.col("n")
    m2 = s2n - mu * mu
    m3 = s3n - 3 * mu * s2n + 2 * mu * mu * mu
    m4 = s4n - 4 * mu * s3n + 6 * mu * mu * s2n - 3 * mu * mu * mu * mu
    return m.select(
        "l_returnflag",
        "n",
        q4(mu).alias("mean_qty"),
        q4(m2).alias("var_pop"),
        q4(m3 / F.pow(m2, 1.5)).alias("skewness"),
        q4(m4 / (m2 * m2) - 3).alias("excess_kurtosis"),
    )


@register(
    "agg_corr_exact",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS sx,
               SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS sxy,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sxx,
               SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {sql_q4("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
                   " * CAST(sy AS DOUBLE) / n)"
                   " / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
                   " * CAST(sx AS DOUBLE) / n)"
                   " * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)"
                   " * CAST(sy AS DOUBLE) / n))")} AS corr_qty_price
    FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact wide-integer co-moment sums —
    the distributed-exact sibling of agg_moments: Σx, Σy, Σxy, Σx²,
    Σy² accumulate as 128-bit integers (quantity is integer-valued,
    price quantized to cents; cents² sums overflow 64-bit at sf0.1,
    hence DECIMAL(38,0) accumulators — Spark's sum over decimal and
    DuckDB's HUGEINT sum are both exact), then one fixed-order
    double formula. Engine-native corr() uses running float updates
    whose summation order is partition-dependent; this formulation
    is bit-stable at any parallelism AND mergeable (the five sums
    are the partial state)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    dec = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum(y.cast(dec) * y.cast(dec)).alias("syy"),
    )
    n = F.col("n")
    fx = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = fx("sxy") - fx("sx") * fx("sy") / n
    vx = fx("sxx") - fx("sx") * fx("sx") / n
    vy = fx("syy") - fx("sy") * fx("sy") / n
    return s.select(
        "l_returnflag", "n", q4(cov / F.sqrt(vx * vy)).alias("corr_qty_price")
    )


@register(
    "agg_linear_trend",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n,
           {sql_q4("(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)"
                   " / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)")}
               AS slope,
           {sql_q4("(CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE)*sxy"
                   " - CAST(sx AS DOUBLE)*sy) / (CAST(n AS DOUBLE)*sxx"
                   " - CAST(sx AS DOUBLE)*sx)) * sx) / n")} AS intercept,
           {sql_q4("pow(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy, 2)"
                   " / ((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)"
                   " * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy))")}
               AS r2
    FROM m
    """,
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line (slope/intercept/R²) of daily event
    volume vs day index — regression AS AN AGGREGATE, the way it
    runs at scale: five exact integer moment sums (n, Σx, Σy, Σxy,
    Σx², Σy²) in the one groupBy shuffle, then the closed-form
    normal-equation doubles evaluated once per group. Identical IEEE
    op order on both engines → hash-exact regression outputs; no
    per-row doubles means partial-agg order cannot shift a
    coefficient. The daily rollup tier is mergeable (same cascade
    shape as events_forecast_baseline)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    var_n = nd * F.col("sxx") - sxd * F.col("sx")
    vary_n = nd * F.col("syy") - syd * F.col("sy")
    slope = cov_n / var_n
    return m.select(
        "event_type",
        "n",
        q4(slope).alias("slope"),
        q4((syd - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        q4(F.pow(cov_n, 2) / (var_n * vary_n)).alias("r2"),
    )


@register(
    "agg_weighted_percentile",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v_cents,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
        FROM lineitem
    ), c AS (
        SELECT l_returnflag, v_cents, w,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM s
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 4*cw >= tw   THEN v_cents END) AS BIGINT)
               AS wp25_cents,
           CAST(min(CASE WHEN 2*cw >= tw   THEN v_cents END) AS BIGINT)
               AS wp50_cents,
           CAST(min(CASE WHEN 4*cw >= 3*tw THEN v_cents END) AS BIGINT)
               AS wp75_cents,
           CAST(max(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY 1
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED percentiles (quantity-weighted price quartiles per
    returnflag) — "the price below which half the UNITS sold lie",
    the token-weighted-quantile shape training-data pipelines need
    (e.g. the quality score below which half the tokens fall).
    Neither engine has a native weighted quantile, so both sides use
    the same formulation: cumulative weight over the value order,
    quartile = first value whose cumulative weight crosses the
    fraction (all-INTEGER comparisons — 4·cw ≥ k·tw — so there is no
    float threshold to disagree on; ties in the value column cannot
    change the selected value since every tied row carries it).

    Scale shape: hash-aggregate the fact rows down to the
    (l_returnflag, v_cents) value grid FIRST (map-side combine; grid
    cardinality is bounded by the cents value domain, not the row
    count), then run the cumulative window over the grid.  The window
    sort per returnflag is therefore grid-sized — at 100 TB the 3-value
    partition key still means one task per flag, but each task sorts
    ≤|value domain| rows instead of billions of fact rows.  Collapsing
    ties before the window cannot change the selected quartile: the
    grid row's cumulative weight is the max of its tied fact rows'
    cumulative weights, and every tied row carries the same value, so
    the first-value-crossing-the-fraction pick is identical (the
    DuckDB oracle deliberately stays row-level to prove it)."""
    li = table(spark, sf_dir, "lineitem")
    s = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("v_cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("w"),
    )
    grid = s.groupBy("l_returnflag", "v_cents").agg(
        F.sum("w").cast("long").alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    c = grid.withColumn("cw", F.sum("w").over(wcum)).withColumn(
        "tw", F.sum("w").over(wall)
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("v_cents")))
        .cast("long")
        .alias("wp25_cents"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v_cents")))
        .cast("long")
        .alias("wp50_cents"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("v_cents")))
        .cast("long")
        .alias("wp75_cents"),
        F.max("tw").cast("long").alias("total_weight"),
    )


# ----------------------------------------------- distribution drift

KS_G1 = "click"
KS_G2 = "purchase"
# Two-sample KS critical value at alpha = 0.05: c(alpha) = 1.358.
KS_CALPHA = "1.358"


def _ks_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'click' vs 'purchase' two-sample ECDF over the integer-cents
    value grid: events hash-aggregated to one row per distinct cents
    value with the group counts c1/c2, then ONE bucketed prefix pass
    (:func:`two_sample_ecdf`) adds cum1, cum2, v_next, n1 and n2 to
    every grid point.  The ECDF tests below are each one aggregate or
    projection over this frame."""
    grid = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin(KS_G1, KS_G2))
        .selectExpr(
            "event_type",
            "CAST(floor(value * 100 + 0.5D) AS BIGINT) AS v_cents",
        )
        .groupBy("v_cents")
        .agg(
            F.expr(f"CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1"),
            F.expr(f"CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2"),
        )
    )
    return two_sample_ecdf(grid)


@register(
    "stat_ks_test",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents,
               sum(c1) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
               sum(c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        FROM grid
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), d AS (
        SELECT max(abs(CAST(cum1 AS DOUBLE)/n1 - CAST(cum2 AS DOUBLE)/n2))
               AS ks_d
        FROM cum CROSS JOIN totals
    )
    SELECT n1, n2, {sql_q4("ks_d")} AS ks_d,
           {sql_q4(f"{KS_CALPHA} * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2))")}
               AS d_crit,
           ks_d > {KS_CALPHA} * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2))
               AS drifted
    FROM d CROSS JOIN totals
    """,
)
def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the 'click' and
    'purchase' value distributions: D = max |ECDF₁ − ECDF₂|, with the
    α=0.05 critical value 1.358·√((n₁+n₂)/(n₁·n₂)) and a drift flag.

    Scale shape: values are quantized to integer cents and hash-
    aggregated FIRST, so the ECDF fold runs over the bounded value
    DOMAIN (≤ |price grid| rows), not the input rows; and the
    cumulative counts and totals come from ONE bucketed prefix pass
    (``_ks_ecdf`` → ``prefix.two_sample_ecdf``) rather than an
    unpartitioned ``Window.orderBy`` — a wide-domain money column
    (cents grids can reach 10⁷+ distinct points at 100 TB) never
    funnels through one partition. Cumulative counts are integer
    (exact, order-free), with doubles appearing only in the final
    per-gridpoint division."""
    gap = (
        F.col("cum1").cast("double") / F.col("n1")
        - F.col("cum2").cast("double") / F.col("n2")
    )
    d = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.abs(gap)).alias("ks_d"),
    )
    crit = F.lit(float(KS_CALPHA)) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double") / (F.col("n1") * F.col("n2"))
    )
    return d.select(
        "n1",
        "n2",
        q4(F.col("ks_d")).alias("ks_d"),
        q4(crit).alias("d_crit"),
        (F.col("ks_d") > crit).alias("drifted"),
    )


PSI_SPLIT = "2024-01-16"  # ref = days 1-15, cur = days 16-30
PSI_BIN_W = "25.0"
PSI_NBINS = 20  # bins 0..19 (top bin open-ended)


@register(
    "stat_psi_drift",
    oracle=f"""
    WITH binned AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) < DATE '{PSI_SPLIT}'
                    THEN 'ref' ELSE 'cur' END AS period,
               least(CAST(floor(value / {PSI_BIN_W}) AS BIGINT),
                     {PSI_NBINS - 1}) AS b
        FROM events
    ), counts AS (
        SELECT event_type, b,
               CAST(count_if(period = 'ref') AS BIGINT) AS nb_ref,
               CAST(count_if(period = 'cur') AS BIGINT) AS nb_cur
        FROM binned GROUP BY event_type, b
    ), totals AS (
        SELECT event_type,
               CAST(sum(nb_ref) AS BIGINT) AS n_ref,
               CAST(sum(nb_cur) AS BIGINT) AS n_cur
        FROM counts GROUP BY event_type
    ), contrib AS (
        SELECT c.event_type, t.n_ref, t.n_cur,
               CAST(floor(
                   (((c.nb_cur + 0.5) / (t.n_cur + 10.0))
                      - ((c.nb_ref + 0.5) / (t.n_ref + 10.0)))
                   * ln(((c.nb_cur + 0.5) / (t.n_cur + 10.0))
                        / ((c.nb_ref + 0.5) / (t.n_ref + 10.0)))
                   * 1e10 + 0.5) AS BIGINT) AS contrib_e10
        FROM counts c JOIN totals t ON c.event_type = t.event_type
    ), psi AS (
        SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(contrib_e10) AS DOUBLE) / 1e10 AS psi
        FROM contrib GROUP BY event_type
    )
    SELECT event_type, n_ref, n_cur, n_bins, {sql_q4("psi")} AS psi,
           psi > 0.1 AS drifted
    FROM psi
    """,
)
def stat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift per event_type between the
    first and second half of the month, over 20 fixed-width value
    bins with Laplace smoothing (+0.5 per observed bin):
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref); PSI > 0.1 flags drift.

    Scale shape: one hash aggregate to (event_type × ≤20 bins), a
    broadcast-sized totals join, then a second tiny aggregate — the
    only data-sized pass is the first groupBy. Per-bin contributions
    are non-negative and summed as scaled INTEGERS (e-10 fixed
    point), so the PSI is exact and order-free — bit-identical on 1
    core or 1000 executors (the repo's integer-cents discipline
    applied to an information-theoretic sum)."""
    e = table(spark, sf_dir, "events")
    binned = e.select(
        "event_type",
        F.when(
            F.col("ts").cast("date") < F.lit(PSI_SPLIT).cast("date"), "ref"
        )
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.floor(F.col("value") / F.lit(float(PSI_BIN_W))).cast("long"),
            F.lit(PSI_NBINS - 1),
        ).alias("b"),
    )
    counts = binned.groupBy("event_type", "b").agg(
        F.count_if(F.col("period") == "ref").cast("long").alias("nb_ref"),
        F.count_if(F.col("period") == "cur").cast("long").alias("nb_cur"),
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("nb_ref").cast("long").alias("n_ref"),
        F.sum("nb_cur").cast("long").alias("n_cur"),
    )
    p_cur = (F.col("nb_cur") + F.lit(0.5)) / (F.col("n_cur") + F.lit(10.0))
    p_ref = (F.col("nb_ref") + F.lit(0.5)) / (F.col("n_ref") + F.lit(10.0))
    contrib_e10 = F.floor(
        (p_cur - p_ref) * F.log(p_cur / p_ref) * F.lit(1e10) + F.lit(0.5)
    ).cast("long")
    contrib = counts.join(F.broadcast(totals), "event_type").select(
        "event_type", "n_ref", "n_cur", contrib_e10.alias("contrib_e10")
    )
    psi = contrib.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.count("*").cast("long").alias("n_bins"),
        (F.sum("contrib_e10").cast("double") / F.lit(1e10)).alias("psi"),
    )
    return psi.select(
        "event_type",
        "n_ref",
        "n_cur",
        "n_bins",
        q4(F.col("psi")).alias("psi"),
        (F.col("psi") > F.lit(0.1)).alias("drifted"),
    )


# the groups of the shared _ks_ecdf grid the Spark side reads
MWU_G1, MWU_G2 = KS_G1, KS_G2


@register(
    "stat_mann_whitney",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{MWU_G1}', '{MWU_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{MWU_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{MWU_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT c1, c2, c1 + c2 AS t,
               COALESCE(sum(c1 + c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS before
        FROM grid
    ), sums AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 * (2*before + t + 1)) AS BIGINT) AS r1x2,
               CAST(sum(t*t*t - t) AS BIGINT) AS tie3
        FROM cum
    ), u AS (
        SELECT n1, n2,
               CAST(r1x2 - n1*(n1+1) AS DOUBLE)/2.0 AS u1,
               (CAST(r1x2 - n1*(n1+1) AS DOUBLE)/2.0
                  - CAST(n1 AS DOUBLE)*n2/2.0)
               / sqrt(CAST(n1 AS DOUBLE)*n2/12.0
                      * (CAST(n1+n2+1 AS DOUBLE)
                         - CAST(tie3 AS DOUBLE)
                           / (CAST(n1+n2 AS DOUBLE) * (n1+n2-1)))) AS z
        FROM sums
    )
    SELECT n1, n2, u1, {sql_q4("z")} AS z, abs(z) > 1.96 AS significant
    FROM u
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between the 'click'
    and 'purchase' value distributions, with midrank tie handling and
    the tie-corrected normal approximation.

    Scale shape — the same bounded-domain trick as stat_ks_test:
    values quantize to integer cents and hash-aggregate FIRST, so
    ranks come from a fold over the value DOMAIN, not the input
    rows (a naive rank() over 10^11 rows would be a single-partition
    sort of the whole fact table), and that fold is one aggregate
    over the shared ``_ks_ecdf`` frame (one bucketed prefix pass),
    never an unpartitioned window — the cents grid can be 10⁷+
    points at 100 TB. Midranks stay INTEGER by tracking
    2x the rank (2·before + t + 1), so the rank-sum R1 is an exact
    order-free integer; doubles appear only in the final z formula,
    evaluated once. The tie term Σ(t³−t) accumulates as int64 —
    at 10^11 rows per value the cube overflows, so the 100 TB variant
    promotes it to decimal(38,0) (same one-line change as
    agg_corr_exact's syy accumulator)."""
    # midrank bookkeeping: t values tie at this grid point, and
    # ``before`` values sit strictly below it (the oracle's exclusive
    # running sum)
    t = F.col("c1") + F.col("c2")
    before = F.col("cum1") + F.col("cum2") - t
    sums = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.col("c1") * (2 * before + t + 1)).cast("long").alias("r1x2"),
        F.sum(t * t * t - t).cast("long").alias("tie3"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = (F.col("r1x2") - n1 * (n1 + 1)).cast("double") / F.lit(2.0)
    mu = n1.cast("double") * n2 / F.lit(2.0)
    sigma = F.sqrt(
        n1.cast("double") * n2 / F.lit(12.0)
        * (
            (n1 + n2 + 1).cast("double")
            - F.col("tie3").cast("double")
            / ((n1 + n2).cast("double") * (n1 + n2 - 1))
        )
    )
    u = sums.select(
        "n1", "n2", u1.alias("u1"), ((u1 - mu) / sigma).alias("z")
    )
    return u.select(
        "n1",
        "n2",
        "u1",
        q4(F.col("z")).alias("z"),
        (F.abs(F.col("z")) > 1.96).alias("significant"),
    )


@register(
    "stat_jackknife_cv",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS x
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS s1,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        FROM s GROUP BY event_type
    ), loo AS (
        SELECT s.event_type, m.n, m.s1, m.s2,
               CAST(floor(
                   sqrt((CAST(m.s2 - CAST(s.x AS HUGEINT)*s.x AS DOUBLE)
                         - (m.n - 1)
                           * (CAST(m.s1 - s.x AS DOUBLE)/(m.n - 1))
                           * (CAST(m.s1 - s.x AS DOUBLE)/(m.n - 1)))
                        / (m.n - 2))
                   / (CAST(m.s1 - s.x AS DOUBLE)/(m.n - 1))
                   * 1e8 + 0.5) AS BIGINT) AS cvq
        FROM s JOIN m USING (event_type)
    ), j AS (
        SELECT event_type, max(n) AS n, max(s1) AS s1, max(s2) AS s2,
               CAST(sum(cvq) AS HUGEINT) AS sc1,
               CAST(sum(CAST(cvq AS HUGEINT) * cvq) AS HUGEINT) AS sc2
        FROM loo GROUP BY event_type
    ), o AS (
        SELECT event_type, n,
               sqrt((CAST(s2 AS DOUBLE)
                     - (CAST(s1 AS DOUBLE)/n) * CAST(s1 AS DOUBLE))
                    / (n - 1))
               / (CAST(s1 AS DOUBLE)/n) AS cv_full,
               CAST(sc1 AS DOUBLE)/n/1e8 AS cv_bar,
               (CAST(sc2 AS DOUBLE)/1e16
                - (CAST(sc1 AS DOUBLE)/n) * (CAST(sc1 AS DOUBLE)/1e16))
                   AS ssq
        FROM j
    )
    SELECT event_type, n, {sql_q4("cv_full")} AS cv_full,
           {sql_q4("CAST(n AS DOUBLE)*cv_full - (n - 1)*cv_bar")}
               AS cv_jack_bc,
           {sql_q4("sqrt((CAST(n - 1 AS DOUBLE)/n) * ssq)")} AS se_jack
    FROM o
    """,
)
def stat_jackknife_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error and bias correction for a NONLINEAR
    statistic — the coefficient of variation of event value per
    event_type. The point of the shape: the n leave-one-out
    replicates are NOT n re-aggregations; each replicate's mean and
    variance come from MOMENT ALGEBRA on the full-group sums
    (m_i = (S1−x_i)/(n−1), v_i from S2 minus the held-out square), so
    the whole jackknife is two hash aggregates and one broadcast join
    — no resampling shuffle, no per-replicate pass. That is the only
    formulation that survives 10^11 rows.

    Determinism: raw sums are exact int128; each replicate's cv_i is
    a fixed-order IEEE expression quantized to e-8 fixed point, so
    the second-level sums Σcvq, Σcvq² are again exact integers —
    partition order cannot shift the reported SE (same discipline as
    stat_psi_drift's contribution sums)."""
    e = table(spark, sf_dir, "events")
    s = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
    )
    dec = "decimal(38,0)"
    x = F.col("x")
    m = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).alias("s1"),
        F.sum((x * x).cast(dec)).alias("s2"),
    )
    nm1 = (F.col("n") - 1).cast("double")
    m_i = (F.col("s1") - x).cast("double") / (F.col("n") - 1)
    v_i = (
        (F.col("s2") - (x.cast(dec) * x.cast(dec))).cast("double")
        - (F.col("n") - 1) * m_i * m_i
    ) / (F.col("n") - 2)
    cvq = F.floor(F.sqrt(v_i) / m_i * F.lit(1e8) + F.lit(0.5)).cast("long")
    loo = s.join(F.broadcast(m), "event_type").select(
        "event_type", "n", "s1", "s2", cvq.alias("cvq")
    )
    j = loo.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("s1").alias("s1"),
        F.max("s2").alias("s2"),
        F.sum(F.col("cvq").cast(dec)).alias("sc1"),
        F.sum((F.col("cvq").cast(dec) * F.col("cvq").cast(dec))).alias("sc2"),
    )
    n = F.col("n")
    s1d = F.col("s1").cast("double")
    cv_full = F.sqrt(
        (F.col("s2").cast("double") - (s1d / n) * s1d) / (n - 1)
    ) / (s1d / n)
    cv_bar = F.col("sc1").cast("double") / n / F.lit(1e8)
    ssq = F.col("sc2").cast("double") / F.lit(1e16) - (
        F.col("sc1").cast("double") / n
    ) * (F.col("sc1").cast("double") / F.lit(1e16))
    o = j.select(
        "event_type",
        "n",
        cv_full.alias("cv_full"),
        cv_bar.alias("cv_bar"),
        ssq.alias("ssq"),
    )
    return o.select(
        "event_type",
        "n",
        q4(F.col("cv_full")).alias("cv_full"),
        q4(n.cast("double") * F.col("cv_full") - (n - 1) * F.col("cv_bar")).alias(
            "cv_jack_bc"
        ),
        q4(F.sqrt(((n - 1).cast("double") / n) * F.col("ssq"))).alias("se_jack"),
    )


CHI2_EPOCH = "2024-01-01"  # dow = days-since-epoch mod 7 (engine-neutral)


@register(
    "stat_chi2_test",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               date_diff('day', DATE '{CHI2_EPOCH}', CAST(ts AS DATE)) % 7
                   AS dow
        FROM events
    ), obs AS (
        SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
        FROM g GROUP BY event_type, dow
    ), rt AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
        FROM obs GROUP BY event_type
    ), ct AS (
        SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY dow
    ), tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
               CAST(count(DISTINCT dow) AS BIGINT) AS nc
        FROM obs
    ), contrib AS (
        SELECT CAST(floor(
            ((o - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n))
             * (o - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n))
            * 1e6 + 0.5) AS BIGINT) AS c_e6
        FROM obs JOIN rt USING (event_type) JOIN ct USING (dow)
        CROSS JOIN tot
    ), chi AS (
        SELECT CAST(sum(c_e6) AS DOUBLE) / 1e6 AS chi2 FROM contrib
    )
    SELECT n, (nr - 1) * (nc - 1) AS dof, {sql_q4("chi2")} AS chi2,
           {sql_q4("sqrt(chi2 / (n * least(nr - 1, nc - 1)))")} AS cramers_v
    FROM chi CROSS JOIN tot
    """,
)
def stat_chi2_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and
    day-of-week, with Cramér's V effect size. Day-of-week is
    days-since-epoch mod 7 (engine-neutral — Spark's dayofweek and
    DuckDB's dayofweek disagree on numbering).

    Scale shape: ONE data-sized hash aggregate to the bounded
    (event_type × 7) contingency grid; everything after is
    grid-sized. Expected counts multiply as DOUBLES (rt·ct overflows
    int64 at ~10⁹·10⁹ rows); per-cell contributions sum as e-6
    fixed-point integers, so χ² is exact and partition-order-free."""
    e = table(spark, sf_dir, "events")
    g = e.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit(CHI2_EPOCH).cast("date"))
            % 7
        ).alias("dow"),
    )
    obs = g.groupBy("event_type", "dow").agg(F.count("*").cast("long").alias("o")).localCheckpoint(eager=False)
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    ct = obs.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("dow").cast("long").alias("nc"),
    )
    exp = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col("n")
    c_e6 = F.floor(
        ((F.col("o") - exp) * (F.col("o") - exp) / exp) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    contrib = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .select(c_e6.alias("c_e6"))
    )
    chi = contrib.agg((F.sum("c_e6").cast("double") / F.lit(1e6)).alias("chi2"))
    return chi.crossJoin(F.broadcast(tot)).select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        q4(F.col("chi2")).alias("chi2"),
        q4(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            )
        ).alias("cramers_v"),
    )


# ------------------------------------------------- Poisson bootstrap

BOOT_B = 32  # bootstrap replicates

# Cumulative Poisson(1) CDF thresholds: a uniform u maps to the
# replicate weight w = #occurrences of the row in that resample.
# The Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google 2012 — public) replaces the
# multinomial resample (which needs the global N) with independent
# per-row Poisson(1) weights, which is the ONLY bootstrap that
# streams/shards: each row decides its own weight from a content
# hash, no coordination, so the resample is a map-side expression.
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119",
)


def _sql_pois_w(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {i}" for i, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


def _pois_w(u: Column) -> Column:
    w: Column = F.lit(7)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS_CDF[i]), i).otherwise(w)
    return w


@register(
    "stat_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b),
    base AS (
        SELECT event_type, event_id,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events
    ), expanded AS (
        SELECT event_type, b,
               {_sql_pois_w(
                   "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)"
                   " || '_' || CAST(b AS VARCHAR)), 1, 6)) AS BIGINT)"
                   " / 16777216.0")} AS w,
               vc
        FROM base CROSS JOIN reps
    ), rep_means AS (
        SELECT event_type, b,
               {sql_q4("CAST(sum(w * vc) AS DOUBLE)"
                       " / (100.0 * sum(w))")} AS m
        FROM expanded GROUP BY event_type, b HAVING sum(w) > 0
    ), ranked AS (
        SELECT event_type, m,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY m, b) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nb
        FROM rep_means
    ), ci AS (
        SELECT event_type,
               max(CASE WHEN rn = 2 THEN m END) AS boot_lo,
               max(CASE WHEN rn = nb - 1 THEN m END) AS boot_hi
        FROM ranked GROUP BY event_type
    ), pt AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               {sql_q4("CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))"
                       " AS DOUBLE) / (100.0 * count(*))")} AS point_mean
        FROM events GROUP BY event_type
    )
    SELECT pt.event_type, pt.n, pt.point_mean, ci.boot_lo, ci.boot_hi
    FROM pt JOIN ci ON ci.event_type = pt.event_type
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean event value
    per event_type — the uncertainty-quantification primitive that
    actually works at 100 TB. The classical bootstrap multinomially
    resamples N rows B times (needs the global N up front and a
    shuffle per replicate); the Poisson bootstrap gives each row an
    independent Poisson(1) weight per replicate, derived HERE from a
    content hash (md5(event_id, b) -> uniform -> inverse-CDF), so the
    whole resample is one map-side expression: B x N weighted rows,
    one hash-aggregate with map-side partials, no RNG state, no
    coordination, bit-identical at any parallelism.

    Replicate means are exact-integer-cent sums divided once (then
    q4-quantized BEFORE ranking, so the order statistic is engine-
    stable); the CI is the index-based 2nd / (B-1)th order statistic
    of the B replicate means — no percentile-interpolation semantics
    to disagree on. Scale: the B-fold expansion is a broadcast of a
    {BOOT_B}-row frame (never a shuffle); total work is O(B*N) map +
    one aggregate of |types| x B partials."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )
    reps = spark.range(BOOT_B).select(F.col("id").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("event_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(16777216.0)
    )
    expanded = e.crossJoin(F.broadcast(reps)).select(
        "event_type", "b", _pois_w(u).alias("w"), "vc"
    )
    rep_means = (
        expanded.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("vc")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            q4(F.col("swv").cast("double") / (F.lit(100.0) * F.col("sw"))).alias(
                "m"
            ),
        )
    )
    wdw = Window.partitionBy("event_type").orderBy("m", "b")
    ranked = rep_means.select(
        "event_type",
        "m",
        F.row_number().over(wdw).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("nb"),
    )
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("boot_lo"),
        F.max(F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))).alias(
            "boot_hi"
        ),
    )
    pt = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        q4(
            F.sum("vc").cast("double") / (F.lit(100.0) * F.count("*"))
        ).alias("point_mean"),
    )
    return pt.join(F.broadcast(ci), "event_type").select(
        "event_type", "n", "point_mean", "boot_lo", "boot_hi"
    )


# -------------------------------------- closed-form multiple regression

# det of the 3x3 normal-equation matrix [[n,s1,s2],[s1,s11,s12],
# [s2,s12,s22]] and the Cramer numerators, written ONCE as text so
# the Spark and DuckDB sides evaluate the IDENTICAL IEEE expression
# tree (same operand order, same parenthesization) over exactly-
# representable integer sums.
_LR_DET = (
    "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
)
_LR_D0 = (
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
    " + s2*(s1y*s12 - s11*s2y))"
)
_LR_D1 = (
    "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)"
    " + s2*(s1*s2y - s1y*s2))"
)
_LR_D2 = (
    "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)"
    " + sy*(s1*s12 - s11*s2))"
)


@register(
    "stat_linreg_multi",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS x1,
               CAST(isodow(ts) - 1 AS BIGINT) AS x2,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS y
        FROM events
    ), sums AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x1) AS DOUBLE) AS s1,
               CAST(sum(x2) AS DOUBLE) AS s2,
               CAST(sum(x1*x1) AS DOUBLE) AS s11,
               CAST(sum(x2*x2) AS DOUBLE) AS s22,
               CAST(sum(x1*x2) AS DOUBLE) AS s12,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x1*y) AS DOUBLE) AS s1y,
               CAST(sum(x2*y) AS DOUBLE) AS s2y,
               CAST(sum(y*y) AS DOUBLE) AS syy
        FROM base GROUP BY event_type
    ), fit AS (
        SELECT event_type, n, sy,
               {_LR_D0} / {_LR_DET} AS b0,
               {_LR_D1} / {_LR_DET} AS b1,
               {_LR_D2} / {_LR_DET} AS b2,
               syy, s1y, s2y
        FROM sums
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {sql_q4("b0 / 100.0")} AS intercept,
           {sql_q4("b1 / 100.0")} AS beta_hour,
           {sql_q4("b2 / 100.0")} AS beta_weekday,
           {sql_q4("1.0 - (syy - b0*sy - b1*s1y - b2*s2y)"
                   " / (syy - sy*sy/n)")} AS r2
    FROM fit
    """,
)
def stat_linreg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (value ~ hour-of-day + weekday) per
    event_type, solved in CLOSED FORM from one aggregation pass — the
    way OLS actually scales: nine sufficient statistics (sums of
    products, exact integers) per group via a single map-side-partial
    hash aggregate, then the 3x3 normal equations solved by Cramer's
    rule as a scalar expression on the 1-row-per-group result. No
    gradient iterations, no feature matrix materialization, no
    driver-side math — at 100 TB the cost is exactly one pass and a
    |types|-row epilogue.

    Engine parity is by construction: the sufficient statistics are
    exact BIGINT sums (x1<=23, x2<=6, y in cents), promoted once to
    double, and the determinant/numerator expressions are generated
    from the SAME text for both engines, so the IEEE evaluation order
    is identical. R^2 comes from the same sums (SSE via the fitted
    coefficients, SST via sy,syy)."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x1"),
        F.expr("CAST(weekday(ts) AS BIGINT)").alias("x2"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    sums = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    fit = sums.select(
        "event_type",
        "n",
        "sy",
        F.expr(f"{_LR_D0} / {_LR_DET}").alias("b0"),
        F.expr(f"{_LR_D1} / {_LR_DET}").alias("b1"),
        F.expr(f"{_LR_D2} / {_LR_DET}").alias("b2"),
        "syy",
        "s1y",
        "s2y",
    )
    return fit.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        q4(F.col("b0") / 100.0).alias("intercept"),
        q4(F.col("b1") / 100.0).alias("beta_hour"),
        q4(F.col("b2") / 100.0).alias("beta_weekday"),
        q4(
            F.lit(1.0)
            - (
                F.col("syy")
                - F.col("b0") * F.col("sy")
                - F.col("b1") * F.col("s1y")
                - F.col("b2") * F.col("s2y")
            )
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        ).alias("r2"),
    )


# ------------------------------------------------- Welch's t-test

@register(
    "stat_welch_ttest",
    oracle=f"""
    WITH base AS (
        SELECT event_type, user_id % 2 AS arm,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events
    ), arms AS (
        SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(vc) AS BIGINT) AS s1,
               CAST(sum(vc*vc) AS BIGINT) AS s2
        FROM base GROUP BY event_type, arm
    ), wide AS (
        SELECT a0.event_type,
               a0.n AS n0, a1.n AS n1,
               CAST(a0.s1 AS DOUBLE) / a0.n AS m0,
               CAST(a1.s1 AS DOUBLE) / a1.n AS m1,
               (CAST(a0.s2 AS DOUBLE) - CAST(a0.s1 AS DOUBLE)
                  * a0.s1 / a0.n) / (a0.n - 1) AS v0,
               (CAST(a1.s2 AS DOUBLE) - CAST(a1.s1 AS DOUBLE)
                  * a1.s1 / a1.n) / (a1.n - 1) AS v1
        FROM arms a0 JOIN arms a1
          ON a0.event_type = a1.event_type AND a0.arm = 0 AND a1.arm = 1
    )
    SELECT event_type, n0, n1,
           {sql_q4("m0 / 100.0")} AS mean_control,
           {sql_q4("m1 / 100.0")} AS mean_treatment,
           {sql_q4("(m1 - m0) / 100.0")} AS diff,
           {sql_q4("(m1 - m0) / sqrt(v1/n1 + v0/n0)")} AS t_stat,
           {sql_q4("(v1/n1 + v0/n0) * (v1/n1 + v0/n0)"
                   " / ((v1/n1) * (v1/n1) / (n1 - 1)"
                   "    + (v0/n0) * (v0/n0) / (n0 - 1))")} AS welch_df
    FROM wide
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on mean event value, treatment
    = user_id parity per event_type — the means-comparison leg of the
    experimentation suite (events_ab_test does proportions,
    stat_mann_whitney ranks, events_power_analysis planning). Welch
    is the right default: it does not assume equal arm variances, and
    its Satterthwaite df comes from the same four sufficient
    statistics.

    Distribution shape: exact BIGINT (n, Σx, Σx²) per (type, arm) in
    ONE map-side-partial aggregate, self-joined arm0 x arm1 (5-row
    frames), then the t statistic and df evaluated once per type in a
    fixed IEEE order mirrored in the oracle. 100 TB cost = one pass,
    like every closed-form test here."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("arm"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )
    arms = e.groupBy("event_type", "arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vc").cast("long").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("s2"),
    )
    a0 = arms.where(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("s1").alias("s1_0"),
        F.col("s2").alias("s2_0"),
    )
    a1 = arms.where(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("s1").alias("s1_1"),
        F.col("s2").alias("s2_1"),
    )
    w = a0.join(a1, "event_type")
    m0 = F.col("s1_0").cast("double") / F.col("n0")
    m1 = F.col("s1_1").cast("double") / F.col("n1")
    v0 = (
        F.col("s2_0").cast("double")
        - F.col("s1_0").cast("double") * F.col("s1_0") / F.col("n0")
    ) / (F.col("n0") - 1)
    v1 = (
        F.col("s2_1").cast("double")
        - F.col("s1_1").cast("double") * F.col("s1_1") / F.col("n1")
    ) / (F.col("n1") - 1)
    se0, se1 = v0 / F.col("n0"), v1 / F.col("n1")
    return w.select(
        "event_type",
        "n0",
        "n1",
        q4(m0 / 100.0).alias("mean_control"),
        q4(m1 / 100.0).alias("mean_treatment"),
        q4((m1 - m0) / 100.0).alias("diff"),
        q4((m1 - m0) / F.sqrt(se1 + se0)).alias("t_stat"),
        q4(
            (se1 + se0) * (se1 + se0)
            / (
                se1 * se1 / (F.col("n1") - 1)
                + se0 * se0 / (F.col("n0") - 1)
            )
        ).alias("welch_df"),
    )


# ------------------------------------------------- Spearman correlation

def _midrank_sql(var: str, out: str) -> str:
    # doubled midranks (2*rank = 2*prior + cnt + 1) per l_returnflag
    # group over the DISTINCT values of ``var`` — exact integers
    return f"""
    {out}_g AS (
        SELECT l_returnflag, {var} AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM base GROUP BY 1, 2
    ), {out} AS (
        SELECT l_returnflag, v,
               2 * coalesce(sum(cnt) OVER (PARTITION BY l_returnflag
                     ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) + cnt + 1 AS r2
        FROM {out}_g
    )"""


@register(
    "stat_spearman",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y
        FROM lineitem
    ),{_midrank_sql("x", "rx")},{_midrank_sql("y", "ry")},
    j AS (
        SELECT b.l_returnflag, rx.r2 AS a, ry.r2 AS b2
        FROM base b
        JOIN rx ON rx.l_returnflag = b.l_returnflag AND rx.v = b.x
        JOIN ry ON ry.l_returnflag = b.l_returnflag AND ry.v = b.y
    ), s AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS sa,
               CAST(sum(b2) AS BIGINT) AS sb,
               CAST(sum(a*a) AS BIGINT) AS saa,
               CAST(sum(b2*b2) AS BIGINT) AS sbb,
               CAST(sum(a*b2) AS BIGINT) AS sab
        FROM j GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {sql_q4("(CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)"
                   " / sqrt((CAST(n AS DOUBLE) * saa"
                   "          - CAST(sa AS DOUBLE) * sa)"
                   "        * (CAST(n AS DOUBLE) * sbb"
                   "           - CAST(sb AS DOUBLE) * sb))")} AS spearman_rho
    FROM s
    """,
)
def stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs price per returnflag)
    computed EXACTLY with tie midranks: rank both variables over
    their distinct-value groups (doubled midranks stay integers —
    the same trick as ml_roc_auc), join the ranks back by value, and
    run Pearson's formula on the exact integer rank sums. Robust to
    any monotone transformation of either variable — the rank
    answer Pearson (agg_corr_exact) can't give.

    Scale shape: two distinct-value aggregates + prefix windows
    (per-group; swap in the two-level bucketed prefix of ml_roc_auc
    when distinct values are corpus-sized), two value-keyed rank
    joins that share the groupBy's partitioning, one final moment
    aggregate. Exact-integer bound: |Σ(2r)²| < 4n³ — fine through
    ~10⁶ rows per group; past that, center the ranks and/or promote
    the moment sums to DOUBLE with fixed-point quantization (the
    documented escape used by stat_bootstrap_ci)."""
    base = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )

    def midranks(var: str) -> DataFrame:
        g = base.groupBy("l_returnflag", F.col(var).alias("v")).agg(
            F.count("*").cast("long").alias("cnt")
        )
        wp = (
            Window.partitionBy("l_returnflag")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return g.select(
            "l_returnflag",
            "v",
            (
                2 * F.coalesce(F.sum("cnt").over(wp), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )

    rx = midranks("x").select(
        "l_returnflag", F.col("v").alias("x"), F.col("r2").alias("a")
    )
    ry = midranks("y").select(
        "l_returnflag", F.col("v").alias("y"), F.col("r2").alias("b2")
    )
    j = base.join(rx, ["l_returnflag", "x"]).join(ry, ["l_returnflag", "y"])
    s = j.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b2").cast("long").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b2") * F.col("b2")).cast("long").alias("sbb"),
        F.sum(F.col("a") * F.col("b2")).cast("long").alias("sab"),
    )
    return s.select(
        "l_returnflag",
        "n",
        q4(
            (
                F.col("n").cast("double") * F.col("sab")
                - F.col("sa").cast("double") * F.col("sb")
            )
            / F.sqrt(
                (
                    F.col("n").cast("double") * F.col("saa")
                    - F.col("sa").cast("double") * F.col("sa")
                )
                * (
                    F.col("n").cast("double") * F.col("sbb")
                    - F.col("sb").cast("double") * F.col("sb")
                )
            )
        ).alias("spearman_rho"),
    )


# --------------------------------------------- Kendall rank correlation

KT_PRICE_BKT = 5000  # price bucket width (~20 buckets; bounds the grid)


@register(
    "stat_kendall_tau",
    oracle=f"""
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice / {KT_PRICE_BKT}) AS BIGINT) AS y
        FROM lineitem
    ), grid AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY x, y
    ), cd AS (
        SELECT
            CAST(sum(CASE WHEN (g2.x - g1.x) * (g2.y - g1.y) > 0
                 THEN g1.c * g2.c ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN (g2.x - g1.x) * (g2.y - g1.y) < 0
                 THEN g1.c * g2.c ELSE 0 END) AS BIGINT) AS disc
        FROM grid g1 JOIN grid g2
          ON g1.x < g2.x OR (g1.x = g2.x AND g1.y < g2.y)
    ), ties AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c*(c-1)) AS BIGINT) AS tie_xy2
        FROM grid
    ), tx AS (
        SELECT CAST(sum(cx*(cx-1)) AS BIGINT) AS tie_x2
        FROM (SELECT CAST(sum(c) AS BIGINT) AS cx FROM grid GROUP BY x)
    ), ty AS (
        SELECT CAST(sum(cy*(cy-1)) AS BIGINT) AS tie_y2
        FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM grid GROUP BY y)
    )
    SELECT t.n, cd.conc, cd.disc,
           {sql_q4("(CAST(cd.conc AS DOUBLE) - cd.disc)"
                   " / sqrt((CAST(t.n AS DOUBLE)*(t.n-1)/2"
                   "          - CAST(tx.tie_x2 AS DOUBLE)/2)"
                   "        * (CAST(t.n AS DOUBLE)*(t.n-1)/2"
                   "           - CAST(ty.tie_y2 AS DOUBLE)/2))")} AS tau_b
    FROM cd CROSS JOIN ties t CROSS JOIN tx CROSS JOIN ty
    """,
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (quantity vs bucketed price)
    with the full tie correction — the concordance answer robust to
    outliers that Spearman's midranks approximate: tau_b =
    (C − D) / √((n₀−n₁)(n₀−n₂)).

    Scale shape — the bounded-domain discipline of stat_spearman
    taken one step further: rows hash-aggregate onto the (x, y)
    value GRID first, so the quadratic concordant/discordant count
    runs over grid-cell PAIRS (domain², metadata) instead of row
    pairs (n², data) — c₁·c₂ products recover the row-pair counts
    exactly. C, D and all tie terms are exact integers; the one
    double expression is the final tau. At a wider domain, bucket y
    (here: price // 5000) to keep the grid bounded — the estimator
    is then tau over the coarsened variable, stated explicitly
    rather than silently sampled."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") / KT_PRICE_BKT)
        .cast("long")
        .alias("y"),
    )
    grid = base.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    g1 = grid.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("c").alias("c1")
    )
    g2 = grid.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    sgn = (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    cd = (
        g1.join(
            F.broadcast(g2),
            (F.col("x1") < F.col("x2"))
            | ((F.col("x1") == F.col("x2")) & (F.col("y1") < F.col("y2"))),
        )
        .agg(
            F.sum(
                F.when(sgn > 0, F.col("c1") * F.col("c2")).otherwise(0)
            )
            .cast("long")
            .alias("conc"),
            F.sum(
                F.when(sgn < 0, F.col("c1") * F.col("c2")).otherwise(0)
            )
            .cast("long")
            .alias("disc"),
        )
    )
    ties = grid.agg(F.sum("c").cast("long").alias("n"))
    tx = (
        grid.groupBy("x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .agg(F.sum(F.col("cx") * (F.col("cx") - 1)).cast("long").alias("tie_x2"))
    )
    ty = (
        grid.groupBy("y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .agg(F.sum(F.col("cy") * (F.col("cy") - 1)).cast("long").alias("tie_y2"))
    )
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2
    tau = (F.col("conc").cast("double") - F.col("disc")) / F.sqrt(
        (n0 - F.col("tie_x2").cast("double") / 2)
        * (n0 - F.col("tie_y2").cast("double") / 2)
    )
    return (
        cd.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select("n", "conc", "disc", q4(tau).alias("tau_b"))
    )


# ------------------------------------------------- one-way ANOVA

ANOVA_F_CRIT = "2.372"  # F(4, inf) upper 5% — fixture has 5 groups


@register(
    "stat_anova_oneway",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sx,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)
                        * CAST(floor(value*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sxx
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(sx) AS BIGINT) AS sx_all,
               CAST(sum(sxx) AS BIGINT) AS sxx_all,
               CAST(sum(CAST(floor(CAST(sx AS DOUBLE) * sx / n
                        * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS gsq_q
        FROM s
    )
    SELECT k, n_all,
           {sql_q4("(CAST(gsq_q AS DOUBLE)/1000000 - CAST(sx_all AS DOUBLE)*sx_all/n_all)"
                   " / (k - 1) / ((sxx_all - CAST(gsq_q AS DOUBLE)/1000000) / (n_all - k))")}
               AS f_stat,
           {sql_q4("(CAST(gsq_q AS DOUBLE)/1000000 - CAST(sx_all AS DOUBLE)*sx_all/n_all)"
                   " / (sxx_all - CAST(sx_all AS DOUBLE)*sx_all/n_all)")}
               AS eta_sq,
           (CAST(gsq_q AS DOUBLE)/1000000 - CAST(sx_all AS DOUBLE)*sx_all/n_all) / (k - 1)
             / ((sxx_all - CAST(gsq_q AS DOUBLE)/1000000) / (n_all - k)) > {ANOVA_F_CRIT}
               AS significant
    FROM tot
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event-type groups on the value column:
    F = between-group mean square / within-group mean square, with
    effect size η² and a 5% significance flag — the k-group
    generalization of stat_welch_ttest.

    Scale shape: per-group (n, Σx, Σx²) in ONE hash aggregate over
    integer cents (mergeable, map-side combined), then the whole
    decomposition (SSB = Σgᵢ²/nᵢ − G²/N, SSW = Σx² − Σgᵢ²/nᵢ) from
    k metadata rows. The Σ(gᵢ²/nᵢ) between-group term is
    fixed-point-quantized per group (1e-6) before summing, so even
    that sum is an exact order-free integer on both engines."""
    e = table(spark, sf_dir, "events")
    xc = cents(F.col("value"))
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xc).cast("long").alias("sx"),
        F.sum(xc * xc).cast("long").alias("sxx"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum("sx").cast("long").alias("sx_all"),
        F.sum("sxx").cast("long").alias("sxx_all"),
        F.sum(
            F.floor(
                F.col("sx").cast("double") * F.col("sx") / F.col("n")
                * 1_000_000
                + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("gsq_q"),
    )
    sum_gsq = F.col("gsq_q").cast("double") / 1_000_000
    ssb = sum_gsq - F.col("sx_all").cast("double") * F.col(
        "sx_all"
    ) / F.col("n_all")
    ssw = F.col("sxx_all") - sum_gsq
    sst = F.col("sxx_all") - F.col("sx_all").cast("double") * F.col(
        "sx_all"
    ) / F.col("n_all")
    f_stat = ssb / (F.col("k") - 1) / (ssw / (F.col("n_all") - F.col("k")))
    return tot.select(
        "k",
        "n_all",
        q4(f_stat).alias("f_stat"),
        q4(ssb / sst).alias("eta_sq"),
        (f_stat > float(ANOVA_F_CRIT)).alias("significant"),
    )


# ------------------------------------------- equivalence test (TOST)

TOST_G1 = "click"
TOST_G2 = "view"
TOST_DELTA_CENTS = 500  # equivalence margin: 5.00 in value units
TOST_Z = "1.6449"  # one-sided z at alpha = 0.05


@register(
    "stat_tost_equivalence",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sx,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)
                        * CAST(floor(value*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sxx
        FROM events WHERE event_type IN ('{TOST_G1}', '{TOST_G2}')
        GROUP BY event_type
    ), wide AS (
        SELECT
            max(CASE WHEN event_type = '{TOST_G1}' THEN n END) AS n1,
            max(CASE WHEN event_type = '{TOST_G1}' THEN sx END) AS sx1,
            max(CASE WHEN event_type = '{TOST_G1}' THEN sxx END) AS sxx1,
            max(CASE WHEN event_type = '{TOST_G2}' THEN n END) AS n2,
            max(CASE WHEN event_type = '{TOST_G2}' THEN sx END) AS sx2,
            max(CASE WHEN event_type = '{TOST_G2}' THEN sxx END) AS sxx2
        FROM s
    ), calc AS (
        SELECT n1, n2,
               CAST(sx1 AS DOUBLE)/n1 - CAST(sx2 AS DOUBLE)/n2 AS d,
               sqrt((CAST(sxx1 AS DOUBLE)/n1
                     - (CAST(sx1 AS DOUBLE)/n1)*(CAST(sx1 AS DOUBLE)/n1))
                    / n1
                    + (CAST(sxx2 AS DOUBLE)/n2
                       - (CAST(sx2 AS DOUBLE)/n2)*(CAST(sx2 AS DOUBLE)/n2))
                      / n2) AS se
        FROM wide
    )
    SELECT n1, n2, {sql_q4("d / 100.0")} AS mean_diff,
           {sql_q4("(d + {TOST_DELTA_CENTS}) / se")} AS t_lower,
           {sql_q4("(d - {TOST_DELTA_CENTS}) / se")} AS t_upper,
           (d + {TOST_DELTA_CENTS}) / se > {TOST_Z}
             AND (d - {TOST_DELTA_CENTS}) / se < -{TOST_Z} AS equivalent
    FROM calc
    """.replace("{TOST_DELTA_CENTS}", str(TOST_DELTA_CENTS)),
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two one-sided tests (TOST) for EQUIVALENCE of the click and
    view value means within ±5.00 — the non-inferiority answer a
    plain t-test cannot give (failing to reject ≠ equivalent):
    declare equivalence iff the difference is significantly above
    −δ AND significantly below +δ at one-sided α=0.05.

    Same sufficient-statistics skeleton as stat_welch_ttest (one
    integer-cents rollup, conditional-pivot to one row, closed-form
    doubles at the end); the margin enters as an integer cents
    constant so both engines' test statistics agree bitwise."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(TOST_G1, TOST_G2)
    )
    xc = cents(F.col("value"))
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xc).cast("long").alias("sx"),
        F.sum(xc * xc).cast("long").alias("sxx"),
    )
    pick = lambda g, c: F.max(  # noqa: E731
        F.when(F.col("event_type") == g, F.col(c))
    )
    wide = s.agg(
        pick(TOST_G1, "n").alias("n1"),
        pick(TOST_G1, "sx").alias("sx1"),
        pick(TOST_G1, "sxx").alias("sxx1"),
        pick(TOST_G2, "n").alias("n2"),
        pick(TOST_G2, "sx").alias("sx2"),
        pick(TOST_G2, "sxx").alias("sxx2"),
    )
    m1 = F.col("sx1").cast("double") / F.col("n1")
    m2 = F.col("sx2").cast("double") / F.col("n2")
    var1 = F.col("sxx1").cast("double") / F.col("n1") - m1 * m1
    var2 = F.col("sxx2").cast("double") / F.col("n2") - m2 * m2
    d = m1 - m2
    se = F.sqrt(var1 / F.col("n1") + var2 / F.col("n2"))
    t_lo = (d + TOST_DELTA_CENTS) / se
    t_hi = (d - TOST_DELTA_CENTS) / se
    z = float(TOST_Z)
    return wide.select(
        "n1",
        "n2",
        q4(d / 100.0).alias("mean_diff"),
        q4(t_lo).alias("t_lower"),
        q4(t_hi).alias("t_upper"),
        ((t_lo > z) & (t_hi < -z)).alias("equivalent"),
    )


# ------------------------------------------------- Levene's test

LEV_Q = 100  # fixed-point quantum for |x - group mean| (1e-2 cents)
LEV_F_CRIT = "2.372"  # F(4, inf) upper 5% (5 fixture groups)


@register(
    "stat_levene",
    oracle=f"""
    WITH x AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS xc
        FROM events
    ), gm AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xc) AS BIGINT) AS sx
        FROM x GROUP BY event_type
    ), dev AS (
        SELECT x.event_type,
               CAST(floor(abs(CAST(x.xc AS DOUBLE)
                    - CAST(g.sx AS DOUBLE) / g.n) * {LEV_Q} + 0.5)
                    AS BIGINT) AS z
        FROM x JOIN gm g ON g.event_type = x.event_type
    ), s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(z*z) AS BIGINT) AS szz
        FROM dev GROUP BY event_type
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(sz) AS BIGINT) AS sz_all,
               CAST(sum(szz) AS BIGINT) AS szz_all,
               CAST(sum(CAST(floor(CAST(sz AS DOUBLE) * sz / n + 0.5)
                    AS BIGINT)) AS BIGINT) AS gsq
        FROM s
    )
    SELECT k, n_all,
           floor(((CAST(gsq AS DOUBLE) - CAST(sz_all AS DOUBLE)*CAST(sz_all AS DOUBLE)/n_all) / (k - 1) / ((CAST(szz_all AS DOUBLE) - CAST(gsq AS DOUBLE)) / (n_all - k))) * 10000 + 0.5) / 10000.0 AS w_stat,
           ((CAST(gsq AS DOUBLE) - CAST(sz_all AS DOUBLE)*CAST(sz_all AS DOUBLE)/n_all) / (k - 1) / ((CAST(szz_all AS DOUBLE) - CAST(gsq AS DOUBLE)) / (n_all - k))) > 2.372 AS heteroscedastic
    FROM tot
    """,
)
def stat_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test for variance homogeneity across event-type
    groups — the gate you check BEFORE trusting pooled-variance
    tests like stat_anova_oneway: run the ANOVA F machinery on the
    absolute deviations z = |x − group mean| instead of x itself
    (Levene 1960, public).

    Hash-parity discipline: the deviations are per-row doubles
    (they subtract a mean), so each is fixed-point quantized at
    birth — quantum 1e-2 cents, chosen so every downstream moment
    (z² ≤ 2e13 per row, Σ over the fixture ≤ 1e18) stays inside
    exact BIGINT on both engines; the one remaining double
    (Σsz²/n per group) is the SAME IEEE expression in both engines,
    so its floor agrees bitwise. W is one closed-form double."""
    e = table(spark, sf_dir, "events")
    x = e.select("event_type", cents(F.col("value")).alias("xc"))
    gm = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("long").alias("sx"),
    )
    dev = x.join(F.broadcast(gm), "event_type").select(
        "event_type",
        F.floor(
            F.abs(
                F.col("xc").cast("double")
                - F.col("sx").cast("double") / F.col("n")
            )
            * LEV_Q
            + 0.5
        )
        .cast("long")
        .alias("z"),
    )
    s = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum("sz").cast("long").alias("sz_all"),
        F.sum("szz").cast("long").alias("szz_all"),
        F.sum(
            F.floor(
                F.col("sz").cast("double") * F.col("sz") / F.col("n") + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("gsq"),
    )
    gsq = F.col("gsq").cast("double")
    ssb = gsq - F.col("sz_all").cast("double") * F.col("sz_all").cast(
        "double"
    ) / F.col("n_all")
    ssw = F.col("szz_all").cast("double") - gsq
    w_stat = (
        ssb / (F.col("k") - 1) / (ssw / (F.col("n_all") - F.col("k")))
    )
    return tot.select(
        "k",
        "n_all",
        q4(w_stat).alias("w_stat"),
        (w_stat > float(LEV_F_CRIT)).alias("heteroscedastic"),
    )


# ------------------------------------------- Granger causality

GRANGER_X = "click"
GRANGER_Y = "purchase"
GRANGER_F_CRIT = "4.225"
# shared-text closed-form F statistic (identical IEEE order in both
# engines — the stat_linreg_multi discipline)
_GC_FSTAT = "(((syy - sy*sy/n - (s1y - s1*sy/n)*(s1y - s1*sy/n) / nullif(s11 - s1*s1/n, 0.0)) - (syy - ((sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)))*sy - ((n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)))*s1y - ((n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)))*s2y)) / ((syy - ((sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)))*sy - ((n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)))*s1y - ((n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)))*s2y) / (n - 3)))"

_GC_ORACLE = """
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count_if(event_type = '__GX__') AS BIGINT) AS x,
               CAST(count_if(event_type = '__GY__') AS BIGINT) AS y
        FROM events GROUP BY 1
    ), lagged AS (
        SELECT a.y AS yt, b.y AS ylag, b.x AS xlag
        FROM daily a JOIN daily b ON b.d = a.d - 1
    ), m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(ylag) AS DOUBLE) AS s1,
               CAST(sum(xlag) AS DOUBLE) AS s2,
               CAST(sum(ylag*ylag) AS DOUBLE) AS s11,
               CAST(sum(xlag*xlag) AS DOUBLE) AS s22,
               CAST(sum(ylag*xlag) AS DOUBLE) AS s12,
               CAST(sum(yt) AS DOUBLE) AS sy,
               CAST(sum(ylag*yt) AS DOUBLE) AS s1y,
               CAST(sum(xlag*yt) AS DOUBLE) AS s2y,
               CAST(sum(yt*yt) AS DOUBLE) AS syy
        FROM lagged
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor((__FS__) * 1e4 + 0.5) / 1e4 AS f_stat,
           (__FS__) > __CRIT__ AS x_granger_causes_y
    FROM m
""".replace("__GX__", GRANGER_X).replace("__GY__", GRANGER_Y).replace(
    "__FS__", _GC_FSTAT
).replace("__CRIT__", GRANGER_F_CRIT)


@register("stat_granger_causality", oracle=_GC_ORACLE)
def stat_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag-1): does yesterday's click volume
    improve today's purchase-volume prediction beyond yesterday's
    purchases alone? F-test of the nested OLS models
    y_t ~ y_t-1 vs y_t ~ y_t-1 + x_t-1, both solved in closed form
    from ten integer moment sums over the lag-joined daily grid
    (Granger 1969, public) — the first-pass screen behind every
    'does metric A lead metric B' dashboard question.

    Engine parity by construction: the F statistic is ONE shared
    expression string evaluated by both engines over identical
    integer sums (Cramer's rule for the full model, centered forms
    for the restricted one); daily counts are exact, the lag join is
    a 1-row-offset self-join on the bounded day grid."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count_if(F.col("event_type") == GRANGER_X)
        .cast("long")
        .alias("x"),
        F.count_if(F.col("event_type") == GRANGER_Y)
        .cast("long")
        .alias("y"),
    )
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("yt"))
    b = daily.select(
        F.col("d").alias("db"),
        F.col("y").alias("ylag"),
        F.col("x").alias("xlag"),
    )
    lagged = a.join(b, F.col("db") == F.col("da") - 1)
    m = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("ylag").cast("double").alias("s1"),
        F.sum("xlag").cast("double").alias("s2"),
        F.sum(F.col("ylag") * F.col("ylag")).cast("double").alias("s11"),
        F.sum(F.col("xlag") * F.col("xlag")).cast("double").alias("s22"),
        F.sum(F.col("ylag") * F.col("xlag")).cast("double").alias("s12"),
        F.sum("yt").cast("double").alias("sy"),
        F.sum(F.col("ylag") * F.col("yt")).cast("double").alias("s1y"),
        F.sum(F.col("xlag") * F.col("yt")).cast("double").alias("s2y"),
        F.sum(F.col("yt") * F.col("yt")).cast("double").alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.expr(
            "floor((" + _GC_FSTAT + ") * 1e4 + 0.5) / 1e4"
        ).alias("f_stat"),
        F.expr("(" + _GC_FSTAT + ") > " + GRANGER_F_CRIT).alias(
            "x_granger_causes_y"
        ),
    )


# ------------------------------------------------- Mann-Kendall trend


@register(
    "stat_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b ON b.d > a.d
    ), s AS (
        SELECT CAST(sum(sgn) AS BIGINT) AS s_stat FROM pairs
    ), ties AS (
        SELECT CAST(sum(c*(c-1)*(2*c+5)) AS BIGINT) AS tie_term,
               CAST(sum(c) AS BIGINT) AS n
        FROM (SELECT CAST(count(*) AS BIGINT) AS c
              FROM daily GROUP BY y)
    )
    SELECT t.n, s.s_stat,
           floor((CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                       WHEN s.s_stat < 0 THEN s.s_stat + 1
                       ELSE 0 END
                  / sqrt((CAST(t.n AS DOUBLE)*(t.n-1)*(2*t.n+5)
                          - t.tie_term) / 18e0))
                 * 1e4 + 0.5) / 1e4 AS z,
           abs(CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                    WHEN s.s_stat < 0 THEN s.s_stat + 1
                    ELSE 0 END
               / sqrt((CAST(t.n AS DOUBLE)*(t.n-1)*(2*t.n+5)
                       - t.tie_term) / 18e0)) > 1.96 AS trending
    FROM s CROSS JOIN ties t
    """,
)
def stat_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-volume series:
    S = Σ sign(y_j − y_i) over ordered day pairs, tie-corrected
    variance, continuity-corrected z — the nonparametric trend
    detector (monotone trend of ANY shape, no linearity assumption)
    used wherever Theil-Sen estimates the slope; the two are the
    standard pair (Mann 1945 / Kendall, public).

    Scale shape: the pair sum runs over the bounded DAY GRID
    (domain², metadata — the stat_kendall_tau discipline), S and the
    tie terms are exact integers, one final double z."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    sgn = (
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
    )
    s = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            )
            .cast("long")
            .alias("tie_term"),
            F.sum("c").cast("long").alias("n"),
        )
    )
    sc = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    var = (
        F.col("n").cast("double")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / 18.0
    z = sc / F.sqrt(var)
    return s.crossJoin(F.broadcast(ties)).select(
        "n",
        "s_stat",
        (F.floor(z * 1e4 + 0.5) / 1e4).alias("z"),
        (F.abs(z) > 1.96).alias("trending"),
    )


# ------------------------------------------------- runs test


@register(
    "stat_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), med AS (
        SELECT quantile_disc(y, 0.5) AS m FROM daily
    ), signs AS (
        SELECT d, CASE WHEN y > m THEN 1 ELSE 0 END AS above
        FROM daily CROSS JOIN med
        WHERE y <> m
    ), flips AS (
        SELECT above,
               CASE WHEN lag(above) OVER (ORDER BY d) IS NULL
                     OR lag(above) OVER (ORDER BY d) <> above
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ), agg AS (
        SELECT CAST(sum(new_run) AS BIGINT) AS runs,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(above) AS BIGINT) AS n_above
        FROM flips
    )
    SELECT runs, n, n_above,
           floor(((runs - (2e0*n_above*(n-n_above)/n + 1))
                  / sqrt(2e0*n_above*(n-n_above)
                         * (2e0*n_above*(n-n_above) - n)
                         / (CAST(n AS DOUBLE)*n*(n-1))))
                 * 1e4 + 0.5) / 1e4 AS z
    FROM agg
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily series
    around its median: count maximal runs of above/below-median
    days, compare to the expected run count under exchangeability —
    too FEW runs means clustering/trend, too many means
    oscillation; the cheap sanity check before any i.i.d.-assuming
    test (Wald & Wolfowitz 1940, public). Median-equal days drop
    (the standard dichotomization).

    Scale shape: the run count is a lag() flip sum over the bounded
    day grid (single ordered pass on metadata); counts are exact
    integers and z is one closed-form double."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    med = daily.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY y)"
        ).alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("y") != F.col("m"))
        .select(
            "d", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("above")
        )
    )
    w = Window.orderBy("d")
    flips = signs.select(
        "above",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.lag("above").over(w) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flips.agg(
        F.sum("new_run").cast("long").alias("runs"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("above").cast("long").alias("n_above"),
    )
    nd = F.col("n").cast("double")
    na = F.col("n_above").cast("double")
    nb = nd - na
    mu = 2 * na * nb / nd + 1
    var = 2 * na * nb * (2 * na * nb - nd) / (nd * nd * (nd - 1))
    z = (F.col("runs") - mu) / F.sqrt(var)
    return agg.select(
        "runs",
        "n",
        "n_above",
        (F.floor(z * 1e4 + 0.5) / 1e4).alias("z"),
    )


# ------------------------------------------------- Kruskal-Wallis

KW_CHI2_CRIT = "9.488"  # chi-square upper 5%, df = k-1 = 4


@register(
    "stat_kruskal_wallis",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events
    ), grid AS (
        SELECT v_cents, CAST(count(*) AS BIGINT) AS t
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, t,
               COALESCE(sum(t) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS before
        FROM grid
    ), per_group AS (
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(2*c.before + c.t + 1) AS BIGINT) AS r2_sum
        FROM ev e JOIN cum c ON c.v_cents = e.v_cents
        GROUP BY e.event_type
    ), ties AS (
        SELECT CAST(sum(CAST(t AS HUGEINT)*t*t - t) AS HUGEINT) AS tie3,
               CAST(sum(t) AS BIGINT) AS n
        FROM grid
    )
    SELECT t.n,
           CAST(count(*) AS BIGINT) AS k,
           floor(((12e0 / (CAST(t.n AS DOUBLE) * (t.n + 1))
                   * sum((CAST(p.r2_sum AS DOUBLE)/2)
                         * (CAST(p.r2_sum AS DOUBLE)/2) / p.n_g)
                   - 3e0 * (t.n + 1))
                  / (1e0 - CAST(t.tie3 AS DOUBLE)
                     / (CAST(t.n AS DOUBLE)*t.n*t.n - t.n)))
                 * 1e4 + 0.5) / 1e4 AS h_stat,
           ((12e0 / (CAST(t.n AS DOUBLE) * (t.n + 1))
             * sum((CAST(p.r2_sum AS DOUBLE)/2)
                   * (CAST(p.r2_sum AS DOUBLE)/2) / p.n_g)
             - 3e0 * (t.n + 1))
            / (1e0 - CAST(t.tie3 AS DOUBLE)
               / (CAST(t.n AS DOUBLE)*t.n*t.n - t.n)))
               > {KW_CHI2_CRIT} AS significant
    FROM per_group p CROSS JOIN ties t
    GROUP BY t.n, t.tie3
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test across ALL k event types — the
    k-group generalization of stat_mann_whitney (and the rank-based
    sibling of stat_anova_oneway), tie-corrected: H over midrank
    sums divided by 1 − Σ(t³−t)/(N³−N).

    Scale shape — the bounded-value-DOMAIN discipline once more:
    ranks derive from the cents grid's exclusive prefix counts
    (doubled midranks stay integer: 2·before + t + 1), so the rank
    join is value-keyed against grid metadata and every accumulator
    is an exact integer until the single closed-form H. The prefix
    counts run through ``global_ordered``'s bucketed machine (like
    stat_ks_test/stat_mann_whitney) — no unpartitioned window over
    the cents grid on the Spark side."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "event_type", cents(F.col("value")).alias("v_cents")
    )
    grid = ev.groupBy("v_cents").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    ).localCheckpoint(eager=False)
    cum = global_ordered(
        grid,
        [F.col("v_cents")],
        bucket_key="v_cents",
        sums={"t": "cum_t"},
        rank_col=None,
    ).select(
        "v_cents", "t", (F.col("cum_t") - F.col("t")).alias("before")
    ).localCheckpoint(eager=False)
    per_group = (
        ev.join(cum, "v_cents")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(2 * F.col("before") + F.col("t") + 1)
            .cast("long")
            .alias("r2_sum"),
        )
    )
    dec = "decimal(38,0)"
    ties = grid.agg(
        F.sum(
            F.col("t").cast(dec) * F.col("t").cast(dec) * F.col("t").cast(dec)
            - F.col("t").cast(dec)
        ).alias("tie3"),
        F.sum("t").cast("long").alias("n"),
    )
    nd = F.col("n").cast("double")
    h_raw = (
        12.0
        / (nd * (F.col("n") + 1))
        * F.sum(
            (F.col("r2_sum").cast("double") / 2)
            * (F.col("r2_sum").cast("double") / 2)
            / F.col("n_g")
        )
        - 3.0 * (F.col("n") + 1)
    )
    h = h_raw / (
        1.0 - F.col("tie3").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))
    )
    return (
        per_group.crossJoin(F.broadcast(ties))
        .groupBy("n", "tie3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            h.alias("_h"),
        )
        .select(
            "n",
            "k",
            (F.floor(F.col("_h") * 1e4 + 0.5) / 1e4).alias("h_stat"),
            (F.col("_h") > float(KW_CHI2_CRIT)).alias("significant"),
        )
    )


# ------------------------------- distribution distances (r7 wave)

@register(
    "stat_wasserstein_1d",
    bench=True,  # the ECDF-grid prefix-machine representative: the
    # last plan family with no frozen number (VERDICT r7 item 8) —
    # hash-agg to the bounded cents grid, ONE bucketed prefix pass
    # (cum counts, totals and next grid value), one final aggregate.
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents,
               sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
               lead(v_cents) OVER (ORDER BY v_cents) AS v_next
        FROM grid
        WINDOW w AS (ORDER BY v_cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), num AS (
        SELECT CAST(sum(abs(cum1*n2 - cum2*n1) * (v_next - v_cents))
               AS BIGINT) AS w1_num
        FROM cum CROSS JOIN totals WHERE v_next IS NOT NULL
    )
    SELECT n1, n2,
           {sql_q4("CAST(w1_num AS DOUBLE) / n1 / n2 / 100.0")} AS w1_dist
    FROM num CROSS JOIN totals
    """,
)
def stat_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between the 'click' and
    'purchase' value distributions — the drift metric that, unlike
    KS, weighs HOW FAR mass moved, not just the worst ECDF gap:
    W1 = ∫|ECDF1 − ECDF2| dv, discretized over the cents grid as
    Σ |cum1·n2 − cum2·n1| · gap / (n1·n2) with gap = next grid point
    minus this one (the last grid point contributes nothing: both
    ECDFs are 1 there).

    Scale shape: hash-aggregate to the bounded cents grid FIRST, then
    ONE bucketed-prefix pass (``_ks_ecdf`` → ``prefix.two_sample_ecdf``)
    yields the cumulative counts, the totals and the next grid value
    (a ``lead`` inside each ``_pid`` bucket, the next bucket's minimum
    at its edge — no rank+1 self-join and never a lead() over an
    unpartitioned window); the sum is one aggregate over that frame,
    and nothing is persisted.  The summand is an exact BIGINT
    (|cum1·n2 − cum2·n1| ≤ n1·n2, times the cents gap; the total is
    bounded by n1·n2·span — within int64 through ~1e9×1e9-row
    groups × 10^7-cent spans split across, which a 100 TB run stays
    under because the grid aggregate has already collapsed the rows),
    so the sum is order-free and the only double is the final
    division."""
    # the last grid point's v_next is NULL, so sum() skips its summand
    num = _ks_ecdf(spark, sf_dir).agg(
        F.expr("max(n1) AS n1"),
        F.expr("max(n2) AS n2"),
        F.expr(
            "CAST(sum(abs(cum1 * n2 - cum2 * n1)"
            " * (v_next - v_cents)) AS BIGINT) AS w1_num"
        ),
    )
    return num.select(
        "n1",
        "n2",
        q4(
            F.col("w1_num").cast("double")
            / F.col("n1")
            / F.col("n2")
            / F.lit(100.0)
        ).alias("w1_dist"),
    )


# Cramér–von Mises: per-gridpoint squared ECDF gap, fixed-point
# quantized at 1e9 so the cross-engine sum is an exact integer (the
# double square is evaluated from the same expression text on both
# sides; rank of the quantization: (n1+n2)·1e9 stays within int64
# through ~10^9 pooled observations — beyond that, re-scale).
_CVM_Q = 1_000_000_000


@register(
    "stat_cvm_test",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, c1, c2,
               sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2
        FROM grid
        WINDOW w AS (ORDER BY v_cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), terms AS (
        SELECT CAST(sum((c1 + c2) * CAST(floor(
                   pow(CAST(cum1 AS DOUBLE)/n1 - CAST(cum2 AS DOUBLE)/n2, 2)
                   * {_CVM_Q} + 0.5) AS BIGINT)) AS BIGINT) AS tq
        FROM cum CROSS JOIN totals
    )
    SELECT n1, n2,
           {sql_q4(
               f"CAST(tq AS DOUBLE) / {_CVM_Q}"
               " * n1 * n2 / ((n1 + n2) * (n1 + n2)) "
           )} AS cvm_t
    FROM terms CROSS JOIN totals
    """,
)
def stat_cvm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic between the 'click' and
    'purchase' value distributions: T = n1·n2/(n1+n2)² ·
    Σ_pooled (ECDF1 − ECDF2)² — KS's max replaced by the integrated
    squared gap, so T sees cumulative small divergences KS ignores.

    Scale shape: identical to stat_ks_test — one aggregate over the
    shared ``_ks_ecdf`` frame (bounded cents grid, cumulative counts
    and totals from one bucketed prefix pass).  Each grid point's
    squared gap is fixed-point quantized (×1e9, floor) BEFORE the
    weighted sum, so the aggregate is an exact integer on both
    engines (a raw double sum would be exchange-order-dependent);
    the squared gap itself is computed from the same expression text
    on both sides."""
    gap = (
        F.col("cum1").cast("double") / F.col("n1")
        - F.col("cum2").cast("double") / F.col("n2")
    )
    terms = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            (F.col("c1") + F.col("c2"))
            * F.floor(F.pow(gap, 2) * _CVM_Q + 0.5).cast("long")
        )
        .cast("long")
        .alias("tq"),
    )
    return terms.select(
        "n1",
        "n2",
        q4(
            F.col("tq").cast("double")
            / F.lit(_CVM_Q)
            * F.col("n1")
            * F.col("n2")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2")))
        ).alias("cvm_t"),
    )


# Per-cell chi-square contribution, fixed-point quantized at 1e6 so
# the cross-cell sum is an exact integer; the cell count is bounded
# by |event_type| x 7 weekdays, so the fold is metadata-sized.
_CRV_Q = 1_000_000


@register(
    "stat_cramers_v",
    oracle=f"""
    WITH base AS (
        SELECT event_type AS r, CAST(isodow(ts) - 1 AS BIGINT) AS c
        FROM events
    ), cells AS (
        SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM base GROUP BY r, c
    ), rt AS (
        SELECT r, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY r
    ), ct AS (
        SELECT c, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY c
    ), tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS nr,
               CAST(count(DISTINCT c) AS BIGINT) AS nc
        FROM cells
    ), terms AS (
        SELECT CAST(sum(CAST(floor(
                   pow(CAST(o*n - rn*cn AS DOUBLE), 2)
                   / (CAST(n AS DOUBLE) * rn * cn) * {_CRV_Q} + 0.5)
               AS BIGINT)) AS BIGINT) AS chi_q
        FROM cells
        JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
    )
    SELECT n, nr, nc,
           {sql_q4(f"CAST(chi_q AS DOUBLE) / {_CRV_Q}")} AS chi2,
           {sql_q4(
               f"sqrt(CAST(chi_q AS DOUBLE) / {_CRV_Q}"
               " / (n * (least(nr, nc) - 1)))"
           )} AS cramers_v
    FROM terms CROSS JOIN tot
    """,
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and weekday — the
    normalized chi-square [0, 1] effect size for two categoricals
    (is activity mix day-of-week dependent, and by how much).

    Scale shape: ONE hash aggregate to the |types|×7 contingency
    cells (map-side combined); row totals, column totals, and the
    grand total all derive from the cell table (metadata-sized) and
    join back broadcast.  The per-cell chi-square contribution
    (o·n − r·c)²/(n·r·c) is computed from identical expression text
    on both engines and fixed-point quantized before the cell sum,
    so the statistic is an exact integer fold; o·n − r·c stays
    within int64 (and is exactly representable as a double) for any
    n the cell aggregate can produce."""
    e = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("r"),
        F.expr("CAST(weekday(ts) AS BIGINT)").alias("c"),
    )
    cells = e.groupBy("r", "c").agg(F.count(F.lit(1)).cast("long").alias("o")).localCheckpoint(eager=False)
    rt = cells.groupBy("r").agg(F.sum("o").cast("long").alias("rn"))
    ct = cells.groupBy("c").agg(F.sum("o").cast("long").alias("cn"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("r").cast("long").alias("nr"),
        F.count_distinct("c").cast("long").alias("nc"),
    )
    cell_q = F.floor(
        F.pow((F.col("o") * F.col("n") - F.col("rn") * F.col("cn")).cast("double"), 2)
        / (F.col("n").cast("double") * F.col("rn") * F.col("cn"))
        * _CRV_Q
        + 0.5
    ).cast("long")
    terms = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(cell_q).cast("long").alias("chi_q"))
    )
    chi2 = F.col("chi_q").cast("double") / F.lit(_CRV_Q)
    return terms.crossJoin(F.broadcast(tot)).select(
        "n",
        "nr",
        "nc",
        q4(chi2).alias("chi2"),
        q4(
            F.sqrt(chi2 / (F.col("n") * (F.least("nr", "nc") - 1)))
        ).alias("cramers_v"),
    )


@register(
    "stat_cohens_d",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), s AS (
        SELECT
            CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS n1,
            CAST(sum(CASE WHEN event_type = '{KS_G1}' THEN v ELSE 0 END)
                 AS BIGINT) AS s1,
            CAST(sum(CASE WHEN event_type = '{KS_G1}' THEN v*v ELSE 0 END)
                 AS BIGINT) AS ss1,
            CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS n2,
            CAST(sum(CASE WHEN event_type = '{KS_G2}' THEN v ELSE 0 END)
                 AS BIGINT) AS s2,
            CAST(sum(CASE WHEN event_type = '{KS_G2}' THEN v*v ELSE 0 END)
                 AS BIGINT) AS ss2
        FROM ev
    ), m AS (
        SELECT n1, n2,
               CAST(s1 AS DOUBLE)/n1 AS m1, CAST(s2 AS DOUBLE)/n2 AS m2,
               (ss1 - CAST(s1 AS DOUBLE)*s1/n1) AS q1,
               (ss2 - CAST(s2 AS DOUBLE)*s2/n2) AS q2
        FROM s
    ), d AS (
        SELECT n1, n2, m1, m2,
               (m1 - m2) / sqrt((q1 + q2) / (n1 + n2 - 2)) AS d_raw
        FROM m
    )
    SELECT n1, n2,
           {sql_q4("m1 / 100.0")} AS mean1,
           {sql_q4("m2 / 100.0")} AS mean2,
           {sql_q4("d_raw")} AS cohens_d,
           {sql_q4("d_raw * (1.0 - 3.0 / (4.0*(n1 + n2) - 9.0))")} AS hedges_g
    FROM d
    """,
)
def stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between the 'click' and 'purchase' value
    distributions (pooled-SD standardized mean difference) plus the
    small-sample Hedges' g correction — the magnitude companion every
    significance test (stat_welch_ttest etc.) should ship with.

    Scale shape: ONE global aggregate of six exact BIGINT sufficient
    statistics (counts, cent sums, squared-cent sums; map-side
    combined), then pure scalar math on the 1-row result.  Both
    engines promote the same integers to double in the same
    expression, so parity is by construction; means are reported in
    currency units (cents/100)."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_G1, KS_G2)
    )
    v = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is1 = F.col("event_type") == KS_G1
    s = e.select(F.col("event_type"), v.alias("v")).agg(
        F.count_if(is1).cast("long").alias("n1"),
        F.sum(F.when(is1, F.col("v")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(is1, F.col("v") * F.col("v")).otherwise(0))
        .cast("long")
        .alias("ss1"),
        F.count_if(~is1).cast("long").alias("n2"),
        F.sum(F.when(~is1, F.col("v")).otherwise(0)).cast("long").alias("s2"),
        F.sum(F.when(~is1, F.col("v") * F.col("v")).otherwise(0))
        .cast("long")
        .alias("ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    q1 = F.col("ss1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    q2 = F.col("ss2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    d_raw = (m1 - m2) / F.sqrt((q1 + q2) / (F.col("n1") + F.col("n2") - 2))
    return s.select(
        "n1",
        "n2",
        q4(m1 / F.lit(100.0)).alias("mean1"),
        q4(m2 / F.lit(100.0)).alias("mean2"),
        q4(d_raw).alias("cohens_d"),
        q4(
            d_raw
            * (
                F.lit(1.0)
                - F.lit(3.0) / (F.lit(4.0) * (F.col("n1") + F.col("n2")) - 9.0)
            )
        ).alias("hedges_g"),
    )


PH_DELTA = "0.05"   # drift magnitude tolerance (currency units)
PH_LAMBDA = "10.0"  # alarm threshold on the PH statistic


@register(
    "stat_page_hinkley",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sc,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), cum AS (
        SELECT d, sc, c,
               sum(sc) OVER w AS cum_sc, sum(c) OVER w AS cum_c
        FROM daily
        WINDOW w AS (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), dev AS (
        SELECT d,
               CAST(sc AS DOUBLE)/100.0/c AS x,
               CAST(cum_sc AS DOUBLE)/100.0/cum_c AS mu,
               CAST(sc AS DOUBLE)/100.0/c
                   - CAST(cum_sc AS DOUBLE)/100.0/cum_c - {PH_DELTA} AS dv
        FROM cum
    ), mt AS (
        SELECT d, x, mu, sum(dv) OVER w AS mt
        FROM dev
        WINDOW w AS (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), m AS (
        SELECT d, x, mu, mt, min(mt) OVER w AS mmin
        FROM mt
        WINDOW w AS (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) / 86400000000 AS BIGINT)
               AS day_n,
           {sql_q4("x")} AS day_mean,
           {sql_q4("mu")} AS running_mean,
           {sql_q4("mt - mmin")} AS ph_stat,
           (mt - mmin) > {PH_LAMBDA} AS alarm
    FROM m
    """,
)
def stat_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley change detection over the daily purchase-mean
    series: m_t = Σ_{{s≤t}} (x_s − x̄_s − δ) with x̄_s the running
    mean, PH_t = m_t − min_{{s≤t}} m_s, alarm when PH_t > λ — the
    classic sequential mean-shift detector (Page 1954, public) that
    streaming drift monitors apply per batch.

    Scale shape: the fact rows hash-aggregate to ONE ROW PER DAY
    first (exact integer cent sums — map-side combined), so every
    window below runs over the calendar-bounded daily series
    (metadata-sized at any SF; see the unpartitioned-window census
    in tests/test_plans.py).  The running mean is a ratio of two
    integer cumsums; the only order-dependent double fold (the
    deviation cumsum) runs over the same ascending-day order on both
    engines, so parity holds."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("sc"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.withColumn("cum_sc", F.sum("sc").over(w)).withColumn(
        "cum_c", F.sum("c").over(w)
    )
    x = F.col("sc").cast("double") / 100.0 / F.col("c")
    mu = F.col("cum_sc").cast("double") / 100.0 / F.col("cum_c")
    dev = cum.select(
        "d",
        x.alias("x"),
        mu.alias("mu"),
        (x - mu - F.lit(float(PH_DELTA))).alias("dv"),
    )
    m = dev.withColumn("mt", F.sum("dv").over(w)).withColumn(
        "mmin", F.min("mt").over(w)
    )
    return m.select(
        F.unix_date(F.col("d")).cast("long").alias("day_n"),
        q4(F.col("x")).alias("day_mean"),
        q4(F.col("mu")).alias("running_mean"),
        q4(F.col("mt") - F.col("mmin")).alias("ph_stat"),
        ((F.col("mt") - F.col("mmin")) > F.lit(float(PH_LAMBDA))).alias("alarm"),
    )


@register(
    "ml_logreg_irls_step",
    oracle=f"""
    WITH base AS (
        SELECT CAST(hour(ts) AS BIGINT) AS x1,
               CAST(isodow(ts) - 1 AS BIGINT) AS x2,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS t
        FROM events
    ), sums AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(count_if(t = 1) AS BIGINT) AS n_pos,
               CAST(sum(x1) AS DOUBLE) AS s1,
               CAST(sum(x2) AS DOUBLE) AS s2,
               CAST(sum(x1*x1) AS DOUBLE) AS s11,
               CAST(sum(x2*x2) AS DOUBLE) AS s22,
               CAST(sum(x1*x2) AS DOUBLE) AS s12,
               CAST(sum(t) AS DOUBLE) AS sy,
               CAST(sum(x1*t) AS DOUBLE) AS s1y,
               CAST(sum(x2*t) AS DOUBLE) AS s2y
        FROM base
    )
    SELECT CAST(n AS BIGINT) AS n, n_pos,
           {sql_q4(f"2.0 * {_LR_D0} / {_LR_DET}")} AS b0,
           {sql_q4(f"2.0 * {_LR_D1} / {_LR_DET}")} AS b1,
           {sql_q4(f"2.0 * {_LR_D2} / {_LR_DET}")} AS b2
    FROM sums
    """,
)
def ml_logreg_irls_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact IRLS (Newton) step for logistic regression of
    "is this a purchase event" on hour-of-day and weekday, from
    β = 0 — the distributed-GLM building block: at β = 0 every
    predicted probability is ½, the IRLS weight matrix is I/4, and
    the step collapses to β₁ = 4·(XᵀX)⁻¹ Xᵀ(y − ½) =
    2·(XᵀX)⁻¹ Xᵀt with t = 2y − 1 ∈ {{−1, +1}}.  A full fit is
    this map-reduce step iterated; one step is already the
    production shape (each iteration = one aggregation pass).

    Scale shape: ONE hash aggregate of ten exact BIGINT sufficient
    statistics (map-side combined — x1 ≤ 23, x2 ≤ 6, t = ±1, so all
    sums are exact), then the same shared-text Cramer's-rule 3×3
    solve ``stat_linreg_multi`` uses (_LR_DET/_LR_D*), evaluated
    identically on both engines.  No gradient loops over the data,
    no feature-matrix materialization."""
    e = table(spark, sf_dir, "events").select(
        F.hour("ts").cast("long").alias("x1"),
        F.expr("CAST(weekday(ts) AS BIGINT)").alias("x2"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(-1).alias("t"),
    )
    sums = e.agg(
        F.count("*").cast("double").alias("n"),
        F.count_if(F.col("t") == 1).cast("long").alias("n_pos"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum("t").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("t")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("t")).cast("double").alias("s2y"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n"),
        "n_pos",
        q4(F.expr(f"2.0 * {_LR_D0} / {_LR_DET}")).alias("b0"),
        q4(F.expr(f"2.0 * {_LR_D1} / {_LR_DET}")).alias("b1"),
        q4(F.expr(f"2.0 * {_LR_D2} / {_LR_DET}")).alias("b2"),
    )


# Anderson–Darling per-gridpoint term, fixed-point quantized at 1e6
# (same discipline as _CVM_Q): the double term is built from exactly
# representable integers via identical expression text on both
# engines, floored once, then summed as exact BIGINTs.
_AD_Q = 1_000_000


@register(
    "stat_anderson_darling",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, c1, c2,
               sum(c1) OVER w AS m1, sum(c1 + c2) OVER w AS b
        FROM grid
        WINDOW w AS (ORDER BY v_cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 + c2) AS BIGINT) AS nn
        FROM grid
    ), terms AS (
        SELECT CAST(sum(CAST(floor(
                   (c1 + c2) * pow(CAST(nn*m1 - n1*b AS DOUBLE), 2)
                   / (CAST(b AS DOUBLE) * (nn - b)) * {_AD_Q} + 0.5)
               AS BIGINT)) AS BIGINT) AS tq
        FROM cum CROSS JOIN totals WHERE b < nn
    )
    SELECT n1, n2,
           {sql_q4(f"CAST(tq AS DOUBLE) / {_AD_Q} / n1 / n2")} AS ad_a2
    FROM terms CROSS JOIN totals
    """,
)
def stat_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson–Darling statistic between the 'click' and
    'purchase' value distributions — the ECDF-test-trio completion
    (KS = worst gap, CvM = integrated square, AD = integrated square
    weighted by 1/(H(1−H)), so TAIL differences count): the
    tie-aware discrete form of Scholz & Stephens (1987, public),
    A² = (1/(n1·n2)) Σ_j w_j·(N·M1j − n1·Bj)² / (Bj·(N−Bj)) over
    distinct pooled values (the Bj = N term is excluded; its
    numerator is identically zero).

    Scale shape: the stat_ks_test template — one aggregate over the
    shared ``_ks_ecdf`` frame (M1j = cum1, Bj = cum1 + cum2); the
    per-gridpoint term is fixed-point quantized before
    the fold so the sum is an exact integer, and N·M1j − n1·Bj is an
    exact BIGINT promoted once to double."""
    m1, b = F.col("cum1"), F.col("cum1") + F.col("cum2")
    nn = F.col("n1") + F.col("n2")
    num = (nn * m1 - F.col("n1") * b).cast("double")
    term = F.floor(
        (F.col("c1") + F.col("c2"))
        * F.pow(num, 2)
        / (b.cast("double") * (nn - b))
        * _AD_Q
        + 0.5
    ).cast("long")
    # the B = N point is excluded (its numerator is identically zero)
    terms = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.when(b < nn, term)).cast("long").alias("tq"),
    )
    return terms.select(
        "n1",
        "n2",
        q4(
            F.col("tq").cast("double") / F.lit(_AD_Q) / F.col("n1") / F.col("n2")
        ).alias("ad_a2"),
    )


# Abramowitz & Stegun 26.2.17 normal upper-tail approximation
# (|error| < 7.5e-8), written ONCE as text over the columns az = |z|
# and tt = 1/(1 + 0.2316419·az) so both engines evaluate the
# identical IEEE expression tree.
_PHI_TAIL = (
    "(exp(-az*az/2.0) / 2.5066282746310002"
    " * ((((1.330274429*tt - 1.821255978)*tt + 1.781477937)*tt"
    " - 0.356563782)*tt + 0.319381530)*tt)"
)
BH_ALPHA = "0.05"


@register(
    "stat_benjamini_hochberg",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CASE WHEN isodow(ts) - 1 IN (5, 6) THEN 1 ELSE 0 END AS we,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events
    ), s AS (
        SELECT event_type,
               CAST(count_if(we = 1) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN we = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN we = 1 THEN v*v ELSE 0 END) AS BIGINT)
                   AS ss1,
               CAST(count_if(we = 0) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN we = 0 THEN v ELSE 0 END) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN we = 0 THEN v*v ELSE 0 END) AS BIGINT)
                   AS ss2
        FROM ev GROUP BY event_type
    ), z AS (
        SELECT event_type, n1, n2,
               (CAST(s1 AS DOUBLE)/n1 - CAST(s2 AS DOUBLE)/n2)
               / sqrt((ss1 - CAST(s1 AS DOUBLE)*s1/n1)/(n1 - 1)/n1
                    + (ss2 - CAST(s2 AS DOUBLE)*s2/n2)/(n2 - 1)/n2) AS zv
        FROM s
    ), p AS (
        SELECT event_type, n1, n2, zv, az, tt,
               2.0 * {_PHI_TAIL} AS pv
        FROM (SELECT *, abs(zv) AS az, 1.0/(1.0 + 0.2316419*abs(zv)) AS tt
              FROM z)
    ), ranked AS (
        SELECT event_type, n1, n2, zv, pv,
               row_number() OVER (ORDER BY pv, event_type) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM p
    ), kstar AS (
        SELECT coalesce(max(CASE WHEN pv <= {BH_ALPHA} * rk / m
                                 THEN rk END), 0) AS k
        FROM ranked
    )
    SELECT event_type, n1, n2,
           {sql_q4("zv")} AS z,
           {sql_q4("pv")} AS p_value,
           CAST(rk AS BIGINT) AS p_rank,
           rk <= k AS rejected
    FROM ranked CROSS JOIN kstar
    """,
)
def stat_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a family of hypotheses
    — one weekend-vs-weekday mean-value z-test per event type, with
    the step-up procedure (reject the k smallest p-values where k is
    the largest rank with p_(k) ≤ α·k/m) that controls the false
    discovery rate when many segments are tested at once (Benjamini
    & Hochberg 1995, public).

    Scale shape: ONE hash aggregate of exact integer sufficient
    statistics per type; everything after runs on the |event types|-
    row family table (domain-bounded — see the unpartitioned-window
    census).  The normal tail probability uses the shared-text
    Abramowitz–Stegun polynomial (exp is the only transcendental),
    so both engines produce bit-identical p-values and the step-up
    comparisons cannot disagree."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CASE WHEN weekday(ts) IN (5, 6) THEN 1 ELSE 0 END").alias(
            "we"
        ),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    is1 = F.col("we") == 1
    s = e.groupBy("event_type").agg(
        F.count_if(is1).cast("long").alias("n1"),
        F.sum(F.when(is1, F.col("v")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(is1, F.col("v") * F.col("v")).otherwise(0))
        .cast("long")
        .alias("ss1"),
        F.count_if(~is1).cast("long").alias("n2"),
        F.sum(F.when(~is1, F.col("v")).otherwise(0)).cast("long").alias("s2"),
        F.sum(F.when(~is1, F.col("v") * F.col("v")).otherwise(0))
        .cast("long")
        .alias("ss2"),
    )
    zv = (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s2").cast("double") / F.col("n2")
    ) / F.sqrt(
        (F.col("ss1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
        + (F.col("ss2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    z = s.select("event_type", "n1", "n2", zv.alias("zv"))
    p = z.withColumn("az", F.abs(F.col("zv"))).withColumn(
        "tt", F.lit(1.0) / (F.lit(1.0) + 0.2316419 * F.col("az"))
    ).withColumn("pv", F.expr(f"2.0 * {_PHI_TAIL}"))
    wr = Window.orderBy("pv", "event_type")
    ranked = p.withColumn("rk", F.row_number().over(wr)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pv")
                    <= F.lit(float(BH_ALPHA)) * F.col("rk") / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "n1",
        "n2",
        q4(F.col("zv")).alias("z"),
        q4(F.col("pv")).alias("p_value"),
        F.col("rk").cast("long").alias("p_rank"),
        (F.col("rk") <= F.col("k")).alias("rejected"),
    )


@register(
    "stat_qq_table",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents,
               sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2
        FROM grid
        WINDOW w AS (ORDER BY v_cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), ps AS (
        SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS dec
    )
    SELECT dec,
           CAST(min(CASE WHEN 10*cum1 >= dec*n1 THEN v_cents END) AS BIGINT)
               AS q1_cents,
           CAST(min(CASE WHEN 10*cum2 >= dec*n2 THEN v_cents END) AS BIGINT)
               AS q2_cents,
           {sql_q4(
               "CAST(min(CASE WHEN 10*cum1 >= dec*n1 THEN v_cents END)"
               " AS DOUBLE)"
               " / min(CASE WHEN 10*cum2 >= dec*n2 THEN v_cents END)"
           )} AS qq_ratio
    FROM cum CROSS JOIN totals CROSS JOIN ps
    GROUP BY dec
    """,
)
def stat_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile–quantile table between the 'click' and 'purchase'
    value distributions: for each decile p, the exact
    percentile_disc of both groups (smallest value whose cumulative
    count reaches ⌈p·n⌉ — here as the all-integer comparison
    10·cum ≥ dec·n) and their ratio — the table a QQ plot or a
    quantile-mapping calibration is built from, and the quantile
    companion to the KS/CvM/AD gap statistics.

    Scale shape: the exact quantiles come from the bounded cents
    grid + bucketed-prefix cumulative counts (the shared ``_ks_ecdf``
    frame) crossed with a 9-row broadcast decile frame — never a
    per-group sort of raw rows and never an approximate
    percentile: at any SF the post-grid work is |grid|×9."""
    ps = spark.range(1, 10).select(F.col("id").cast("long").alias("dec"))
    q1 = F.min(
        F.when(10 * F.col("cum1") >= F.col("dec") * F.col("n1"), F.col("v_cents"))
    ).cast("long")
    q2 = F.min(
        F.when(10 * F.col("cum2") >= F.col("dec") * F.col("n2"), F.col("v_cents"))
    ).cast("long")
    return (
        _ks_ecdf(spark, sf_dir)
        .crossJoin(F.broadcast(ps))
        .groupBy("dec")
        .agg(
            q1.alias("q1_cents"),
            q2.alias("q2_cents"),
            q4(q1.cast("double") / q2).alias("qq_ratio"),
        )
    )


# Studentized-range 5% critical values q(k, df=inf) for k = 2..10
# (Harter 1960 tables, public), rendered into both engines' CASE.
_TUKEY_Q = {2: "2.772", 3: "3.314", 4: "3.633", 5: "3.858", 6: "4.030",
            7: "4.170", 8: "4.286", 9: "4.387", 10: "4.474"}
_TUKEY_SQL_Q = "CASE k " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in _TUKEY_Q.items()
) + " END"


@register(
    "stat_tukey_hsd",
    oracle=f"""
    WITH ev AS (
        SELECT event_type AS g,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events
    ), grp AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v*v) AS BIGINT) AS ss
        FROM ev GROUP BY g
    ), msw AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nn,
               sum(ss - CAST(s AS DOUBLE)*s/n) AS ssw
        FROM grp
    )
    SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
           {sql_q4("(CAST(a.s AS DOUBLE)/a.n - CAST(b.s AS DOUBLE)/b.n)"
                   " / 100.0")} AS mean_diff,
           {sql_q4(
               f"({_TUKEY_SQL_Q}) * sqrt(ssw / (nn - k) / 2.0"
               " * (1.0/a.n + 1.0/b.n)) / 100.0"
           )} AS hsd_crit,
           abs(CAST(a.s AS DOUBLE)/a.n - CAST(b.s AS DOUBLE)/b.n)
               > ({_TUKEY_SQL_Q}) * sqrt(ssw / (nn - k) / 2.0
                  * (1.0/a.n + 1.0/b.n)) AS significant
    FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN msw
    """,
)
def stat_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey–Kramer HSD post-hoc comparisons across event-type value
    means — the test you run AFTER stat_anova_oneway rejects: every
    group pair compared against the studentized-range critical value
    q(k, ∞)·√(MSW/2·(1/nᵢ+1/nⱼ)), which controls the familywise
    error rate where repeated t-tests would not (Tukey 1949, public;
    q table: Harter 1960).

    Scale shape: ONE hash aggregate of exact integer moments per
    group; MSW and the pair grid are |groups|-bounded epilogue
    (self-join on the tiny group table).  The q lookup is a shared
    CASE over k rendered into both engines; means and criticals are
    the only doubles, built from identical expression text."""
    e = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    grp = e.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    msw = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
    )
    a = grp.select(
        F.col("g").alias("g1"), F.col("n").alias("n1"), F.col("s").alias("s1")
    )
    b = grp.select(
        F.col("g").alias("g2"), F.col("n").alias("n2"), F.col("s").alias("s2")
    )
    pairs = (
        a.join(b, F.col("g1") < F.col("g2"))
        .crossJoin(F.broadcast(msw))
    )
    mdiff = (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s2").cast("double") / F.col("n2")
    )
    qcrit = F.expr(_TUKEY_SQL_Q) * F.sqrt(
        F.col("ssw")
        / (F.col("nn") - F.col("k"))
        / 2.0
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return pairs.select(
        "g1",
        "g2",
        "n1",
        "n2",
        q4(mdiff / F.lit(100.0)).alias("mean_diff"),
        q4(qcrit / F.lit(100.0)).alias("hsd_crit"),
        (F.abs(mdiff) > qcrit).alias("significant"),
    )


# ------------------------------------------------- Bartlett's test

BART_CHI2_CRIT = 9.4877  # chi2(k-1=4) upper 5% — 5 fixture groups


@register(
    "stat_bartlett",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS xc
        FROM events
    ), g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xc) AS BIGINT) AS sx,
               CAST(sum(xc*xc) AS BIGINT) AS sxx
        FROM x GROUP BY event_type
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_all,
               sum((n-1) * ln((CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*sx/n) / (n-1))) AS sum_ln,
               sum(1.0/(n-1)) AS sum_inv,
               sum(CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*sx/n) AS ssw
        FROM g
    )
    SELECT k, n_all,
           floor((((n_all-k)*ln(ssw/(n_all-k)) - sum_ln)
                / (1.0 + (sum_inv - 1.0/(n_all-k))/(3.0*(k-1))))
                * 10000 + 0.5)/10000.0 AS t_stat,
           (((n_all-k)*ln(ssw/(n_all-k)) - sum_ln)
                / (1.0 + (sum_inv - 1.0/(n_all-k))/(3.0*(k-1))))
                > 9.4877 AS heteroscedastic
    FROM t
    """,
)
def stat_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for homogeneity of variances across the five
    event-type groups (the parametric sibling of `stat_levene`,
    sharper under normality): T = ((N-k)·ln(Sp^2) − Σ(n_i−1)·ln(s_i^2))
    / C with the Bartlett correction C.  Everything derives from the
    per-group (n, Σx, Σx²) in exact integer cents, so the only float
    work is k=5 logs on already-exact sums — the same two-level
    moment discipline as `stat_levene` / `stat_anova_oneway`.

    Scale shape: one map-side-combining hash aggregate to 5 rows,
    then a single-row fold; nothing downstream sees raw rows."""
    e = table(spark, sf_dir, "events")
    xc = cents(F.col("value"))
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xc).cast("long").alias("sx"),
        F.sum(xc * xc).cast("long").alias("sxx"),
    )
    nn = F.col("n").cast("double")
    s2 = (F.col("sxx").cast("double") - F.col("sx").cast("double")
          * F.col("sx") / nn) / (nn - 1)
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum((nn - 1) * F.log(s2)).alias("sum_ln"),
        F.sum(F.lit(1.0) / (nn - 1)).alias("sum_inv"),
        F.sum(
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / nn
        ).alias("ssw"),
    )
    kk = F.col("k").cast("double")
    na = F.col("n_all").cast("double")
    t_stat = (
        (na - kk) * F.log(F.col("ssw") / (na - kk)) - F.col("sum_ln")
    ) / (
        F.lit(1.0)
        + (F.col("sum_inv") - F.lit(1.0) / (na - kk)) / (3.0 * (kk - 1))
    )
    return t.select(
        "k",
        "n_all",
        q4(t_stat).alias("t_stat"),
        (t_stat > BART_CHI2_CRIT).alias("heteroscedastic"),
    )


# ------------------------------------------------- McNemar's test

MCN_CHI2_CRIT = 3.8415  # chi2(1) upper 5%


@register(
    "stat_mcnemar",
    oracle="""
    WITH ret AS (
        SELECT DISTINCT l_orderkey FROM lineitem
        WHERE l_returnflag = 'R'
    ), per AS (
        SELECT o.o_custkey,
               max(CASE WHEN o.o_orderpriority = '1-URGENT'
                   THEN 1 ELSE 0 END) AS urgent,
               max(CASE WHEN r.l_orderkey IS NOT NULL
                   THEN 1 ELSE 0 END) AS returned
        FROM orders o LEFT JOIN ret r ON r.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    ), cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count_if(urgent=1 AND returned=1) AS BIGINT)
                   AS both_yes,
               CAST(count_if(urgent=1 AND returned=0) AS BIGINT)
                   AS urgent_only,
               CAST(count_if(urgent=0 AND returned=1) AS BIGINT)
                   AS returned_only,
               CAST(count_if(urgent=0 AND returned=0) AS BIGINT)
                   AS neither
        FROM per
    )
    SELECT n_pairs, both_yes, urgent_only, returned_only, neither,
           floor((CAST((abs(urgent_only - returned_only) - 1)
                    * (abs(urgent_only - returned_only) - 1) AS DOUBLE)
                / (urgent_only + returned_only)) * 10000 + 0.5)
                / 10000.0 AS chi2,
           (CAST((abs(urgent_only - returned_only) - 1)
                    * (abs(urgent_only - returned_only) - 1) AS DOUBLE)
                / (urgent_only + returned_only)) > 3.8415
               AS significant
    FROM cells
    """,
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: per customer the
    pair is (ever placed an URGENT order, ever had an item returned);
    the continuity-corrected statistic (|b−c|−1)²/(b+c) uses only the
    discordant cells, asking whether urgency and returns flip in one
    direction more than the other.  All four 2×2 cells are exact
    integer counts; the statistic is one float division at the end.

    Scale shape: the returned-orderkey set is a hash-distinct on the
    join key, the LEFT JOIN is equi-keyed on l_orderkey (no
    broadcast needed — both sides shuffle on the same key), and the
    per-customer collapse plus the 1-row cell fold are ordinary
    map-side-combining aggregates."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    ret = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("ret", F.lit(1))
    )
    per = (
        o.join(ret, o.o_orderkey == ret.l_orderkey, "left")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                .otherwise(0)
            ).alias("urgent"),
            F.max(
                F.when(F.col("ret").isNotNull(), 1).otherwise(0)
            ).alias("returned"),
        )
    )
    cnt = lambda c: F.count_if(c).cast("long")  # noqa: E731
    cells = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        cnt((F.col("urgent") == 1) & (F.col("returned") == 1))
        .alias("both_yes"),
        cnt((F.col("urgent") == 1) & (F.col("returned") == 0))
        .alias("urgent_only"),
        cnt((F.col("urgent") == 0) & (F.col("returned") == 1))
        .alias("returned_only"),
        cnt((F.col("urgent") == 0) & (F.col("returned") == 0))
        .alias("neither"),
    )
    disc = F.abs(F.col("urgent_only") - F.col("returned_only")) - 1
    chi2 = (disc * disc).cast("double") / (
        F.col("urgent_only") + F.col("returned_only")
    )
    return cells.select(
        "n_pairs",
        "both_yes",
        "urgent_only",
        "returned_only",
        "neither",
        q4(chi2).alias("chi2"),
        (chi2 > MCN_CHI2_CRIT).alias("significant"),
    )


# -------------------------------------------- partial correlation


@register(
    "stat_partial_corr",
    oracle="""
    WITH x AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(floor(l_extendedprice) AS BIGINT) AS p,
               CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS z
        FROM lineitem
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(sum(p) AS BIGINT) AS sp,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(q*q) AS BIGINT) AS sqq,
               CAST(sum(p*p) AS BIGINT) AS spp,
               CAST(sum(z*z) AS BIGINT) AS szz,
               CAST(sum(q*p) AS BIGINT) AS sqp,
               CAST(sum(q*z) AS BIGINT) AS sqz,
               CAST(sum(p*z) AS BIGINT) AS spz
        FROM x
    ), r AS (
        SELECT n,
               (n*CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*sp)
               / sqrt((n*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq)
                    * (n*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*sp))
                   AS r_xy,
               (n*CAST(sqz AS DOUBLE) - CAST(sq AS DOUBLE)*sz)
               / sqrt((n*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*sq)
                    * (n*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*sz))
                   AS r_xz,
               (n*CAST(spz AS DOUBLE) - CAST(sp AS DOUBLE)*sz)
               / sqrt((n*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*sp)
                    * (n*CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*sz))
                   AS r_yz
        FROM s
    )
    SELECT n,
           floor(r_xy*10000 + 0.5)/10000.0 AS r_xy,
           floor(r_xz*10000 + 0.5)/10000.0 AS r_xz,
           floor(r_yz*10000 + 0.5)/10000.0 AS r_yz,
           floor(((r_xy - r_xz*r_yz)
                / sqrt((1 - r_xz*r_xz) * (1 - r_yz*r_yz)))
                * 10000 + 0.5)/10000.0 AS r_xy_given_z
    FROM r
    """,
)
def stat_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and extended price CONTROLLING
    for discount: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)),
    the first-order recursion over three Pearson correlations.  All
    ten raw moments accumulate as exact integers (quantity is
    integral, price truncated to whole dollars, discount on the
    percent grid — each chosen so squares × rows stay far inside
    int64 even at sf1000); the float work is nine combinations of
    already-exact sums, so both engines compute bit-identical inputs
    to the final q4 rounding.

    Scale shape: ONE map-side-combining global aggregate over the
    fact table — the same single-pass moment fold as `agg_moments` —
    then a 1-row closed-form select.  No shuffle wider than 10
    numbers per partition."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("p"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("z"),
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum("p").cast("long").alias("sp"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        F.sum(F.col("p") * F.col("p")).cast("long").alias("spp"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
        F.sum(F.col("q") * F.col("p")).cast("long").alias("sqp"),
        F.sum(F.col("q") * F.col("z")).cast("long").alias("sqz"),
        F.sum(F.col("p") * F.col("z")).cast("long").alias("spz"),
    )
    n = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab).cast("double")
                - F.col(sa).cast("double") * F.col(sb)) / F.sqrt(
            (n * F.col(saa).cast("double")
             - F.col(sa).cast("double") * F.col(sa))
            * (n * F.col(sbb).cast("double")
               - F.col(sb).cast("double") * F.col(sb))
        )

    r = s.select(
        "n",
        corr("sqp", "sq", "sp", "sqq", "spp").alias("r_xy"),
        corr("sqz", "sq", "sz", "sqq", "szz").alias("r_xz"),
        corr("spz", "sp", "sz", "spp", "szz").alias("r_yz"),
    )
    partial = (F.col("r_xy") - F.col("r_xz") * F.col("r_yz")) / F.sqrt(
        (1 - F.col("r_xz") * F.col("r_xz"))
        * (1 - F.col("r_yz") * F.col("r_yz"))
    )
    return r.select(
        "n",
        q4(F.col("r_xy")).alias("r_xy"),
        q4(F.col("r_xz")).alias("r_xz"),
        q4(F.col("r_yz")).alias("r_yz"),
        q4(partial).alias("r_xy_given_z"),
    )


# -------------------------------------------- Durbin-Watson test

DW_Q = 10000  # fixed-point quantum for residuals (1e-4 orders/day)


@register(
    "stat_durbin_watson",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(n) AS BIGINT) AS sn,
               CAST(sum(d*d) AS BIGINT) AS sdd,
               CAST(sum(d*n) AS BIGINT) AS sdn
        FROM daily
    ), fit AS (
        SELECT nd,
               (nd*CAST(sdn AS DOUBLE) - CAST(sd AS DOUBLE)*sn)
               / (nd*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd)
                   AS slope,
               (CAST(sn AS DOUBLE)
                - (nd*CAST(sdn AS DOUBLE) - CAST(sd AS DOUBLE)*sn)
                  / (nd*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd)
                  * sd) / nd AS icept
        FROM s
    ), resid AS (
        SELECT daily.d,
               CAST(floor((CAST(daily.n AS DOUBLE)
                    - (f.icept + f.slope*daily.d)) * {DW_Q} + 0.5)
                    AS BIGINT) AS eq,
               f.nd, f.slope
        FROM daily, fit f
    ), lagged AS (
        SELECT nd, slope, eq,
               lag(eq) OVER (ORDER BY d) AS epq
        FROM resid
    )
    SELECT max(nd) AS n_days,
           floor(max(slope)*10000 + 0.5)/10000.0 AS slope,
           floor((CAST(sum(CASE WHEN epq IS NULL THEN 0
                          ELSE (eq-epq)*(eq-epq) END) AS DOUBLE)
                 / sum(eq*eq)) * 10000 + 0.5)/10000.0 AS dw_stat,
           (CAST(sum(CASE WHEN epq IS NULL THEN 0
                     ELSE (eq-epq)*(eq-epq) END) AS DOUBLE)
                 / sum(eq*eq)) < 1.5 AS positive_autocorr
    FROM lagged
    """,
)
def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson autocorrelation test on the residuals of the
    daily order-count trend: fit the OLS line n_d = a + b·d by the
    closed-form normal equations (exact integer sums), then
    DW = Σ(e_t − e_{t−1})² / Σe_t² over the day-ordered residual
    series — DW ≪ 2 flags positively autocorrelated (trending /
    seasonal) residuals that invalidate an i.i.d. noise assumption.
    The OLS params derive from exact integer sums (IEEE-identical in
    both engines), and residuals are then quantized to the 1/DW_Q
    grid so the quadratic sums accumulate as exact integers — the
    same fixed-point discipline as `stat_levene`'s LEV_Q.

    Scale shape: the fact table collapses to the calendar-bounded
    daily series in one hash aggregate; the OLS fold is a broadcast
    1-row frame; the only window runs over one-row-per-day input
    (metadata-sized at any SF — allowlisted in the unpartitioned-
    window census), and the final fold is a single-row aggregate."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("n")).cast("long").alias("sdn"),
    )
    nd = F.col("nd").cast("double")
    slope = (
        nd * F.col("sdn").cast("double")
        - F.col("sd").cast("double") * F.col("sn")
    ) / (
        nd * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd")
    )
    fit = s.select(
        "nd",
        slope.alias("slope"),
        ((F.col("sn").cast("double") - slope * F.col("sd")) / nd)
        .alias("icept"),
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "d",
        "nd",
        "slope",
        F.floor(
            (F.col("n").cast("double")
             - (F.col("icept") + F.col("slope") * F.col("d"))) * DW_Q
            + F.lit(0.5)
        ).cast("long").alias("eq"),
    )
    # one row per day — calendar-bounded (census-allowlisted)
    lagged = resid.withColumn(
        "epq", F.lag("eq").over(Window.orderBy("d"))
    )
    de = F.when(F.col("epq").isNull(), F.lit(0).cast("long")).otherwise(
        (F.col("eq") - F.col("epq")) * (F.col("eq") - F.col("epq"))
    )
    agg = lagged.agg(
        F.max("nd").alias("n_days"),
        F.max("slope").alias("slope_raw"),
        F.sum(de).cast("long").alias("num"),
        F.sum(F.col("eq") * F.col("eq")).cast("long").alias("den"),
    )
    dw = F.col("num").cast("double") / F.col("den")
    return agg.select(
        "n_days",
        q4(F.col("slope_raw")).alias("slope"),
        q4(dw).alias("dw_stat"),
        (dw < 1.5).alias("positive_autocorr"),
    )


# ---------------------------------------------- Cook's distance


@register(
    "stat_cooks_distance",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(n) AS BIGINT) AS sn,
               CAST(sum(d*d) AS BIGINT) AS sdd,
               CAST(sum(d*n) AS BIGINT) AS sdn
        FROM daily
    ), fit AS (
        SELECT nd, sd, sdd,
               (nd*CAST(sdn AS DOUBLE) - CAST(sd AS DOUBLE)*sn)
               / (nd*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd)
                   AS slope,
               (CAST(sn AS DOUBLE)
                - (nd*CAST(sdn AS DOUBLE) - CAST(sd AS DOUBLE)*sn)
                  / (nd*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd)
                  * sd) / nd AS icept
        FROM s
    ), resid AS (
        SELECT daily.d, f.nd, f.sd, f.sdd,
               CAST(floor((CAST(daily.n AS DOUBLE)
                    - (f.icept + f.slope*daily.d)) * {DW_Q} + 0.5)
                    AS BIGINT) AS eq
        FROM daily, fit f
    ), sse AS (
        SELECT CAST(sum(eq*eq) AS BIGINT) AS sseq FROM resid
    ), diag AS (
        SELECT r.d, r.eq, r.nd,
               1.0/r.nd
               + (r.d - CAST(r.sd AS DOUBLE)/r.nd)
                 *(r.d - CAST(r.sd AS DOUBLE)/r.nd)
                 /(CAST(r.sdd AS DOUBLE)
                   - CAST(r.sd AS DOUBLE)*r.sd/r.nd) AS h,
               CAST(e.sseq AS DOUBLE)/(r.nd - 2) AS s2q
        FROM resid r, sse e
    )
    SELECT d AS day_idx,
           floor((CAST(eq AS DOUBLE)/{DW_Q})*10000 + 0.5)/10000.0
               AS residual,
           floor(h*10000 + 0.5)/10000.0 AS leverage,
           floor((CAST(eq AS DOUBLE)*eq*h/(2.0*s2q*(1.0-h)*(1.0-h)))
                *10000 + 0.5)/10000.0 AS cooks_d
    FROM diag
    WHERE CAST(eq AS DOUBLE)*eq*h/(2.0*s2q*(1.0-h)*(1.0-h))
          > 4.0/nd
    """,
)
def stat_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence diagnostics for the daily
    order-count OLS trend (the companion of `stat_durbin_watson`,
    which tests the same fit's residual independence): for simple
    regression the hat value has the closed form h_d = 1/n +
    (d−d̄)²/S_dd, so D_d = e_d²·h_d/(p·s²(1−h_d)²) needs no matrix
    algebra; days with D > 4/n (the standard screening fence) are
    reported with residual and leverage.  Residuals are quantized to
    the DW_Q grid so SSE is an exact integer; the grid² unit cancels
    inside D.

    Scale shape: one hash aggregate to the calendar-bounded daily
    series, two broadcast 1-row folds (fit params, SSE), one
    filtered select — no window, no data-proportional op past the
    first fold."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n")).localCheckpoint(eager=False)
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("n")).cast("long").alias("sdn"),
    )
    nd = F.col("nd").cast("double")
    slope = (
        nd * F.col("sdn").cast("double")
        - F.col("sd").cast("double") * F.col("sn")
    ) / (
        nd * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd")
    )
    fit = s.select(
        "nd",
        "sd",
        "sdd",
        slope.alias("slope"),
        ((F.col("sn").cast("double") - slope * F.col("sd")) / nd)
        .alias("icept"),
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "d",
        "nd",
        "sd",
        "sdd",
        F.floor(
            (F.col("n").cast("double")
             - (F.col("icept") + F.col("slope") * F.col("d"))) * DW_Q
            + F.lit(0.5)
        ).cast("long").alias("eq"),
    ).localCheckpoint(eager=False)
    sse = resid.agg(
        F.sum(F.col("eq") * F.col("eq")).cast("long").alias("sseq")
    )
    ndd = F.col("nd").cast("double")
    h = (
        F.lit(1.0) / ndd
        + (F.col("d") - F.col("sd").cast("double") / ndd)
        * (F.col("d") - F.col("sd").cast("double") / ndd)
        / (
            F.col("sdd").cast("double")
            - F.col("sd").cast("double") * F.col("sd") / ndd
        )
    )
    s2q = F.col("sseq").cast("double") / (ndd - 2)
    cooks = (
        F.col("eq").cast("double")
        * F.col("eq")
        * h
        / (2.0 * s2q * (F.lit(1.0) - h) * (F.lit(1.0) - h))
    )
    return (
        resid.crossJoin(F.broadcast(sse))
        .where(cooks > 4.0 / ndd)
        .select(
            F.col("d").alias("day_idx"),
            q4(F.col("eq").cast("double") / DW_Q).alias("residual"),
            q4(h).alias("leverage"),
            q4(cooks).alias("cooks_d"),
        )
    )


# ------------------------------------------- round-7 wave G: classical tests

# chi-square critical values at alpha = 0.05
CHI2_CRIT_DF2 = "5.9915"
CHI2_CRIT_DF4 = "9.4877"
Z_CRIT = "1.96"


@register(
    "stat_jarque_bera",
    oracle=f"""
    WITH m AS ({_moments_sql()}),
    c AS (
        SELECT l_returnflag, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS s2n,
               CAST(s3 AS DOUBLE) / n AS s3n,
               CAST(s4 AS DOUBLE) / n AS s4n
        FROM m
    ), central AS (
        SELECT l_returnflag, n,
               s2n - mu * mu AS m2,
               s3n - 3 * mu * s2n + 2 * mu * mu * mu AS m3,
               s4n - 4 * mu * s3n + 6 * mu * mu * s2n
                   - 3 * mu * mu * mu * mu AS m4
        FROM c
    ), sk AS (
        SELECT l_returnflag, n,
               m3 / pow(m2, 1.5) AS s,
               m4 / (m2 * m2) - 3 AS k
        FROM central
    )
    SELECT l_returnflag, n, {sql_q4("s")} AS skewness,
           {sql_q4("k")} AS excess_kurtosis,
           {sql_q4("n / 6.0 * (s * s + k * k / 4.0)")} AS jb_stat,
           n / 6.0 * (s * s + k * k / 4.0) > {CHI2_CRIT_DF2} AS rejected
    FROM sk
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test per returnflag group: JB =
    n/6·(S² + K²/4) from the same exact BIGINT raw power sums as
    agg_moments (integer-valued measure → order-free partial
    aggregation), with the closed form applied once per group.
    Rejected at the chi-square(2) 0.05 critical value. 100 TB cost:
    one hash-aggregate pass with map-side combine — the moment sums
    are the canonical mergeable aggregation state."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
        F.sum(q * q * q * q).cast("long").alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    s2n = F.col("s2").cast("double") / F.col("n")
    s3n = F.col("s3").cast("double") / F.col("n")
    s4n = F.col("s4").cast("double") / F.col("n")
    m2 = s2n - mu * mu
    m3 = s3n - 3 * mu * s2n + 2 * mu * mu * mu
    m4 = s4n - 4 * mu * s3n + 6 * mu * mu * s2n - 3 * mu * mu * mu * mu
    s = m3 / F.pow(m2, 1.5)
    k = m4 / (m2 * m2) - 3
    jb = F.col("n") / 6.0 * (s * s + k * k / 4.0)
    return m.select(
        "l_returnflag",
        "n",
        q4(s).alias("skewness"),
        q4(k).alias("excess_kurtosis"),
        q4(jb).alias("jb_stat"),
        (jb > float(CHI2_CRIT_DF2)).alias("rejected"),
    )


@register(
    "stat_grubbs",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s1,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s2,
               MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS vmin,
               MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS vmax
        FROM orders GROUP BY 1
    ), d AS (
        SELECT o_orderpriority, n, vmin, vmax,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd
        FROM s
    )
    SELECT o_orderpriority, n,
           {sql_q4("mu / 100.0")} AS mean_price,
           {sql_q4("sd / 100.0")} AS sd_price,
           CASE WHEN vmax - mu >= mu - vmin THEN vmax ELSE vmin END
               AS outlier_cents,
           {sql_q4("greatest(vmax - mu, mu - vmin) / sd")} AS g_stat
    FROM d
    """,
)
def stat_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' max-normed-residual outlier statistic per order
    priority: G = max|x − x̄|/s with sample sd, plus the candidate
    outlier value itself (the side with the larger deviation, max
    wins ties — the CASE is evaluated on exact integers so both
    engines pick the same side). Sufficient statistics are exact
    cent-integer sums — one hash-aggregate pass, closed form per
    group; no sort, no second pass over the data."""
    o = table(spark, sf_dir, "orders")
    v = cents(F.col("o_totalprice"))
    # v² sums exceed BIGINT at scale (≈3.6e15 per row × rows), so the
    # squared-sum accumulates in decimal(38,0) — exact and mergeable;
    # DuckDB's SUM(BIGINT) already widens to HUGEINT on the oracle side.
    vd = v.cast("decimal(19,0)")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(vd * vd).alias("s2"),
        F.min(v).cast("long").alias("vmin"),
        F.max(v).cast("long").alias("vmax"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    return s.select(
        "o_orderpriority",
        "n",
        q4(mu / 100.0).alias("mean_price"),
        q4(sd / 100.0).alias("sd_price"),
        F.when(
            F.col("vmax") - mu >= mu - F.col("vmin"), F.col("vmax")
        )
        .otherwise(F.col("vmin"))
        .alias("outlier_cents"),
        q4(F.greatest(F.col("vmax") - mu, mu - F.col("vmin")) / sd).alias(
            "g_stat"
        ),
    )


@register(
    "stat_mood_median",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        FROM events
    ), grid AS (
        SELECT v_cents, CAST(count(*) AS BIGINT) AS t
        FROM ev GROUP BY 1
    ), tot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM grid),
    med AS (
        SELECT min(v_cents) AS med_cents
        FROM (
            SELECT v_cents,
                   sum(t) OVER (ORDER BY v_cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM grid
        ), tot
        WHERE 2 * cum >= n
    ), per AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(count_if(v_cents > (SELECT med_cents FROM med))
                   AS BIGINT) AS n_above
        FROM ev GROUP BY 1
    ), gl AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(n_above) AS BIGINT) AS tot_above
        FROM per
    ), contrib AS (
        SELECT per.event_type, per.n_g, per.n_above,
               CAST(per.n_g AS DOUBLE) * gl.tot_above / gl.n AS e_above,
               CAST(per.n_g AS DOUBLE) * (gl.n - gl.tot_above) / gl.n
                   AS e_le
        FROM per, gl
    ), chi AS (
        SELECT sum(pow(n_above - e_above, 2) / e_above
                   + pow((n_g - n_above) - e_le, 2) / e_le) AS chi2
        FROM contrib
    )
    SELECT c.event_type, c.n_g, c.n_above,
           {sql_q4("c.e_above")} AS exp_above,
           (SELECT med_cents FROM med) AS median_cents,
           {sql_q4("chi.chi2")} AS chi2_stat,
           chi.chi2 > {CHI2_CRIT_DF4} AS rejected
    FROM contrib c, chi
    """,
)
def stat_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five event types: does each
    group's share above the GRAND median match its size?  The grand
    median comes from the bounded cents value grid (hash-aggregate
    first, then the bucketed ``global_ordered`` prefix machine over
    grid rows — never a row-level sort), the 2×k contingency counts
    are one conditional aggregate against the broadcast 1-row median,
    and the chi-square(k−1) statistic folds once.  Every count is an
    exact BIGINT; doubles appear only in the final expected/observed
    closed form.  100 TB: ONE hash pass over facts to the bounded
    (type, cents) cell grid; everything downstream is grid-sized."""
    e = table(spark, sf_dir, "events")
    # ONE scan: the (type, cents) cell grid is bounded by
    # |types| x |value grid|; checkpoint-scoped so the median branch
    # and the contingency branch replay cells, not the fact table
    cell = (
        e.select("event_type", cents(F.col("value")).alias("v_cents"))
        .groupBy("event_type", "v_cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .localCheckpoint(eager=False)
    )
    grid = cell.groupBy("v_cents").agg(F.sum("t").cast("long").alias("t"))
    cum = global_ordered(
        grid,
        [F.col("v_cents")],
        bucket_key="v_cents",
        sums={"t": "cum"},
        rank_col=None,
    )
    tot = grid.agg(F.sum("t").cast("long").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("v_cents").cast("long").alias("med_cents"))
    )
    per = (
        cell.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum("t").cast("long").alias("n_g"),
            F.sum(
                F.when(
                    F.col("v_cents") > F.col("med_cents"), F.col("t")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_above"),
            F.first("med_cents").alias("median_cents"),
        )
    )
    gl = per.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("n_above").cast("long").alias("tot_above"),
    )
    e_above = (
        F.col("n_g").cast("double") * F.col("tot_above") / F.col("n")
    )
    e_le = (
        F.col("n_g").cast("double")
        * (F.col("n") - F.col("tot_above"))
        / F.col("n")
    )
    contrib = per.crossJoin(F.broadcast(gl)).select(
        "event_type",
        "n_g",
        "n_above",
        "median_cents",
        e_above.alias("e_above"),
        e_le.alias("e_le"),
    )
    chi = contrib.agg(
        F.sum(
            F.pow(F.col("n_above") - F.col("e_above"), 2) / F.col("e_above")
            + F.pow(
                (F.col("n_g") - F.col("n_above")) - F.col("e_le"), 2
            )
            / F.col("e_le")
        ).alias("chi2")
    )
    return contrib.crossJoin(F.broadcast(chi)).select(
        "event_type",
        "n_g",
        "n_above",
        q4(F.col("e_above")).alias("exp_above"),
        "median_cents",
        q4(F.col("chi2")).alias("chi2_stat"),
        (F.col("chi2") > float(CHI2_CRIT_DF4)).alias("rejected"),
    )


COCHRAN_TYPES = ("click", "purchase", "view")


@register(
    "stat_cochran_q",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM users),
    cnt AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events
        WHERE event_type IN ('click', 'purchase', 'view')
        GROUP BY 1, 2
    ), totals AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS tot
        FROM cnt GROUP BY 1
    ), ind AS (
        SELECT u.user_id, t.event_type,
               CASE WHEN COALESCE(cnt.c, 0) * nu.n_users > t.tot
                    THEN 1 ELSE 0 END AS x
        FROM users u
        CROSS JOIN totals t
        CROSS JOIN nu
        LEFT JOIN cnt ON cnt.user_id = u.user_id
                     AND cnt.event_type = t.event_type
    ), rows_ AS (
        SELECT user_id, CAST(sum(x) AS BIGINT) AS r
        FROM ind GROUP BY 1
    ), cols AS (
        SELECT CAST(sum(CASE WHEN event_type = 'click' THEN x END)
                   AS BIGINT) AS c_click,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN x END)
                   AS BIGINT) AS c_purchase,
               CAST(sum(CASE WHEN event_type = 'view' THEN x END)
                   AS BIGINT) AS c_view
        FROM ind
    ), rs AS (
        SELECT CAST(sum(r) AS BIGINT) AS t_total,
               CAST(sum(r * r) AS BIGINT) AS sum_r2
        FROM rows_
    )
    SELECT nu.n_users, cols.c_click, cols.c_purchase, cols.c_view,
           rs.t_total,
           {sql_q4("2.0 * (3 * (CAST(c_click AS DOUBLE) * c_click"
                   " + CAST(c_purchase AS DOUBLE) * c_purchase"
                   " + CAST(c_view AS DOUBLE) * c_view)"
                   " - CAST(t_total AS DOUBLE) * t_total)"
                   " / (3.0 * t_total - sum_r2)")} AS q_stat,
           2.0 * (3 * (CAST(c_click AS DOUBLE) * c_click
                   + CAST(c_purchase AS DOUBLE) * c_purchase
                   + CAST(c_view AS DOUBLE) * c_view)
                   - CAST(t_total AS DOUBLE) * t_total)
               / (3.0 * t_total - sum_r2) > {CHI2_CRIT_DF2} AS rejected
    FROM nu, cols, rs
    """,
)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for k=3 matched binary treatments: per user
    (block), the indicator "this user's count of type t exceeds the
    per-user average for t" (integer cross-multiplied — no float
    threshold), tested for equal prevalence across click/purchase/
    view.  Q = (k−1)(k·ΣC_j² − T²)/(k·T − ΣR_u²) — every term an
    exact BIGINT from two hash aggregates (per-user×type counts,
    then per-user row sums); the dense user×type grid is users ×
    a broadcast 3-row type frame, so no row explosion beyond 3·U.
    100 TB: ONE fact scan to the checkpointed (user, type) rollup;
    shuffles carry counts only."""
    e = table(spark, sf_dir, "events")
    # ONE fact scan: the (user, type) rollup feeds every downstream
    # frame (user list, per-type totals, indicators) — |users|-scaled,
    # so persist() per the SCALE.md r13 rule (lineage kept, executor
    # loss recomputes); consumers read the cache, never events
    base = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    users = base.select("user_id").distinct()
    nu = users.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    cnt = base.where(F.col("event_type").isin(*COCHRAN_TYPES))
    totals = cnt.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("tot")
    )
    ind = (
        users.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(nu))
        .join(cnt, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.when(
                F.coalesce(F.col("c"), F.lit(0)) * F.col("n_users")
                > F.col("tot"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("x"),
        )
    )
    rows_ = ind.groupBy("user_id").agg(
        F.sum("x").cast("long").alias("r")
    )
    cols = ind.agg(
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("x")))
            .cast("long")
            .alias(f"c_{t}")
            for t in COCHRAN_TYPES
        ]
    )
    rs = rows_.agg(
        F.sum("r").cast("long").alias("t_total"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sum_r2"),
    )
    sum_c2 = (
        F.col("c_click").cast("double") * F.col("c_click")
        + F.col("c_purchase").cast("double") * F.col("c_purchase")
        + F.col("c_view").cast("double") * F.col("c_view")
    )
    q_stat = (
        2.0
        * (3 * sum_c2 - F.col("t_total").cast("double") * F.col("t_total"))
        / (3.0 * F.col("t_total") - F.col("sum_r2"))
    )
    return (
        F.broadcast(nu)
        .crossJoin(F.broadcast(cols))
        .crossJoin(F.broadcast(rs))
        .select(
            "n_users",
            "c_click",
            "c_purchase",
            "c_view",
            "t_total",
            q4(q_stat).alias("q_stat"),
            (q_stat > float(CHI2_CRIT_DF2)).alias("rejected"),
        )
    )


@register(
    "stat_proportions_ztest",
    oracle=f"""
    WITH c AS (
        SELECT CAST(count_if(user_id % 2 = 0) AS BIGINT) AS n1,
               CAST(count_if(user_id % 2 = 0
                             AND event_type = 'purchase') AS BIGINT) AS x1,
               CAST(count_if(user_id % 2 = 1) AS BIGINT) AS n2,
               CAST(count_if(user_id % 2 = 1
                             AND event_type = 'purchase') AS BIGINT) AS x2
        FROM events
    ), p AS (
        SELECT n1, x1, n2, x2,
               CAST(x1 AS DOUBLE) / n1 AS p1,
               CAST(x2 AS DOUBLE) / n2 AS p2,
               CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
        FROM c
    )
    SELECT n1, x1, n2, x2,
           {sql_q4("p1")} AS p1, {sql_q4("p2")} AS p2,
           {sql_q4("(p1 - p2) / sqrt(pp * (1 - pp)"
                   " * (1.0 / n1 + 1.0 / n2))")} AS z_stat,
           {sql_q4("2 * (asin(sqrt(p1)) - asin(sqrt(p2)))")} AS cohens_h,
           abs((p1 - p2) / sqrt(pp * (1 - pp)
               * (1.0 / n1 + 1.0 / n2))) > {Z_CRIT} AS rejected
    FROM p
    """,
)
def stat_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test (+ Cohen's h effect size) for
    purchase rate between the even/odd user cohorts — the A/B
    readout for binary outcomes.  Four conditional counters in ONE
    map-side-combined aggregate (no per-cohort scan), closed form
    once; asin/sqrt run on identical doubles in both engines and the
    result is q4-quantized.  100 TB: one pass, four counters."""
    e = table(spark, sf_dir, "events")
    even = F.col("user_id") % 2 == 0
    pur = F.col("event_type") == "purchase"
    c = e.agg(
        F.count_if(even).cast("long").alias("n1"),
        F.count_if(even & pur).cast("long").alias("x1"),
        F.count_if(~even).cast("long").alias("n2"),
        F.count_if(~even & pur).cast("long").alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return c.select(
        "n1",
        "x1",
        "n2",
        "x2",
        q4(p1).alias("p1"),
        q4(p2).alias("p2"),
        q4(z).alias("z_stat"),
        q4(2 * (F.asin(F.sqrt(p1)) - F.asin(F.sqrt(p2)))).alias("cohens_h"),
        (F.abs(z) > float(Z_CRIT)).alias("rejected"),
    )


@register(
    "stat_odds_ratio",
    oracle=f"""
    WITH c AS (
        SELECT CAST(count_if(user_id % 2 = 0
                             AND event_type = 'purchase') AS BIGINT) AS a,
               CAST(count_if(user_id % 2 = 0
                             AND event_type <> 'purchase') AS BIGINT) AS b,
               CAST(count_if(user_id % 2 = 1
                             AND event_type = 'purchase') AS BIGINT) AS c_,
               CAST(count_if(user_id % 2 = 1
                             AND event_type <> 'purchase') AS BIGINT) AS d
        FROM events
    ), m AS (
        SELECT a, b, c_, d,
               ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c_))
                   AS log_or,
               sqrt(1.0/a + 1.0/b + 1.0/c_ + 1.0/d) AS se
        FROM c
    )
    SELECT a, b, c_, d,
           {sql_q4("exp(log_or)")} AS odds_ratio,
           {sql_q4("log_or")} AS log_or,
           {sql_q4("exp(log_or - 1.96 * se)")} AS ci_lo,
           {sql_q4("exp(log_or + 1.96 * se)")} AS ci_hi,
           {sql_q4("(CAST(a AS DOUBLE) / (a + b))"
                   " / (CAST(c_ AS DOUBLE) / (c_ + d))")} AS risk_ratio
    FROM m
    """,
)
def stat_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio with the Wald log-normal 95% CI and the risk
    ratio — exposure = even user cohort, outcome = purchase event.
    The four cells come from one conditional aggregate (exact
    BIGINTs); ln/exp/sqrt run once on the single result row, so
    engine float behavior is applied to identical inputs.  100 TB:
    one pass, four counters."""
    e = table(spark, sf_dir, "events")
    even = F.col("user_id") % 2 == 0
    pur = F.col("event_type") == "purchase"
    c = e.agg(
        F.count_if(even & pur).cast("long").alias("a"),
        F.count_if(even & ~pur).cast("long").alias("b"),
        F.count_if(~even & pur).cast("long").alias("c_"),
        F.count_if(~even & ~pur).cast("long").alias("d"),
    )
    log_or = F.log(
        F.col("a").cast("double")
        * F.col("d")
        / (F.col("b").cast("double") * F.col("c_"))
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c_") + 1.0 / F.col("d")
    )
    rr = (F.col("a").cast("double") / (F.col("a") + F.col("b"))) / (
        F.col("c_").cast("double") / (F.col("c_") + F.col("d"))
    )
    return c.select(
        "a",
        "b",
        "c_",
        "d",
        q4(F.exp(log_or)).alias("odds_ratio"),
        q4(log_or).alias("log_or"),
        q4(F.exp(log_or - 1.96 * se)).alias("ci_lo"),
        q4(F.exp(log_or + 1.96 * se)).alias("ci_hi"),
        q4(rr).alias("risk_ratio"),
    )


# ------------------------------------------------- Hurst exponent (R/S)

HURST_SIZES = (8, 16, 32, 64)
HURST_Q = 1000000000  # fixed-point scale for per-chunk R/S
HURST_QF = 1000000  # coarser scale for the 4-point log fit (qx*qy
# products must stay inside int64; 1e-6 on ln moves the slope ~1e-6)
_HURST_SIZES_SQL = ", ".join(f"({n})" for n in HURST_SIZES)


@register(
    "stat_hurst_rs",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS v
        FROM events GROUP BY 1
    ), idx AS (
        SELECT v, row_number() OVER (ORDER BY hr) - 1 AS i FROM hourly
    ), sized AS (
        SELECT s.n, ix.i, ix.v, ix.i // s.n AS chunk,
               ix.i % s.n + 1 AS k
        FROM idx ix CROSS JOIN (VALUES {_HURST_SIZES_SQL}) s(n)
    ), winstats AS (
        SELECT n, chunk, k, v,
               CAST(count(*) OVER c AS BIGINT) AS cnt,
               CAST(sum(v) OVER c AS BIGINT) AS sx,
               CAST(sum(v * v) OVER c AS BIGINT) AS sxx,
               CAST(sum(v) OVER (PARTITION BY n, chunk ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM sized
        WINDOW c AS (PARTITION BY n, chunk)
    ), devs AS (
        SELECT n, chunk, cnt, sx, sxx,
               CAST(cum AS DOUBLE)
                   - k * (CAST(sx AS DOUBLE) / cnt) AS dev
        FROM winstats WHERE cnt = n
    ), per_chunk AS (
        SELECT n, chunk,
               greatest(max(dev), 0.0) - least(min(dev), 0.0) AS r,
               sqrt(CAST(max(sxx) AS DOUBLE) / max(cnt)
                    - (CAST(max(sx) AS DOUBLE) / max(cnt))
                      * (CAST(max(sx) AS DOUBLE) / max(cnt))) AS s
        FROM devs GROUP BY n, chunk
    ), qrs AS (
        SELECT n,
               CAST(floor(r / s * {HURST_Q} + 0.5) AS BIGINT) AS q
        FROM per_chunk WHERE s > 0
    ), per_size AS (
        SELECT n, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(q) AS BIGINT) AS sq
        FROM qrs GROUP BY n
    ), pts AS (
        SELECT n, n_chunks,
               CAST(sum(q) AS BIGINT) / CAST(count(*) AS BIGINT) AS dummy
        FROM qrs GROUP BY n
    ), logpts AS (
        SELECT n, n_chunks,
               CAST(CAST(sq AS DOUBLE) / n_chunks / {HURST_Q} AS DOUBLE)
                   AS rs_avg,
               CAST(floor(ln(CAST(n AS DOUBLE)) * {HURST_QF} + 0.5)
                   AS BIGINT) AS qx,
               CAST(floor(ln(CAST(sq AS DOUBLE) / n_chunks / {HURST_Q})
                   * {HURST_QF} + 0.5) AS BIGINT) AS qy
        FROM per_size
    ), fit AS (
        SELECT (CAST(count(*) AS DOUBLE)
                  * CAST(sum(qx * qy) AS DOUBLE)
                - CAST(sum(qx) AS DOUBLE) * CAST(sum(qy) AS DOUBLE))
               / (CAST(count(*) AS DOUBLE)
                  * CAST(sum(qx * qx) AS DOUBLE)
                - CAST(sum(qx) AS DOUBLE) * CAST(sum(qx) AS DOUBLE))
                   AS h
        FROM logpts
    )
    SELECT CAST(l.n AS BIGINT) AS win_n, l.n_chunks,
           {sql_q4("l.rs_avg")} AS rs_avg,
           {sql_q4("f.h")} AS hurst
    FROM logpts l CROSS JOIN fit f
    """,
)
def stat_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via classical rescaled-range (R/S) analysis on
    the HOURLY activity-value series (the 30-day fixture yields ~720
    calendar-bounded points): for window sizes 8/16/32/64 hours the
    series splits into complete chunks, each chunk yields
    R/S = (range of mean-adjusted prefix sums, zero-anchored) over
    the population std, and the Hurst exponent is the slope of
    ln(R/S̄) on ln(n) — H≈0.5 is a random walk, H>0.5 long-range
    persistence (the memory diagnostic behind capacity planning and
    anomaly baselining).

    Float discipline: daily values are exact cents; within-chunk
    prefix sums are exact BIGINT through a PARTITIONED cumulative
    window; each chunk's R/S and both log coordinates are
    fixed-point quantized to 1e-9 before any cross-chunk sum, so no
    float addition ever depends on row order. Scale shape: the hourly
    grid is calendar-bounded metadata (~hundreds of rows;
    census-allowlisted row_number); everything below it is
    chunk-partitioned windows and hash aggregates."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(cents(F.col("value"))).cast("long").alias("v"))
    # calendar-bounded hour grid (census-allowlisted)
    idx = hourly.select(
        "v", (F.row_number().over(Window.orderBy("hr")) - 1).alias("i")
    )
    sizes = spark.createDataFrame(
        [(n,) for n in HURST_SIZES], "n int"
    )
    sized = idx.crossJoin(F.broadcast(sizes)).select(
        "n",
        "i",
        "v",
        F.expr("i DIV n").alias("chunk"),
        (F.col("i") % F.col("n") + 1).alias("k"),
    )
    wc = Window.partitionBy("n", "chunk")
    wcum = (
        Window.partitionBy("n", "chunk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    winstats = sized.select(
        "n",
        "chunk",
        "k",
        "v",
        F.count(F.lit(1)).over(wc).cast("long").alias("cnt"),
        F.sum("v").over(wc).cast("long").alias("sx"),
        F.sum(F.col("v") * F.col("v")).over(wc).cast("long").alias("sxx"),
        F.sum("v").over(wcum).cast("long").alias("cum"),
    )
    devs = winstats.where(F.col("cnt") == F.col("n")).select(
        "n",
        "chunk",
        "cnt",
        "sx",
        "sxx",
        (
            F.col("cum").cast("double")
            - F.col("k") * (F.col("sx").cast("double") / F.col("cnt"))
        ).alias("dev"),
    )
    mean = F.max("sx").cast("double") / F.max("cnt")
    per_chunk = devs.groupBy("n", "chunk").agg(
        (
            F.greatest(F.max("dev"), F.lit(0.0))
            - F.least(F.min("dev"), F.lit(0.0))
        ).alias("r"),
        F.sqrt(
            F.max("sxx").cast("double") / F.max("cnt") - mean * mean
        ).alias("s"),
    )
    qrs = per_chunk.where(F.col("s") > 0).select(
        "n",
        F.floor(F.col("r") / F.col("s") * HURST_Q + 0.5)
        .cast("long")
        .alias("q"),
    )
    per_size = qrs.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("q").cast("long").alias("sq"),
    )
    rs_avg = F.col("sq").cast("double") / F.col("n_chunks") / HURST_Q
    logpts = per_size.select(
        "n",
        "n_chunks",
        rs_avg.alias("rs_avg"),
        F.floor(F.log(F.col("n").cast("double")) * HURST_QF + 0.5)
        .cast("long")
        .alias("qx"),
        F.floor(
            F.log(
                F.col("sq").cast("double") / F.col("n_chunks") / HURST_Q
            )
            * HURST_QF
            + 0.5
        )
        .cast("long")
        .alias("qy"),
    )
    nd = F.count(F.lit(1)).cast("double")
    fit = logpts.agg(
        (
            (
                nd * F.sum(F.col("qx") * F.col("qy")).cast("double")
                - F.sum("qx").cast("double") * F.sum("qy").cast("double")
            )
            / (
                nd * F.sum(F.col("qx") * F.col("qx")).cast("double")
                - F.sum("qx").cast("double") * F.sum("qx").cast("double")
            )
        ).alias("h")
    )
    return logpts.crossJoin(F.broadcast(fit)).select(
        F.col("n").cast("long").alias("win_n"),
        "n_chunks",
        q4(F.col("rs_avg")).alias("rs_avg"),
        q4(F.col("h")).alias("hurst"),
    )


# --------------------------------------- partial autocorrelation (PACF)

PACF_LAGS = 3


@register(
    "stat_pacf",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS y
        FROM events GROUP BY 1
    ), idx AS (
        SELECT y, row_number() OVER (ORDER BY hr) AS t FROM hourly
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s1,
               CAST(sum(y * y) AS BIGINT) AS s2
        FROM idx
    ), lags AS (SELECT unnest(generate_series(1, {PACF_LAGS})) AS lag),
    pairs AS (
        SELECT l.lag, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy
        FROM idx a CROSS JOIN lags l
        JOIN idx b ON b.t = a.t - l.lag
        GROUP BY l.lag
    ), acf AS (
        SELECT p.lag, p.cnt,
               (CAST(p.sxy AS DOUBLE)
                  - (CAST(s.s1 AS DOUBLE) / s.n) * (p.sx + p.sy)
                  + p.cnt * (CAST(s.s1 AS DOUBLE) / s.n)
                          * (CAST(s.s1 AS DOUBLE) / s.n))
               / (CAST(s.s2 AS DOUBLE)
                  - s.n * (CAST(s.s1 AS DOUBLE) / s.n)
                        * (CAST(s.s1 AS DOUBLE) / s.n)) AS r
        FROM pairs p, stats s
    ), wide AS (
        SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
               max(CASE WHEN lag = 2 THEN r END) AS r2,
               max(CASE WHEN lag = 3 THEN r END) AS r3,
               max(CASE WHEN lag = 1 THEN cnt END) AS c1,
               max(CASE WHEN lag = 2 THEN cnt END) AS c2,
               max(CASE WHEN lag = 3 THEN cnt END) AS c3
        FROM acf
    ), dl AS (
        SELECT r1, r2, r3, c1, c2, c3,
               r1 AS phi11,
               (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
        FROM wide
    ), dl2 AS (
        SELECT *,
               phi11 - phi22 * phi11 AS phi21,
               (1 - r1 * r1) * (1 - phi22 * phi22) AS e2
        FROM dl
    ), dl3 AS (
        SELECT *,
               (r3 - phi21 * r2 - phi22 * r1) / e2 AS phi33
        FROM dl2
    )
    SELECT CAST(1 AS BIGINT) AS lag, CAST(c1 AS BIGINT) AS n_terms,
           {sql_q4("r1")} AS acf, {sql_q4("phi11")} AS pacf FROM dl3
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(c2 AS BIGINT),
           {sql_q4("r2")}, {sql_q4("phi22")} FROM dl3
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(c3 AS BIGINT),
           {sql_q4("r3")}, {sql_q4("phi33")} FROM dl3
    """,
)
def stat_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the hourly activity-value series at
    lags 1–3 via the Durbin–Levinson recursion unrolled in closed
    form (φ11 = r1; φ22 = (r2−r1²)/(1−r1²); φ33 from the level-2
    forward coefficients) — THE model-order diagnostic for AR
    fitting (PACF cuts off after lag p ⇒ AR(p)); complements
    events_autocorr, which reads the raw ACF.

    Determinism: ACF moments accumulate as exact BIGINTs (hourly
    cents, lag self-join on the hour index), each rₖ and every
    Durbin–Levinson line is ONE fixed-order double expression
    written identically in both engines. Scale shape: one
    data-proportional aggregate to the calendar-bounded hourly grid
    (census-allowlisted row_number), then |hours|×3 join rows and a
    1-row recursion."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(cents(F.col("value"))).cast("long").alias("y")).localCheckpoint(eager=False)
    # calendar-bounded hour grid (census-allowlisted)
    idx = hourly.select(
        "y", F.row_number().over(Window.orderBy("hr")).alias("t")
    ).localCheckpoint(eager=False)
    stats = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    lags = spark.range(1, PACF_LAGS + 1).select(F.col("id").alias("lag"))
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.t") == F.col("a.t") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("a.y") * F.col("b.y")).cast("long").alias("sxy"),
            F.sum(F.col("a.y")).cast("long").alias("sx"),
            F.sum(F.col("b.y")).cast("long").alias("sy"),
        )
    )
    mu = F.col("s1").cast("double") / F.col("n")
    r = (
        F.col("sxy").cast("double")
        - mu * (F.col("sx") + F.col("sy"))
        + F.col("cnt") * mu * mu
    ) / (F.col("s2").cast("double") - F.col("n") * mu * mu)
    acf = pairs.crossJoin(F.broadcast(stats)).select(
        "lag", "cnt", r.alias("r")
    ).localCheckpoint(eager=False)
    wide = acf.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
            for k in (1, 2, 3)
        ],
        *[
            F.max(F.when(F.col("lag") == k, F.col("cnt"))).alias(f"c{k}")
            for k in (1, 2, 3)
        ],
    )
    r1, r2, r3 = (F.col(c) for c in ("r1", "r2", "r3"))
    phi11 = r1
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = phi11 - phi22 * phi11
    e2 = (1 - r1 * r1) * (1 - phi22 * phi22)
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / e2
    rows = []
    for k, (rr, ph) in enumerate(
        [(r1, phi11), (r2, phi22), (r3, phi33)], start=1
    ):
        rows.append(
            wide.select(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"c{k}").cast("long").alias("n_terms"),
                q4(rr).alias("acf"),
                q4(ph).alias("pacf"),
            )
        )
    out = rows[0]
    for frame in rows[1:]:
        out = out.unionAll(frame)
    return out


# ------------------------------------- Hodges-Lehmann pseudo-median


@register(
    "stat_hodges_lehmann",
    oracle="""
    WITH grid AS (
        SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ), walsh AS (
        SELECT a.f, a.q + b.q AS w2,
               CAST(sum(CASE WHEN a.q = b.q
                        THEN a.c * (a.c + 1) // 2
                        ELSE a.c * b.c END) AS BIGINT) AS wt
        FROM grid a JOIN grid b ON a.f = b.f AND a.q <= b.q
        GROUP BY a.f, a.q + b.q
    ), tot AS (
        SELECT f, CAST(sum(wt) AS BIGINT) AS t FROM walsh GROUP BY f
    ), cum AS (
        SELECT w.f, w.w2,
               CAST(sum(w.wt) OVER (PARTITION BY w.f ORDER BY w.w2
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c,
               t.t
        FROM walsh w JOIN tot t ON w.f = t.f
    )
    SELECT f AS l_returnflag, min(t) AS n_pairs,
           CAST(min(w2) AS DOUBLE) / 2.0 AS pseudo_median
    FROM cum WHERE 2 * c >= t
    GROUP BY f
    """,
)
def stat_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann one-sample pseudo-median of quantity per
    returnflag: the (lower) median of all Walsh averages
    (xᵢ+xⱼ)/2, i ≤ j — the location estimator dual to the Wilcoxon
    signed-rank test, robust to outliers yet far more efficient
    than the plain median at near-normal data.

    Scale shape: the naive statistic is O(n²) pairs of ROWS; on an
    integer-valued measure it collapses to the 50-point VALUE GRID —
    grid×grid pairs with multiplicity weights (cᵢcⱼ off-diagonal,
    cᵢ(cᵢ+1)/2 on it), a cumulative window over the ~100-point
    Walsh-sum grid (value-domain bounded, partitioned by flag), and
    a min over the qualifying half. Exact BIGINT weights end to
    end; the only double is the final /2. (Pair-count totals reach
    int64 limits near n≈3e9 rows per group; past that, swap the
    weight sums to decimal(38,0) — same plan shape.)"""
    li = table(spark, sf_dir, "lineitem")
    grid = li.groupBy(
        F.col("l_returnflag").alias("f"),
        F.col("l_quantity").cast("long").alias("q"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(eager=False)
    a, b = grid.alias("a"), grid.alias("b")
    wt = F.when(
        F.col("a.q") == F.col("b.q"),
        F.expr("`a`.c * (`a`.c + 1) DIV 2"),
    ).otherwise(F.col("a.c") * F.col("b.c"))
    walsh = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f")) & (F.col("a.q") <= F.col("b.q")),
        )
        .groupBy(
            F.col("a.f").alias("f"),
            (F.col("a.q") + F.col("b.q")).alias("w2"),
        )
        .agg(F.sum(wt).cast("long").alias("wt")).localCheckpoint(eager=False)
    )
    tot = walsh.groupBy("f").agg(F.sum("wt").cast("long").alias("t"))
    w_cum = (
        Window.partitionBy("f")
        .orderBy("w2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = walsh.join(tot, "f").select(
        "f",
        "w2",
        F.sum("wt").over(w_cum).cast("long").alias("c"),
        "t",
    )
    return (
        cum.where(2 * F.col("c") >= F.col("t"))
        .groupBy(F.col("f").alias("l_returnflag"))
        .agg(
            F.min("t").alias("n_pairs"),
            (F.min("w2").cast("double") / 2.0).alias("pseudo_median"),
        )
    )


# --------------------------------- Theil inequality index decomposition

THEIL_QR = 1000  # per-customer x·ln(x) fixed-point scale
THEIL_QG = 1000000000000  # per-group decomposition-term scale


@register(
    "stat_theil_decomposition",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), rowq AS (
        SELECT c.c_nationkey AS nat, cu.x,
               CAST(floor(CAST(cu.x AS DOUBLE)
                   * ln(CAST(cu.x AS DOUBLE)) * {THEIL_QR} + 0.5)
                   AS BIGINT) AS qxlx
        FROM cust cu JOIN customer c ON cu.o_custkey = c.c_custkey
    ), grp AS (
        SELECT nat, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(x) AS BIGINT) AS x_g,
               CAST(sum(qxlx) AS BIGINT) AS s_g
        FROM rowq GROUP BY nat
    ), tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(x_g) AS BIGINT) AS x
        FROM grp
    ), gterms AS (
        SELECT g.nat, g.n_g, g.x_g,
               CAST(g.x_g AS DOUBLE) / t.x AS share,
               (CAST(g.s_g AS DOUBLE) / {THEIL_QR}) / g.x_g
                   - ln(CAST(g.x_g AS DOUBLE) / g.n_g) AS t_g,
               CAST(floor((CAST(g.x_g AS DOUBLE) / t.x)
                   * ln((CAST(g.x_g AS DOUBLE) / t.x)
                        / (CAST(g.n_g AS DOUBLE) / t.n))
                   * {THEIL_QG} + 0.5) AS BIGINT) AS q_btw,
               CAST(floor((CAST(g.x_g AS DOUBLE) / t.x)
                   * ((CAST(g.s_g AS DOUBLE) / {THEIL_QR}) / g.x_g
                      - ln(CAST(g.x_g AS DOUBLE) / g.n_g))
                   * {THEIL_QG} + 0.5) AS BIGINT) AS q_win
        FROM grp g, tot t
    ), decomp AS (
        SELECT CAST(sum(q_btw) AS DOUBLE) / {THEIL_QG} AS t_between,
               CAST(sum(q_win) AS DOUBLE) / {THEIL_QG} AS t_within
        FROM gterms
    )
    SELECT g.nat AS nationkey, g.n_g AS n_cust,
           {sql_q4("g.share")} AS spend_share,
           {sql_q4("g.t_g")} AS theil_g,
           {sql_q4("d.t_between")} AS t_between,
           {sql_q4("d.t_within")} AS t_within,
           {sql_q4("d.t_between + d.t_within")} AS t_total
    FROM gterms g CROSS JOIN decomp d
    """,
)
def stat_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of per-customer spend, exactly
    decomposed by nation: T_total = T_between + Σ_g share_g·T_g —
    the additive inequality decomposition (between-group disparity
    vs within-group dispersion) that Gini cannot provide, and the
    standard concentration diagnostic for revenue-mix dashboards.

    Float discipline: per-customer x·ln(x) quantizes to a 1e-3
    fixed-point BIGINT before the group sum (row-order independent);
    each group's two decomposition terms quantize to 1e-12 before
    the 25-row fold, so every commutative float sum is integer. The
    group statistic itself is the closed form T_g = Σx·lnx/X_g −
    ln(μ_g) over three exact sums. Scale shape: one per-customer
    rollup (shuffle on custkey), a broadcast customer→nation join,
    a 25-group aggregate, and 1-row totals broadcast back."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cust = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("x")
    )
    xd = F.col("x").cast("double")
    rowq = cust.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        cust.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nat"),
        "x",
        F.floor(xd * F.log(xd) * THEIL_QR + 0.5).cast("long").alias("qxlx"),
    ).persist()
    grp = rowq.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("x_g"),
        F.sum("qxlx").cast("long").alias("s_g"),
    ).localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("x_g").cast("long").alias("x"),
    )
    xg = F.col("x_g").cast("double")
    share = xg / F.col("x")
    t_g = (F.col("s_g").cast("double") / THEIL_QR) / F.col("x_g") - F.log(
        xg / F.col("n_g")
    )
    q_btw = F.floor(
        share
        * F.log(share / (F.col("n_g").cast("double") / F.col("n")))
        * THEIL_QG
        + 0.5
    ).cast("long")
    q_win = F.floor(share * t_g * THEIL_QG + 0.5).cast("long")
    gterms = grp.crossJoin(F.broadcast(tot)).select(
        "nat",
        "n_g",
        share.alias("share"),
        t_g.alias("t_g"),
        q_btw.alias("q_btw"),
        q_win.alias("q_win"),
    )
    decomp = gterms.agg(
        (F.sum("q_btw").cast("double") / THEIL_QG).alias("t_between"),
        (F.sum("q_win").cast("double") / THEIL_QG).alias("t_within"),
    )
    return gterms.crossJoin(F.broadcast(decomp)).select(
        F.col("nat").alias("nationkey"),
        F.col("n_g").alias("n_cust"),
        q4(F.col("share")).alias("spend_share"),
        q4(F.col("t_g")).alias("theil_g"),
        q4(F.col("t_between")).alias("t_between"),
        q4(F.col("t_within")).alias("t_within"),
        q4(F.col("t_between") + F.col("t_within")).alias("t_total"),
    )


# --------------------------------------- Wilcoxon signed-rank (paired)


_WSR_Z = ("(w_plus - n * (n + 1) / 4.0)"
          " / sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0)")


@register(
    "stat_wilcoxon_signed",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS p,
               CAST(sum(CASE WHEN event_type = 'click'
                   THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), diffs AS (
        SELECT p - c AS d, abs(p - c) AS ad FROM daily WHERE p <> c
    ), grid AS (
        SELECT ad, CAST(count(*) AS BIGINT) AS t,
               CAST(count_if(d > 0) AS BIGINT) AS pos
        FROM diffs GROUP BY ad
    ), ranked AS (
        SELECT ad, t, pos,
               CAST(coalesce(sum(t) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS before
        FROM grid
    ), folded AS (
        SELECT CAST(sum(t) AS BIGINT) AS n,
               sum(pos * (before + (t + 1) / 2.0)) AS w_plus,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie3
        FROM ranked
    )
    SELECT n,
           {sql_q4("w_plus")} AS w_plus,
           {sql_q4("n * (n + 1) / 2.0 - w_plus")} AS w_minus,
           {sql_q4(_WSR_Z)}
               AS z_stat
    FROM folded
    """,
)
def stat_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED daily totals (purchase vs
    click revenue per calendar day) — the nonparametric paired-t
    replacement; complements stat_mann_whitney, which handles the
    unpaired case. Zero differences drop (Wilcoxon's rule), ties in
    |d| get midranks, W⁺/W⁻ are the signed rank sums, and the
    normal approximation carries the standard tie correction
    Σ(t³−t)/48.

    Exactness: daily totals and differences are integer cents;
    midranks are dyadic halves (exact in binary), so every sum is
    bit-reproducible without quantization. Scale shape: one hash
    aggregate to the calendar-day grid, a cumulative window over the
    ≤|days| |d|-value grid (census-allowlisted), one closed-form
    row."""
    e = table(spark, sf_dir, "events")
    v = cents(F.col("value"))
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", v).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.when(F.col("event_type") == "click", v).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    diffs = daily.where(F.col("p") != F.col("c")).select(
        (F.col("p") - F.col("c")).alias("d"),
        F.abs(F.col("p") - F.col("c")).alias("ad"),
    )
    grid = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    # |d| grid over calendar days — bounded (census-allowlisted)
    w_excl = Window.orderBy("ad").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = grid.select(
        "ad",
        "t",
        "pos",
        F.coalesce(F.sum("t").over(w_excl), F.lit(0))
        .cast("long")
        .alias("before"),
    )
    folded = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("pos") * (F.col("before") + (F.col("t") + 1) / 2.0)
        ).alias("w_plus"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        )
        .cast("long")
        .alias("tie3"),
    )
    n = F.col("n")
    wp = F.col("w_plus")
    z = (wp - n * (n + 1) / 4.0) / F.sqrt(
        n * (n + 1) * (2 * n + 1) / 24.0 - F.col("tie3") / 48.0
    )
    return folded.select(
        "n",
        q4(wp).alias("w_plus"),
        q4(n * (n + 1) / 2.0 - wp).alias("w_minus"),
        q4(z).alias("z_stat"),
    )


# ------------------------------------------------- Box-Cox lambda scan

BC_LAMBDAS = (-20, -15, -10, -5, 0, 5, 10, 15, 20)  # lambda * 10
BC_Q = 1000000000  # fixed-point scale for transformed-value sums
_BC_L_SQL = ", ".join(f"({v})" for v in BC_LAMBDAS)


@register(
    "stat_box_cox",
    oracle=f"""
    WITH grid AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem
    GROUP BY 1
    ), lam AS (SELECT CAST(l10 AS BIGINT) AS l10 FROM (VALUES {_BC_L_SQL}) t(l10)),
    trans AS (
        SELECT l.l10, g.c,
               CASE WHEN l.l10 = 0 THEN ln(CAST(g.x AS DOUBLE))
                    ELSE (pow(CAST(g.x AS DOUBLE), l.l10 / 10.0) - 1.0)
                         / (l.l10 / 10.0) END AS y,
               ln(CAST(g.x AS DOUBLE)) AS lx
        FROM grid g CROSS JOIN lam l
    ), q AS (
        SELECT l10, c,
               CAST(floor(y * {BC_Q} + 0.5) AS BIGINT) AS qy,
               CAST(floor(y * y * {BC_Q} + 0.5) AS BIGINT) AS qyy,
               CAST(floor(lx * {BC_Q} + 0.5) AS BIGINT) AS qlx
        FROM trans
    ), mom AS (
        SELECT l10, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CAST(c AS HUGEINT) * qy) AS DOUBLE) / {BC_Q} AS sy,
               CAST(sum(CAST(c AS HUGEINT) * qyy) AS DOUBLE) / {BC_Q}
                   AS syy,
               CAST(sum(CAST(c AS HUGEINT) * qlx) AS DOUBLE) / {BC_Q}
                   AS slx
        FROM q GROUP BY l10
    ), ll AS (
        SELECT l10, n,
               -n / 2.0 * ln(syy / n - (sy / n) * (sy / n))
                   + (l10 / 10.0 - 1.0) * slx AS loglik
        FROM mom
    ), best AS (SELECT max(loglik) AS m FROM ll)
    SELECT {sql_q4("ll.l10 / 10.0")} AS lam,
           {sql_q4("ll.loglik")} AS loglik,
           ll.loglik = best.m AS is_best
    FROM ll CROSS JOIN best
    """,
)
def stat_box_cox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box–Cox power-transform selection: the profile log-likelihood
    LL(λ) = −n/2·ln σ̂²_λ + (λ−1)Σln x scanned over a fixed λ grid
    (−2…2 step 0.5, λ=0 → ln x), with the argmax flagged — the
    normality-restoring transform picker that precedes parametric
    modeling of skewed positive measures.

    Scale shape: the measure collapses to its 50-point VALUE GRID
    first (one hash aggregate), so the 9-λ scan transforms grid
    points, not rows — |grid|×9 work regardless of table size.
    Transformed values quantize to 1e-9 fixed point per grid cell
    before the count-weighted sums, so no float accumulation depends
    on order; pow/ln are computed once per (value, λ) cell with
    identical expressions in both engines."""
    li = table(spark, sf_dir, "lineitem")
    grid = li.groupBy(F.col("l_quantity").cast("long").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lam = spark.createDataFrame(
        [(v,) for v in BC_LAMBDAS], "l10 long"
    )
    xd = F.col("x").cast("double")
    ld = F.col("l10") / 10.0
    y = F.when(F.col("l10") == 0, F.log(xd)).otherwise(
        (F.pow(xd, ld) - 1.0) / ld
    )
    trans = grid.crossJoin(F.broadcast(lam)).select(
        "l10",
        "c",
        y.alias("y"),
        F.log(xd).alias("lx"),
    )
    q = trans.select(
        "l10",
        "c",
        F.floor(F.col("y") * BC_Q + 0.5).cast("long").alias("qy"),
        F.floor(F.col("y") * F.col("y") * BC_Q + 0.5)
        .cast("long")
        .alias("qyy"),
        F.floor(F.col("lx") * BC_Q + 0.5).cast("long").alias("qlx"),
    )
    # weight x quantized-square products exceed int64 at fact-table
    # cardinalities; accumulate in decimal(38,0) (HUGEINT on the
    # oracle side) — exact and mergeable
    cd = F.col("c").cast("decimal(19,0)")
    mom = q.groupBy("l10").agg(
        F.sum("c").cast("long").alias("n"),
        (F.sum(cd * F.col("qy")).cast("double") / BC_Q).alias("sy"),
        (F.sum(cd * F.col("qyy")).cast("double") / BC_Q).alias("syy"),
        (F.sum(cd * F.col("qlx")).cast("double") / BC_Q).alias("slx"),
    )
    n = F.col("n")
    loglik = -n / 2.0 * F.log(
        F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    ) + (F.col("l10") / 10.0 - 1.0) * F.col("slx")
    ll = mom.select("l10", "n", loglik.alias("loglik"))
    best = ll.agg(F.max("loglik").alias("m"))
    return ll.crossJoin(F.broadcast(best)).select(
        q4(F.col("l10") / 10.0).alias("lam"),
        q4(F.col("loglik")).alias("loglik"),
        (F.col("loglik") == F.col("m")).alias("is_best"),
    )


# --------------------------------------- process capability (Cp / Cpk)

CAP_LSL, CAP_USL = 5, 45  # quantity spec limits


@register(
    "stat_capability",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
               CAST(count_if(l_quantity < {CAP_LSL}
                    OR l_quantity > {CAP_USL}) AS BIGINT) AS n_out
        FROM lineitem GROUP BY 1
    ), d AS (
        SELECT l_returnflag, n, n_out,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd
        FROM m
    )
    SELECT l_returnflag, n, {sql_q4("mu")} AS mean_qty,
           {sql_q4("sd")} AS sd_qty,
           {sql_q4(f"({CAP_USL} - {CAP_LSL}) / (6.0 * sd)")} AS cp,
           {sql_q4(f"least({CAP_USL} - mu, mu - {CAP_LSL}) / (3.0 * sd)")}
               AS cpk,
           {sql_q4("CAST(n_out AS DOUBLE) / n")} AS frac_out_of_spec
    FROM d
    """,
)
def stat_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability indices per returnflag against quantity
    spec limits [{CAP_LSL}, {CAP_USL}]: Cp = (USL−LSL)/6σ (potential
    capability), Cpk = min(USL−μ, μ−LSL)/3σ (actual, centering-
    penalized), plus the observed out-of-spec fraction — the SPC
    summary a manufacturing/SLA dashboard pairs with the XmR chart
    (events_xmr_chart tracks stability over time; Cp/Cpk judge the
    stable process against its tolerance).

    One map-side-combined hash aggregate of exact integer moments
    per group; every index is a closed-form double from those
    sums."""
    li = table(spark, sf_dir, "lineitem")
    qv = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(qv).cast("long").alias("s1"),
        F.sum(qv * qv).cast("long").alias("s2"),
        F.sum(
            F.when(
                (F.col("l_quantity") < CAP_LSL)
                | (F.col("l_quantity") > CAP_USL),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_out"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    return m.select(
        "l_returnflag",
        "n",
        q4(mu).alias("mean_qty"),
        q4(sd).alias("sd_qty"),
        q4((CAP_USL - CAP_LSL) / (6.0 * sd)).alias("cp"),
        q4(F.least(CAP_USL - mu, mu - CAP_LSL) / (3.0 * sd)).alias("cpk"),
        q4(F.col("n_out").cast("double") / F.col("n")).alias(
            "frac_out_of_spec"
        ),
    )


# --------------------------------- method-of-moments distribution fits


@register(
    "stat_gamma_fit_mom",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                   AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS HUGEINT) AS s2
        FROM lineitem GROUP BY 1
    ), d AS (
        SELECT l_returnflag, n,
               CAST(s1 AS DOUBLE) / n / 100.0 AS mu,
               (CAST(s2 AS DOUBLE) / n
                - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               / 10000.0 AS var_pop
        FROM m
    )
    SELECT l_returnflag, n, {sql_q4("mu")} AS mean_price,
           {sql_q4("mu * mu / var_pop")} AS shape_k,
           {sql_q4("var_pop / mu")} AS scale_theta
    FROM d
    """,
)
def stat_gamma_fit_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma distribution fit by method of moments per returnflag:
    shape k = μ²/σ², scale θ = σ²/μ from exact integer-cent power
    sums (s2 in decimal/HUGEINT — cents² sums pass int64 at scale) —
    the skewed-positive-amounts model behind claim-size, basket-size
    and latency distributions; pairs with events_weibull_fit
    (lifetimes) and stat_box_cox (transform selection). One
    map-side-combined aggregate, closed form per group."""
    li = table(spark, sf_dir, "lineitem")
    v = cents(F.col("l_extendedprice"))
    vd = v.cast("decimal(19,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(vd * vd).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n") / 100.0
    var_pop = (
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    ) / 10000.0
    return m.select(
        "l_returnflag",
        "n",
        q4(mu).alias("mean_price"),
        q4(mu * mu / var_pop).alias("shape_k"),
        q4(var_pop / mu).alias("scale_theta"),
    )


@register(
    "stat_negbin_fit_mom",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM daily
    ), d AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS var_pop
        FROM m
    )
    SELECT n, {sql_q4("mu")} AS mean_count,
           {sql_q4("var_pop")} AS var_count,
           {sql_q4("var_pop / mu")} AS dispersion,
           {sql_q4("mu * mu / (var_pop - mu)")} AS nb_r,
           {sql_q4("mu / var_pop")} AS nb_p
    FROM d
    """,
)
def stat_negbin_fit_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit by method of moments on (user, day)
    activity counts: r = μ²/(σ²−μ), p = μ/σ² — the overdispersed
    count model (Poisson has σ²=μ; real user activity never does,
    as events_fano_factor measures; this key turns that
    overdispersion into usable NB parameters for simulation and
    anomaly thresholds). Exact integer count moments, one rollup +
    one 1-row closed form."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var_pop = F.col("s2").cast("double") / F.col("n") - mu * mu
    return m.select(
        "n",
        q4(mu).alias("mean_count"),
        q4(var_pop).alias("var_count"),
        q4(var_pop / mu).alias("dispersion"),
        q4(mu * mu / (var_pop - mu)).alias("nb_r"),
        q4(mu / var_pop).alias("nb_p"),
    )


# --------------------------------- winsorized / trimmed robust means

WINSOR_PCT = 5  # clamp/trim tail mass per side, in percent


@register(
    "stat_winsorized_trimmed",
    oracle=f"""
    WITH grid AS (
        SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS t
        FROM lineitem GROUP BY 1, 2
    ), tot AS (
        SELECT f, CAST(sum(t) AS BIGINT) AS n FROM grid GROUP BY f
    ), cum AS (
        SELECT g.f, g.v, g.t, tt.n,
               CAST(sum(g.t) OVER (PARTITION BY g.f ORDER BY g.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c
        FROM grid g JOIN tot tt ON g.f = tt.f
    ), bounds AS (
        SELECT f,
               min(CASE WHEN 100 * c >= {WINSOR_PCT} * n THEN v END)
                   AS lo,
               min(CASE WHEN 100 * c >= (100 - {WINSOR_PCT}) * n THEN v
                   END) AS hi
        FROM cum GROUP BY f
    ), folded AS (
        SELECT g.f, b.lo, b.hi, tt.n,
               CAST(sum(g.t * CASE WHEN g.v < b.lo THEN b.lo
                            WHEN g.v > b.hi THEN b.hi
                            ELSE g.v END) AS BIGINT) AS wsum,
               CAST(sum(CASE WHEN g.v BETWEEN b.lo AND b.hi
                        THEN g.t * g.v ELSE 0 END) AS BIGINT) AS tsum,
               CAST(sum(CASE WHEN g.v BETWEEN b.lo AND b.hi
                        THEN g.t ELSE 0 END) AS BIGINT) AS tcnt
        FROM grid g
        JOIN bounds b ON g.f = b.f
        JOIN tot tt ON g.f = tt.f
        GROUP BY g.f, b.lo, b.hi, tt.n
    )
    SELECT f AS l_returnflag, n, lo AS p05, hi AS p95,
           {sql_q4("CAST(wsum AS DOUBLE) / n")} AS winsorized_mean,
           {sql_q4("CAST(tsum AS DOUBLE) / tcnt")} AS trimmed_mean,
           tcnt AS n_kept
    FROM folded
    """,
)
def stat_winsorized_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means per returnflag — the robust
    location estimators that tame heavy tails without Hodges–
    Lehmann's pairwise machinery: tail bounds are the p{WINSOR_PCT}/
    p{100 - WINSOR_PCT} lower order statistics taken on the VALUE
    GRID (smallest v with 100·cum ≥ p·n — integer arithmetic, no
    float percentile ambiguity); winsorizing clamps grid values into
    [lo, hi] before the weighted sum, trimming keeps only in-range
    values (whole tied-value blocks — documented variant). Every sum
    is an exact BIGINT over grid cells; one fact pass + grid-sized
    windows (flag-partitioned) + one grid fold."""
    li = table(spark, sf_dir, "lineitem")
    grid = li.groupBy(
        F.col("l_returnflag").alias("f"),
        F.col("l_quantity").cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("t")).localCheckpoint(eager=False)
    tot = grid.groupBy("f").agg(F.sum("t").cast("long").alias("n"))
    w_cum = (
        Window.partitionBy("f")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.join(tot, "f").select(
        "f", "v", "t", "n", F.sum("t").over(w_cum).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    bounds = cum.groupBy("f").agg(
        F.min(
            F.when(100 * F.col("c") >= WINSOR_PCT * F.col("n"), F.col("v"))
        ).alias("lo"),
        F.min(
            F.when(
                100 * F.col("c") >= (100 - WINSOR_PCT) * F.col("n"),
                F.col("v"),
            )
        ).alias("hi"),
    )
    clamped = (
        F.when(F.col("v") < F.col("lo"), F.col("lo"))
        .when(F.col("v") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("v"))
    )
    in_range = F.col("v").between(F.col("lo"), F.col("hi"))
    folded = (
        grid.join(bounds, "f")
        .join(tot, "f")
        .groupBy("f", "lo", "hi", "n")
        .agg(
            F.sum(F.col("t") * clamped).cast("long").alias("wsum"),
            F.sum(F.when(in_range, F.col("t") * F.col("v")).otherwise(0))
            .cast("long")
            .alias("tsum"),
            F.sum(F.when(in_range, F.col("t")).otherwise(0))
            .cast("long")
            .alias("tcnt"),
        )
    )
    return folded.select(
        F.col("f").alias("l_returnflag"),
        "n",
        F.col("lo").alias("p05"),
        F.col("hi").alias("p95"),
        q4(F.col("wsum").cast("double") / F.col("n")).alias(
            "winsorized_mean"
        ),
        q4(F.col("tsum").cast("double") / F.col("tcnt")).alias(
            "trimmed_mean"
        ),
        F.col("tcnt").alias("n_kept"),
    )


# ----------------------------- variance components / intraclass corr


@register(
    "stat_icc_variance_components",
    oracle=f"""
    WITH cust AS (
        SELECT c.c_nationkey AS g,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                   AS BIGINT)) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_nationkey
    ), grp AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(x) AS BIGINT) AS s1,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        FROM cust GROUP BY g
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(s1) AS BIGINT) AS t1,
               CAST(sum(s2) AS HUGEINT) AS t2,
               CAST(sum(CAST(floor(CAST(s1 AS DOUBLE)
                   * CAST(s1 AS DOUBLE) / n_g / 1e6) AS BIGINT))
                   AS DOUBLE) * 1e6 AS sum_gm
        FROM grp
    ), ss AS (
        SELECT k, n,
               CAST(t2 AS DOUBLE)
                   - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n AS sst,
               sum_gm - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n
                   AS ssb
        FROM tot
    ), msq AS (
        SELECT k, n, sst, ssb, sst - ssb AS ssw,
               ssb / (k - 1) AS msb,
               (sst - ssb) / (n - k) AS msw,
               CAST(n AS DOUBLE) / k AS n0
        FROM ss
    )
    SELECT k AS n_groups, n AS n_custs,
           {sql_q4("ssb / sst")} AS eta_sq,
           {sql_q4("(msb - msw) / (msb + (n0 - 1) * msw)")} AS icc1,
           {sql_q4("msb / msw")} AS f_stat
    FROM msq
    """,
)
def stat_icc_variance_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Variance-component decomposition of per-customer spend across
    nations — η² (between-group share of total variance), the
    intraclass correlation ICC(1) = (MSB−MSW)/(MSB+(n₀−1)MSW) with
    the balanced-design n₀ = N/k, and the ANOVA F — the "how much
    does the grouping explain" readout behind mixed-effects
    modeling, cluster-randomized power analysis, and feature-
    usefulness triage (complements stat_anova_oneway's test with
    the effect-size view and stat_theil_decomposition's entropy
    lens with the variance lens).

    Exactness: sufficient statistics are exact integer-cent sums
    (squares in HUGEINT/decimal); the per-group s1²/n_g fold and
    every mean square are fixed-order closed forms. Scale: one
    per-customer rollup, one 25-group aggregate, one 1-row fold."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cust = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy("o_custkey", F.col("c_nationkey").alias("g"))
        .agg(F.sum(cents(F.col("o_totalprice"))).cast("long").alias("x"))
    )
    xd = F.col("x").cast("decimal(19,0)")
    grp = cust.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(xd * F.col("x")).alias("s2"),
    )
    s1d = F.col("s1").cast("decimal(38,0)")
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s1").cast("long").alias("t1"),
        F.sum("s2").alias("t2"),
        # per-group s1²/n_g is ONE double expression (identical inputs
        # → identical doubles in both engines), quantized to 1e6 steps
        # before the exact integer fold — no order-dependent float sum
        (
            F.sum(
                F.floor(
                    F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n_g")
                    / 1e6
                ).cast("long")
            ).cast("double")
            * 1e6
        ).alias("sum_gm"),
    )
    t1d = F.col("t1").cast("double")
    sst = F.col("t2").cast("double") - t1d * t1d / F.col("n")
    ssb = F.col("sum_gm") - t1d * t1d / F.col("n")
    msq = tot.select(
        "k",
        "n",
        sst.alias("sst"),
        ssb.alias("ssb"),
        (sst - ssb).alias("ssw"),
        (ssb / (F.col("k") - 1)).alias("msb"),
        ((sst - ssb) / (F.col("n") - F.col("k"))).alias("msw"),
        (F.col("n").cast("double") / F.col("k")).alias("n0"),
    )
    return msq.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_custs"),
        q4(F.col("ssb") / F.col("sst")).alias("eta_sq"),
        q4(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("n0") - 1) * F.col("msw"))
        ).alias("icc1"),
        q4(F.col("msb") / F.col("msw")).alias("f_stat"),
    )


# ----------------------------------------- grouped MAD robust scale


@register(
    "stat_mad_robust_scale",
    oracle="""
    WITH grid AS (
        SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS t
        FROM lineitem GROUP BY 1, 2
    ), tot AS (
        SELECT f, CAST(sum(t) AS BIGINT) AS n FROM grid GROUP BY f
    ), med AS (
        SELECT c.f, min(c.v) AS m
        FROM (
            SELECT g.f, g.v, tt.n,
                   sum(g.t) OVER (PARTITION BY g.f ORDER BY g.v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS c
            FROM grid g JOIN tot tt ON g.f = tt.f
        ) c WHERE 2 * c.c >= c.n GROUP BY c.f
    ), dev AS (
        SELECT g.f, abs(g.v - m.m) AS av, CAST(sum(g.t) AS BIGINT) AS t
        FROM grid g JOIN med m ON g.f = m.f
        GROUP BY g.f, abs(g.v - m.m)
    ), mad AS (
        SELECT c.f, min(c.av) AS mad_v
        FROM (
            SELECT d.f, d.av, tt.n,
                   sum(d.t) OVER (PARTITION BY d.f ORDER BY d.av
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS c
            FROM dev d JOIN tot tt ON d.f = tt.f
        ) c WHERE 2 * c.c >= c.n GROUP BY c.f
    )
    SELECT med.f AS l_returnflag, tot.n,
           CAST(med.m AS BIGINT) AS median_qty,
           CAST(mad.mad_v AS BIGINT) AS mad,
           floor(mad.mad_v * 1.4826 * 10000 + 0.5) / 10000.0
               AS sigma_robust
    FROM med JOIN mad ON med.f = mad.f JOIN tot ON med.f = tot.f
    """,
)
def stat_mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped median-absolute-deviation robust scale: per-flag
    median, MAD = median(|x − med|), and the consistent
    σ̂ = 1.4826·MAD — the breakdown-point-0.5 scale estimator that
    events_anomaly_mad applies globally, now as a per-group library
    primitive (completing the robust toolkit with
    stat_winsorized_trimmed's location side). BOTH medians are lower
    order statistics on the VALUE GRID (exact integers; cumulative
    windows partitioned by flag over ≤50 grid rows) — no row-level
    sort anywhere; the only float is the final 1.4826 scaling."""
    li = table(spark, sf_dir, "lineitem")
    grid = li.groupBy(
        F.col("l_returnflag").alias("f"),
        F.col("l_quantity").cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("t")).localCheckpoint(eager=False)
    tot = grid.groupBy("f").agg(F.sum("t").cast("long").alias("n"))

    def lower_median(df, val_col):
        w = (
            Window.partitionBy("f")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            df.join(tot, "f")
            .select(
                "f", val_col, "n", F.sum("t").over(w).alias("c")
            )
            .where(2 * F.col("c") >= F.col("n"))
            .groupBy("f")
            .agg(F.min(val_col).cast("long").alias("m"))
        )

    med = lower_median(grid, "v")
    dev = (
        grid.join(med, "f")
        .groupBy("f", F.abs(F.col("v") - F.col("m")).alias("av"))
        .agg(F.sum("t").cast("long").alias("t"))
    )
    mad = lower_median(dev, "av").withColumnRenamed("m", "mad_v")
    return (
        med.join(mad, "f")
        .join(tot, "f")
        .select(
            F.col("f").alias("l_returnflag"),
            "n",
            F.col("m").alias("median_qty"),
            F.col("mad_v").alias("mad"),
            (
                F.floor(F.col("mad_v") * 1.4826 * 10000 + 0.5) / 10000.0
            ).alias("sigma_robust"),
        )
    )


# --------------------------------------------- Cronbach's alpha

_CRONBACH_ALPHA = ("iv.k / (iv.k - 1.0)"
                   " * (1.0 - iv.sum_var_i / tv.var_t)")


@register(
    "stat_cronbach_alpha",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cells AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT u.user_id, t.event_type,
               coalesce(c.c, 0) AS x
        FROM users u CROSS JOIN types t
        LEFT JOIN cells c ON c.user_id = u.user_id
                         AND c.event_type = t.event_type
    ), item AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s1,
               CAST(sum(x * x) AS BIGINT) AS s2
        FROM dense GROUP BY 1
    ), item_var AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(floor((CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n)) * 1e9 + 0.5)
                   AS BIGINT)) AS DOUBLE) / 1e9 AS sum_var_i
        FROM item
    ), totals AS (
        SELECT user_id, CAST(sum(x) AS BIGINT) AS tx
        FROM dense GROUP BY 1
    ), tot_var AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(tx) AS DOUBLE) / count(*) AS mu,
               CAST(sum(tx * tx) AS DOUBLE) / count(*)
                   - (CAST(sum(tx) AS DOUBLE) / count(*))
                     * (CAST(sum(tx) AS DOUBLE) / count(*)) AS var_t
        FROM totals
    )
    SELECT iv.k, tv.n_users,
           {sql_q4("iv.sum_var_i")} AS sum_item_var,
           {sql_q4("tv.var_t")} AS var_total,
           {sql_q4(_CRONBACH_ALPHA)} AS alpha
    FROM item_var iv CROSS JOIN tot_var tv
    """,
)
def stat_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α internal-consistency coefficient, treating the
    five event types as test "items" and each user's per-type
    activity count as the item score (dense design — absent
    (user, type) cells score 0): α = k/(k−1)·(1 − Σσ²ᵢ/σ²_T) —
    the reliability readout behind composite engagement scores
    ("do these activity signals measure one underlying trait?").

    Exactness: item and total moments are exact integer sums over
    the dense user×type frame (users × broadcast 5-type dim, LEFT
    JOIN + coalesce); per-item population variances quantize to 1e-9
    before the k-term fold; σ²_T folds once from per-user totals.
    Scale shape: one (user, type) rollup, a users×k densify with a
    broadcast type dim, two closed-form folds."""
    e = table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    types = e.select("event_type").distinct()
    cells = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dense = (
        users.crossJoin(F.broadcast(types))
        .join(cells, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).alias("x"),
        )
    )
    item = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    var_i = (
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    )
    item_var = item.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        (
            F.sum(F.floor(var_i * 1e9 + 0.5).cast("long")).cast("double")
            / 1e9
        ).alias("sum_var_i"),
    )
    totals = dense.groupBy("user_id").agg(
        F.sum("x").cast("long").alias("tx")
    )
    mu = F.sum("tx").cast("double") / F.count(F.lit(1))
    tot_var = totals.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (
            F.sum(F.col("tx") * F.col("tx")).cast("double")
            / F.count(F.lit(1))
        ).alias("_s2n"),
        mu.alias("_mu"),
    ).select(
        "n_users",
        (F.col("_s2n") - F.col("_mu") * F.col("_mu")).alias("var_t"),
    )
    return item_var.crossJoin(F.broadcast(tot_var)).select(
        "k",
        "n_users",
        q4(F.col("sum_var_i")).alias("sum_item_var"),
        q4(F.col("var_t")).alias("var_total"),
        q4(
            F.col("k")
            / (F.col("k") - 1.0)
            * (1.0 - F.col("sum_var_i") / F.col("var_t"))
        ).alias("alpha"),
    )


# --------------------------------------------- candidate periodogram

PERIOD_HOURS = (6, 12, 24, 168)
TWO_PI = "6.283185307179586"  # one shared literal
PG_Q = 1000  # fixed-point scale for the per-term trig products
_PERIODS_SQL = ", ".join(f"({p})" for p in PERIOD_HOURS)


@register(
    "stat_periodogram",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS y
        FROM events GROUP BY 1
    ), idx AS (
        SELECT y, row_number() OVER (ORDER BY hr) - 1 AS t FROM hourly
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s1
        FROM idx
    ), terms AS (
        SELECT p.ph, m.n,
               CAST(floor((i.y - CAST(m.s1 AS DOUBLE) / m.n)
                   * cos({TWO_PI} * i.t / p.ph) * {PG_Q} + 0.5)
                   AS BIGINT) AS qc,
               CAST(floor((i.y - CAST(m.s1 AS DOUBLE) / m.n)
                   * sin({TWO_PI} * i.t / p.ph) * {PG_Q} + 0.5)
                   AS BIGINT) AS qs
        FROM idx i CROSS JOIN (VALUES {_PERIODS_SQL}) p(ph), m
    ), folded AS (
        SELECT ph, min(n) AS n,
               CAST(sum(qc) AS DOUBLE) / {PG_Q} AS c,
               CAST(sum(qs) AS DOUBLE) / {PG_Q} AS s
        FROM terms GROUP BY ph
    ), powr AS (
        SELECT CAST(ph AS BIGINT) AS period_h, n,
               sqrt(c * c + s * s) / n AS amp
        FROM folded
    ), best AS (SELECT max(amp) AS m FROM powr)
    SELECT powr.period_h, powr.n,
           {sql_q4("powr.amp / 100.0")} AS amplitude_dollars,
           powr.amp = best.m AS is_dominant
    FROM powr CROSS JOIN best
    """,
)
def stat_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-frequency periodogram of the hourly activity series:
    DFT power at the operationally meaningful periods (6 h, 12 h,
    24 h, weekly) on mean-centered values, reported as per-sample
    amplitude with the dominant cycle flagged — the spectral
    complement to events_autocorr (which scans lags) and
    events_seasonal_decompose (which assumes the period; this key
    FINDS it).

    Float discipline: 2π is one shared literal, each trig product
    is ONE double expression per (t, period) quantized to 1e-3
    before the exact integer fold — no order-dependent float sum;
    both engines evaluate sin/cos on identical doubles. Scale
    shape: one fact rollup to the calendar-bounded hourly grid
    (census-allowlisted row_number), a ×4 period fan-out of grid
    rows, one hash aggregate."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(cents(F.col("value"))).cast("long").alias("y")).localCheckpoint(eager=False)
    # calendar-bounded hour grid (census-allowlisted)
    idx = hourly.select(
        "y", (F.row_number().over(Window.orderBy("hr")) - 1).alias("t")
    ).localCheckpoint(eager=False)
    m = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in PERIOD_HOURS], "ph int"
    )
    two_pi = float(TWO_PI)
    xc = F.col("y") - F.col("s1").cast("double") / F.col("n")
    theta = two_pi * F.col("t") / F.col("ph")
    terms = (
        idx.crossJoin(F.broadcast(periods))
        .crossJoin(F.broadcast(m))
        .select(
            "ph",
            "n",
            F.floor(xc * F.cos(theta) * PG_Q + 0.5)
            .cast("long")
            .alias("qc"),
            F.floor(xc * F.sin(theta) * PG_Q + 0.5)
            .cast("long")
            .alias("qs"),
        )
    )
    folded = terms.groupBy("ph").agg(
        F.min("n").alias("n"),
        (F.sum("qc").cast("double") / PG_Q).alias("c"),
        (F.sum("qs").cast("double") / PG_Q).alias("s"),
    )
    powr = folded.select(
        F.col("ph").cast("long").alias("period_h"),
        "n",
        (
            F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("n")
        ).alias("amp"),
    )
    best = powr.agg(F.max("amp").alias("m"))
    return powr.crossJoin(F.broadcast(best)).select(
        "period_h",
        "n",
        q4(F.col("amp") / 100.0).alias("amplitude_dollars"),
        (F.col("amp") == F.col("m")).alias("is_dominant"),
    )


# ------------------------- two-sample distance / effect-size (r8 wave)

_ED_Q = 1_000_000_000  # fixed-point quantum for squared-ECDF-gap summands


@register(
    "stat_energy_distance",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents,
               sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
               lead(v_cents) OVER (ORDER BY v_cents) AS v_next
        FROM grid
        WINDOW w AS (ORDER BY v_cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), num AS (
        SELECT CAST(sum(CAST(floor(
                   pow(CAST(cum1 AS DOUBLE)/n1 - CAST(cum2 AS DOUBLE)/n2, 2)
                   * {_ED_Q} + 0.5) AS BIGINT) * (v_next - v_cents))
               AS BIGINT) AS eq
        FROM cum CROSS JOIN totals WHERE v_next IS NOT NULL
    )
    SELECT n1, n2,
           {sql_q4(f"2.0 * CAST(eq AS DOUBLE) / {_ED_Q} / 100.0")}
               AS energy_dist
    FROM num CROSS JOIN totals
    """,
)
def stat_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D energy distance between the 'click' and 'purchase' value
    distributions via Székely's identity E = 2 * integral (F-G)^2 dv
    — the metric that is zero iff the distributions are equal and,
    unlike KS, is differentiable in the mass moved (the two-sample
    counterpart of the energy statistic behind distance correlation).

    Scale shape: the same ``_ks_ecdf`` frame as stat_wasserstein_1d
    (hash-aggregate to the grid, ONE bucketed prefix pass for the
    cumulative counts, the totals and the next grid value — no rank+1
    self-join, nothing persisted); the squared ECDF gap is
    fixed-point quantized (x1e9, floor) per grid point BEFORE the
    gap-weighted sum, so the aggregate is an exact BIGINT on both
    engines."""
    gap = (
        F.col("cum1").cast("double") / F.col("n1")
        - F.col("cum2").cast("double") / F.col("n2")
    )
    # the last grid point's v_next is NULL, so sum() skips its summand
    num = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.floor(F.pow(gap, 2) * _ED_Q + 0.5).cast("long")
            * (F.col("v_next") - F.col("v_cents"))
        )
        .cast("long")
        .alias("eq"),
    )
    return num.select(
        "n1",
        "n2",
        q4(
            F.lit(2.0) * F.col("eq").cast("double") / F.lit(_ED_Q) / F.lit(100.0)
        ).alias("energy_dist"),
    )


# Romano et al. magnitude thresholds for |delta| (public convention).
_CLIFF_T = (0.147, 0.33, 0.474)


@register(
    "stat_cliffs_delta",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, c1, c2,
               sum(c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum2
        FROM grid
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), num AS (
        SELECT CAST(sum(c1 * (cum2 - c2)) AS BIGINT) AS n_gt,
               CAST(sum(c1 * (n2 - cum2)) AS BIGINT) AS n_lt
        FROM cum CROSS JOIN totals
    ), d AS (
        SELECT n1, n2, n_gt, n_lt,
               CAST(n_gt - n_lt AS DOUBLE) / n1 / n2 AS delta
        FROM num CROSS JOIN totals
    )
    SELECT n1, n2,
           {sql_q4("delta")} AS delta,
           CASE WHEN abs(delta) < {_CLIFF_T[0]} THEN 'negligible'
                WHEN abs(delta) < {_CLIFF_T[1]} THEN 'small'
                WHEN abs(delta) < {_CLIFF_T[2]} THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
    """,
)
def stat_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the 'click' and
    'purchase' value distributions: d = (#(x>y) - #(x<y)) / (n1*n2),
    the robust companion a Mann-Whitney significance test needs
    (significance says the groups differ; delta says by how much,
    insensitive to any monotone transform), with Romano et al.'s
    magnitude banding.

    Scale shape: never the n1*n2 pair join — on the bounded cents
    grid, #(x>y) = sum over grid of c1(v) * cum2(v-), so one
    aggregate over the shared ``_ks_ecdf`` frame (one hash aggregate +
    ONE bucketed prefix pass);
    both dominance counts are exact BIGINTs (bounded by n1*n2 —
    within int64 through ~3e9 x 3e9 rows)."""
    num = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.col("c1") * (F.col("cum2") - F.col("c2")))
        .cast("long")
        .alias("n_gt"),
        F.sum(F.col("c1") * (F.col("n2") - F.col("cum2")))
        .cast("long")
        .alias("n_lt"),
    )
    delta = (F.col("n_gt") - F.col("n_lt")).cast("double") / F.col("n1") / F.col(
        "n2"
    )
    return num.select(
        "n1",
        "n2",
        q4(delta).alias("delta"),
        F.when(F.abs(delta) < _CLIFF_T[0], "negligible")
        .when(F.abs(delta) < _CLIFF_T[1], "small")
        .when(F.abs(delta) < _CLIFF_T[2], "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# Ansari-Bradley scores a(i) = min(i, N+1-i); T2(k) = 2*sum_{i<=k} a(i)
# has the closed form k(k+1) for k <= m, else m(m+1)+(2N-m-k+1)(k-m)
# with m = (N+1)//2 — exact integers, so tie blocks never enumerate.
_AB_Q = 1_000_000


def _sql_ab_t2(k: str) -> str:
    return (
        f"(CASE WHEN {k} <= m THEN {k}*({k}+1) "
        f"ELSE m*(m+1) + (2*nn - m - {k} + 1)*({k} - m) END)"
    )


@register(
    "stat_ansari_bradley",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, c1, c2,
               sum(c1 + c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumn
        FROM grid
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1) + sum(c2) AS BIGINT) AS nn,
               CAST((sum(c1) + sum(c2) + 1) // 2 AS BIGINT) AS m
        FROM grid
    ), terms AS (
        SELECT CAST(sum(CAST(floor(
                   c1 * CAST({_sql_ab_t2("cumn")}
                        - {_sql_ab_t2("(cumn - c1 - c2)")} AS DOUBLE)
                   / (2.0 * (c1 + c2)) * {_AB_Q} + 0.5) AS BIGINT))
               AS BIGINT) AS abq
        FROM cum CROSS JOIN totals
    )
    SELECT n1, n2,
           {sql_q4(f"CAST(abq AS DOUBLE) / {_AB_Q}")} AS ab_stat,
           {sql_q4(f"CAST(abq AS DOUBLE) / {_AB_Q} / n1")} AS ab_mean
    FROM terms CROSS JOIN totals
    """,
)
def stat_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley dispersion test statistic between the 'click'
    and 'purchase' value distributions: pooled observations score
    a(i) = min(rank, N+1-rank) (small at both extremes, large in the
    middle), ties get the midrank-average score, and the statistic is
    the group-1 score sum — low AB means group 1 sits in the tails
    (larger dispersion), the rank test for scale the way
    Mann-Whitney is the rank test for location.

    Scale shape: no per-observation ranking — on the bounded cents
    grid, a tie block occupies ranks (cum-c, cum], and 2*sum of
    scores over any prefix has a CLOSED FORM (quadratic in k, split
    at the midpoint), so each grid point's score mass is O(1)
    arithmetic on the prefix counts.  The per-point group-1 share is
    fixed-point quantized (x1e6) before the sum, making the
    aggregate an exact BIGINT on both engines."""
    nn = F.col("n1") + F.col("n2")
    m = F.shiftright(nn + 1, 1)

    def t2(k):
        return F.when(k <= m, k * (k + 1)).otherwise(
            m * (m + 1) + (2 * nn - m - k + 1) * (k - m)
        )

    cumn = F.col("cum1") + F.col("cum2")
    s2 = t2(cumn) - t2(cumn - F.col("c1") - F.col("c2"))
    tq = F.floor(
        F.col("c1")
        * s2.cast("double")
        / (F.lit(2.0) * (F.col("c1") + F.col("c2")))
        * _AB_Q
        + 0.5
    ).cast("long")
    terms = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(tq).cast("long").alias("abq"),
    )
    return terms.select(
        "n1",
        "n2",
        q4(F.col("abq").cast("double") / F.lit(_AB_Q)).alias("ab_stat"),
        q4(F.col("abq").cast("double") / F.lit(_AB_Q) / F.col("n1")).alias(
            "ab_mean"
        ),
    )


# ------------------------------ heteroscedasticity / structural break

# Residual squares are quantized to whole dollars^2 (floor(e^2/1e4+.5)
# on the cents scale) before the auxiliary-regression sums — the LM
# statistic is DEFINED on that grid, making every aux moment an exact
# BIGINT on both engines (a raw double sum would be order-dependent).
_BP_CHI2_CRIT = 3.8415  # chi2(1), alpha = 0.05


@register(
    "stat_breusch_pagan",
    oracle=f"""
    WITH base AS (
        SELECT CAST(hour(ts) AS BIGINT) AS x,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS y
        FROM events
    ), sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy
        FROM base
    ), fit AS (
        SELECT n, sx, sxx,
               (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                 / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS b,
               sy
        FROM sums
    ), resid AS (
        SELECT base.x,
               CAST(floor(
                   pow(base.y - (fit.sy - fit.b*fit.sx)/fit.n
                              - fit.b*base.x, 2) / 10000.0 + 0.5)
                   AS BIGINT) AS u
        FROM base CROSS JOIN fit
    ), aux AS (
        SELECT CAST(sum(u) AS BIGINT) AS su,
               CAST(sum(x*u) AS BIGINT) AS sxu,
               CAST(sum(u*u) AS BIGINT) AS suu
        FROM resid
    ), lm AS (
        SELECT n,
               CAST(n AS DOUBLE)
                 * pow(CAST(n AS DOUBLE)*sxu - CAST(sx AS DOUBLE)*su, 2)
                 / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)
                 / (CAST(n AS DOUBLE)*suu - CAST(su AS DOUBLE)*su) AS lm_raw
        FROM aux CROSS JOIN sums
    )
    SELECT n, {sql_q4("lm_raw")} AS lm_stat,
           (lm_raw > {_BP_CHI2_CRIT}) AS het_significant
    FROM lm
    """,
)
def stat_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker's studentized form) heteroscedasticity
    test of the events value-on-hour regression: fit OLS, regress the
    squared residuals on the predictor again, LM = n*R^2_aux ~
    chi2(1) under homoscedasticity — the standard check before
    trusting OLS standard errors.

    Scale shape: two passes over events (moments, then residuals
    against the broadcast 1-row fit), every aggregate an exact
    BIGINT: the first-pass moments are integer hour x cents sums and
    the aux moments are sums of the dollars^2-quantized residual
    squares (u <= ~1e6 at fixture magnitudes, so sum(u^2) stays
    within int64 through ~1e6 rows per exact audit; rescale the
    quantum for bigger spans)."""
    e = table(spark, sf_dir, "events").select(
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    sums = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    b = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    fit = sums.select("n", "sx", "sxx", b.alias("b"), "sy")
    u = F.floor(
        F.pow(
            F.col("y")
            - (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
            - F.col("b") * F.col("x"),
            2,
        )
        / F.lit(10000.0)
        + 0.5
    ).cast("long")
    resid = e.crossJoin(F.broadcast(fit)).select("x", u.alias("u"))
    aux = resid.agg(
        F.sum("u").cast("long").alias("su"),
        F.sum(F.col("x") * F.col("u")).cast("long").alias("sxu"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("suu"),
    )
    lm_raw = (
        F.col("n").cast("double")
        * F.pow(
            F.col("n").cast("double") * F.col("sxu")
            - F.col("sx").cast("double") * F.col("su"),
            2,
        )
        / (
            F.col("n").cast("double") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        )
        / (
            F.col("n").cast("double") * F.col("suu")
            - F.col("su").cast("double") * F.col("su")
        )
    )
    return (
        aux.crossJoin(F.broadcast(sums))
        .select("n", lm_raw.alias("lm_raw"))
        .select(
            "n",
            q4(F.col("lm_raw")).alias("lm_stat"),
            (F.col("lm_raw") > _BP_CHI2_CRIT).alias("het_significant"),
        )
    )


_CHOW_SPLIT = "2024-01-15"  # mid-corpus structural-break candidate
_CHOW_F_CRIT = 2.9957  # F(2, inf), alpha = 0.05


@register(
    "stat_chow_test",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN ts < TIMESTAMP '{_CHOW_SPLIT}' THEN 0 ELSE 1 END
                   AS seg,
               CAST(hour(ts) AS BIGINT) AS x,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS y
        FROM events
    ), m AS (
        SELECT seg,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM base GROUP BY seg
    ), ssr AS (
        SELECT seg, n,
               (syy - CAST(sy AS DOUBLE)*sy/n)
                 - pow(sxy - CAST(sx AS DOUBLE)*sy/n, 2)
                   / (sxx - CAST(sx AS DOUBLE)*sx/n) AS ssr
        FROM m
    ), pooled AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(sx) AS BIGINT) AS sx,
               CAST(sum(sy) AS BIGINT) AS sy,
               CAST(sum(sxx) AS BIGINT) AS sxx,
               CAST(sum(sxy) AS BIGINT) AS sxy,
               CAST(sum(syy) AS BIGINT) AS syy
        FROM m
    ), ssr_p AS (
        SELECT (syy - CAST(sy AS DOUBLE)*sy/n)
                 - pow(sxy - CAST(sx AS DOUBLE)*sy/n, 2)
                   / (sxx - CAST(sx AS DOUBLE)*sx/n) AS ssr_pooled,
               n
        FROM pooled
    ), wide AS (
        SELECT sum(CASE WHEN seg = 0 THEN n END) AS n1,
               sum(CASE WHEN seg = 1 THEN n END) AS n2,
               sum(CASE WHEN seg = 0 THEN ssr END) AS ssr1,
               sum(CASE WHEN seg = 1 THEN ssr END) AS ssr2
        FROM ssr
    ), f AS (
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               ((ssr_pooled - ssr1 - ssr2) / 2.0)
                 / ((ssr1 + ssr2) / (n - 4)) AS f_raw
        FROM wide CROSS JOIN ssr_p
    )
    SELECT n1, n2, {sql_q4("f_raw")} AS f_stat,
           (f_raw > {_CHOW_F_CRIT}) AS break_significant
    FROM f
    """,
)
def stat_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test of the events value-on-hour
    regression at a mid-corpus date: fit the line separately before
    and after the split, F = ((SSR_pooled - SSR_1 - SSR_2)/k) /
    ((SSR_1 + SSR_2)/(n - 2k)) with k = 2 parameters — the classic
    test for "did the relationship change at this date?".

    Scale shape: SSR needs NO residual pass — it is closed-form in
    the per-segment integer moment sums (centered syy minus the
    centered-sxy^2/sxx ratio), so the whole test is ONE hash
    aggregate over events into 2 segment rows, then arithmetic on a
    broadcast-sized frame.  All moments are exact BIGINTs at any
    exchange order."""
    e = table(spark, sf_dir, "events").select(
        F.when(F.col("ts") < F.lit(_CHOW_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("seg"),
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    m = e.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )

    def ssr_expr():
        return (
            F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
        ) - F.pow(
            F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"),
            2,
        ) / (
            F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        )

    ssr = m.select("seg", "n", ssr_expr().alias("ssr"))
    pooled = m.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").cast("long").alias("sx"),
        F.sum("sy").cast("long").alias("sy"),
        F.sum("sxx").cast("long").alias("sxx"),
        F.sum("sxy").cast("long").alias("sxy"),
        F.sum("syy").cast("long").alias("syy"),
    )
    ssr_p = pooled.select(ssr_expr().alias("ssr_pooled"), "n")
    wide = ssr.agg(
        F.sum(F.when(F.col("seg") == 0, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("seg") == 1, F.col("n"))).alias("n2"),
        F.sum(F.when(F.col("seg") == 0, F.col("ssr"))).alias("ssr1"),
        F.sum(F.when(F.col("seg") == 1, F.col("ssr"))).alias("ssr2"),
    )
    f_raw = ((F.col("ssr_pooled") - F.col("ssr1") - F.col("ssr2")) / F.lit(2.0)) / (
        (F.col("ssr1") + F.col("ssr2")) / (F.col("n") - 4)
    )
    return (
        wide.crossJoin(F.broadcast(ssr_p))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            f_raw.alias("f_raw"),
        )
        .select(
            "n1",
            "n2",
            q4(F.col("f_raw")).alias("f_stat"),
            (F.col("f_raw") > _CHOW_F_CRIT).alias("break_significant"),
        )
    )


# ------------------------------------------- spatial autocorrelation

from .joins import GRID_CELL as _MI_CELL  # noqa: E402
from .joins import _coord as _mi_coord  # noqa: E402
from .joins import _sql_coord as _mi_sql_coord  # noqa: E402


@register(
    "stat_moran_i",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor({_mi_sql_coord("cx", "c_custkey")} / {_MI_CELL})
                    AS BIGINT) AS cx,
               CAST(floor({_mi_sql_coord("cy", "c_custkey")} / {_MI_CELL})
                    AS BIGINT) AS cy,
               CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal
        FROM customer
    ), cells AS (
        SELECT cx, cy, CAST(sum(bal) AS BIGINT) AS v
        FROM pts GROUP BY cx, cy
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean_v
        FROM cells
    ), z AS (
        SELECT cx, cy,
               CAST(floor((v - mean_v) / 100.0 + 0.5) AS BIGINT) AS zq
        FROM cells CROSS JOIN tot
    ), pairs AS (
        SELECT a.zq AS za, b.zq AS zb
        FROM z a
        CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                           (1,-1),(1,0),(1,1)) o(dx, dy)
        JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS w_pairs,
               CAST(sum(za * zb) AS BIGINT) AS num
        FROM pairs
    ), den AS (
        SELECT CAST(sum(zq * zq) AS BIGINT) AS den FROM z
    )
    SELECT n_cells, w_pairs,
           {sql_q4("CAST(n_cells AS DOUBLE) / w_pairs"
                   " * num / den")} AS moran_i
    FROM agg CROSS JOIN den CROSS JOIN tot
    """,
)
def stat_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation of account-balance mass over
    the md5-derived customer grid (queen/8-neighbor cell adjacency,
    binary weights): I = (n/W) * sum_ij w_ij z_i z_j / sum_i z_i^2 —
    positive I means balance-rich cells cluster next to each other,
    ~ -1/(n-1) means spatial randomness.  (Coordinates are the same
    deterministic md5 stand-in join_spatial_grid uses; the machinery
    is the real cell-aggregated Moran pipeline.)

    Scale shape: points hash-aggregate to grid cells FIRST, the
    neighbor structure is an 8-offset equi-join on cell keys (never
    a distance cross join), and cell deviations are quantized to
    whole dollars before the cross-product sum, so numerator and
    denominator are exact BIGINTs on both engines."""
    c = table(spark, sf_dir, "customer")
    cell = float(_MI_CELL)
    pts = c.select(
        F.floor(_mi_coord("cx", F.col("c_custkey")) / cell)
        .cast("long")
        .alias("cx"),
        F.floor(_mi_coord("cy", F.col("c_custkey")) / cell)
        .cast("long")
        .alias("cy"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.sum("bal").cast("long").alias("v")).localCheckpoint(eager=False)
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_v"),
    )
    z = cells.crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        F.floor((F.col("v") - F.col("mean_v")) / F.lit(100.0) + 0.5)
        .cast("long")
        .alias("zq"),
    ).localCheckpoint(eager=False)
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    o = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offs
        ])
    )
    a9 = z.select(
        F.col("cx").alias("acx"),
        F.col("cy").alias("acy"),
        F.col("zq").alias("za"),
        o.alias("o"),
    )
    b = z.select(
        F.col("cx").alias("bcx"), F.col("cy").alias("bcy"), F.col("zq").alias("zb")
    )
    pairs = a9.join(
        b,
        (F.col("bcx") == F.col("acx") + F.col("o.dx"))
        & (F.col("bcy") == F.col("acy") + F.col("o.dy")),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.sum(F.col("za") * F.col("zb")).cast("long").alias("num"),
    )
    den = z.agg(F.sum(F.col("zq") * F.col("zq")).cast("long").alias("den"))
    return (
        agg.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_cells",
            "w_pairs",
            q4(
                F.col("n_cells").cast("double")
                / F.col("w_pairs")
                * F.col("num")
                / F.col("den")
            ).alias("moran_i"),
        )
    )


# ------------------------------- normality vs fitted normal (r8 wave)

# Abramowitz & Stegun 7.1.26 rational erf approximation (|eps| <
# 1.5e-7, public): evaluated from the SAME expression text on both
# engines, so each grid point's Phi is bit-identical and the KS max
# (order-free) hashes exactly.
_LF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_LF_P = 0.3275911
_SQRT2 = "1.4142135623730951"


def _sql_phi(z: str) -> str:
    ax = f"abs(({z}) / {_SQRT2})"
    t = f"(1.0 / (1.0 + {_LF_P} * {ax}))"
    poly = (
        f"({t} * ({_LF_A[0]} + {t} * ({_LF_A[1]} + {t} * ({_LF_A[2]}"
        f" + {t} * ({_LF_A[3]} + {t} * {_LF_A[4]})))))"
    )
    erf_ax = f"(1.0 - {poly} * exp(-{ax} * {ax}))"
    return (
        f"(CASE WHEN ({z}) >= 0 THEN 0.5 * (1.0 + {erf_ax})"
        f" ELSE 0.5 * (1.0 - {erf_ax}) END)"
    )


def _phi_col(z):
    ax = F.abs(z / float(_SQRT2))
    t = F.lit(1.0) / (F.lit(1.0) + _LF_P * ax)
    poly = t * (
        _LF_A[0]
        + t * (_LF_A[1] + t * (_LF_A[2] + t * (_LF_A[3] + t * _LF_A[4])))
    )
    erf_ax = F.lit(1.0) - poly * F.exp(-ax * ax)
    return F.when(z >= 0, 0.5 * (F.lit(1.0) + erf_ax)).otherwise(
        0.5 * (F.lit(1.0) - erf_ax)
    )


@register(
    "stat_lilliefors",
    oracle=f"""
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
    ), sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s1,
               CAST(sum(q*q) AS BIGINT) AS s2
        FROM base
    ), fit AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((s2 - CAST(s1 AS DOUBLE)*s1/n) / (n - 1)) AS sigma
        FROM sums
    ), grid AS (
        SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY q
    ), cum AS (
        SELECT q, cnt,
               CAST(sum(cnt) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM grid
    ), gaps AS (
        SELECT max(greatest(
                   abs(CAST(cum AS DOUBLE)/n
                       - {_sql_phi("(q - mu) / sigma")}),
                   abs(CAST(cum - cnt AS DOUBLE)/n
                       - {_sql_phi("(q - mu) / sigma")}))) AS d_raw
        FROM cum CROSS JOIN fit
    )
    SELECT n, {sql_q4("mu")} AS mean_q, {sql_q4("sigma")} AS sd_q,
           {sql_q4("d_raw")} AS d_stat,
           (d_raw > 0.886 / sqrt(n)) AS rejected
    FROM gaps CROSS JOIN fit
    """,
)
def stat_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors normality test of lineitem quantity: KS distance
    between the ECDF and a Normal fitted from the SAME sample (which
    is what makes it Lilliefors rather than plain KS — the fitted
    parameters shrink the distance, so KS critical values would be
    anti-conservative; 0.886/sqrt(n) is the 5% large-n Lilliefors
    fence).

    Scale shape: moments are exact integer sums; the ECDF lives on
    the bounded value grid via ONE bucketed prefix pass; Phi comes
    from the A&S 7.1.26 rational erf approximation evaluated from
    identical expression text on both engines, and the statistic is
    a MAX over grid points — order-free, no quantization needed."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q")
    )
    sums = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"),
    )
    fit = sums.select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    grid = li.groupBy("q").agg(F.count(F.lit(1)).cast("long").alias("cnt")).localCheckpoint(eager=False)
    cum = global_ordered(
        grid,
        [F.col("q")],
        bucket_key="q",
        sums={"cnt": "cum"},
        rank_col=None,
    ).localCheckpoint(eager=False)
    phi = _phi_col((F.col("q") - F.col("mu")) / F.col("sigma"))
    gap = F.greatest(
        F.abs(F.col("cum").cast("double") / F.col("n") - phi),
        F.abs((F.col("cum") - F.col("cnt")).cast("double") / F.col("n") - phi),
    )
    gaps = cum.crossJoin(F.broadcast(fit)).agg(F.max(gap).alias("d_raw"))
    return gaps.crossJoin(F.broadcast(fit)).select(
        "n",
        q4(F.col("mu")).alias("mean_q"),
        q4(F.col("sigma")).alias("sd_q"),
        q4(F.col("d_raw")).alias("d_stat"),
        (F.col("d_raw") > 0.886 / F.sqrt(F.col("n"))).alias("rejected"),
    )


# ---------------------------- unit-root / stationarity pair (r8 wave)

# Both tests run on the bounded hourly event-count series (calendar
# grid: ~720 points per fixture month, bounded at any data scale by
# span/granularity, never by row count).
_KPSS_L = 6  # Bartlett truncation lag
_KPSS_CRIT = 0.463  # 5% level-stationarity critical value
_ADF_CRIT = -2.86  # 5% Dickey-Fuller (constant, no trend)


@register(
    "stat_kpss",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT y,
               CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS t,
               CAST(sum(y) OVER (ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_y
        FROM hourly
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
        FROM hourly
    ), s2 AS (
        SELECT CAST(sum((n*cum_y - t*sy) * (n*cum_y - t*sy)) AS BIGINT)
               AS ss_q
        FROM ranked CROSS JOIN tot
    ), gammas AS (
        SELECT l.l AS l,
               CAST(sum((n*a.y - sy) * (n*b.y - sy)) AS BIGINT) AS g_q
        FROM ranked a
        CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) l(l)
        JOIN ranked b ON b.t = a.t - l.l
        CROSS JOIN tot
        GROUP BY l.l
    ), lrv AS (
        SELECT CAST(sum(CASE WHEN l = 0 THEN 1.0
                        ELSE 2.0 * (1.0 - CAST(l AS DOUBLE)/{_KPSS_L + 1})
                        END * g_q) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n * n) AS s2_lr
        FROM gammas CROSS JOIN tot GROUP BY n
    ), eta AS (
        SELECT n,
               (CAST(ss_q AS DOUBLE) / (CAST(n AS DOUBLE)*n)
                / (CAST(n AS DOUBLE)*n)) / s2_lr AS eta_raw
        FROM s2 CROSS JOIN lrv CROSS JOIN tot
    )
    SELECT n AS n_hours, {sql_q4("eta_raw")} AS kpss_eta,
           (eta_raw > {_KPSS_CRIT}) AS nonstationary
    FROM eta
    """,
)
def stat_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test of the hourly event-count series:
    eta = n^-2 * sum of squared partial sums of the demeaned series,
    over the Bartlett long-run variance (truncation lag 6) — the
    stationarity test whose NULL is 'stationary', the mirror image of
    Dickey-Fuller (run both: KPSS rejects AND ADF fails = unit root).

    Hash-parity discipline: demeaned values and partial sums are kept
    as exact INTEGER numerators scaled by n (n*y_t - sum_y and
    n*cum_y_t - t*sum_y), so every aggregate — squared partial sums
    and all seven autocovariances — is an exact BIGINT; doubles enter
    only in the final ratio.

    Scale shape: events hash-aggregate to the calendar-bounded hourly
    grid (~720 rows per 30-day month at any SF); ONE unpartitioned
    window over it gives the rank, the running sum, the grand totals
    and the lags 1-6, and a single fold reads all seven
    autocovariances from those lag columns — no self-join."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    # calendar-bounded hour grid (census-allowlisted)
    w = Window.orderBy("h")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = hourly.select(
        "y",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_y"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("y").over(w_all).cast("long").alias("sy"),
        *[F.lag("y", l).over(w).alias(f"y{l}") for l in range(1, _KPSS_L + 1)],
    )
    sp = F.col("n") * F.col("cum_y") - F.col("t") * F.col("sy")
    za = F.col("n") * F.col("y") - F.col("sy")
    folds = ranked.agg(
        F.max("n").alias("n"),
        F.sum(sp * sp).cast("long").alias("ss_q"),
        F.sum(za * za).cast("long").alias("g0"),
        *[
            F.sum(za * (F.col("n") * F.col(f"y{l}") - F.col("sy")))
            .cast("long")
            .alias(f"g{l}")
            for l in range(1, _KPSS_L + 1)
        ],
    )
    lrv_q = F.col("g0").cast("double")
    for l in range(1, _KPSS_L + 1):
        lrv_q = lrv_q + 2.0 * (1.0 - l / (_KPSS_L + 1)) * F.col(f"g{l}")
    nd = F.col("n").cast("double")
    s2_lr = lrv_q / (nd * F.col("n") * F.col("n"))
    eta_raw = (
        F.col("ss_q").cast("double") / (nd * F.col("n")) / (nd * F.col("n"))
    ) / s2_lr
    return folds.select(
        F.col("n").alias("n_hours"),
        q4(eta_raw).alias("kpss_eta"),
        (eta_raw > _KPSS_CRIT).alias("nonstationary"),
    )


@register(
    "stat_adf",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS t
        FROM hourly
    ), pairs AS (
        SELECT a.y - b.y AS dy, b.y AS x
        FROM ranked a JOIN ranked b ON b.t = a.t - 1
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(dy) AS BIGINT) AS sy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(x*dy) AS BIGINT) AS sxy,
               CAST(sum(dy*dy) AS BIGINT) AS syy
        FROM pairs
    ), fit AS (
        SELECT n,
               (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
                 / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) AS beta,
               (sxx - CAST(sx AS DOUBLE)*sx/n) AS sxx_c,
               (syy - CAST(sy AS DOUBLE)*sy/n)
                 - pow(sxy - CAST(sx AS DOUBLE)*sy/n, 2)
                   / (sxx - CAST(sx AS DOUBLE)*sx/n) AS ssr
        FROM m
    )
    SELECT n AS n_obs, {sql_q4("beta")} AS beta,
           {sql_q4("beta / sqrt(ssr / (n - 2) / sxx_c)")} AS t_stat,
           (beta / sqrt(ssr / (n - 2) / sxx_c) < {_ADF_CRIT}) AS stationary
    FROM fit
    """,
)
def stat_adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (constant, no trend, lag 0) of the
    hourly event-count series: regress the first difference on the
    lagged level; a strongly negative t on the level coefficient
    rejects the unit root (series mean-reverts) — KPSS's complement,
    with the hypotheses reversed.

    Scale shape: the same calendar-bounded hourly grid; the lagged
    level is ``lag(y)`` in one unpartitioned window over it; all
    regression moments are exact BIGINTs and the t-statistic is
    closed-form in them (SSR via the centered-moment identity — no
    residual pass)."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    # calendar-bounded hour grid (census-allowlisted)
    x = F.lag("y").over(Window.orderBy("h"))
    pairs = hourly.select((F.col("y") - x).alias("dy"), x.alias("x")).where(
        F.col("x").isNotNull()
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    beta = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    sxx_c = F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ssr = (
        F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    ) - F.pow(
        F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"), 2
    ) / sxx_c
    t_stat = beta / F.sqrt(ssr / (F.col("n") - 2) / sxx_c)
    return m.select(
        F.col("n").alias("n_obs"),
        q4(beta).alias("beta"),
        q4(t_stat).alias("t_stat"),
        (t_stat < _ADF_CRIT).alias("stationary"),
    )


# ------------------------------------ extreme-value tail (r8 wave)

_HILL_K = 100  # tail order statistics used by the Hill estimator
_HILL_Q = 1_000_000_000


@register(
    "stat_tail_index_hill",
    oracle=f"""
    WITH grid AS (
        SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ), cum AS (
        SELECT v, cnt,
               CAST(sum(cnt) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_ge
        FROM grid
    ), thresh AS (
        SELECT CAST(max(v) AS BIGINT) AS u FROM cum WHERE cum_ge >= {_HILL_K}
    ), tail AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_above,
               CAST(sum(cnt * CAST(floor(
                   ln(CAST(v AS DOUBLE) / u) * {_HILL_Q} + 0.5) AS BIGINT))
                   AS BIGINT) AS lq,
               CAST(sum(cnt * (v - u)) AS BIGINT) AS excess_cents
        FROM grid CROSS JOIN thresh WHERE v > u
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k, n_above,
           {sql_q4("CAST(u AS DOUBLE) / 100.0")} AS threshold,
           {sql_q4(f"CAST(lq AS DOUBLE) / {_HILL_Q} / {_HILL_K}")}
               AS xi_hill,
           {sql_q4(f"CAST(excess_cents AS DOUBLE) / 100.0 / {_HILL_K}")}
               AS mean_excess
    FROM tail CROSS JOIN thresh
    """,
)
def stat_tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate of the purchase-value distribution
    over the top k=100 order statistics, with the mean excess over
    the threshold — the peaks-over-threshold numbers behind capacity
    planning and VaR beyond the sample (xi near 0 = thin tail, xi
    large = Pareto-heavy; mean excess growing linearly in the
    threshold also signals heavy tails).  Grid ties AT the threshold
    contribute ln(u/u)=0, so the estimator is exact on the cents
    grid without per-observation ordering.

    Scale shape: one hash aggregate to the bounded cents grid, one
    descending bucketed-prefix pass to locate the k-th order
    statistic, then a broadcast-threshold fold; per-value log masses
    are x1e9-quantized so the Hill sum is an exact BIGINT."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    grid = e.select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt")).localCheckpoint(eager=False)
    cum = global_ordered(
        grid,
        [F.col("v").desc()],
        bucket_key="v",
        bucket_desc=True,
        sums={"cnt": "cum_ge"},
        rank_col=None,
    ).localCheckpoint(eager=False)
    thresh = cum.where(F.col("cum_ge") >= _HILL_K).agg(
        F.max("v").cast("long").alias("u")
    )
    lq = F.floor(
        F.log(F.col("v").cast("double") / F.col("u")) * _HILL_Q + 0.5
    ).cast("long")
    tail = (
        grid.crossJoin(F.broadcast(thresh))
        .where(F.col("v") > F.col("u"))
        .agg(
            F.sum("cnt").cast("long").alias("n_above"),
            F.sum(F.col("cnt") * lq).cast("long").alias("lq"),
            F.sum(F.col("cnt") * (F.col("v") - F.col("u")))
            .cast("long")
            .alias("excess_cents"),
        )
    )
    return tail.crossJoin(F.broadcast(thresh)).select(
        F.lit(_HILL_K).cast("long").alias("k"),
        "n_above",
        q4(F.col("u").cast("double") / 100.0).alias("threshold"),
        q4(F.col("lq").cast("double") / _HILL_Q / _HILL_K).alias("xi_hill"),
        q4(F.col("excess_cents").cast("double") / 100.0 / _HILL_K).alias(
            "mean_excess"
        ),
    )


# --------------------------------------- randomization test (r8 wave)

_PERM_N = 20  # md5-salted Monte-Carlo label reassignments


@register(
    "stat_permutation_test",
    oracle=f"""
    WITH ev AS (
        SELECT event_id,
               CASE WHEN event_type = '{KS_G1}' THEN 0 ELSE 1 END AS grp,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), obs AS (
        SELECT CAST(sum(CASE WHEN grp = 0 THEN v END) AS DOUBLE)
                 / count_if(grp = 0)
             - CAST(sum(CASE WHEN grp = 1 THEN v END) AS DOUBLE)
                 / count_if(grp = 1) AS obs_diff
        FROM ev
    ), perms AS (
        SELECT s.s AS salt,
               CAST(concat('0x', substr(md5(CAST(s.s AS VARCHAR) || '|'
                    || CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT) % 2
                   AS a,
               v
        FROM ev CROSS JOIN generate_series(1, {_PERM_N}) AS s(s)
    ), per_salt AS (
        SELECT salt,
               CAST(sum(CASE WHEN a = 0 THEN v END) AS DOUBLE)
                 / count_if(a = 0)
             - CAST(sum(CASE WHEN a = 1 THEN v END) AS DOUBLE)
                 / count_if(a = 1) AS perm_diff
        FROM perms GROUP BY salt
    ), verdict AS (
        SELECT CAST(count_if(abs(perm_diff) >= abs(obs_diff)) AS BIGINT)
                   AS n_geq
        FROM per_salt CROSS JOIN obs
    )
    SELECT CAST({_PERM_N} AS BIGINT) AS n_perms,
           {sql_q4("obs_diff / 100.0")} AS obs_diff,
           n_geq,
           {sql_q4(f"CAST(n_geq + 1 AS DOUBLE) / ({_PERM_N} + 1)")}
               AS p_value
    FROM verdict CROSS JOIN obs
    """,
)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test of the click-vs-purchase mean
    difference: 20 deterministic label reassignments (assignment =
    md5(salt || event_id) parity — engine-neutral 'randomness', the
    same trick the spatial grid uses for coordinates), p-value =
    (1 + #{|perm diff| >= |observed|}) / (1 + n_perms) with the
    add-one convention — the distribution-free significance check
    that needs no normality or variance assumptions.

    Scale shape: observed and every permuted statistic come from
    integer-cents group sums (exact at any exchange order); the only
    expansion is the bounded x20 salt explode feeding one
    (salt, assignment) hash aggregate — no per-permutation rescan of
    the fact table."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_G1, KS_G2)
    ).select(
        "event_id",
        F.when(F.col("event_type") == KS_G1, 0).otherwise(1).alias("grp"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )

    def mean_diff(frame, key):
        return frame.groupBy(key).agg(
            F.sum("v").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    obs = (
        mean_diff(e, "grp")
        .agg(
            (
                F.sum(F.when(F.col("grp") == 0, F.col("s"))).cast("double")
                / F.sum(F.when(F.col("grp") == 0, F.col("n")))
                - F.sum(F.when(F.col("grp") == 1, F.col("s"))).cast("double")
                / F.sum(F.when(F.col("grp") == 1, F.col("n")))
            ).alias("obs_diff")
        )
    )
    salts = F.explode(
        F.array(*[F.lit(s) for s in range(1, _PERM_N + 1)])
    ).alias("salt")
    a = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("salt").cast("string"),
                        F.lit("|"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    perms = e.select("event_id", "v", salts).select(
        "salt", a.alias("a"), "v"
    )
    per_salt = perms.groupBy("salt", "a").agg(
        F.sum("v").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).groupBy("salt").agg(
        (
            F.sum(F.when(F.col("a") == 0, F.col("s"))).cast("double")
            / F.sum(F.when(F.col("a") == 0, F.col("n")))
            - F.sum(F.when(F.col("a") == 1, F.col("s"))).cast("double")
            / F.sum(F.when(F.col("a") == 1, F.col("n")))
        ).alias("perm_diff")
    )
    verdict = per_salt.crossJoin(F.broadcast(obs)).agg(
        F.count_if(F.abs(F.col("perm_diff")) >= F.abs(F.col("obs_diff")))
        .cast("long")
        .alias("n_geq")
    )
    return verdict.crossJoin(F.broadcast(obs)).select(
        F.lit(_PERM_N).cast("long").alias("n_perms"),
        q4(F.col("obs_diff") / 100.0).alias("obs_diff"),
        "n_geq",
        q4((F.col("n_geq") + 1).cast("double") / (_PERM_N + 1)).alias("p_value"),
    )


# ---------------------------------- stratified association (r8 wave)

_MH_Q = 1_000_000_000


@register(
    "stat_mantel_haenszel",
    oracle=f"""
    WITH base AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS stratum,
               CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
        FROM events
    ), cells AS (
        SELECT stratum,
               CAST(count_if(exposed = 1 AND outc = 1) AS BIGINT) AS a,
               CAST(count_if(exposed = 1 AND outc = 0) AS BIGINT) AS b,
               CAST(count_if(exposed = 0 AND outc = 1) AS BIGINT) AS c,
               CAST(count_if(exposed = 0 AND outc = 0) AS BIGINT) AS d
        FROM base GROUP BY stratum
    ), terms AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(CAST(floor(CAST(a AS DOUBLE) * d / (a + b + c + d)
                    * {_MH_Q} + 0.5) AS BIGINT)) AS BIGINT) AS num_q,
               CAST(sum(CAST(floor(CAST(b AS DOUBLE) * c / (a + b + c + d)
                    * {_MH_Q} + 0.5) AS BIGINT)) AS BIGINT) AS den_q,
               CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
               CAST(sum(c) AS BIGINT) AS sc, CAST(sum(d) AS BIGINT) AS sd
        FROM cells
    )
    SELECT n_strata,
           {sql_q4("CAST(num_q AS DOUBLE) / den_q")} AS or_mh,
           {sql_q4("CAST(sa AS DOUBLE) * sd / (CAST(sb AS DOUBLE) * sc)")}
               AS or_crude
    FROM terms
    """,
)
def stat_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio of afternoon exposure vs
    purchase outcome, stratified by ISO weekday: OR_MH =
    sum(a_i*d_i/n_i) / sum(b_i*c_i/n_i) — the epidemiology-standard
    pooled association that a confounded crude OR (also reported, for
    the Simpson's-paradox comparison) cannot give.

    Scale shape: one hash aggregate to the 7 weekday strata (exact
    integer 2x2 cells), per-stratum ratio terms x1e9-quantized so
    numerator and denominator fold as exact BIGINTs."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        # ISO weekday from Spark's Sunday-first dayofweek
        F.expr("((dayofweek(ts) + 5) % 7) + 1").alias("stratum"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("exposed"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("outc"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("exposed") == 1) & (F.col("outc") == 1))
        .cast("long")
        .alias("a"),
        F.count_if((F.col("exposed") == 1) & (F.col("outc") == 0))
        .cast("long")
        .alias("b"),
        F.count_if((F.col("exposed") == 0) & (F.col("outc") == 1))
        .cast("long")
        .alias("c"),
        F.count_if((F.col("exposed") == 0) & (F.col("outc") == 0))
        .cast("long")
        .alias("d"),
    )
    n_i = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    num_q = F.floor(
        F.col("a").cast("double") * F.col("d") / n_i * _MH_Q + 0.5
    ).cast("long")
    den_q = F.floor(
        F.col("b").cast("double") * F.col("c") / n_i * _MH_Q + 0.5
    ).cast("long")
    terms = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(num_q).cast("long").alias("num_q"),
        F.sum(den_q).cast("long").alias("den_q"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum("c").cast("long").alias("sc"),
        F.sum("d").cast("long").alias("sd"),
    )
    return terms.select(
        "n_strata",
        q4(F.col("num_q").cast("double") / F.col("den_q")).alias("or_mh"),
        q4(
            F.col("sa").cast("double")
            * F.col("sd")
            / (F.col("sb").cast("double") * F.col("sc"))
        ).alias("or_crude"),
    )


# ------------------------------- ordinal association / trend (r8 wave T)

_GKG_PRICE_BKT = 20_000  # o_totalprice band width -> ~25 ordinal bands


@register(
    "stat_gk_gamma",
    oracle=f"""
    WITH base AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
               CAST(floor(o_totalprice / {_GKG_PRICE_BKT}.0) AS BIGINT) AS y
        FROM orders
    ), grid AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY x, y
    ), pairs AS (
        SELECT
            CAST(sum(CASE WHEN g1.x < g2.x AND g1.y < g2.y
                 THEN g1.c * g2.c ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN g1.x < g2.x AND g1.y > g2.y
                 THEN g1.c * g2.c ELSE 0 END) AS BIGINT) AS disc,
            CAST(sum(CASE WHEN g1.x < g2.x AND g1.y = g2.y
                 THEN g1.c * g2.c ELSE 0 END) AS BIGINT) AS tie_y,
            CAST(sum(CASE WHEN g1.x = g2.x
                 THEN g1.c * g2.c ELSE 0 END) AS BIGINT) AS tie_x
        FROM grid g1 JOIN grid g2
          ON g1.x < g2.x OR (g1.x = g2.x AND g1.y < g2.y)
    )
    SELECT conc, disc,
           {sql_q4("CAST(conc - disc AS DOUBLE) / (conc + disc)")} AS gamma,
           {sql_q4("CAST(conc - disc AS DOUBLE) / (conc + disc + tie_y)")}
               AS somers_dyx,
           {sql_q4("CAST(conc - disc AS DOUBLE) / (conc + disc + tie_x)")}
               AS somers_dxy
    FROM pairs
    """,
)
def stat_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma + both Somers' D directions for the
    ordinal pair (order priority rank, total-price band): gamma =
    (C-D)/(C+D) ignores all ties, Somers' d_Y|X = (C-D)/(C+D+T_Y)
    penalizes ties on the dependent side — the ordinal-association
    trio stat_kendall_tau's tau-b doesn't report.

    Pair counting never touches row pairs: rows collapse to the
    bounded (priority x price-band) contingency grid (<=5 x ~25
    cells) in ONE hash aggregate, and C/D/ties are conditional sums
    of c1*c2 products over the grid's ordered self-join — a broadcast
    nested-loop over <=125x125 cells regardless of input size. All
    counts exact BIGINTs; the three ratios are the only doubles.

    Scale shape at 100 TB: one shuffle to the grid; the self-join is
    driver-free and O(cells^2) with cells bounded by the attribute
    domains, not the data."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
        F.floor(F.col("o_totalprice") / float(_GKG_PRICE_BKT))
        .cast("long")
        .alias("y"),
    )
    grid = base.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    g1 = grid.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("c").alias("c1")
    )
    g2 = grid.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    ordered = (F.col("x1") < F.col("x2")) | (
        (F.col("x1") == F.col("x2")) & (F.col("y1") < F.col("y2"))
    )
    prod = F.col("c1") * F.col("c2")
    pairs = F.broadcast(g1).join(g2, ordered).agg(
        F.sum(
            F.when((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2")), prod)
            .otherwise(0)
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when((F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2")), prod)
            .otherwise(0)
        )
        .cast("long")
        .alias("disc"),
        F.sum(
            F.when((F.col("x1") < F.col("x2")) & (F.col("y1") == F.col("y2")), prod)
            .otherwise(0)
        )
        .cast("long")
        .alias("tie_y"),
        F.sum(F.when(F.col("x1") == F.col("x2"), prod).otherwise(0))
        .cast("long")
        .alias("tie_x"),
    )
    cd = F.col("conc") - F.col("disc")
    return pairs.select(
        "conc",
        "disc",
        q4(cd.cast("double") / (F.col("conc") + F.col("disc"))).alias("gamma"),
        q4(
            cd.cast("double") / (F.col("conc") + F.col("disc") + F.col("tie_y"))
        ).alias("somers_dyx"),
        q4(
            cd.cast("double") / (F.col("conc") + F.col("disc") + F.col("tie_x"))
        ).alias("somers_dxy"),
    )


@register(
    "stat_jonckheere_terpstra",
    oracle=f"""
    WITH base AS (
        SELECT CAST(l_linenumber AS BIGINT) AS g,
               CAST(l_quantity AS BIGINT) AS v
        FROM lineitem
    ), grid AS (
        SELECT g, v, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY g, v
    ), u AS (
        SELECT CAST(sum(CASE WHEN g1.v < g2.v THEN 2 * g1.c * g2.c
                             WHEN g1.v = g2.v THEN g1.c * g2.c
                             ELSE 0 END) AS BIGINT) AS u2
        FROM grid g1 JOIN grid g2 ON g1.g < g2.g
    ), gs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(nk) AS BIGINT) AS n,
               CAST(sum(nk * nk) AS BIGINT) AS sk2,
               CAST(sum(nk * nk * (2 * nk + 3)) AS BIGINT) AS sk23
        FROM (SELECT CAST(sum(c) AS BIGINT) AS nk FROM grid GROUP BY g)
    )
    SELECT n, n_groups, u2,
           CAST((n * n - sk2) AS DOUBLE) / 4.0 AS e_u,
           {sql_q4("(u2 / 2.0 - (n * n - sk2) / 4.0)"
                   " / sqrt((CAST(n AS DOUBLE) * n * (2 * n + 3) - sk23)"
                   " / 72.0)")} AS z
    FROM u, gs
    """,
)
def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend of l_quantity
    across line numbers (the ordered-alternative upgrade of
    stat_kruskal_wallis: H only detects *some* difference, JT detects
    a monotone dose-response): U = sum over group pairs i<j of
    Mann-Whitney counts #{x_i < x_j} + ties/2, normal-approx z =
    (U - E)/sqrt(V0) with E = (N^2 - sum nk^2)/4.

    U never sees row pairs: rows collapse to the exact (linenumber x
    quantity) grid (<=7 x 50 integer cells, values already integral
    so no binning error), and DOUBLED U (so ties/2 stays integral)
    folds as a conditional sum of c1*c2 products over the grid's
    g1.g < g2.g self-join — broadcast nested-loop over <=350x350
    cells. Group sizes/moments come from one more tiny aggregate;
    the z ratio is the only float.

    Scale shape at 100 TB: one shuffle to the grid, O(cells^2)
    bounded pair fold, two broadcast 1-row frames — no driver math,
    no window anywhere."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_linenumber").cast("long").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    grid = base.groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    g1 = grid.select(
        F.col("g").alias("ga"), F.col("v").alias("va"), F.col("c").alias("ca")
    )
    g2 = grid.select(
        F.col("g").alias("gb"), F.col("v").alias("vb"), F.col("c").alias("cb")
    )
    u = (
        F.broadcast(g1)
        .join(g2, F.col("ga") < F.col("gb"))
        .agg(
            F.sum(
                F.when(F.col("va") < F.col("vb"), 2 * F.col("ca") * F.col("cb"))
                .when(F.col("va") == F.col("vb"), F.col("ca") * F.col("cb"))
                .otherwise(0)
            )
            .cast("long")
            .alias("u2")
        )
    )
    nk = grid.groupBy("g").agg(F.sum("c").cast("long").alias("nk"))
    gs = nk.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("nk").cast("long").alias("n"),
        F.sum(F.col("nk") * F.col("nk")).cast("long").alias("sk2"),
        F.sum(F.col("nk") * F.col("nk") * (2 * F.col("nk") + 3))
        .cast("long")
        .alias("sk23"),
    )
    nd = F.col("n").cast("double")
    e_u = (F.col("n") * F.col("n") - F.col("sk2")).cast("double") / F.lit(4.0)
    v0 = (nd * F.col("n") * (2 * F.col("n") + 3) - F.col("sk23")) / F.lit(72.0)
    return u.crossJoin(F.broadcast(gs)).select(
        "n",
        "n_groups",
        "u2",
        e_u.alias("e_u"),
        q4((F.col("u2") / F.lit(2.0) - e_u) / F.sqrt(v0)).alias("z"),
    )


# -------------------------------- uncertainty coefficient (r8 wave V)

_TU_Q = 1_000_000_000


@register(
    "stat_theil_u",
    oracle=f"""
    WITH base AS (
        SELECT event_type AS x, hour(ts) // 6 AS y FROM events
    ), cells AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY x, y
    ), hxy AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * {_TU_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS sxy
        FROM cells
    ), hx AS (
        SELECT CAST(sum(CAST(floor(cx * ln(CAST(cx AS DOUBLE)) * {_TU_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS sx
        FROM (SELECT CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY x)
    ), hy AS (
        SELECT CAST(sum(CAST(floor(cy * ln(CAST(cy AS DOUBLE)) * {_TU_Q}
                    + 0.5) AS BIGINT)) AS BIGINT) AS sy
        FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY y)
    ), ent AS (
        SELECT n,
               ln(CAST(n AS DOUBLE)) - CAST(sxy AS DOUBLE) / {_TU_Q} / n
                   AS h_xy,
               ln(CAST(n AS DOUBLE)) - CAST(sx AS DOUBLE) / {_TU_Q} / n
                   AS h_x,
               ln(CAST(n AS DOUBLE)) - CAST(sy AS DOUBLE) / {_TU_Q} / n
                   AS h_y
        FROM hxy, hx, hy
    )
    SELECT n, {sql_q4("h_x")} AS h_x, {sql_q4("h_y")} AS h_y,
           {sql_q4("(h_x + h_y - h_xy) / h_y")} AS theil_u_yx,
           {sql_q4("(h_x + h_y - h_xy) / h_x")} AS theil_u_xy,
           {sql_q4("2.0 * (h_x + h_y - h_xy) / (h_x + h_y)")}
               AS u_symmetric
    FROM ent
    """,
)
def stat_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between event type and
    6-hour day-part: U(Y|X) = I(X;Y)/H(Y) — the ASYMMETRIC,
    [0,1]-normalized association measure categorical feature
    selection uses where stat_cramers_v is symmetric and
    ml_mutual_info is unnormalized; the symmetric average is also
    reported. All three entropies come from one identity,
    H = ln N - (1/N) * sum c·ln c.

    Each c·ln c term is 1e-9-quantized to a BIGINT before its sum,
    so the three entropy folds are order-free; the cells table is
    bounded by |event types| x 4 day-parts, and the marginals are
    two more tiny aggregates over it.

    Scale shape at 100 TB: one shuffle to the bounded contingency
    cells; everything downstream is arithmetic over <=3 single-row
    frames."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("x"),
        (F.hour("ts") / 6).cast("long").alias("y"),
    )
    cells = base.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )

    def _slq(col: Column) -> Column:
        return (
            F.floor(col * F.log(col.cast("double")) * _TU_Q + F.lit(0.5))
            .cast("long")
        )

    hxy = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(_slq(F.col("c"))).cast("long").alias("sxy"),
    )
    hx = (
        cells.groupBy("x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .agg(F.sum(_slq(F.col("cx"))).cast("long").alias("sx"))
    )
    hy = (
        cells.groupBy("y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .agg(F.sum(_slq(F.col("cy"))).cast("long").alias("sy"))
    )
    ent = hxy.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    nd = F.col("n").cast("double")
    h_xy = F.log(nd) - F.col("sxy").cast("double") / _TU_Q / F.col("n")
    h_x = F.log(nd) - F.col("sx").cast("double") / _TU_Q / F.col("n")
    h_y = F.log(nd) - F.col("sy").cast("double") / _TU_Q / F.col("n")
    mi = h_x + h_y - h_xy
    return ent.select(
        "n",
        q4(h_x).alias("h_x"),
        q4(h_y).alias("h_y"),
        q4(mi / h_y).alias("theil_u_yx"),
        q4(mi / h_x).alias("theil_u_xy"),
        q4(F.lit(2.0) * mi / (h_x + h_y)).alias("u_symmetric"),
    )


# ------------------------------------- Brunner-Munzel test (r8 wave X)


@register(
    "stat_brunner_munzel",
    oracle=f"""
    WITH grid AS (
        SELECT CAST(l_quantity AS BIGINT) AS v,
               CAST(count_if(l_returnflag = 'A') AS BIGINT) AS ca,
               CAST(count_if(l_returnflag = 'R') AS BIGINT) AS cr
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY 1
    ), pri AS (
        SELECT v, ca, cr,
               CAST(coalesce(sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pa,
               CAST(coalesce(sum(cr) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pr
        FROM grid
    ), cells AS (
        SELECT v, ca, cr,
               2 * (pa + pr) + (ca + cr) + 1 AS m2,
               2 * pa + ca + 1 AS ma2,
               2 * pr + cr + 1 AS mr2
        FROM pri
    ), sums AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cr) AS BIGINT) AS nr,
               CAST(sum(ca * m2) AS BIGINT) AS sam2,
               CAST(sum(cr * m2) AS BIGINT) AS srm2
        FROM cells
    ), var_terms AS (
        SELECT
            CAST(sum(CAST(floor(ca * power((m2 - ma2
                 - CAST(sam2 AS DOUBLE) / na + na + 1) / 2.0, 2) + 0.5)
                 AS BIGINT)) AS BIGINT) AS qa,
            CAST(sum(CAST(floor(cr * power((m2 - mr2
                 - CAST(srm2 AS DOUBLE) / nr + nr + 1) / 2.0, 2) + 0.5)
                 AS BIGINT)) AS BIGINT) AS qr
        FROM cells, sums
    )
    SELECT na, nr,
           {sql_q4("(CAST(srm2 AS DOUBLE) / nr / 2.0 - (nr + 1) / 2.0) / na")}
               AS p_hat,
           {sql_q4(
               "na * nr * (CAST(srm2 AS DOUBLE) / nr"
               " - CAST(sam2 AS DOUBLE) / na) / 2.0"
               " / (na + nr)"
               " / sqrt(CAST(na AS DOUBLE) * (CAST(qa AS DOUBLE) / (na - 1))"
               "      + CAST(nr AS DOUBLE) * (CAST(qr AS DOUBLE) / (nr - 1)))"
           )} AS w_stat
    FROM sums, var_terms
    """,
)
def stat_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel generalized Wilcoxon test of returned-vs-
    accepted line quantities: tests P(X<Y) + P(X=Y)/2 = 1/2 WITHOUT
    the equal-variance assumption stat_mann_whitney inherits, via
    studentized midrank means (the rank Welch test); reports the
    stochastic-superiority estimate p_hat and the W statistic.

    Midranks never touch rows: both groups collapse to the exact
    integer l_quantity grid (<=50 cells), DOUBLED combined and
    within-group midranks come from one value-domain-bounded prefix
    (2·midrank = 2·prior + count + 1 stays BIGINT), the rank-mean
    sums fold exactly, and the two variance folds quantize each
    cell's squared deviation to the nearest integer (error <=0.5 per
    cell over <=50 cells against terms of order n^2 — far inside
    q4). Only the final ratios divide.

    Scale shape at 100 TB: one shuffle to the 50-cell grid; the
    window is over the bounded value domain (census-allowlisted),
    everything else is broadcast 1-row frames."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    )
    grid = li.select(
        F.col("l_quantity").cast("long").alias("v"), "l_returnflag"
    ).groupBy("v").agg(
        F.count_if(F.col("l_returnflag") == "A").cast("long").alias("ca"),
        F.count_if(F.col("l_returnflag") == "R").cast("long").alias("cr"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pri = grid.select(
        "v",
        "ca",
        "cr",
        F.coalesce(F.sum("ca").over(wv), F.lit(0)).cast("long").alias("pa"),
        F.coalesce(F.sum("cr").over(wv), F.lit(0)).cast("long").alias("pr"),
    )
    cells = pri.select(
        "ca",
        "cr",
        (2 * (F.col("pa") + F.col("pr")) + F.col("ca") + F.col("cr") + 1)
        .alias("m2"),
        (2 * F.col("pa") + F.col("ca") + 1).alias("ma2"),
        (2 * F.col("pr") + F.col("cr") + 1).alias("mr2"),
    )
    sums = cells.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cr").cast("long").alias("nr"),
        F.sum(F.col("ca") * F.col("m2")).cast("long").alias("sam2"),
        F.sum(F.col("cr") * F.col("m2")).cast("long").alias("srm2"),
    )
    joined = cells.crossJoin(F.broadcast(sums))
    dev_a = (
        F.col("m2")
        - F.col("ma2")
        - F.col("sam2").cast("double") / F.col("na")
        + F.col("na")
        + 1
    ) / F.lit(2.0)
    dev_r = (
        F.col("m2")
        - F.col("mr2")
        - F.col("srm2").cast("double") / F.col("nr")
        + F.col("nr")
        + 1
    ) / F.lit(2.0)
    var_terms = joined.agg(
        F.sum(
            F.floor(F.col("ca") * F.pow(dev_a, F.lit(2.0)) + F.lit(0.5))
            .cast("long")
        )
        .cast("long")
        .alias("qa"),
        F.sum(
            F.floor(F.col("cr") * F.pow(dev_r, F.lit(2.0)) + F.lit(0.5))
            .cast("long")
        )
        .cast("long")
        .alias("qr"),
    )
    out = sums.crossJoin(F.broadcast(var_terms))
    na, nr = F.col("na"), F.col("nr")
    rbar_a = F.col("sam2").cast("double") / na
    rbar_r = F.col("srm2").cast("double") / nr
    s_a = F.col("qa").cast("double") / (na - 1)
    s_r = F.col("qr").cast("double") / (nr - 1)
    return out.select(
        "na",
        "nr",
        q4((rbar_r / F.lit(2.0) - (nr + 1) / F.lit(2.0)) / na).alias("p_hat"),
        q4(
            na * nr * (rbar_r - rbar_a) / F.lit(2.0)
            / (na + nr)
            / F.sqrt(na.cast("double") * s_a + nr.cast("double") * s_r)
        ).alias("w_stat"),
    )


# -------------------------------------- Poisson rate ratio (r8 wave Y)


@register(
    "stat_rate_ratio",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(min(CAST(ts AS DATE)) AS DATE) AS d0,
               CAST(max(CAST(ts AS DATE)) AS DATE) AS d1
        FROM events
    ), halves AS (
        SELECT CASE WHEN date_diff('day', d0, CAST(ts AS DATE))
                    <= CAST(floor(date_diff('day', d0, d1) / 2) AS BIGINT)
               THEN 1 ELSE 2 END AS half,
               CAST(ts AS DATE) AS d,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS k
        FROM events, bounds
    ), s AS (
        SELECT CAST(count_if(half = 1 AND k = 1) AS BIGINT) AS k1,
               CAST(count_if(half = 2 AND k = 1) AS BIGINT) AS k2,
               CAST(count(DISTINCT d) FILTER (WHERE half = 1) AS BIGINT)
                   AS t1,
               CAST(count(DISTINCT d) FILTER (WHERE half = 2) AS BIGINT)
                   AS t2,
               CAST(count_if(half = 1) AS BIGINT) AS n1,
               CAST(count_if(half = 2) AS BIGINT) AS n2
        FROM halves
    )
    SELECT k1, k2, t1, t2,
           {sql_q4("(CAST(k1 AS DOUBLE) / t1) / (CAST(k2 AS DOUBLE) / t2)")}
               AS rate_ratio,
           {sql_q4("ln((CAST(k1 AS DOUBLE) / t1) / (CAST(k2 AS DOUBLE) / t2))"
                   " / sqrt(1.0 / k1 + 1.0 / k2)")} AS z,
           {sql_q4("2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / n1))"
                   " - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE) / n2))")}
               AS cohens_h
    FROM s
    """,
)
def stat_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period Poisson rate comparison of purchase volume (first
    calendar half vs second): the rate ratio with its log-scale
    Wald z (se = sqrt(1/k1 + 1/k2) — the exposure-adjusted test a
    plain proportions z-test gets wrong when period lengths differ),
    plus Cohen's h effect size on the per-event purchase SHARE
    (2·asin sqrt p, the arcsine-stabilized difference) — the
    practical-significance companion the z-value alone can't give.

    The calendar midpoint comes from a broadcast 1-row min/max frame;
    all six ingredients (purchase counts, active-day exposures, event
    totals per half) are exact integers from one conditional
    aggregate, and the three statistics are single-row arithmetic.

    Degenerate inputs, by spec: if either half has zero purchase
    events (k1 = 0 or k2 = 0), the rate ratio and/or its log-scale z
    are NULL — ln(0) and 1/0 are undefined and no continuity
    correction is applied; Cohen's h (an arcsine of a share) remains
    defined as long as each half has at least one event. Callers
    wanting a finite statistic at zero counts should apply their own
    Haldane-Anscombe-style +0.5 upstream.

    Scale shape at 100 TB: one pass + one bounded distinct-day
    aggregate; no windows, no row joins."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    halves = e.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.datediff(F.to_date("ts"), F.col("d0"))
            <= F.floor(F.datediff("d1", "d0") / 2).cast("long"),
            1,
        )
        .otherwise(2)
        .alias("half"),
        F.to_date("ts").alias("d"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("k"),
    )
    s = halves.agg(
        F.count_if((F.col("half") == 1) & (F.col("k") == 1))
        .cast("long")
        .alias("k1"),
        F.count_if((F.col("half") == 2) & (F.col("k") == 1))
        .cast("long")
        .alias("k2"),
        F.count_distinct(F.when(F.col("half") == 1, F.col("d")))
        .cast("long")
        .alias("t1"),
        F.count_distinct(F.when(F.col("half") == 2, F.col("d")))
        .cast("long")
        .alias("t2"),
        F.count_if(F.col("half") == 1).cast("long").alias("n1"),
        F.count_if(F.col("half") == 2).cast("long").alias("n2"),
    )
    r1 = F.col("k1").cast("double") / F.col("t1")
    r2 = F.col("k2").cast("double") / F.col("t2")
    return s.select(
        "k1",
        "k2",
        "t1",
        "t2",
        q4(r1 / r2).alias("rate_ratio"),
        q4(
            F.log(r1 / r2)
            / F.sqrt(1.0 / F.col("k1") + 1.0 / F.col("k2"))
        ).alias("z"),
        q4(
            2.0 * F.asin(F.sqrt(F.col("k1").cast("double") / F.col("n1")))
            - 2.0 * F.asin(F.sqrt(F.col("k2").cast("double") / F.col("n2")))
        ).alias("cohens_h"),
    )


# ------------------------------------- two-way ANOVA (r8 wave Z)


@register(
    "stat_two_way_anova",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS a, l_linestatus AS b,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
        FROM lineitem
    ), cells AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(yc) AS BIGINT) AS s
        FROM base GROUP BY a, b
    ), g AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(s) AS BIGINT) AS st,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(count(DISTINCT a) AS BIGINT) AS ka,
               CAST(count(DISTINCT b) AS BIGINT) AS kb
        FROM cells
    ), ssc AS (
        SELECT CAST(sum(CAST(floor(n * power(CAST(s AS DOUBLE) / n / 100.0
                 - CAST(st AS DOUBLE) / nt / 100.0, 2) + 0.5) AS BIGINT))
                 AS BIGINT) AS ss_cells_q
        FROM cells, g
    ), ma AS (
        SELECT CAST(sum(CAST(floor(na * power(CAST(sa AS DOUBLE) / na / 100.0
                 - CAST(st AS DOUBLE) / nt / 100.0, 2) + 0.5) AS BIGINT))
                 AS BIGINT) AS ss_a_q
        FROM (SELECT a, CAST(sum(n) AS BIGINT) AS na,
                     CAST(sum(s) AS BIGINT) AS sa FROM cells GROUP BY a), g
    ), mb AS (
        SELECT CAST(sum(CAST(floor(nb * power(CAST(sb AS DOUBLE) / nb / 100.0
                 - CAST(st AS DOUBLE) / nt / 100.0, 2) + 0.5) AS BIGINT))
                 AS BIGINT) AS ss_b_q
        FROM (SELECT b, CAST(sum(n) AS BIGINT) AS nb,
                     CAST(sum(s) AS BIGINT) AS sb FROM cells GROUP BY b), g
    ), sst AS (
        SELECT CAST(sum(CAST(floor(power(CAST(yc AS DOUBLE) / 100.0
                 - CAST(st AS DOUBLE) / nt / 100.0, 2) + 0.5) AS BIGINT))
                 AS BIGINT) AS ss_t_q
        FROM base, g
    )
    SELECT nt AS n, ka, kb,
           {sql_q4("CAST(ss_a_q AS DOUBLE) / (ka - 1)"
                   " / (CAST(ss_t_q - ss_cells_q AS DOUBLE)"
                   " / (nt - n_cells))")} AS f_a,
           {sql_q4("CAST(ss_b_q AS DOUBLE) / (kb - 1)"
                   " / (CAST(ss_t_q - ss_cells_q AS DOUBLE)"
                   " / (nt - n_cells))")} AS f_b,
           {sql_q4("CAST(ss_cells_q - ss_a_q - ss_b_q AS DOUBLE)"
                   " / ((ka - 1) * (kb - 1))"
                   " / (CAST(ss_t_q - ss_cells_q AS DOUBLE)"
                   " / (nt - n_cells))")} AS f_ab,
           {sql_q4("CAST(ss_a_q AS DOUBLE) / ss_t_q")} AS eta2_a,
           {sql_q4("CAST(ss_b_q AS DOUBLE) / ss_t_q")} AS eta2_b,
           {sql_q4("CAST(ss_cells_q - ss_a_q - ss_b_q AS DOUBLE)"
                   " / ss_t_q")} AS eta2_ab
    FROM g, ssc, ma, mb, sst
    """,
)
def stat_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA of extended price by return flag x line status
    with interaction: the textbook cell-mean decomposition SS_cells =
    SS_A + SS_B + SS_AB against SS_within = SS_T - SS_cells, reported
    as F ratios and eta-squared effect sizes (exact for balanced
    designs, the standard descriptive decomposition otherwise —
    documented). The factorial upgrade of stat_anova_oneway.

    Every mean comes from exact integer cents sums; each squared
    deviation term (in dollars, so per-term magnitudes stay inside
    2^53 double-exact range) is floored to the nearest integer before
    its BIGINT fold — SS_A/SS_B over <=5 marginal rows, SS_cells over
    <=6 cells, SS_T as ONE extra pass over the fact rows against the
    broadcast grand mean. Only the final ratios divide.

    Scale shape at 100 TB: two fact passes (cells agg + SS_T fold),
    everything else bounded-row arithmetic on broadcast 1-row
    frames."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("a"),
        F.col("l_linestatus").alias("b"),
        cents(F.col("l_extendedprice")).alias("yc"),
    ).persist()
    cells = base.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s"),
    ).localCheckpoint(eager=False)
    g = cells.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.count_distinct("a").cast("long").alias("ka"),
        F.count_distinct("b").cast("long").alias("kb"),
    )
    gm = F.col("st").cast("double") / F.col("nt") / 100.0

    def _ssq(nc: Column, sc: Column) -> Column:
        mean = sc.cast("double") / nc / 100.0
        return (
            F.sum(
                F.floor(nc * F.pow(mean - gm, F.lit(2.0)) + F.lit(0.5))
                .cast("long")
            )
            .cast("long")
        )

    ssc = cells.crossJoin(F.broadcast(g)).agg(
        _ssq(F.col("n"), F.col("s")).alias("ss_cells_q")
    )
    ma = (
        cells.groupBy("a")
        .agg(F.sum("n").cast("long").alias("na"), F.sum("s").cast("long").alias("sa"))
        .crossJoin(F.broadcast(g))
        .agg(_ssq(F.col("na"), F.col("sa")).alias("ss_a_q"))
    )
    mb = (
        cells.groupBy("b")
        .agg(F.sum("n").cast("long").alias("nb"), F.sum("s").cast("long").alias("sb"))
        .crossJoin(F.broadcast(g))
        .agg(_ssq(F.col("nb"), F.col("sb")).alias("ss_b_q"))
    )
    sst = base.crossJoin(F.broadcast(g)).agg(
        F.sum(
            F.floor(
                F.pow(F.col("yc").cast("double") / 100.0 - gm, F.lit(2.0))
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("ss_t_q")
    )
    out = (
        g.crossJoin(F.broadcast(ssc))
        .crossJoin(F.broadcast(ma))
        .crossJoin(F.broadcast(mb))
        .crossJoin(F.broadcast(sst))
    )
    ms_w = (F.col("ss_t_q") - F.col("ss_cells_q")).cast("double") / (
        F.col("nt") - F.col("n_cells")
    )
    ss_ab = (F.col("ss_cells_q") - F.col("ss_a_q") - F.col("ss_b_q")).cast(
        "double"
    )
    return out.select(
        F.col("nt").alias("n"),
        "ka",
        "kb",
        q4(
            F.col("ss_a_q").cast("double") / (F.col("ka") - 1) / ms_w
        ).alias("f_a"),
        q4(
            F.col("ss_b_q").cast("double") / (F.col("kb") - 1) / ms_w
        ).alias("f_b"),
        q4(
            ss_ab / ((F.col("ka") - 1) * (F.col("kb") - 1)) / ms_w
        ).alias("f_ab"),
        q4(F.col("ss_a_q").cast("double") / F.col("ss_t_q")).alias("eta2_a"),
        q4(F.col("ss_b_q").cast("double") / F.col("ss_t_q")).alias("eta2_b"),
        q4(ss_ab / F.col("ss_t_q")).alias("eta2_ab"),
    )


# --------------------------------- Brown-Forsythe test (r8 wave AA)


@register(
    "stat_brown_forsythe",
    oracle=f"""
    WITH x AS (
        SELECT event_type AS g,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc
        FROM events
    ), grid AS (
        SELECT g, xc, CAST(count(*) AS BIGINT) AS c
        FROM x GROUP BY g, xc
    ), cum AS (
        SELECT g, xc, c,
               CAST(sum(c) OVER (PARTITION BY g ORDER BY xc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cc,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS ng
        FROM grid
    ), med AS (
        SELECT g, CAST(min(xc) AS BIGINT) AS medc
        FROM cum WHERE 2 * cc >= ng + 1 GROUP BY g
    ), dev AS (
        SELECT x.g, abs(x.xc - m.medc) AS z
        FROM x JOIN med m ON m.g = x.g
    ), gs AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(z * z) AS BIGINT) AS sz2
        FROM dev GROUP BY g
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(sz) AS BIGINT) AS szt,
               CAST(sum(CAST(floor(n * power(CAST(sz AS DOUBLE) / n, 2)
                    + 0.5) AS BIGINT)) AS BIGINT) AS ssb_partq,
               CAST(sum(sz2) AS BIGINT) AS sz2t,
               CAST(sum(CAST(floor(power(CAST(sz AS DOUBLE), 2) / n + 0.5)
                    AS BIGINT)) AS BIGINT) AS ssw_subq
        FROM gs
    )
    SELECT k, nt,
           {sql_q4(
               "((CAST(ssb_partq AS DOUBLE)"
               " - power(CAST(szt AS DOUBLE), 2) / nt) / (k - 1))"
               " / ((CAST(sz2t AS DOUBLE) - ssw_subq) / (nt - k))"
           )} AS f_stat
    FROM tot
    """,
)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test across event
    types: the Levene ANOVA computed on |x - MEDIAN_g| instead of
    |x - mean_g| — the robust default statisticians reach for when
    groups are skewed (stat_levene keeps the classical mean-centered
    form; this is its heavy-tail-safe sibling).

    Group medians come from the (group, cents) grid with a
    PARTITIONED cumulative count (per-group rows bounded by the
    value domain, not the corpus): the median is the smallest cell
    whose cumulative count reaches ceil((n+1)/2) — the middle
    element for odd n, the upper median for even n. Deviations |x - med| are exact integers,
    so the between/within sums fold as BIGINTs (the two mean-square
    reductions quantize their only fractional terms at +-0.5 over
    |groups| cells). One grid pass, one deviations pass.

    Scale shape at 100 TB: two fact passes + a bounded-grid window
    partitioned by group; medians broadcast back via a |groups|-row
    join."""
    e = table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("xc"),
    )
    grid = x.groupBy("g", "xc").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = (
        Window.partitionBy("g")
        .orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("g")
    cum = grid.select(
        "g",
        "xc",
        F.sum("c").over(wc).cast("long").alias("cc"),
        F.sum("c").over(wg).cast("long").alias("ng"),
    )
    med = (
        cum.where(2 * F.col("cc") >= F.col("ng") + 1)
        .groupBy("g")
        .agg(F.min("xc").cast("long").alias("medc"))
    )
    dev = x.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("xc") - F.col("medc")).alias("z")
    )
    gs = dev.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("sz2"),
    )
    tot = gs.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("sz").cast("long").alias("szt"),
        F.sum(
            F.floor(
                F.col("n")
                * F.pow(F.col("sz").cast("double") / F.col("n"), F.lit(2.0))
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("ssb_partq"),
        F.sum("sz2").cast("long").alias("sz2t"),
        F.sum(
            F.floor(
                F.pow(F.col("sz").cast("double"), F.lit(2.0)) / F.col("n")
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("ssw_subq"),
    )
    ssb = (
        F.col("ssb_partq").cast("double")
        - F.pow(F.col("szt").cast("double"), F.lit(2.0)) / F.col("nt")
    )
    ssw = F.col("sz2t").cast("double") - F.col("ssw_subq")
    return tot.select(
        "k",
        "nt",
        q4(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("nt") - F.col("k")))
        ).alias("f_stat"),
    )


# ----------------------------------- circular statistics (r8 wave AB)

_CS_Q = 1_000_000_000


@register(
    "stat_circular_stats",
    oracle=f"""
    WITH ang AS (
        SELECT 2 * pi() * (hour(ts) * 3600 + minute(ts) * 60
               + CAST(floor(second(ts)) AS BIGINT)) / 86400.0 AS th
        FROM events
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(cos(th) * {_CS_Q} + 0.5) AS BIGINT))
                    AS BIGINT) AS cq,
               CAST(sum(CAST(floor(sin(th) * {_CS_Q} + 0.5) AS BIGINT))
                    AS BIGINT) AS sq
        FROM ang
    )
    SELECT n,
           {sql_q4(
               f"sqrt(power(CAST(cq AS DOUBLE) / {_CS_Q}, 2)"
               f" + power(CAST(sq AS DOUBLE) / {_CS_Q}, 2)) / n"
           )} AS r_bar,
           {sql_q4(
               "24.0 * (((atan2(CAST(sq AS DOUBLE), CAST(cq AS DOUBLE))"
               " % (2 * pi())) + 2 * pi()) % (2 * pi())) / (2 * pi())"
           )} AS mean_hour,
           {sql_q4(
               f"n * (power(CAST(cq AS DOUBLE) / {_CS_Q}, 2)"
               f" + power(CAST(sq AS DOUBLE) / {_CS_Q}, 2)) / (n * 1.0 * n)"
           )} AS rayleigh_z,
           {sql_q4(
               f"exp(-(n * (power(CAST(cq AS DOUBLE) / {_CS_Q}, 2)"
               f" + power(CAST(sq AS DOUBLE) / {_CS_Q}, 2)) / (n * 1.0 * n)))"
           )} AS p_approx
    FROM s
    """,
)
def stat_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of the event time-of-day treated as an
    angle on the 24 h clock: the mean resultant length R-bar (0 =
    uniform around the clock, 1 = a single spike), the circular mean
    hour via atan2, and the Rayleigh uniformity test z = n·R-bar^2
    with its first-order p ~ exp(-z) — the mathematically correct way
    to average times-of-day, where events_diurnal_weekly_profile's
    per-bin histogram can't say '3 am +- 2 h' (linear means wrap
    around midnight to noon).

    Per-row cos/sin are 1e-9-quantized to BIGINTs before the fold, so
    the resultant vector is an exact integer pair on both engines;
    atan2/exp run once on that single row.

    Scale shape at 100 TB: one conditional aggregate — three
    counters."""
    e = table(spark, sf_dir, "events")
    th = (
        2.0
        * math.pi
        * (
            F.hour("ts") * 3600
            + F.minute("ts") * 60
            + F.floor(F.second("ts")).cast("long")
        )
        / 86400.0
    )
    s = e.select(th.alias("th")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.cos(F.col("th")) * _CS_Q + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cq"),
        F.sum(F.floor(F.sin(F.col("th")) * _CS_Q + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sq"),
    )
    c = F.col("cq").cast("double") / _CS_Q
    sn = F.col("sq").cast("double") / _CS_Q
    r2 = c * c + sn * sn
    two_pi = 2 * math.pi
    ang = ((F.atan2(sn, c) % two_pi) + two_pi) % two_pi
    z = F.col("n") * r2 / (F.col("n") * 1.0 * F.col("n"))
    return s.select(
        "n",
        q4(F.sqrt(r2) / F.col("n")).alias("r_bar"),
        q4(24.0 * ang / two_pi).alias("mean_hour"),
        q4(z).alias("rayleigh_z"),
        q4(F.exp(-z)).alias("p_approx"),
    )


# ------------------------------ Cochran-Armitage trend (r8 wave AC)


@register(
    "stat_cochran_armitage",
    oracle=f"""
    WITH g AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS a
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(a) AS BIGINT) AS at,
               CAST(sum(s * n) AS BIGINT) AS sn,
               CAST(sum(s * s * n) AS BIGINT) AS s2n,
               CAST(sum(s * a) AS BIGINT) AS sa,
               CAST(count(*) AS BIGINT) AS k
        FROM g
    )
    SELECT k, nt, at,
           {sql_q4("(CAST(sa AS DOUBLE) - CAST(at AS DOUBLE) * sn / nt)"
                   " / sqrt(CAST(at AS DOUBLE) / nt"
                   " * (1.0 - CAST(at AS DOUBLE) / nt)"
                   " * (CAST(s2n AS DOUBLE)"
                   " - CAST(sn AS DOUBLE) * sn / nt))")} AS z_trend,
           {sql_q4("CAST(at AS DOUBLE) / nt")} AS pooled_rate
    FROM tot
    """,
)
def stat_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the order-completion rate
    rise or fall MONOTONICALLY with priority rank (scores 1..5)?
    z = (sum s_i a_i - A*sum s_i n_i / N) / sqrt(p(1-p)(sum s_i^2 n_i
    - (sum s_i n_i)^2/N)) — the dose-response test for a binary
    outcome over ordered groups, strictly more powerful than
    stat_chi2_test's omnibus k-proportions comparison when the
    alternative is a trend (the proportions sibling of
    stat_jonckheere_terpstra).

    All five moments (N, A, sum sn, sum s^2 n, sum sa) fold as exact
    BIGINTs in one bounded aggregate over the <=5 priority groups;
    the z ratio is single-row arithmetic.

    Scale shape at 100 TB: one hash aggregate to 5 rows, one 1-row
    reduction. Nothing else."""
    o = table(spark, sf_dir, "orders")
    g = o.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s"),
        F.col("o_orderstatus"),
    ).groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("o_orderstatus") == "F").cast("long").alias("a"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("a").cast("long").alias("at"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("long").alias("s2n"),
        F.sum(F.col("s") * F.col("a")).cast("long").alias("sa"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = F.col("at").cast("double") / F.col("nt")
    num = F.col("sa").cast("double") - F.col("at").cast("double") * F.col(
        "sn"
    ) / F.col("nt")
    var = p * (F.lit(1.0) - p) * (
        F.col("s2n").cast("double")
        - F.col("sn").cast("double") * F.col("sn") / F.col("nt")
    )
    return tot.select(
        "k",
        "nt",
        "at",
        q4(num / F.sqrt(var)).alias("z_trend"),
        q4(p).alias("pooled_rate"),
    )


# --------------------------- Gumbel extreme-value fit (r8 wave AD)

_GUM_GAMMA = 0.5772156649015329  # Euler-Mascheroni
_GUM_T = 30  # return period in days


@register(
    "stat_gumbel_fit",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS mx
        FROM events GROUP BY 1
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mx) AS BIGINT) AS s1,
               CAST(sum(mx * mx) AS BIGINT) AS s2
        FROM daily
    )
    SELECT n,
           {sql_q4("CAST(s1 AS DOUBLE) / n / 100.0")} AS mean_daily_max,
           {sql_q4(
               "sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)"
               " / (CAST(n AS DOUBLE) * (n - 1))) / 100.0"
               " * sqrt(6.0) / pi()"
           )} AS beta,
           {sql_q4(
               f"CAST(s1 AS DOUBLE) / n / 100.0 - {_GUM_GAMMA}"
               f" * sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)"
               f" / (CAST(n AS DOUBLE) * (n - 1))) / 100.0"
               f" * sqrt(6.0) / pi()"
           )} AS mu,
           {sql_q4(
               f"CAST(s1 AS DOUBLE) / n / 100.0 - {_GUM_GAMMA}"
               f" * sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)"
               f" / (CAST(n AS DOUBLE) * (n - 1))) / 100.0"
               f" * sqrt(6.0) / pi()"
               f" - sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)"
               f" / (CAST(n AS DOUBLE) * (n - 1))) / 100.0"
               f" * sqrt(6.0) / pi()"
               f" * ln(-ln(1.0 - 1.0 / {_GUM_T}))"
           )} AS return_level_30d
    FROM s
    """,
)
def stat_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (type-I extreme value) fit to the DAILY MAXIMUM event
    value by method of moments: beta = s·sqrt(6)/pi, mu = m - gamma·
    beta, and the 30-day return level mu - beta·ln(-ln(1 - 1/T)) —
    the block-maxima risk summary that answers 'how big a spike
    should we provision for per month', complementing
    stat_tail_index_hill's peaks-over-threshold view of the same
    tail.

    Daily maxima are exact integer cents (one calendar-grid
    aggregate), their two moments fold as BIGINTs, and the three
    Gumbel quantities are single-row arithmetic on those integers.

    Scale shape at 100 TB: one fact pass to |days| rows, one 1-row
    reduction."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
        )
        .groupBy("d")
        .agg(F.max("vc").cast("long").alias("mx"))
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / F.col("n") / 100.0
    sd = (
        F.sqrt(
            (nd * F.col("s2") - F.col("s1").cast("double") * F.col("s1"))
            / (nd * (F.col("n") - 1))
        )
        / 100.0
    )
    beta = sd * math.sqrt(6.0) / math.pi
    mu = mean - _GUM_GAMMA * beta
    rl = mu - beta * math.log(-math.log(1.0 - 1.0 / _GUM_T))
    return s.select(
        "n",
        q4(mean).alias("mean_daily_max"),
        q4(beta).alias("beta"),
        q4(mu).alias("mu"),
        q4(rl).alias("return_level_30d"),
    )


# --------------------- fixed-effect meta-analysis of strata (r8 wave AD)

_META_Q = 1_000_000_000


@register(
    "stat_meta_fixed_effect",
    oracle=f"""
    WITH base AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS stratum,
               CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
        FROM events
    ), cells AS (
        SELECT stratum,
               CAST(count_if(exposed = 1 AND outc = 1) AS BIGINT) AS a,
               CAST(count_if(exposed = 1 AND outc = 0) AS BIGINT) AS b,
               CAST(count_if(exposed = 0 AND outc = 1) AS BIGINT) AS c,
               CAST(count_if(exposed = 0 AND outc = 0) AS BIGINT) AS d
        FROM base GROUP BY stratum
    ), eff AS (
        SELECT stratum,
               ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)) AS y,
               1.0 / (1.0/a + 1.0/b + 1.0/c + 1.0/d) AS w
        FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
    ), pool AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(floor(w * y * {_META_Q} + 0.5) AS BIGINT))
                   AS BIGINT) AS swyq,
               CAST(sum(CAST(floor(w * {_META_Q} + 0.5) AS BIGINT))
                   AS BIGINT) AS swq,
               CAST(sum(CAST(floor(w * y * y * {_META_Q} + 0.5) AS BIGINT))
                   AS BIGINT) AS swy2q
        FROM eff
    )
    SELECT k,
           {sql_q4("CAST(swyq AS DOUBLE) / swq")} AS pooled_log_or,
           {sql_q4("exp(CAST(swyq AS DOUBLE) / swq)")} AS pooled_or,
           {sql_q4(f"sqrt(1.0 * {_META_Q} / swq)")} AS se,
           {sql_q4(
               f"(CAST(swy2q AS DOUBLE) - CAST(swyq AS DOUBLE) * swyq / swq)"
               f" / {_META_Q}"
           )} AS q_het,
           {sql_q4(
               f"greatest(0.0, ((CAST(swy2q AS DOUBLE)"
               f" - CAST(swyq AS DOUBLE) * swyq / swq) / {_META_Q} - (k - 1))"
               f" / ((CAST(swy2q AS DOUBLE)"
               f" - CAST(swyq AS DOUBLE) * swyq / swq) / {_META_Q}))"
           )} AS i2
    FROM pool
    """,
)
def stat_meta_fixed_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect inverse-variance meta-analysis pooling the
    per-weekday exposure/outcome odds ratios (the same 2x2 strata as
    stat_mantel_haenszel, pooled the OTHER standard way): pooled
    lnOR = sum w_i y_i / sum w_i with w = 1/var(lnOR) = 1/(1/a + 1/b
    + 1/c + 1/d), Cochran's Q = sum w(y - ybar)^2 for heterogeneity
    and I^2 = max(0, (Q - (k-1))/Q) — the forest-plot bottom line
    plus the 'should you even pool' diagnostic.

    Strata effects come from exact integer 2x2 cells (one hash
    aggregate to 7 weekday rows); w, wy and wy^2 are 1e-9-quantized
    per stratum before their folds so the pooled ratios divide exact
    integers. Degenerate strata (any empty cell) are excluded by
    spec.

    Scale shape at 100 TB: one fact pass to 7 strata, bounded-row
    arithmetic after."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        F.expr("((dayofweek(ts) + 5) % 7) + 1").alias("stratum"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("exposed"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("outc"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("exposed") == 1) & (F.col("outc") == 1))
        .cast("long")
        .alias("a"),
        F.count_if((F.col("exposed") == 1) & (F.col("outc") == 0))
        .cast("long")
        .alias("b"),
        F.count_if((F.col("exposed") == 0) & (F.col("outc") == 1))
        .cast("long")
        .alias("c"),
        F.count_if((F.col("exposed") == 0) & (F.col("outc") == 0))
        .cast("long")
        .alias("d"),
    )
    ok = (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (
        F.col("d") > 0
    )
    y = F.log(
        F.col("a").cast("double")
        * F.col("d")
        / (F.col("b").cast("double") * F.col("c"))
    )
    w = 1.0 / (
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    eff = cells.where(ok).select(y.alias("y"), w.alias("w"))
    pool = eff.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.floor(F.col("w") * F.col("y") * _META_Q + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("swyq"),
        F.sum(F.floor(F.col("w") * _META_Q + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("swq"),
        F.sum(
            F.floor(
                F.col("w") * F.col("y") * F.col("y") * _META_Q + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("swy2q"),
    )
    pooled = F.col("swyq").cast("double") / F.col("swq")
    q_het = (
        F.col("swy2q").cast("double")
        - F.col("swyq").cast("double") * F.col("swyq") / F.col("swq")
    ) / _META_Q
    return pool.select(
        "k",
        q4(pooled).alias("pooled_log_or"),
        q4(F.exp(pooled)).alias("pooled_or"),
        q4(F.sqrt(F.lit(1.0) * _META_Q / F.col("swq"))).alias("se"),
        q4(q_het).alias("q_het"),
        q4(
            F.greatest(
                F.lit(0.0), (q_het - (F.col("k") - 1)) / q_het
            )
        ).alias("i2"),
    )


# ------------------------------- Dunn post-hoc test (r8 wave AF)

_DUNN_Z_CRIT = 2.807  # two-sided Bonferroni 0.05 over C(5,2) = 10 pairs


@register(
    "stat_dunn_posthoc",
    oracle=f"""
    WITH x AS (
        SELECT event_type AS g,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        FROM events
    ), grid AS (
        SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY v, g
    ), vtot AS (
        SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM grid GROUP BY v
    ), pri AS (
        SELECT v, cv,
               CAST(coalesce(sum(cv) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pv
        FROM vtot
    ), ranked AS (
        SELECT gr.g, gr.c, 2 * p.pv + p.cv + 1 AS mr2
        FROM grid gr JOIN pri p ON p.v = gr.v
    ), gs AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * mr2) AS BIGINT) AS smr2
        FROM ranked GROUP BY g
    ), ties AS (
        SELECT CAST(sum(cv * cv * cv - cv) AS BIGINT) AS t3t,
               CAST(sum(cv) AS BIGINT) AS nt
        FROM vtot
    )
    SELECT a.g AS g1, b.g AS g2,
           {sql_q4("CAST(a.smr2 AS DOUBLE) / a.n / 2.0")} AS mean_rank_1,
           {sql_q4("CAST(b.smr2 AS DOUBLE) / b.n / 2.0")} AS mean_rank_2,
           {sql_q4(
               "(CAST(a.smr2 AS DOUBLE) / a.n"
               " - CAST(b.smr2 AS DOUBLE) / b.n) / 2.0"
               " / sqrt((CAST(nt AS DOUBLE) * (nt + 1) / 12.0"
               " - CAST(t3t AS DOUBLE) / (12.0 * (nt - 1)))"
               " * (1.0 / a.n + 1.0 / b.n))"
           )} AS z,
           CAST(abs({sql_q4(
               "(CAST(a.smr2 AS DOUBLE) / a.n"
               " - CAST(b.smr2 AS DOUBLE) / b.n) / 2.0"
               " / sqrt((CAST(nt AS DOUBLE) * (nt + 1) / 12.0"
               " - CAST(t3t AS DOUBLE) / (12.0 * (nt - 1)))"
               " * (1.0 / a.n + 1.0 / b.n))"
           )}) > {_DUNN_Z_CRIT} AS BOOLEAN) AS significant
    FROM gs a JOIN gs b ON a.g < b.g, ties
    """,
)
def stat_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test: WHICH event-type pairs differ after
    stat_kruskal_wallis says 'some do' — pairwise z on tie-corrected
    midrank means, z_ij = (Rbar_i - Rbar_j)/sqrt((N(N+1)/12 -
    sum(t^3-t)/(12(N-1)))(1/n_i + 1/n_j)), flagged at the Bonferroni
    critical value 2.807 for the 10 pairs. The k-group follow-up the
    omnibus tests can't give.

    Midranks never see rows: values collapse to the cents grid,
    DOUBLED midranks (2·prior + count + 1) come from one
    value-domain-bounded prefix, and per-group rank sums fold as
    exact BIGINTs; the tie correction reads the same grid. The
    pairwise table is a self-join of the |groups|-row summary.

    Scale shape at 100 TB: one shuffle to the value grid, one bounded
    prefix, a 5x5 broadcast self-join."""
    e = table(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    grid = x.groupBy("v", "g").agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(eager=False)
    vtot = grid.groupBy("v").agg(F.sum("c").cast("long").alias("cv")).localCheckpoint(eager=False)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pri = vtot.select(
        "v",
        "cv",
        F.coalesce(F.sum("cv").over(wv), F.lit(0)).cast("long").alias("pv"),
    )
    ranked = grid.join(pri, "v").select(
        "g", "c", (2 * F.col("pv") + F.col("cv") + 1).alias("mr2")
    )
    gs = ranked.groupBy("g").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("mr2")).cast("long").alias("smr2"),
    )
    ties = vtot.agg(
        F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
        .cast("long")
        .alias("t3t"),
        F.sum("cv").cast("long").alias("nt"),
    )
    a = gs.select(
        F.col("g").alias("g1"),
        F.col("n").alias("n1"),
        F.col("smr2").alias("smr1"),
    )
    b = gs.select(
        F.col("g").alias("g2"),
        F.col("n").alias("n2"),
        F.col("smr2").alias("smr2b"),
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("g1") < F.col("g2"))
        .crossJoin(F.broadcast(ties))
    )
    r1 = F.col("smr1").cast("double") / F.col("n1")
    r2 = F.col("smr2b").cast("double") / F.col("n2")
    ntd = F.col("nt").cast("double")
    var = (
        ntd * (F.col("nt") + 1) / 12.0
        - F.col("t3t").cast("double") / (12.0 * (F.col("nt") - 1))
    ) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    z = q4((r1 - r2) / F.lit(2.0) / F.sqrt(var))
    return pairs.select(
        "g1",
        "g2",
        q4(r1 / F.lit(2.0)).alias("mean_rank_1"),
        q4(r2 / F.lit(2.0)).alias("mean_rank_2"),
        z.alias("z"),
        (F.abs(z) > _DUNN_Z_CRIT).alias("significant"),
    )


# ----------------------------- sign test / Wilson CI (r8 wave AG)


@register(
    "stat_sign_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(count_if(event_type = 'click') AS BIGINT) AS x,
               CAST(count_if(event_type = 'view') AS BIGINT) AS y
        FROM events GROUP BY 1
    ), s AS (
        SELECT CAST(count_if(x > y) AS BIGINT) AS n_pos,
               CAST(count_if(x < y) AS BIGINT) AS n_neg,
               CAST(count_if(x = y) AS BIGINT) AS n_tie
        FROM daily
    )
    SELECT n_pos, n_neg, n_tie,
           {sql_q4(
               "(CAST(n_pos AS DOUBLE) - 0.5 * (n_pos + n_neg))"
               " / sqrt(0.25 * (n_pos + n_neg))"
           )} AS z,
           CAST(abs((CAST(n_pos AS DOUBLE) - 0.5 * (n_pos + n_neg))
               / sqrt(0.25 * (n_pos + n_neg))) > 1.96 AS BOOLEAN)
               AS significant
    FROM s
    """,
)
def stat_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on daily click vs view counts: S = #days
    clicks exceed views against Binomial(n, 1/2) with ties dropped
    (the textbook rule), normal-approximation z — the
    assumption-free-est paired test there is, the fallback when even
    stat_wilcoxon_signed's symmetric-differences assumption is too
    strong.

    One calendar-grid aggregate produces the three exact sign counts;
    the z-statistic is single-row arithmetic.

    Scale shape at 100 TB: one fact pass to |days| rows, one 1-row
    reduction."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(F.to_date("ts").alias("d"), "event_type")
        .groupBy("d")
        .agg(
            F.count_if(F.col("event_type") == "click").cast("long").alias("x"),
            F.count_if(F.col("event_type") == "view").cast("long").alias("y"),
        )
    )
    s = daily.agg(
        F.count_if(F.col("x") > F.col("y")).cast("long").alias("n_pos"),
        F.count_if(F.col("x") < F.col("y")).cast("long").alias("n_neg"),
        F.count_if(F.col("x") == F.col("y")).cast("long").alias("n_tie"),
    )
    m = (F.col("n_pos") + F.col("n_neg")).cast("double")
    z = (F.col("n_pos").cast("double") - 0.5 * m) / F.sqrt(0.25 * m)
    return s.select(
        "n_pos",
        "n_neg",
        "n_tie",
        q4(z).alias("z"),
        (F.abs(q4(z)) > 1.96).alias("significant"),
    )


@register(
    "stat_wilson_ci",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(hour(ts) >= 18) AS BIGINT) AS k
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, k,
           {sql_q4("CAST(k AS DOUBLE) / n")} AS p_hat,
           {sql_q4(
               "(CAST(k AS DOUBLE) / n + 1.9208 / n - 1.96 * sqrt("
               "CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n) / n"
               " + 0.9604 / (CAST(n AS DOUBLE) * n)))"
               " / (1.0 + 3.8416 / n)"
           )} AS ci_lo,
           {sql_q4(
               "(CAST(k AS DOUBLE) / n + 1.9208 / n + 1.96 * sqrt("
               "CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n) / n"
               " + 0.9604 / (CAST(n AS DOUBLE) * n)))"
               " / (1.0 + 3.8416 / n)"
           )} AS ci_hi
    FROM s
    """,
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for the evening share of
    each event type: the interval (p + z^2/2n +- z*sqrt(p(1-p)/n +
    z^2/4n^2)) / (1 + z^2/n) that, unlike the naive Wald interval,
    never escapes [0,1] and stays honest at small counts or extreme
    shares — the per-segment uncertainty band every dashboard
    proportion should carry (z = 1.96: z^2 = 3.8416, z^2/2 = 1.9208,
    z^2/4 = 0.9604 folded as literals).

    Exact integer counts per type, single-row arithmetic after — one
    hash aggregate at any scale."""
    e = table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.hour("ts") >= 18).cast("long").alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    half = 1.96 * F.sqrt(p * (F.lit(1.0) - p) / n + 0.9604 / (n * n))
    denom = F.lit(1.0) + 3.8416 / n
    center = p + 1.9208 / n
    return s.select(
        "event_type",
        "n",
        "k",
        q4(p).alias("p_hat"),
        q4((center - half) / denom).alias("ci_lo"),
        q4((center + half) / denom).alias("ci_hi"),
    )


# --------------------------- seasonal Mann-Kendall (r8 wave AI)


@register(
    "stat_seasonal_mann_kendall",
    oracle=f"""
    WITH grid AS (
        SELECT CAST(hour(ts) AS BIGINT) AS season,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS m
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT CAST(sum(CASE WHEN a.m < b.m THEN 1
                             WHEN a.m > b.m THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_total
        FROM grid a JOIN grid b
          ON a.season = b.season AND a.d < b.d
    ), pers AS (
        SELECT season, CAST(count(*) AS BIGINT) AS n FROM grid
        GROUP BY season
    ), ties AS (
        SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
        FROM (SELECT season, m, CAST(count(*) AS BIGINT) AS t
              FROM grid GROUP BY season, m)
    ), v AS (
        SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS nsum,
               CAST(count(*) AS BIGINT) AS n_seasons
        FROM pers
    )
    SELECT n_seasons, s_total,
           {sql_q4("CAST(nsum - tie_sum AS DOUBLE) / 18.0")} AS var_s,
           {sql_q4(
               "CASE WHEN s_total > 0 THEN (s_total - 1)"
               " / sqrt(CAST(nsum - tie_sum AS DOUBLE) / 18.0)"
               " WHEN s_total < 0 THEN (s_total + 1)"
               " / sqrt(CAST(nsum - tie_sum AS DOUBLE) / 18.0)"
               " ELSE 0.0 END"
           )} AS z
    FROM s, ties, v
    """,
)
def stat_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test with hour-of-day seasons: the
    MK sign statistic S computed WITHIN each of the 24 hourly series
    across days, then summed — so a diurnal cycle (which wrecks the
    plain stat_mann_kendall by comparing 3 am to noon) cancels out
    and only the cross-day monotone trend is tested. Tie-corrected
    variance sum n(n-1)(2n+5)/18 per season, continuity-corrected z.

    All pair signs come from the (season, day) calendar grid's
    within-season self-join (24 x C(30,2) pairs — bounded by the
    calendar, not the data); S, ties, and the variance fold as exact
    BIGINTs, only z divides.

    Scale shape at 100 TB: one fact pass to the <=24x|days| grid,
    one bounded pair join, 1-row output."""
    e = table(spark, sf_dir, "events")
    grid = e.select(
        F.hour("ts").cast("long").alias("season"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).groupBy("season", "d").agg(F.count(F.lit(1)).cast("long").alias("m")).localCheckpoint(eager=False)
    a = grid.select(
        F.col("season").alias("sa"), F.col("d").alias("da"), F.col("m").alias("ma")
    )
    b = grid.select(
        F.col("season").alias("sb"), F.col("d").alias("db"), F.col("m").alias("mb")
    )
    s = (
        F.broadcast(a)
        .join(b, (F.col("sa") == F.col("sb")) & (F.col("da") < F.col("db")))
        .agg(
            F.sum(
                F.when(F.col("ma") < F.col("mb"), 1)
                .when(F.col("ma") > F.col("mb"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_total")
        )
    )
    pers = grid.groupBy("season").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        grid.groupBy("season", "m")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_sum")
        )
    )
    v = pers.agg(
        F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5))
        .cast("long")
        .alias("nsum"),
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
    )
    out = s.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(v))
    var_s = (F.col("nsum") - F.col("tie_sum")).cast("double") / F.lit(18.0)
    z = (
        F.when(
            F.col("s_total") > 0,
            (F.col("s_total") - 1) / F.sqrt(var_s),
        )
        .when(
            F.col("s_total") < 0,
            (F.col("s_total") + 1) / F.sqrt(var_s),
        )
        .otherwise(0.0)
    )
    return out.select(
        "n_seasons",
        "s_total",
        q4(var_s).alias("var_s"),
        q4(z).alias("z"),
    )


# ----------------------- Poisson GLM trend, one Newton step (r8 wave AJ)


@register(
    "stat_poisson_trend_glm",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) AS x,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS y
        FROM events GROUP BY 1
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS t,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM daily
    )
    SELECT t AS n_days, sy AS n_events,
           {sql_q4(
               "ln(CAST(sy AS DOUBLE) / t)"
               " - (CAST(sx AS DOUBLE) / t)"
               " * (CAST(t AS DOUBLE) / sy)"
               " * (CAST(t AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(t AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
           )} AS beta0,
           {sql_q4(
               "(CAST(t AS DOUBLE) / sy)"
               " * (CAST(t AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(t AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
           )} AS beta1,
           {sql_q4(
               "exp((CAST(t AS DOUBLE) / sy)"
               " * (CAST(t AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
               " / (CAST(t AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
           )} AS rate_ratio_per_day,
           {sql_q4("CAST(sy AS DOUBLE) / t")} AS mean_daily
    FROM mom
    """,
)
def stat_poisson_trend_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson log-linear trend of daily purchase counts: ONE exact
    Newton/IRLS step for the GLM ln mu_t = b0 + b1·t from the
    canonical start (b0 = ln ybar, b1 = 0), where the step is
    closed-form — at the start the working weights are constant ybar,
    so Delta_b1 = (T/sum y)·(T·sum xy - sum x·sum y)/(T·sum x^2 -
    (sum x)^2) and b0 re-centers to keep the fitted total — giving
    the multiplicative daily growth rate exp(b1) with count-model
    (not least-squares) weighting; the GLM sibling of
    events_forecast_baseline's OLS trend and the same one-step
    discipline as ml_logreg_irls_step.

    All five regression moments fold as exact BIGINTs over the
    calendar-day grid; the step, the re-centered intercept, and
    exp(b1) are single-row arithmetic.

    Scale shape at 100 TB: one fact pass to |days| rows, one 1-row
    reduction."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            F.col("event_type"),
        )
        .groupBy("x")
        .agg(
            F.count_if(F.col("event_type") == "purchase")
            .cast("long")
            .alias("y")
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    t = F.col("t").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    b1 = (t / sy) * (t * sxy - sx * sy) / (t * sxx - sx * sx)
    b0 = F.log(sy / t) - (sx / F.col("t")) * b1
    return mom.select(
        F.col("t").alias("n_days"),
        F.col("sy").alias("n_events"),
        q4(b0).alias("beta0"),
        q4(b1).alias("beta1"),
        q4(F.exp(b1)).alias("rate_ratio_per_day"),
        q4(sy / t).alias("mean_daily"),
    )


# ------------------------------ Gini mean difference (r8 wave AK)


@register(
    "stat_gini_mean_difference",
    oracle=f"""
    WITH grid AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), pre AS (
        SELECT v, c,
               CAST(coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below,
               CAST(coalesce(sum(c * v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS sum_below
        FROM grid
    ), s AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * v) AS BIGINT) AS sv,
               CAST(sum(c * (below * v - sum_below)) AS BIGINT) AS pair_abs
        FROM pre
    )
    SELECT n,
           {sql_q4("CAST(sv AS DOUBLE) / n / 100.0")} AS mean_value,
           {sql_q4("2.0 * pair_abs / (CAST(n AS DOUBLE) * (n - 1)) / 100.0")}
               AS gmd,
           {sql_q4("CAST(pair_abs AS DOUBLE) / n / sv")} AS gini_coeff
    FROM s
    """,
)
def stat_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference of the event value: GMD = E|X_i - X_j|
    over all pairs — the dispersion measure that, unlike the std,
    is defined without squaring (robust to moderate tails) and whose
    normalized form GMD/(2·mean) IS the Gini coefficient of the
    VALUE distribution (events_gini measures user-total inequality;
    this measures transaction-size inequality).

    The O(n^2) pair sum collapses via the sorted identity
    sum_pairs|xi - xj| = sum_k c_k·(below_k·v_k - sum_below_k) on
    the cents grid: one value-domain-bounded prefix (price range is
    fixed, so the grid is bounded at any corpus size), every term an
    exact BIGINT; only the final three ratios divide.

    Scale shape at 100 TB: one shuffle to the value grid, one
    bounded prefix, 1-row output."""
    e = table(spark, sf_dir, "events")
    grid = e.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = grid.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long").alias("below"),
        F.coalesce(F.sum(F.col("c") * F.col("v")).over(wv), F.lit(0))
        .cast("long")
        .alias("sum_below"),
    )
    s = pre.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("v")).cast("long").alias("sv"),
        F.sum(
            F.col("c") * (F.col("below") * F.col("v") - F.col("sum_below"))
        )
        .cast("long")
        .alias("pair_abs"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        q4(F.col("sv").cast("double") / F.col("n") / 100.0).alias(
            "mean_value"
        ),
        q4(
            F.lit(2.0) * F.col("pair_abs") / (nd * (F.col("n") - 1)) / 100.0
        ).alias("gmd"),
        q4(F.col("pair_abs").cast("double") / F.col("n") / F.col("sv")).alias(
            "gini_coeff"
        ),
    )


# ------------------------------------- Lepage test (r8 wave AM)


@register(
    "stat_lepage",
    oracle=f"""
    WITH grid AS (
        SELECT CAST(l_quantity AS BIGINT) AS v,
               CAST(count_if(l_returnflag = 'A') AS BIGINT) AS ca,
               CAST(count_if(l_returnflag = 'R') AS BIGINT) AS cr
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY 1
    ), pri AS (
        SELECT v, ca, cr, ca + cr AS c,
               CAST(coalesce(sum(ca + cr) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS p
        FROM grid
    ), tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cr) AS BIGINT) AS nr,
               CAST(sum(c) AS BIGINT) AS n
        FROM pri
    ), scores AS (
        SELECT ca, cr, c,
               2 * p + c + 1 AS w2,
               (n + 1) - abs(2 * p + c + 1 - (n + 1)) AS a2,
               na, nr, n
        FROM pri, tot
    ), folds AS (
        SELECT CAST(sum(cr * w2) AS BIGINT) AS tw,
               CAST(sum(c * w2) AS BIGINT) AS sw,
               CAST(sum(c * w2 * w2) AS BIGINT) AS sw2,
               CAST(sum(cr * a2) AS BIGINT) AS ta,
               CAST(sum(c * a2) AS BIGINT) AS sa,
               CAST(sum(c * a2 * a2) AS BIGINT) AS sa2,
               CAST(max(na) AS BIGINT) AS na, CAST(max(nr) AS BIGINT) AS nr,
               CAST(max(n) AS BIGINT) AS n
        FROM scores
    )
    SELECT na, nr,
           {sql_q4(
               "(CAST(tw AS DOUBLE) - CAST(nr AS DOUBLE) * sw / n)"
               " / sqrt(CAST(na AS DOUBLE) * nr / (CAST(n AS DOUBLE)"
               " * (n - 1)) * (CAST(sw2 AS DOUBLE)"
               " - CAST(sw AS DOUBLE) * sw / n))"
           )} AS z_location,
           {sql_q4(
               "(CAST(ta AS DOUBLE) - CAST(nr AS DOUBLE) * sa / n)"
               " / sqrt(CAST(na AS DOUBLE) * nr / (CAST(n AS DOUBLE)"
               " * (n - 1)) * (CAST(sa2 AS DOUBLE)"
               " - CAST(sa AS DOUBLE) * sa / n))"
           )} AS z_scale,
           {sql_q4(
               "power((CAST(tw AS DOUBLE) - CAST(nr AS DOUBLE) * sw / n)"
               " / sqrt(CAST(na AS DOUBLE) * nr / (CAST(n AS DOUBLE)"
               " * (n - 1)) * (CAST(sw2 AS DOUBLE)"
               " - CAST(sw AS DOUBLE) * sw / n)), 2)"
               " + power((CAST(ta AS DOUBLE) - CAST(nr AS DOUBLE) * sa / n)"
               " / sqrt(CAST(na AS DOUBLE) * nr / (CAST(n AS DOUBLE)"
               " * (n - 1)) * (CAST(sa2 AS DOUBLE)"
               " - CAST(sa AS DOUBLE) * sa / n)), 2)"
           )} AS lepage_l
    FROM folds
    """,
)
def stat_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage combined location-scale test of returned-vs-accepted
    quantities: L = z_Wilcoxon^2 + z_AnsariBradley^2 ~ chi2(2) — one
    statistic that catches a shift OR a spread change (either alone
    can miss the other), unifying what stat_mann_whitney and
    stat_ansari_bradley test separately.

    Both components are LINEAR RANK STATISTICS with midrank scores,
    so the general tie-exact machinery applies once: from the <=50
    cell quantity grid, doubled midranks w2 = 2·prior + count + 1
    give the Wilcoxon score and a2 = (N+1) - |w2 - (N+1)| the folded
    Ansari-Bradley score; T, the score mean and the score variance
    all fold as exact BIGINTs (E = n_R·abar, Var = n_A n_R /(N(N-1))
    · sum c(s - sbar)^2), and the doubling cancels inside each z.

    Scale shape at 100 TB: one shuffle to the bounded grid, one
    value-domain prefix (census-allowlisted pattern), single-row
    algebra. Score cubes stay under 2^63 through ~10^6-row groups;
    beyond that, rescale scores (module discipline)."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    )
    grid = li.select(
        F.col("l_quantity").cast("long").alias("v"), "l_returnflag"
    ).groupBy("v").agg(
        F.count_if(F.col("l_returnflag") == "A").cast("long").alias("ca"),
        F.count_if(F.col("l_returnflag") == "R").cast("long").alias("cr"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pri = grid.select(
        "ca",
        "cr",
        (F.col("ca") + F.col("cr")).alias("c"),
        F.coalesce(F.sum(F.col("ca") + F.col("cr")).over(wv), F.lit(0))
        .cast("long")
        .alias("p"),
    )
    tot = pri.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cr").cast("long").alias("nr"),
        F.sum("c").cast("long").alias("n"),
    )
    scores = pri.crossJoin(F.broadcast(tot)).select(
        "ca",
        "cr",
        "c",
        "na",
        "nr",
        "n",
        (2 * F.col("p") + F.col("c") + 1).alias("w2"),
        (
            (F.col("n") + 1)
            - F.abs(2 * F.col("p") + F.col("c") + 1 - (F.col("n") + 1))
        ).alias("a2"),
    )
    folds = scores.agg(
        F.sum(F.col("cr") * F.col("w2")).cast("long").alias("tw"),
        F.sum(F.col("c") * F.col("w2")).cast("long").alias("sw"),
        F.sum(F.col("c") * F.col("w2") * F.col("w2")).cast("long").alias("sw2"),
        F.sum(F.col("cr") * F.col("a2")).cast("long").alias("ta"),
        F.sum(F.col("c") * F.col("a2")).cast("long").alias("sa"),
        F.sum(F.col("c") * F.col("a2") * F.col("a2")).cast("long").alias("sa2"),
        F.max("na").cast("long").alias("na"),
        F.max("nr").cast("long").alias("nr"),
        F.max("n").cast("long").alias("n"),
    )
    n = F.col("n").cast("double")
    scale = F.col("na").cast("double") * F.col("nr") / (n * (F.col("n") - 1))

    def _z(t: str, s: str, s2: str) -> Column:
        return (
            F.col(t).cast("double") - F.col("nr").cast("double") * F.col(s) / F.col("n")
        ) / F.sqrt(
            scale
            * (F.col(s2).cast("double") - F.col(s).cast("double") * F.col(s) / F.col("n"))
        )

    zw = _z("tw", "sw", "sw2")
    za = _z("ta", "sa", "sa2")
    return folds.select(
        "na",
        "nr",
        q4(zw).alias("z_location"),
        q4(za).alias("z_scale"),
        q4(zw * zw + za * za).alias("lepage_l"),
    )


# ------------------------------------------- round-9 wave A: ECDF + rank

# Kuiper one-sided deviations share the KS cents grid; the asymptotic
# stat uses Stephens' finite-n modifier on sqrt(ne), ne = n1*n2/(n1+n2).
_KUIPER_CRIT = "1.747"  # V* critical value at alpha = 0.05


@register(
    "stat_kuiper_test",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents,
               sum(c1) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
               sum(c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        FROM grid
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), d AS (
        SELECT CAST(max(cum1 * n2 - cum2 * n1) AS BIGINT) AS dplus_num,
               CAST(max(cum2 * n1 - cum1 * n2) AS BIGINT) AS dminus_num
        FROM cum CROSS JOIN totals
    ), v AS (
        SELECT n1, n2,
               CAST(greatest(dplus_num, 0) AS DOUBLE) / n1 / n2 AS d_plus,
               CAST(greatest(dminus_num, 0) AS DOUBLE) / n1 / n2 AS d_minus,
               sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) AS sqrt_ne
        FROM d CROSS JOIN totals
    )
    SELECT n1, n2, {sql_q4("d_plus")} AS d_plus,
           {sql_q4("d_minus")} AS d_minus,
           {sql_q4("d_plus + d_minus")} AS kuiper_v,
           {sql_q4("(d_plus + d_minus)"
                   " * (sqrt_ne + 0.155 + 0.24 / sqrt_ne)")} AS v_stat,
           (d_plus + d_minus) * (sqrt_ne + 0.155 + 0.24 / sqrt_ne)
               > {_KUIPER_CRIT} AS rejected
    FROM v
    """,
)
def stat_kuiper_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's two-sample test between the 'click' and 'purchase'
    value distributions: V = D+ + D- (the sum of the one-sided ECDF
    deviations) — the rotation-invariant cousin of KS that keeps its
    sensitivity at the distribution TAILS, where KS's single max |.|
    goes numb; V* uses Stephens' finite-n modifier and the alpha=0.05
    critical value 1.747.

    Exactness: on the shared cents grid, D+ = max(cum1*n2 - cum2*n1)
    / (n1*n2) — the max runs over exact BIGINT numerators, so both
    engines pick the same extremum with no float comparison; each
    one-sided max clamps at 0 (an everywhere-dominated ECDF has
    D+ = 0, the empty-max convention).

    Scale shape: identical to stat_ks_test — one aggregate over the
    shared ``_ks_ecdf`` frame (one hash aggregate to the bounded cents
    grid, ONE bucketed prefix pass); no unpartitioned window, no
    row-level sort."""
    d = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
        .cast("long")
        .alias("dplus_num"),
        F.max(F.col("cum2") * F.col("n1") - F.col("cum1") * F.col("n2"))
        .cast("long")
        .alias("dminus_num"),
    )
    dp = (
        F.greatest(F.col("dplus_num"), F.lit(0)).cast("double")
        / F.col("n1")
        / F.col("n2")
    )
    dm = (
        F.greatest(F.col("dminus_num"), F.lit(0)).cast("double")
        / F.col("n1")
        / F.col("n2")
    )
    sqrt_ne = F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    )
    vstat = (dp + dm) * (sqrt_ne + 0.155 + 0.24 / sqrt_ne)
    return d.select(
        "n1",
        "n2",
        q4(dp).alias("d_plus"),
        q4(dm).alias("d_minus"),
        q4(dp + dm).alias("kuiper_v"),
        q4(vstat).alias("v_stat"),
        (vstat > float(_KUIPER_CRIT)).alias("rejected"),
    )


# Cucconi's C is asymptotically Exp(1) under H0, so p ~ exp(-C) and
# the alpha = 0.05 rejection boundary is C > -ln(0.05).
_CUCCONI_CRIT = "2.9957"


@register(
    "stat_cucconi",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, c1, c2,
               sum(c1 + c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
        FROM grid
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 + c2) AS BIGINT) AS nn
        FROM grid
    ), folds AS (
        -- tie blocks take the mid-rank; 2*mid = 2*prev + cnt + 1 is an
        -- integer, so both squared-rank sums fold as exact HUGEINT/decimal
        SELECT CAST(sum(c2 * (2*(cumn - c1 - c2) + (c1 + c2) + 1)
                         * (2*(cumn - c1 - c2) + (c1 + c2) + 1)) AS HUGEINT)
                   AS s1_4,
               CAST(sum(c2 * (2*(nn + 1) - (2*(cumn - c1 - c2) + (c1 + c2) + 1))
                         * (2*(nn + 1) - (2*(cumn - c1 - c2) + (c1 + c2) + 1)))
                   AS HUGEINT) AS s2_4
        FROM cum CROSS JOIN totals
    ), uv AS (
        SELECT n1, n2, nn,
               (6.0 * (CAST(s1_4 AS DOUBLE) / 4.0)
                 - CAST(n2 AS DOUBLE) * (nn + 1) * (2*nn + 1))
               / sqrt(CAST(n1 AS DOUBLE) * n2 * (nn + 1)
                      * (2*nn + 1) * (8*nn + 11) / 5.0) AS u,
               (6.0 * (CAST(s2_4 AS DOUBLE) / 4.0)
                 - CAST(n2 AS DOUBLE) * (nn + 1) * (2*nn + 1))
               / sqrt(CAST(n1 AS DOUBLE) * n2 * (nn + 1)
                      * (2*nn + 1) * (8*nn + 11) / 5.0) AS v,
               2.0 * (CAST(nn AS DOUBLE)*nn - 4)
                 / ((2*nn + 1) * (8.0*nn + 11)) - 1.0 AS rho
        FROM folds CROSS JOIN totals
    )
    SELECT n1, n2, {sql_q4("u")} AS u, {sql_q4("v")} AS v,
           {sql_q4("rho")} AS rho,
           {sql_q4("(u*u + v*v - 2*rho*u*v) / (2*(1 - rho*rho))")} AS c_stat,
           (u*u + v*v - 2*rho*u*v) / (2*(1 - rho*rho)) > {_CUCCONI_CRIT}
               AS rejected
    FROM uv
    """,
)
def stat_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi's joint location-scale rank test between the 'click'
    and 'purchase' value distributions: U standardizes the sum of
    SQUARED ranks of group 2, V the sum of squared CONTRARY ranks
    (N+1-R), and C = (U² + V² - 2ρUV)/(2(1-ρ²)) rejects when either
    the center or the spread differs — one test where Lepage needs
    two, and older than both (Cucconi 1968, public literature). Under
    H0, C is asymptotically Exp(1), so the alpha=0.05 boundary is
    -ln(0.05) ≈ 2.9957. Ties take tie-block mid-ranks.

    Exactness: 2·midrank = 2·prev + cnt + 1 is an integer on the
    cents grid, so both squared-rank folds accumulate 4·S as exact
    wide integers (decimal(38,0) on Spark, HUGEINT on DuckDB — the
    fold is bounded by 4N³, inside 1e38 to N ~ 2.9e12 rows) and the
    closed form divides once per statistic.

    Scale shape: one aggregate over the shared ``_ks_ecdf`` frame
    (one hash aggregate to the bounded cents grid, ONE bucketed prefix
    pass; cumn = cum1 + cum2) — the same census-allowlisted ECDF
    machine as stat_ks_test."""
    dec = "decimal(38,0)"
    c = F.col("c1") + F.col("c2")
    two_m = (2 * (F.col("cum1") + F.col("cum2") - c) + c + 1).cast(dec)
    two_m_contra = (2 * (F.col("n1") + F.col("n2") + 1)).cast(dec) - two_m
    folds = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.col("c2").cast(dec) * two_m * two_m).alias("s1_4"),
        F.sum(F.col("c2").cast(dec) * two_m_contra * two_m_contra).alias(
            "s2_4"
        ),
    )
    nn = (F.col("n1") + F.col("n2")).cast("double")
    denom = F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        * (nn + 1)
        * (2 * nn + 1)
        * (8 * nn + 11)
        / 5.0
    )
    u = (
        6.0 * (F.col("s1_4").cast("double") / 4.0)
        - F.col("n2").cast("double") * (nn + 1) * (2 * nn + 1)
    ) / denom
    v = (
        6.0 * (F.col("s2_4").cast("double") / 4.0)
        - F.col("n2").cast("double") * (nn + 1) * (2 * nn + 1)
    ) / denom
    rho = 2.0 * (nn * nn - 4) / ((2 * nn + 1) * (8.0 * nn + 11)) - 1.0
    c_stat = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
    return folds.select(
        "n1",
        "n2",
        q4(u).alias("u"),
        q4(v).alias("v"),
        q4(rho).alias("rho"),
        q4(c_stat).alias("c_stat"),
        (c_stat > float(_CUCCONI_CRIT)).alias("rejected"),
    )


@register(
    "stat_dagostino_k2",
    oracle=f"""
    WITH m AS ({{_moments_sql}}),
    c AS (
        SELECT l_returnflag, CAST(n AS DOUBLE) AS n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS s2n,
               CAST(s3 AS DOUBLE) / n AS s3n,
               CAST(s4 AS DOUBLE) / n AS s4n
        FROM m
    ), central AS (
        SELECT l_returnflag, n,
               s2n - mu*mu AS m2,
               s3n - 3*mu*s2n + 2*mu*mu*mu AS m3,
               s4n - 4*mu*s3n + 6*mu*mu*s2n - 3*mu*mu*mu*mu AS m4
        FROM c
    ), zskew AS (
        SELECT l_returnflag, n, m2, m4,
               (m3 / pow(m2, 1.5))
                 * sqrt((n+1)*(n+3) / (6*(n-2))) AS y,
               -1 + sqrt(2 * (3*(n*n + 27*n - 70)*(n+1)*(n+3)
                   / ((n-2)*(n+5)*(n+7)*(n+9)) - 1)) AS w2
        FROM central
    ), z1 AS (
        SELECT l_returnflag, n, m2, m4,
               (1.0 / sqrt(ln(sqrt(w2))))
                 * ln(y / sqrt(2.0/(w2-1))
                      + sqrt(pow(y / sqrt(2.0/(w2-1)), 2) + 1)) AS z_skew
        FROM zskew
    ), zkurt AS (
        SELECT l_returnflag, n, z_skew,
               (m4/(m2*m2) - 3.0*(n-1)/(n+1))
                 / sqrt(24.0*n*(n-2)*(n-3) / ((n+1)*(n+1)*(n+3)*(n+5)))
                   AS x,
               6.0 + 8.0 / (6.0*(n*n - 5*n + 2) / ((n+7)*(n+9))
                            * sqrt(6.0*(n+3)*(n+5) / (n*(n-2)*(n-3))))
                 * (2.0 / (6.0*(n*n - 5*n + 2) / ((n+7)*(n+9))
                           * sqrt(6.0*(n+3)*(n+5) / (n*(n-2)*(n-3))))
                    + sqrt(1.0 + 4.0 / pow(6.0*(n*n - 5*n + 2)
                        / ((n+7)*(n+9))
                        * sqrt(6.0*(n+3)*(n+5) / (n*(n-2)*(n-3))), 2)))
                   AS a
        FROM z1
    ), z2 AS (
        SELECT l_returnflag, CAST(n AS BIGINT) AS n, z_skew,
               ((1.0 - 2.0/(9.0*a))
                 - cbrt((1.0 - 2.0/a) / (1.0 + x * sqrt(2.0/(a-4)))))
                 / sqrt(2.0/(9.0*a)) AS z_kurt
        FROM zkurt
    )
    SELECT l_returnflag, n, {{q4_zs}} AS z_skew, {{q4_zk}} AS z_kurt,
           {{q4_k2}} AS k2_stat,
           z_skew*z_skew + z_kurt*z_kurt > {{crit}} AS rejected
    FROM z2
    """.format(
        _moments_sql=_moments_sql(),
        q4_zs=sql_q4("z_skew"),
        q4_zk=sql_q4("z_kurt"),
        q4_k2=sql_q4("z_skew*z_skew + z_kurt*z_kurt"),
        crit=CHI2_CRIT_DF2,
    ),
)
def stat_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K² omnibus normality test per return flag:
    the skewness z (D'Agostino 1970 Johnson-SU transform) and the
    kurtosis z (Anscombe-Glynn 1983 cube-root transform) are each
    approximately standard normal under H0, and K² = z_s² + z_k² ~
    chi-square(2) — the finite-n-calibrated refinement of
    stat_jarque_bera, whose n/6 form over-rejects below n ~ 2000.

    Exactness: the same exact BIGINT raw power sums as agg_moments /
    stat_jarque_bera (l_quantity is integer-valued, x^4 <= 50^4, so
    the folds are order-free); the two z transforms are closed-form
    double arithmetic applied ONCE per group in an identical operation
    order on both engines (cbrt handles the negative branch
    identically in Spark and DuckDB).

    Scale shape: ONE hash-aggregate pass with map-side combine,
    |flags| output rows, no second pass."""
    li = table(spark, sf_dir, "lineitem")
    qn = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(qn).cast("long").alias("s1"),
        F.sum(qn * qn).cast("long").alias("s2"),
        F.sum(qn * qn * qn).cast("long").alias("s3"),
        F.sum(qn * qn * qn * qn).cast("long").alias("s4"),
    )
    n = F.col("n_raw").cast("double")
    mu = F.col("s1").cast("double") / n
    s2n = F.col("s2").cast("double") / n
    s3n = F.col("s3").cast("double") / n
    s4n = F.col("s4").cast("double") / n
    m2 = s2n - mu * mu
    m3 = s3n - 3 * mu * s2n + 2 * mu * mu * mu
    m4 = s4n - 4 * mu * s3n + 6 * mu * mu * s2n - 3 * mu * mu * mu * mu
    # --- skewness z (Johnson SU)
    y = (m3 / F.pow(m2, 1.5)) * F.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    w2 = -1 + F.sqrt(
        2
        * (
            3 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
            / ((n - 2) * (n + 5) * (n + 7) * (n + 9))
            - 1
        )
    )
    y_over_a = y / F.sqrt(2.0 / (w2 - 1))
    z_skew = (1.0 / F.sqrt(F.log(F.sqrt(w2)))) * F.log(
        y_over_a + F.sqrt(y_over_a * y_over_a + 1)
    )
    # --- kurtosis z (Anscombe-Glynn)
    x = (m4 / (m2 * m2) - 3.0 * (n - 1) / (n + 1)) / F.sqrt(
        24.0 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    )
    sb1 = (
        6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
    ) * F.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    a = 6.0 + 8.0 / sb1 * (2.0 / sb1 + F.sqrt(1.0 + 4.0 / F.pow(sb1, 2)))
    z_kurt = (
        (1.0 - 2.0 / (9.0 * a))
        - F.cbrt((1.0 - 2.0 / a) / (1.0 + x * F.sqrt(2.0 / (a - 4))))
    ) / F.sqrt(2.0 / (9.0 * a))
    k2 = z_skew * z_skew + z_kurt * z_kurt
    return m.select(
        "l_returnflag",
        F.col("n_raw").cast("long").alias("n"),
        q4(z_skew).alias("z_skew"),
        q4(z_kurt).alias("z_kurt"),
        q4(k2).alias("k2_stat"),
        (k2 > float(CHI2_CRIT_DF2)).alias("rejected"),
    )


# Geary's C and Getis-Ord G share Moran's queen-adjacency cell grid.
_GO_OFFSETS_SQL = (
    "(VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1))"
)


def _go_offsets_col() -> Column:
    offs = [
        (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    ]
    return F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offs
        ])
    )


@register(
    "stat_geary_c",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor({_mi_sql_coord("cx", "c_custkey")} / {_MI_CELL})
                    AS BIGINT) AS cx,
               CAST(floor({_mi_sql_coord("cy", "c_custkey")} / {_MI_CELL})
                    AS BIGINT) AS cy,
               CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal
        FROM customer
    ), cells AS (
        SELECT cx, cy, CAST(sum(bal) AS BIGINT) AS v
        FROM pts GROUP BY cx, cy
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean_v
        FROM cells
    ), z AS (
        SELECT cx, cy,
               CAST(floor((v - mean_v) / 100.0 + 0.5) AS BIGINT) AS zq
        FROM cells CROSS JOIN tot
    ), pairs AS (
        SELECT a.zq AS za, b.zq AS zb
        FROM z a
        CROSS JOIN {_GO_OFFSETS_SQL} o(dx, dy)
        JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS w_pairs,
               CAST(sum((za - zb) * (za - zb)) AS BIGINT) AS num
        FROM pairs
    ), den AS (
        SELECT CAST(sum(zq * zq) AS BIGINT) AS den FROM z
    )
    SELECT n_cells, w_pairs,
           {sql_q4("CAST(n_cells - 1 AS DOUBLE) * num"
                   " / (2.0 * w_pairs * den)")} AS geary_c,
           CAST(n_cells - 1 AS DOUBLE) * num / (2.0 * w_pairs * den) < 1.0
               AS positive_autocorr
    FROM agg CROSS JOIN den CROSS JOIN tot
    """,
)
def stat_geary_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geary's C spatial contiguity ratio of account-balance mass over
    the md5-derived customer grid (queen 8-neighbor adjacency, binary
    weights): C = (n-1)·Σ w_ij (x_i-x_j)² / (2W·Σ z_i²) — the LOCAL
    pairwise-difference companion of stat_moran_i (which correlates
    against the global mean): C < 1 means neighbors are more alike
    than chance, C > 1 more different; C is sensitive to local
    structure that a few extreme cells can hide from Moran's I.

    Exactness: the pairwise term runs on the SAME whole-dollar
    quantized deviations zq as Moran's I, so (z_i - z_j)² and both
    fold sums are exact BIGINTs on both engines; the only doubles are
    the final ratio.

    Scale shape: points hash-aggregate to grid cells FIRST; neighbor
    structure is an 8-offset equi-join on cell keys (never a distance
    cross join); O(cells) rows everywhere."""
    c = table(spark, sf_dir, "customer")
    cell = float(_MI_CELL)
    pts = c.select(
        F.floor(_mi_coord("cx", F.col("c_custkey")) / cell)
        .cast("long")
        .alias("cx"),
        F.floor(_mi_coord("cy", F.col("c_custkey")) / cell)
        .cast("long")
        .alias("cy"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.sum("bal").cast("long").alias("v")).localCheckpoint(eager=False)
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_v"),
    )
    z = cells.crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        F.floor((F.col("v") - F.col("mean_v")) / F.lit(100.0) + 0.5)
        .cast("long")
        .alias("zq"),
    ).localCheckpoint(eager=False)
    a9 = z.select(
        F.col("cx").alias("acx"),
        F.col("cy").alias("acy"),
        F.col("zq").alias("za"),
        _go_offsets_col().alias("o"),
    )
    b = z.select(
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
        F.col("zq").alias("zb"),
    )
    pairs = a9.join(
        b,
        (F.col("bcx") == F.col("acx") + F.col("o.dx"))
        & (F.col("bcy") == F.col("acy") + F.col("o.dy")),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.sum((F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb")))
        .cast("long")
        .alias("num"),
    )
    den = z.agg(F.sum(F.col("zq") * F.col("zq")).cast("long").alias("den"))
    geary = (
        (F.col("n_cells") - 1).cast("double")
        * F.col("num")
        / (2.0 * F.col("w_pairs") * F.col("den"))
    )
    return (
        agg.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_cells",
            "w_pairs",
            q4(geary).alias("geary_c"),
            (geary < 1.0).alias("positive_autocorr"),
        )
    )


@register(
    "stat_getis_ord_g",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor({_mi_sql_coord("cx", "c_custkey")} / {_MI_CELL})
                    AS BIGINT) AS cx,
               CAST(floor({_mi_sql_coord("cy", "c_custkey")} / {_MI_CELL})
                    AS BIGINT) AS cy
        FROM customer
    ), cells AS (
        SELECT cx, cy, CAST(count(*) AS BIGINT) AS cnt
        FROM pts GROUP BY cx, cy
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(cnt) AS BIGINT) AS s1,
               CAST(sum(cnt * cnt) AS BIGINT) AS s2
        FROM cells
    ), pairs AS (
        SELECT a.cnt AS ca, b.cnt AS cb
        FROM cells a
        CROSS JOIN {_GO_OFFSETS_SQL} o(dx, dy)
        JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS w_pairs,
               CAST(sum(ca * cb) AS BIGINT) AS num
        FROM pairs
    )
    SELECT n_cells, w_pairs,
           {sql_q4("CAST(num AS DOUBLE) / (CAST(s1 AS DOUBLE)*s1 - s2)")}
               AS g_stat,
           {sql_q4("CAST(w_pairs AS DOUBLE)"
                   " / (CAST(n_cells AS DOUBLE) * (n_cells - 1))")}
               AS g_expected,
           CAST(num AS DOUBLE) / (CAST(s1 AS DOUBLE)*s1 - s2)
             > CAST(w_pairs AS DOUBLE)
               / (CAST(n_cells AS DOUBLE) * (n_cells - 1)) AS hot_clustering
    FROM agg CROSS JOIN tot
    """,
)
def stat_getis_ord_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Getis-Ord G of customer DENSITY over the md5-derived
    grid (queen adjacency, binary weights): G = Σ w_ij x_i x_j /
    Σ_{i≠j} x_i x_j with x = per-cell customer count — the hot-spot
    statistic that distinguishes clustering of HIGH values from mere
    autocorrelation (Moran/Geary treat high-high and low-low alike);
    G above its expectation W/(n(n-1)) means the mass concentrates
    in adjacent hot cells. Counts are naturally positive, the
    precondition Getis-Ord requires.

    Exactness: numerator and the Σ_{i≠j} x_i x_j = (Σx)² - Σx²
    denominator identity fold as exact BIGINTs.

    Scale shape: one hash aggregate to cells, one 8-offset equi-join,
    broadcast totals; never a distance cross join."""
    c = table(spark, sf_dir, "customer")
    cell = float(_MI_CELL)
    pts = c.select(
        F.floor(_mi_coord("cx", F.col("c_custkey")) / cell)
        .cast("long")
        .alias("cx"),
        F.floor(_mi_coord("cy", F.col("c_custkey")) / cell)
        .cast("long")
        .alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("cnt").cast("long").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("s2"),
    )
    a9 = cells.select(
        F.col("cx").alias("acx"),
        F.col("cy").alias("acy"),
        F.col("cnt").alias("ca"),
        _go_offsets_col().alias("o"),
    )
    b = cells.select(
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
        F.col("cnt").alias("cb"),
    )
    pairs = a9.join(
        b,
        (F.col("bcx") == F.col("acx") + F.col("o.dx"))
        & (F.col("bcy") == F.col("acy") + F.col("o.dy")),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("num"),
    )
    g = F.col("num").cast("double") / (
        F.col("s1").cast("double") * F.col("s1") - F.col("s2")
    )
    g_exp = F.col("w_pairs").cast("double") / (
        F.col("n_cells").cast("double") * (F.col("n_cells") - 1)
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n_cells",
        "w_pairs",
        q4(g).alias("g_stat"),
        q4(g_exp).alias("g_expected"),
        (g > g_exp).alias("hot_clustering"),
    )


# ---------------------------------------- round-9 wave B: econometrics

_CCF_MAX_LAG = 7


@register(
    "stat_ccf",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS x,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT x, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM ranked
    ), lags AS (
        SELECT l FROM range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG} + 1) r(l)
    ), cross_terms AS (
        -- r_k pairs x_t with y_(t+k); negative k pairs x_(t-k) with y_t
        SELECT l.l AS lag,
               CAST(count(*) AS BIGINT) AS n_ov,
               CAST(sum(a.x * b.y) AS BIGINT) AS sxy,
               CAST(sum(a.x) AS BIGINT) AS sx_ov,
               CAST(sum(b.y) AS BIGINT) AS sy_ov
        FROM lags l
        JOIN ranked a ON TRUE
        JOIN ranked b ON b.t = a.t + l.l
        GROUP BY l.l
    )
    SELECT lag, n_ov,
           {sql_q4("(CAST(sxy AS DOUBLE)"
                   "  - CAST(sx_ov AS DOUBLE) * sy / n"
                   "  - CAST(sy_ov AS DOUBLE) * sx / n"
                   "  + CAST(n_ov AS DOUBLE) * sx * sy / n / n)"
                   " / n / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n) / n"
                   "          * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy/n) / n)")}
               AS ccf
    FROM cross_terms CROSS JOIN m
    """,
)
def stat_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample cross-correlation function between the daily 'click' and
    'purchase' count series at lags -7..+7: r_k = (1/n)·Σ_t (x_t-x̄)
    (y_{t+k}-ȳ) / (s_x·s_y) with full-series means and standard
    deviations (the standard CCF normalization — the quantity behind
    'does click volume LEAD purchase volume, and by how many days').
    Positive-lag peaks mean x leads y.

    Exactness: all cross-products, overlap sums and full-series
    moments are exact BIGINT folds over the calendar-bounded day
    grid; the centered numerator expands by the bilinearity identity
    Σ(x-x̄)(y'-ȳ) = Σxy' - x̄Σy' - ȳΣx + n_ov·x̄ȳ so no residual
    pass is needed and both engines evaluate one fixed double
    expression per lag.

    Scale shape: one hash aggregate to days; one unpartitioned window
    over that calendar-bounded grid carries the full-series moments
    and y shifted by every lag (``lead(y, k)``); exploding the 15
    shifted values gives |days|×15 rows, grouped by lag — no join."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_if(F.col("event_type") == KS_G1).cast("long").alias("x"),
        F.count_if(F.col("event_type") == KS_G2).cast("long").alias("y"),
    )
    # calendar-bounded day grid (census-allowlisted)
    w = Window.orderBy("day")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lags = range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)
    ranked = daily.select(
        "x",
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("x").over(w_all).cast("long").alias("sx"),
        F.sum("y").over(w_all).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w_all).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w_all).cast("long").alias("syy"),
        # y_(t+k) for k = -7..7: the partner of x_t at lag k
        F.array(
            *[F.col("y") if k == 0 else F.lead("y", k).over(w) for k in lags]
        ).alias("ys"),
    )
    moments = ("n", "sx", "sy", "sxx", "syy")
    ct = (
        ranked.select("x", *moments, F.posexplode("ys").alias("pos", "yb"))
        .where(F.col("yb").isNotNull())
        .groupBy((F.col("pos") - _CCF_MAX_LAG).cast("long").alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ov"),
            F.sum(F.col("x") * F.col("yb")).cast("long").alias("sxy"),
            F.sum("x").cast("long").alias("sx_ov"),
            F.sum("yb").cast("long").alias("sy_ov"),
            *[F.max(c).alias(c) for c in moments],
        )
    )
    n = F.col("n").cast("double")
    num = (
        F.col("sxy").cast("double")
        - F.col("sx_ov").cast("double") * F.col("sy") / n
        - F.col("sy_ov").cast("double") * F.col("sx") / n
        + F.col("n_ov").cast("double") * F.col("sx") * F.col("sy") / n / n
    )
    den = F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n)
        / n
        * (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n)
        / n
    )
    return ct.select("lag", "n_ov", q4(num / n / den).alias("ccf"))


@register(
    "stat_lin_ccc",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = '{KS_G1}'
                   THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = '{KS_G2}'
                   THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT)*y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT)*y) AS HUGEINT) AS sxy
        FROM daily
    ), c AS (
        SELECT n,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy/n) / n AS cxy,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n) / n AS cxx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy/n) / n AS cyy,
               (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)) / n AS dmean
        FROM m
    )
    SELECT n AS n_days,
           {sql_q4("cxy / sqrt(cxx * cyy)")} AS pearson_r,
           {sql_q4("2.0 * cxy / (cxx + cyy + dmean * dmean)")} AS lin_ccc,
           {sql_q4("(2.0 * cxy / (cxx + cyy + dmean * dmean))"
                   " / (cxy / sqrt(cxx * cyy))")} AS accuracy_cb
    FROM c
    """,
)
def stat_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient between the daily
    'click' and 'purchase' revenue series: CCC = 2·s_xy / (s_x² +
    s_y² + (x̄-ȳ)²) — agreement with the 45° line, not just linear
    association (Pearson r rewards any line; CCC also charges for
    scale and location bias). The ratio CCC/r is Lin's accuracy
    (bias-correction) factor C_b ∈ (0,1].

    Exactness: per-day cent sums are exact BIGINTs; the second-order
    folds accumulate in decimal(38,0) (HUGEINT on DuckDB) since a
    day's cents can reach 1e11 at 100 TB and its square 1e22; the
    closed form runs once.

    Scale shape: ONE hash aggregate to the bounded day grid, one
    1-row moment frame; no windows, no joins."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == KS_G1, cents(F.col("value"))).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == KS_G2, cents(F.col("value"))).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("y"),
    )
    xd = F.col("x").cast(dec)
    yd = F.col("y").cast(dec)
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cxy = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n) / n
    cxx = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n) / n
    cyy = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n) / n
    dmean = (F.col("sx").cast("double") - F.col("sy").cast("double")) / n
    r = cxy / F.sqrt(cxx * cyy)
    ccc = 2.0 * cxy / (cxx + cyy + dmean * dmean)
    return m.select(
        F.col("n").alias("n_days"),
        q4(r).alias("pearson_r"),
        q4(ccc).alias("lin_ccc"),
        q4(ccc / r).alias("accuracy_cb"),
    )


# Bartlett lag floor(4·(T/100)^(2/9)) stays <= 16 below T = 67,500
# days (~185 years of daily grid); the TPC-H order calendar (~2400
# days) gives 8.
_NW_MAX_LAG = 16


@register(
    "stat_newey_west",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(t*t) AS BIGINT) AS stt,
               CAST(sum(t*y) AS BIGINT) AS sty
        FROM ranked
    ), fit AS (
        SELECT nd, st, stt,
               CAST(floor(4 * pow(CAST(nd AS DOUBLE) / 100, 2.0/9.0))
                   AS BIGINT) AS lw,
               (nd*CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy)
                 / (nd*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st) AS b,
               (CAST(sy AS DOUBLE)
                - (nd*CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy)
                  / (nd*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st)
                  * st) / nd AS a
        FROM m
    ), resid AS (
        SELECT r.t,
               f.nd * r.t - f.st AS xc,
               CAST(floor(r.y - f.a - f.b * r.t + 0.5) AS BIGINT) AS eq,
               f.nd, f.st, f.stt, f.lw, f.b
        FROM ranked r, fit f
    ), xe AS (
        SELECT t, CAST(xc * eq AS HUGEINT) AS u,
               CAST(eq AS HUGEINT) AS eqh, nd, st, stt, lw, b
        FROM resid
    ), meat AS (
        -- (L+1)-scaled Bartlett fold: (L+1)*S0 + 2*sum_l (L+1-l)*S_l
        SELECT CAST(sum(CASE WHEN a.t = b.t THEN (a.lw + 1) * a.u * b.u
                             ELSE 2 * (a.lw + 1 - (a.t - b.t)) * a.u * b.u
                        END) AS HUGEINT) AS s_fold
        FROM xe a JOIN xe b
          ON a.t - b.t >= 0 AND a.t - b.t <= a.lw
    ), ssr AS (
        SELECT CAST(sum(eqh * eqh) AS HUGEINT) AS see FROM xe
    ), outp AS (
        SELECT nd, lw, b,
               (stt - CAST(st AS DOUBLE)*st/nd) AS sxx_c,
               CAST(s_fold AS DOUBLE) / (lw + 1)
                 / (CAST(nd AS DOUBLE) * nd) AS s_meat,
               CAST(see AS DOUBLE) / (nd - 2) AS s2
        FROM fit CROSS JOIN meat CROSS JOIN ssr
    )
    SELECT nd AS n_days, lw AS nw_lag,
           {sql_q4("b / 100.0")} AS slope_dollars,
           {sql_q4("sqrt(s2 / sxx_c) / 100.0")} AS se_ols,
           {sql_q4("sqrt(s_meat / (sxx_c * sxx_c)) / 100.0")} AS se_hac,
           {sql_q4("b / sqrt(s_meat / (sxx_c * sxx_c))")} AS t_hac
    FROM outp
    """,
)
def stat_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of daily order revenue with Newey-West HAC standard
    errors (Bartlett kernel, the standard data-driven lag L =
    floor(4·(T/100)^(2/9))): autocorrelated residuals make the naive
    OLS se overstate the trend's significance; the HAC 'meat'
    Σ_l w_l Σ_t u_t u_{t-l} with u_t = (t-t̄)·e_t repairs it without
    modeling the error process. Reports both se's and the robust t.

    Exactness: the centered regressor is carried as the exact integer
    nd·t - Σt and residuals are floored to exact cents, so every
    u_t·u_{t-l} product is integer; the Bartlett weights w_l =
    1 - l/(L+1) fold exactly by scaling the whole sum by (L+1)
    ((L+1-l) is integer), accumulated in decimal(38,0)/HUGEINT —
    no float sum over lag terms whose order could differ between
    engines.

    Scale shape: the fact table collapses to the calendar-bounded
    day grid in one hash aggregate; one unpartitioned window over that
    grid gives the day rank and y at lags 1.._NW_MAX_LAG, a whole-grid
    window the regression moments, and the residual products u_t,
    u_(t-l) are exploded per lag (|days|·(L+1) rows) into ONE fold —
    no self-join."""
    o = table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("y")
    )
    # calendar-bounded day grid (census-allowlisted)
    w = Window.orderBy("day")
    ranked = daily.select(
        "y",
        F.row_number().over(w).cast("long").alias("t"),
        *[F.lag("y", l).over(w).alias(f"y{l}") for l in range(1, _NW_MAX_LAG + 1)],
    )
    w_all = Window.partitionBy()
    tc = F.col("t")
    m = ranked.select(
        "*",
        F.count(F.lit(1)).over(w_all).cast("long").alias("nd"),
        F.sum("t").over(w_all).cast("long").alias("st"),
        F.sum("y").over(w_all).cast("long").alias("sy"),
        F.sum(tc * tc).over(w_all).cast("long").alias("stt"),
        F.sum(tc * F.col("y")).over(w_all).cast("long").alias("sty"),
    )
    ndd = F.col("nd").cast("double")
    b = (ndd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        ndd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    fit = m.select(
        "*",
        F.floor(4 * F.pow(ndd / 100, F.lit(2.0) / 9.0)).cast("long").alias("lw"),
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / ndd).alias("a"),
    )

    def eq(l: int) -> Column:  # residual of day t - l, floored to cents
        y, t = F.col(f"y{l}" if l else "y"), tc - l
        return F.floor(y - F.col("a") - F.col("b") * t + 0.5).cast("long")

    def u(l: int) -> Column:  # centered regressor × residual of day t - l
        return ((F.col("nd") * (tc - l) - F.col("st")) * eq(l)).cast(dec)

    xe = fit.select(
        "nd",
        "st",
        "stt",
        "lw",
        "b",
        eq(0).cast(dec).alias("eqh"),
        u(0).alias("u"),
        F.posexplode(F.array(*[u(l) for l in range(_NW_MAX_LAG + 1)])).alias(
            "l", "ul"
        ),
    ).where(F.col("ul").isNotNull() & (F.col("l") <= F.col("lw")))
    folds = xe.agg(
        *[F.max(c).alias(c) for c in ("nd", "st", "stt", "lw", "b")],
        F.sum(
            F.when(
                F.col("l") == 0,
                (F.col("lw") + 1).cast(dec) * F.col("u") * F.col("ul"),
            ).otherwise(
                (2 * (F.col("lw") + 1 - F.col("l"))).cast(dec)
                * F.col("u")
                * F.col("ul")
            )
        ).alias("s_fold"),
        F.sum(F.when(F.col("l") == 0, F.col("eqh") * F.col("eqh"))).alias("see"),
    )
    sxx_c = F.col("stt") - F.col("st").cast("double") * F.col("st") / F.col("nd")
    s_meat = (
        F.col("s_fold").cast("double")
        / (F.col("lw") + 1)
        / (F.col("nd").cast("double") * F.col("nd"))
    )
    s2 = F.col("see").cast("double") / (F.col("nd") - 2)
    return folds.select(
        F.col("nd").alias("n_days"),
        # the lag columns stop at _NW_MAX_LAG: a longer Bartlett lag
        # must fail loudly, never fold a truncated kernel
        F.when(F.col("lw") <= _NW_MAX_LAG, F.col("lw"))
        .otherwise(F.raise_error(F.lit(f"Newey-West lag > {_NW_MAX_LAG}")))
        .alias("nw_lag"),
        q4(F.col("b") / 100.0).alias("slope_dollars"),
        q4(F.sqrt(s2 / sxx_c) / 100.0).alias("se_ols"),
        q4(F.sqrt(s_meat / (sxx_c * sxx_c)) / 100.0).alias("se_hac"),
        q4(F.col("b") / F.sqrt(s_meat / (sxx_c * sxx_c))).alias("t_hac"),
    )


@register(
    "stat_white_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(t*t) AS BIGINT) AS stt,
               CAST(sum(t*y) AS BIGINT) AS sty
        FROM ranked
    ), fit AS (
        SELECT nd,
               (nd*CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy)
                 / (nd*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st) AS b,
               (CAST(sy AS DOUBLE)
                - (nd*CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy)
                  / (nd*CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st)
                  * st) / nd AS a
        FROM m
    ), resid AS (
        SELECT r.t,
               CAST(floor((r.y - f.a - f.b*r.t) * {DW_Q} + 0.5) AS HUGEINT)
                   AS eq,
               f.nd
        FROM ranked r, fit f
    ), aux AS (
        SELECT max(nd) AS nd,
               CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS m01,
               CAST(sum(CAST(t AS HUGEINT)*t) AS HUGEINT) AS m02,
               CAST(sum(CAST(t AS HUGEINT)*t*t) AS HUGEINT) AS m03,
               CAST(sum(CAST(t AS HUGEINT)*t*t*t) AS HUGEINT) AS m04,
               CAST(sum(eq*eq) AS HUGEINT) AS g0,
               CAST(sum(CAST(t AS HUGEINT)*eq*eq) AS HUGEINT) AS g1,
               CAST(sum(CAST(t AS HUGEINT)*t*eq*eq) AS HUGEINT) AS g2,
               CAST(sum(eq*eq*eq*eq) AS HUGEINT) AS q4s
        FROM resid
    ), d AS (
        SELECT CAST(nd AS DOUBLE) AS t0,
               CAST(m01 AS DOUBLE) AS m01, CAST(m02 AS DOUBLE) AS m02,
               CAST(m03 AS DOUBLE) AS m03, CAST(m04 AS DOUBLE) AS m04,
               CAST(g0 AS DOUBLE) AS g0, CAST(g1 AS DOUBLE) AS g1,
               CAST(g2 AS DOUBLE) AS g2, CAST(q4s AS DOUBLE) AS q4s,
               nd
        FROM aux
    ), cr AS (
        SELECT nd, t0, g0, g1, g2, q4s,
               t0*(m02*m04 - m03*m03) - m01*(m01*m04 - m03*m02)
                 + m02*(m01*m03 - m02*m02) AS det,
               g0*(m02*m04 - m03*m03) - m01*(g1*m04 - m03*g2)
                 + m02*(g1*m03 - m02*g2) AS det0,
               t0*(g1*m04 - m03*g2) - g0*(m01*m04 - m03*m02)
                 + m02*(m01*g2 - g1*m02) AS det1,
               t0*(m02*g2 - g1*m03) - m01*(m01*g2 - g1*m02)
                 + g0*(m01*m03 - m02*m02) AS det2
        FROM d
    ), r2 AS (
        SELECT nd,
               ((det0/det)*g0 + (det1/det)*g1 + (det2/det)*g2
                 - t0*(g0/t0)*(g0/t0))
               / (q4s - t0*(g0/t0)*(g0/t0)) AS r_sq
        FROM cr
    )
    SELECT nd AS n_days, {sql_q4("r_sq")} AS aux_r2,
           {sql_q4("nd * r_sq")} AS white_lm,
           nd * r_sq > {CHI2_CRIT_DF2} AS heteroskedastic
    FROM r2
    """,
)
def stat_white_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """White's heteroskedasticity test on the daily order-count trend:
    regress the squared OLS residuals on the regressor and its square
    (e² ~ c0 + c1·t + c2·t²) and reject homoskedasticity when
    LM = T·R² exceeds chi-square(2) — the specification-free check
    that the trend's error variance is constant, which the OLS se of
    stat_durbin_watson's fit silently assumes.

    Exactness: residuals quantize to the DW_Q grid so e² and e⁴ fold
    as exact wide integers (decimal(38,0)/HUGEINT), the aux normal
    equations' moment matrix is exact t-power sums, and the 3×3
    solve is Cramer's rule written in ONE fixed parenthesization on
    both engines; R² comes from the SSReg = c·g - T·ȳ² identity, so
    there is no second residual pass.

    Scale shape: one hash aggregate to the calendar-bounded day grid;
    one unpartitioned window over it ranks the days, a whole-grid
    window carries the OLS moments to every row, and one grid-sized
    fold builds the auxiliary normal equations."""
    o = table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    # calendar-bounded day grid (census-allowlisted)
    ranked = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).cast("long").alias("t")
    )
    w_all = Window.partitionBy()
    m = ranked.select(
        "y",
        "t",
        F.count(F.lit(1)).over(w_all).cast("long").alias("nd"),
        F.sum("t").over(w_all).cast("long").alias("st"),
        F.sum("y").over(w_all).cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).over(w_all).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).over(w_all).cast("long").alias("sty"),
    )
    ndd = F.col("nd").cast("double")
    b = (ndd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        ndd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    fit = m.select(
        "y",
        "t",
        "nd",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / ndd).alias("a"),
    )
    resid = fit.select(
        "t",
        F.floor((F.col("y") - F.col("a") - F.col("b") * F.col("t")) * DW_Q + 0.5)
        .cast(dec)
        .alias("eq"),
        "nd",
    )
    td = F.col("t").cast(dec)
    aux = resid.agg(
        F.max("nd").alias("nd"),
        F.sum(td).alias("m01"),
        F.sum(td * F.col("t")).alias("m02"),
        F.sum(td * F.col("t") * F.col("t")).alias("m03"),
        F.sum(td * F.col("t") * F.col("t") * F.col("t")).alias("m04"),
        F.sum(F.col("eq") * F.col("eq")).alias("g0"),
        F.sum(td * F.col("eq") * F.col("eq")).alias("g1"),
        F.sum(td * F.col("t") * F.col("eq") * F.col("eq")).alias("g2"),
        F.sum(F.col("eq") * F.col("eq") * F.col("eq") * F.col("eq")).alias(
            "q4s"
        ),
    )
    t0 = F.col("nd").cast("double")
    m01 = F.col("m01").cast("double")
    m02 = F.col("m02").cast("double")
    m03 = F.col("m03").cast("double")
    m04 = F.col("m04").cast("double")
    g0 = F.col("g0").cast("double")
    g1 = F.col("g1").cast("double")
    g2 = F.col("g2").cast("double")
    q4s = F.col("q4s").cast("double")
    det = (
        t0 * (m02 * m04 - m03 * m03)
        - m01 * (m01 * m04 - m03 * m02)
        + m02 * (m01 * m03 - m02 * m02)
    )
    det0 = (
        g0 * (m02 * m04 - m03 * m03)
        - m01 * (g1 * m04 - m03 * g2)
        + m02 * (g1 * m03 - m02 * g2)
    )
    det1 = (
        t0 * (g1 * m04 - m03 * g2)
        - g0 * (m01 * m04 - m03 * m02)
        + m02 * (m01 * g2 - g1 * m02)
    )
    det2 = (
        t0 * (m02 * g2 - g1 * m03)
        - m01 * (m01 * g2 - g1 * m02)
        + g0 * (m01 * m03 - m02 * m02)
    )
    ybar2 = t0 * (g0 / t0) * (g0 / t0)
    r_sq = ((det0 / det) * g0 + (det1 / det) * g1 + (det2 / det) * g2 - ybar2) / (
        q4s - ybar2
    )
    return aux.select(
        F.col("nd").alias("n_days"),
        q4(r_sq).alias("aux_r2"),
        q4(F.col("nd") * r_sq).alias("white_lm"),
        (F.col("nd") * r_sq > float(CHI2_CRIT_DF2)).alias("heteroskedastic"),
    )


# MacKinnon 5% critical value for the Engle-Granger residual ADF with
# one regressor and a constant in the cointegrating regression.
_EG_CRIT = "-3.37"


@register(
    "stat_cointegration_eg",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = '{KS_G1}'
                   THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = '{KS_G2}'
                   THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT)*y) AS HUGEINT) AS sxy
        FROM daily
    ), fit AS (
        SELECT n,
               (n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy)
                 / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx) AS b,
               (CAST(sy AS DOUBLE)
                - (n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy)
                  / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx)
                  * sx) / n AS a
        FROM m
    ), resid AS (
        SELECT day,
               CAST(floor(d.y - f.a - f.b*d.x + 0.5) AS BIGINT) AS u,
               f.n, f.b
        FROM daily d, fit f
    ), ranked AS (
        SELECT u, n, b,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM resid
    ), pairs AS (
        SELECT a.u - b.u AS du, b.u AS ul, a.n, a.b
        FROM ranked a JOIN ranked b ON b.t = a.t - 1
    ), df AS (
        SELECT max(n) AS n_days, max(b) AS beta,
               CAST(count(*) AS BIGINT) AS np,
               CAST(sum(CAST(ul AS HUGEINT)*du) AS HUGEINT) AS suldu,
               CAST(sum(CAST(ul AS HUGEINT)*ul) AS HUGEINT) AS sull,
               CAST(sum(CAST(du AS HUGEINT)*du) AS HUGEINT) AS sdudu
        FROM pairs
    ), g AS (
        SELECT n_days, beta, np,
               CAST(suldu AS DOUBLE) / CAST(sull AS DOUBLE) AS gamma,
               (CAST(sdudu AS DOUBLE)
                - CAST(suldu AS DOUBLE) / CAST(sull AS DOUBLE)
                  * CAST(suldu AS DOUBLE)) AS ssr,
               CAST(sull AS DOUBLE) AS sull_d
        FROM df
    )
    SELECT n_days, {sql_q4("beta")} AS beta, {sql_q4("gamma")} AS gamma,
           {sql_q4("gamma / sqrt(ssr / (np - 1) / sull_d)")} AS tau,
           gamma / sqrt(ssr / (np - 1) / sull_d) < {_EG_CRIT}
               AS cointegrated
    FROM g
    """,
)
def stat_cointegration_eg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test between the daily
    'click' and 'purchase' revenue series: (1) OLS the long-run
    relation y = a + b·x; (2) Dickey-Fuller-test the residuals
    (Δu_t = γ·u_{t-1}, no constant — residuals are mean-zero by
    construction). τ below MacKinnon's -3.37 rejects the unit root in
    u, i.e. the two series share a common stochastic trend and the
    spread y - b·x is mean-reverting (the statistical basis of
    pairs-style monitoring; a plain correlation cannot distinguish
    cointegration from two series that merely both trend).

    Exactness: the long-run OLS moments fold as decimal(38,0)/
    HUGEINT (day cent-sums square past int64 at 100 TB); residuals
    floor to exact cents so every DF regression moment is an exact
    wide-integer fold; γ, SSR (via the γ-identity, no second pass)
    and τ are closed-form doubles evaluated once.

    Scale shape: one fact pass to the calendar-bounded day grid; one
    unpartitioned window over it carries the long-run OLS moments and
    the previous day's (x, y), so u_t and u_(t-1) are projections of
    the same row — the same bounded shape as stat_adf, no join."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == KS_G1, cents(F.col("value"))).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == KS_G2, cents(F.col("value"))).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("y"),
    )
    # calendar-bounded day grid (census-allowlisted)
    w = Window.orderBy("day")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    xd = F.col("x").cast(dec)
    m = daily.select(
        "x",
        "y",
        F.lag("x").over(w).alias("x1"),
        F.lag("y").over(w).alias("y1"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("x").over(w_all).cast("long").alias("sx"),
        F.sum("y").over(w_all).cast("long").alias("sy"),
        F.sum(xd * F.col("x")).over(w_all).alias("sxx"),
        F.sum(xd * F.col("y")).over(w_all).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    )
    fit = m.select(
        "x",
        "y",
        "x1",
        "y1",
        "n",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("sx")) / nd).alias("a"),
    )

    def resid(x: str, y: str) -> Column:
        return F.floor(
            F.col(y) - F.col("a") - F.col("b") * F.col(x) + 0.5
        ).cast("long")

    pairs = fit.select(
        (resid("x", "y") - resid("x1", "y1")).alias("du"),
        resid("x1", "y1").alias("ul"),
        "n",
        F.col("b").alias("bb"),
    ).where(F.col("ul").isNotNull())
    uld = F.col("ul").cast(dec)
    dud = F.col("du").cast(dec)
    df = pairs.agg(
        F.max("n").alias("n_days"),
        F.max("bb").alias("beta"),
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(uld * F.col("du")).alias("suldu"),
        F.sum(uld * F.col("ul")).alias("sull"),
        F.sum(dud * F.col("du")).alias("sdudu"),
    )
    gamma = F.col("suldu").cast("double") / F.col("sull").cast("double")
    ssr = (
        F.col("sdudu").cast("double")
        - F.col("suldu").cast("double")
        / F.col("sull").cast("double")
        * F.col("suldu").cast("double")
    )
    tau = gamma / F.sqrt(ssr / (F.col("np") - 1) / F.col("sull").cast("double"))
    return df.select(
        "n_days",
        q4(F.col("beta")).alias("beta"),
        q4(gamma).alias("gamma"),
        q4(tau).alias("tau"),
        (tau < float(_EG_CRIT)).alias("cointegrated"),
    )


# ------------------------------------- round-9 wave E: exact + ranked

# ln(x!) exactly for x <= 19 (math.lgamma round-trip literals shared
# by BOTH engines); Stirling's series from x >= 20 (|err| < 1e-13).
_LNFACT_SMALL = (
    "0.0", "0.0", "0.693147180559945", "1.7917594692280554",
    "3.178053830347945", "4.787491742782047", "6.579251212010102",
    "8.525161361065415", "10.604602902745249", "12.801827480081467",
    "15.104412573075514", "17.502307845873887", "19.987214495661885",
    "22.55216385312342", "25.191221182738683", "27.89927138384089",
    "30.671860106080672", "33.50507345013689", "36.39544520803305",
    "39.339884187199495",
)
_LN_2PI = "1.8378770664093453"  # ln(2*pi)
_FISHER_COHORT_MOD = 199  # deterministic user cohort (exact tests
# need small tables; the support enumeration below is bounded by the
# cohort's smaller margin BY DESIGN — at scale use stat_chi2_test /
# stat_proportions_ztest for large tables)


def _sql_lnfact(x: str) -> str:
    cases = " ".join(
        f"WHEN {i} THEN {v}" for i, v in enumerate(_LNFACT_SMALL)
    )
    return (
        f"(CASE CAST({x} AS BIGINT) {cases} ELSE "
        f"CAST({x} AS DOUBLE)*ln(CAST({x} AS DOUBLE)) - CAST({x} AS DOUBLE)"
        f" + 0.5*({_LN_2PI} + ln(CAST({x} AS DOUBLE)))"
        f" + 1.0/(12.0*CAST({x} AS DOUBLE))"
        f" - 1.0/(360.0*pow(CAST({x} AS DOUBLE), 3))"
        f" + 1.0/(1260.0*pow(CAST({x} AS DOUBLE), 5)) END)"
    )


def _lnfact(x: Column) -> Column:
    xd = x.cast("double")
    stirling = (
        xd * F.log(xd)
        - xd
        + 0.5 * (F.lit(float(_LN_2PI)) + F.log(xd))
        + 1.0 / (12.0 * xd)
        - 1.0 / (360.0 * F.pow(xd, 3))
        + 1.0 / (1260.0 * F.pow(xd, 5))
    )
    expr = stirling
    for i in range(len(_LNFACT_SMALL) - 1, -1, -1):
        expr = F.when(x == i, F.lit(float(_LNFACT_SMALL[i]))).otherwise(expr)
    return expr


@register(
    "stat_fisher_exact",
    oracle=f"""
    WITH cohort AS (
        SELECT CASE WHEN CAST(ts AS DATE) <= DATE '{PSI_SPLIT}'
                    THEN 0 ELSE 1 END AS half,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        FROM events
        WHERE user_id % {_FISHER_COHORT_MOD} = 0
          AND event_type IN ('error', 'signup')
    ), cells AS (
        SELECT CAST(count_if(half = 0 AND is_err = 1) AS BIGINT) AS a,
               CAST(count_if(half = 0 AND is_err = 0) AS BIGINT) AS b,
               CAST(count_if(half = 1 AND is_err = 1) AS BIGINT) AS c,
               CAST(count_if(half = 1 AND is_err = 0) AS BIGINT) AS d
        FROM cohort
    ), marg AS (
        SELECT a, b, c, d, a+b AS r1, c+d AS r2, a+c AS c1, a+b+c+d AS n
        FROM cells
    ), support AS (
        SELECT m.*, unnest(range(greatest(0, m.c1 - m.r2),
                                 least(m.r1, m.c1) + 1)) AS k
        FROM marg m
    ), lp AS (
        SELECT a, b, c, d, r1, r2, c1, n, k,
               {_sql_lnfact("r1")} - {_sql_lnfact("k")}
                 - {_sql_lnfact("r1 - k")}
               + {_sql_lnfact("r2")} - {_sql_lnfact("c1 - k")}
                 - {_sql_lnfact("r2 - (c1 - k)")}
               - ({_sql_lnfact("n")} - {_sql_lnfact("c1")}
                 - {_sql_lnfact("n - c1")}) AS lnp
        FROM support
    ), obs AS (
        SELECT max(CASE WHEN k = a THEN lnp END) AS lnp_obs FROM lp
    ), pv AS (
        SELECT CAST(sum(CAST(floor(exp(lnp) * 1e15 + 0.5) AS BIGINT))
                   FILTER (WHERE exp(lnp) <= exp(lnp_obs) * 1.0000001)
                   AS BIGINT) AS p_num
        FROM lp CROSS JOIN obs
    )
    SELECT a, b, c, d,
           {sql_q4("CASE WHEN b*c = 0 THEN NULL"
                   " ELSE CAST(a AS DOUBLE)*d / (CAST(b AS DOUBLE)*c) END")}
               AS odds_ratio,
           {sql_q4("CAST(p_num AS DOUBLE) / 1e15")} AS p_two_sided,
           CAST(p_num AS DOUBLE) / 1e15 < 0.05 AS significant
    FROM cells CROSS JOIN pv
    """,
)
def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the 2×2 table (calendar half × error-vs-
    signup) over a deterministic small user cohort (user_id % 199 =
    0): the hypergeometric tail summed over the full support, two-
    sided by the standard 'all tables at most as probable as the
    observed one' rule (with R's 1+1e-7 tolerance) — valid at any
    cell count, where stat_chi2_test's asymptotics break below ~5
    expected per cell.

    No factorial table: ln C(n,k) evaluates through a CLOSED-FORM
    ln-factorial — exact literals for x <= 19 (identical strings
    parsed to identical doubles by both engines) and Stirling's
    series (three correction terms, |err| < 1e-13) beyond — so the
    support enumeration is the only data-shaped structure, and it is
    bounded by the cohort's smaller margin BY DESIGN. Per-k
    probabilities quantize at 1e-15 before the tail fold so the sum
    is order-free.

    Scale shape: one filtered scan to a 1-row cell frame, a support
    explode bounded by min(r1, c1) (cohort-sized — exact tests are
    for small tables; large tables belong to the chi-square /
    z-test keys), closed-form doubles per support row."""
    e = table(spark, sf_dir, "events")
    cohort = e.where(
        (F.col("user_id") % _FISHER_COHORT_MOD == 0)
        & F.col("event_type").isin("error", "signup")
    ).select(
        F.when(F.to_date("ts") <= F.lit(PSI_SPLIT), 0).otherwise(1).alias("half"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    cells = cohort.agg(
        F.count_if((F.col("half") == 0) & (F.col("is_err") == 1))
        .cast("long")
        .alias("a"),
        F.count_if((F.col("half") == 0) & (F.col("is_err") == 0))
        .cast("long")
        .alias("b"),
        F.count_if((F.col("half") == 1) & (F.col("is_err") == 1))
        .cast("long")
        .alias("c"),
        F.count_if((F.col("half") == 1) & (F.col("is_err") == 0))
        .cast("long")
        .alias("d"),
    )
    marg = cells.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
    )
    support = marg.select(
        "*",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("c1") - F.col("r2")),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    lnp = (
        _lnfact(F.col("r1"))
        - _lnfact(F.col("k"))
        - _lnfact(F.col("r1") - F.col("k"))
        + _lnfact(F.col("r2"))
        - _lnfact(F.col("c1") - F.col("k"))
        - _lnfact(F.col("r2") - (F.col("c1") - F.col("k")))
        - (
            _lnfact(F.col("n"))
            - _lnfact(F.col("c1"))
            - _lnfact(F.col("n") - F.col("c1"))
        )
    )
    lp = support.select("a", "b", "c", "d", "k", lnp.alias("lnp"))
    obs = lp.agg(
        F.max(F.when(F.col("k") == F.col("a"), F.col("lnp"))).alias("lnp_obs")
    )
    pv = (
        lp.crossJoin(F.broadcast(obs))
        .where(F.exp(F.col("lnp")) <= F.exp(F.col("lnp_obs")) * 1.0000001)
        .agg(
            F.sum(F.floor(F.exp(F.col("lnp")) * 1e15 + 0.5).cast("long"))
            .cast("long")
            .alias("p_num")
        )
    )
    odds = F.when(
        F.col("b") * F.col("c") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.col("a").cast("double") * F.col("d") / (F.col("b").cast("double") * F.col("c"))
    )
    return cells.crossJoin(F.broadcast(pv)).select(
        "a",
        "b",
        "c",
        "d",
        q4(odds).alias("odds_ratio"),
        q4(F.col("p_num").cast("double") / 1e15).alias("p_two_sided"),
        (F.col("p_num").cast("double") / 1e15 < 0.05).alias("significant"),
    )


_QUADE_K = 5  # treatments = the five event types
_QUADE_F_CRIT = "2.372"  # F(k-1, inf) upper 5% point


@register(
    "stat_quade_test",
    oracle=f"""
    WITH cell0 AS (
        SELECT date_trunc('week', CAST(ts AS DATE)) AS wk, event_type AS trt,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT w.wk, t.trt, coalesce(c.y, 0) AS y
        FROM (SELECT DISTINCT wk FROM cell0) w
        CROSS JOIN (SELECT DISTINCT trt FROM cell0) t
        LEFT JOIN cell0 c ON c.wk = w.wk AND c.trt = t.trt
    ), rnk AS (
        SELECT a.wk, a.trt, a.y,
               CAST(2 * count_if(b.y < a.y)
                    + count_if(b.y = a.y) + 1 AS BIGINT) AS r2
        FROM dense a JOIN dense b ON b.wk = a.wk
        GROUP BY a.wk, a.trt, a.y
    ), rng AS (
        SELECT wk, CAST(max(y) - min(y) AS BIGINT) AS rg
        FROM dense GROUP BY wk
    ), q AS (
        SELECT a.wk,
               CAST(2 * count_if(b.rg < a.rg)
                    + count_if(b.rg = a.rg) + 1 AS BIGINT) AS q2
        FROM rng a JOIN rng b ON TRUE
        GROUP BY a.wk, a.rg
    ), s AS (
        SELECT r.wk, r.trt,
               CAST(q.q2 * (r.r2 - ({_QUADE_K} + 1)) AS BIGINT) AS s4
        FROM rnk r JOIN q USING (wk)
    ), folds AS (
        SELECT CAST(count(DISTINCT wk) AS BIGINT) AS b,
               CAST(sum(s4 * s4) AS BIGINT) AS a_tot
        FROM s
    ), percol AS (
        SELECT CAST(sum(sj * sj) AS BIGINT) AS b_num
        FROM (SELECT trt, CAST(sum(s4) AS BIGINT) AS sj FROM s GROUP BY trt)
    )
    SELECT b AS n_blocks, CAST({_QUADE_K} AS BIGINT) AS k,
           {sql_q4("CAST(b - 1 AS DOUBLE) * b_num"
                   " / (CAST(b AS DOUBLE) * a_tot - b_num)")} AS quade_f,
           CAST(b - 1 AS DOUBLE) * b_num
               / (CAST(b AS DOUBLE) * a_tot - b_num) > {_QUADE_F_CRIT}
               AS rejected
    FROM folds CROSS JOIN percol
    """,
)
def stat_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade's weighted rank test for the week × event-type layout:
    like Friedman, ranks within each block — but each block is
    WEIGHTED by the rank of its range, so blocks where treatments
    differ strongly dominate (Quade 1979; more powerful than
    Friedman at small treatment counts). F = (b-1)·B/(A-B) with
    S_ij = Q_i·(r_ij - (k+1)/2), compared to the asymptotic
    F(k-1, ∞) 5% point.

    Exactness: within-block mid-ranks and block-range ranks carry as
    DOUBLED integers (2·midrank = 2·#less + #eq + 1) and S scales by
    4 (S4 = Q2·(r2-(k+1))), so A, B and the F numerator/denominator
    fold as exact BIGINTs — the 1/16 cancels in the ratio.

    Scale shape: one hash aggregate to the |weeks|×k dense grid, a
    within-block 5-row self-join, a |weeks|² range-rank join (both
    calendar-bounded), three grid folds."""
    e = table(spark, sf_dir, "events")
    cell0 = e.groupBy(
        F.date_trunc("week", F.to_date("ts")).alias("wk"),
        F.col("event_type").alias("trt"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")).localCheckpoint(eager=False)
    wks = cell0.select("wk").distinct()
    trts = cell0.select("trt").distinct()
    dense = (
        wks.crossJoin(trts)
        .join(cell0, ["wk", "trt"], "left")
        .select("wk", "trt", F.coalesce(F.col("y"), F.lit(0)).alias("y")).localCheckpoint(eager=False)
    )
    a = dense.select(
        F.col("wk").alias("awk"), F.col("trt").alias("atrt"), F.col("y").alias("ay")
    )
    b = dense.select(F.col("wk").alias("bwk"), F.col("y").alias("by"))
    rnk = (
        a.join(b, F.col("bwk") == F.col("awk"))
        .groupBy("awk", "atrt", "ay")
        .agg(
            (
                2 * F.count_if(F.col("by") < F.col("ay"))
                + F.count_if(F.col("by") == F.col("ay"))
                + 1
            )
            .cast("long")
            .alias("r2")
        )
        .select(
            F.col("awk").alias("wk"), F.col("atrt").alias("trt"), "r2"
        )
    )
    rng = dense.groupBy("wk").agg(
        (F.max("y") - F.min("y")).cast("long").alias("rg")
    )
    ra = rng.select(F.col("wk").alias("awk"), F.col("rg").alias("arg"))
    rb = rng.select(F.col("rg").alias("brg"))
    qq = (
        ra.crossJoin(rb)
        .groupBy("awk", "arg")
        .agg(
            (
                2 * F.count_if(F.col("brg") < F.col("arg"))
                + F.count_if(F.col("brg") == F.col("arg"))
                + 1
            )
            .cast("long")
            .alias("q2")
        )
        .select(F.col("awk").alias("wk"), "q2")
    )
    s = rnk.join(qq, "wk").select(
        "wk",
        "trt",
        (F.col("q2") * (F.col("r2") - (_QUADE_K + 1))).cast("long").alias("s4"),
    )
    folds = s.agg(
        F.count_distinct("wk").cast("long").alias("b"),
        F.sum(F.col("s4") * F.col("s4")).cast("long").alias("a_tot"),
    )
    percol = (
        s.groupBy("trt")
        .agg(F.sum("s4").cast("long").alias("sj"))
        .agg(F.sum(F.col("sj") * F.col("sj")).cast("long").alias("b_num"))
    )
    fstat = (
        (F.col("b") - 1).cast("double")
        * F.col("b_num")
        / (F.col("b").cast("double") * F.col("a_tot") - F.col("b_num"))
    )
    return folds.crossJoin(F.broadcast(percol)).select(
        F.col("b").alias("n_blocks"),
        F.lit(_QUADE_K).cast("long").alias("k"),
        q4(fstat).alias("quade_f"),
        (fstat > float(_QUADE_F_CRIT)).alias("rejected"),
    )


_BC_BIN_CENTS = 2500  # $25 histogram bins (shared with stat_psi_drift)
_BC_Q = 1_000_000_000_000


@register(
    "stat_bhattacharyya",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(floor(value*100 + 0.5) / {_BC_BIN_CENTS})
                   AS BIGINT) AS bin
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT bin,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY bin
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), fold AS (
        SELECT CAST(sum(CAST(floor(sqrt((CAST(c1 AS DOUBLE) / n1)
                   * (CAST(c2 AS DOUBLE) / n2)) * {_BC_Q} + 0.5) AS BIGINT))
                   AS BIGINT) AS bcq,
               CAST(count(*) AS BIGINT) AS n_bins
        FROM grid CROSS JOIN totals
    )
    SELECT n1, n2, n_bins,
           {sql_q4(f"CAST(bcq AS DOUBLE) / {_BC_Q}")} AS bc_coefficient,
           {sql_q4(f"sqrt(greatest(0.0, 1.0 - CAST(bcq AS DOUBLE) / {_BC_Q}))")}
               AS hellinger,
           {sql_q4(f"-ln(CAST(bcq AS DOUBLE) / {_BC_Q})")} AS bhattacharyya_d
    FROM fold CROSS JOIN totals
    """,
)
def stat_bhattacharyya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya coefficient BC = Σ√(p_i·q_i) between the 'click'
    and 'purchase' value histograms ($25 bins, shared with
    stat_psi_drift), with the Hellinger distance √(1-BC) (a proper
    metric, bounded [0,1]) and the Bhattacharyya distance -ln BC —
    the overlap-based drift numbers that stay finite where KL/PSI
    blow up on empty bins (a bin missing from one side simply
    contributes 0 to BC, no epsilon hacks).

    Exactness: bin counts are exact; each √(p·q) term quantizes at
    1e-12 before the fold so the sum is order-free; the three
    statistics are one double expression each.

    Scale shape: one hash aggregate to the bounded bin grid, one
    broadcast totals frame, one grid fold — no prefix pass even (the
    coefficient needs no cumulative structure)."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_G1, KS_G2)
    )
    grid = e.select(
        "event_type",
        F.floor(cents(F.col("value")) / _BC_BIN_CENTS).cast("long").alias("bin"),
    ).groupBy("bin").agg(
        F.count_if(F.col("event_type") == KS_G1).cast("long").alias("c1"),
        F.count_if(F.col("event_type") == KS_G2).cast("long").alias("c2"),
    )
    totals = grid.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    term = F.floor(
        F.sqrt(
            (F.col("c1").cast("double") / F.col("n1"))
            * (F.col("c2").cast("double") / F.col("n2"))
        )
        * _BC_Q
        + 0.5
    ).cast("long")
    fold = grid.crossJoin(F.broadcast(totals)).agg(
        F.sum(term).cast("long").alias("bcq"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    bc = F.col("bcq").cast("double") / _BC_Q
    return fold.crossJoin(F.broadcast(totals)).select(
        "n1",
        "n2",
        "n_bins",
        q4(bc).alias("bc_coefficient"),
        q4(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc))).alias("hellinger"),
        q4(-F.log(bc)).alias("bhattacharyya_d"),
    )


# Acklam's inverse-normal-CDF rational approximation (public domain
# algorithm, |relative error| < 1.15e-9) — only the u > 0.5 half is
# needed (normal scores of positive ranks). Constants are shared
# string literals so both engines parse identical doubles.
_QN_A = ("-3.969683028665376e+01", "2.209460984245205e+02",
         "-2.759285104469687e+02", "1.383577518672690e+02",
         "-3.066479806614716e+01", "2.506628277459239e+00")
_QN_B = ("-5.447609879822406e+01", "1.615858368580409e+02",
         "-1.556989798598866e+02", "6.680131188771972e+01",
         "-1.328068155288572e+01")
_QN_C = ("-7.784894002430293e-03", "-3.223964580411365e-01",
         "-2.400758277161838e+00", "-2.549732539343734e+00",
         "4.374664141464968e+00", "2.938163982698783e+00")
_QN_D = ("7.784695709041462e-03", "3.224671290700398e-01",
         "2.445134137142996e+00", "3.754408661907416e+00")
_QN_PHIGH = "0.97575"


def _sql_qnorm_upper(u: str) -> str:
    # Horner over rc for the central branch, over qt for the tail
    horner_a = f"({_QN_A[0]})"
    for v in _QN_A[1:]:
        horner_a = f"({horner_a}*rc + ({v}))"
    horner_b = f"({_QN_B[0]})"
    for v in _QN_B[1:]:
        horner_b = f"({horner_b}*rc + ({v}))"
    horner_c = f"({_QN_C[0]})"
    for v in _QN_C[1:]:
        horner_c = f"({horner_c}*qt + ({v}))"
    horner_d = f"({_QN_D[0]})"
    for v in _QN_D[1:]:
        horner_d = f"({horner_d}*qt + ({v}))"
    central = f"({horner_a} * qc / ({horner_b}*rc + 1.0))"
    tail = f"(-{horner_c} / ({horner_d}*qt + 1.0))"
    return (
        f"(SELECT CASE WHEN u <= {_QN_PHIGH} THEN {central} ELSE {tail} END"
        f" FROM (SELECT ({u}) AS u, (({u}) - 0.5) AS qc,"
        f" (({u}) - 0.5)*(({u}) - 0.5) AS rc,"
        f" sqrt(-2.0*ln(1.0 - ({u}))) AS qt))"
    )


def _qnorm_upper(u: Column) -> Column:
    qc = u - 0.5
    rc = qc * qc
    ha = F.lit(float(_QN_A[0]))
    for v in _QN_A[1:]:
        ha = ha * rc + F.lit(float(v))
    hb = F.lit(float(_QN_B[0]))
    for v in _QN_B[1:]:
        hb = hb * rc + F.lit(float(v))
    qt = F.sqrt(-2.0 * F.log(1.0 - u))
    hc = F.lit(float(_QN_C[0]))
    for v in _QN_C[1:]:
        hc = hc * qt + F.lit(float(v))
    hd = F.lit(float(_QN_D[0]))
    for v in _QN_D[1:]:
        hd = hd * qt + F.lit(float(v))
    central = ha * qc / (hb * rc + 1.0)
    tail = -hc / (hd * qt + 1.0)
    return F.when(u <= float(_QN_PHIGH), central).otherwise(tail)


_FK_Q = 1_000_000_000


@register(
    "stat_fligner_killeen",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        FROM events
    ), ggrid AS (
        SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        FROM ev GROUP BY 1, 2
    ), gcum AS (
        SELECT event_type, v, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n_g
        FROM ggrid
    ), med AS (
        SELECT event_type, min(v) AS med_v
        FROM gcum WHERE 2 * cum >= n_g GROUP BY event_type
    ), dgrid AS (
        SELECT g.event_type, abs(g.v - m.med_v) AS d,
               CAST(sum(g.c) AS BIGINT) AS c
        FROM ggrid g JOIN med m USING (event_type)
        GROUP BY 1, 2
    ), dtot AS (
        SELECT d, CAST(sum(c) AS BIGINT) AS ct FROM dgrid GROUP BY d
    ), dcum AS (
        SELECT d, ct,
               sum(ct) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM dtot
    ), nn AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM dtot),
    scores AS (
        SELECT d,
               CAST(floor({_sql_qnorm_upper(
                   "0.5 + (2.0*(cum - ct) + ct + 1)"
                   " / (4.0 * (n + 1))")} * {_FK_Q} + 0.5) AS BIGINT) AS aq
        FROM dcum CROSS JOIN nn
    ), joined AS (
        SELECT g.event_type, g.c, s.aq
        FROM dgrid g JOIN scores s USING (d)
    ), per_g AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g,
               CAST(sum(c * aq) AS BIGINT) AS s_g
        FROM joined GROUP BY event_type
    ), gl AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(s_g) AS BIGINT) AS s,
               (SELECT CAST(sum(c * CAST(aq AS HUGEINT) * aq) AS HUGEINT)
                FROM joined) AS ss
        FROM per_g
    ), chi AS (
        SELECT sum(CAST(n_g AS DOUBLE)
                   * pow(CAST(s_g AS DOUBLE) / {_FK_Q} / n_g
                         - CAST(s AS DOUBLE) / {_FK_Q} / n, 2))
               / max((CAST(ss AS DOUBLE) / {_FK_Q} / {_FK_Q}
                   - CAST(s AS DOUBLE) * s / {_FK_Q} / {_FK_Q} / n)
                  / (n - 1)) AS x2
        FROM per_g CROSS JOIN gl
    )
    SELECT (SELECT n FROM gl) AS n,
           CAST((SELECT count(*) FROM per_g) AS BIGINT) AS k,
           {sql_q4("x2")} AS fk_stat,
           x2 > {CHI2_CRIT_DF4} AS rejected
    FROM chi
    """,
)
def stat_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Killeen homogeneity-of-variance test across the five
    event types: normal scores a_i = Φ⁻¹(1/2 + r_i/(2(N+1))) of the
    ranks of |x - median_g|, compared across groups by the χ²(k-1)
    statistic Σ n_g(ā_g - ā)²/s² — THE robust variance test (Conover
    et al.'s simulation winner) where Bartlett collapses under
    non-normality and Levene still assumes mean-friendly tails.

    Φ⁻¹ is Acklam's rational approximation (public domain, |rel err|
    < 1.15e-9) written as ONE fixed expression from shared literal
    constants, so both engines produce bit-identical scores; only the
    u > 1/2 half is needed (ranks are positive). Group medians come
    from per-group bounded-grid prefixes, tie blocks take mid-ranks
    (2m = 2·prev + cnt + 1, exact), and scores quantize at 1e-9
    before all folds (squares in decimal(38,0)/HUGEINT).

    Scale shape: two hash aggregates to bounded grids, per-group
    partitioned prefixes + ONE global d-grid prefix, broadcast
    totals; no row-level sort."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    )
    ggrid = ev.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    w_g = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_gt = Window.partitionBy("event_type")
    gcum = ggrid.select(
        "event_type",
        "v",
        "c",
        F.sum("c").over(w_g).alias("cum"),
        F.sum("c").over(w_gt).alias("n_g"),
    )
    med = (
        gcum.where(2 * F.col("cum") >= F.col("n_g"))
        .groupBy("event_type")
        .agg(F.min("v").alias("med_v"))
    )
    dgrid = (
        ggrid.join(med, "event_type")
        .groupBy("event_type", F.abs(F.col("v") - F.col("med_v")).alias("d"))
        .agg(F.sum("c").cast("long").alias("c"))
    )
    dtot = dgrid.groupBy("d").agg(F.sum("c").cast("long").alias("ct"))
    dcum = global_ordered(
        dtot,
        [F.col("d")],
        bucket_key="d",
        sums={"ct": "cum"},
        rank_col=None,
    )
    nn = dtot.agg(F.sum("ct").cast("long").alias("n"))
    u = (
        0.5
        + (2.0 * (F.col("cum") - F.col("ct")) + F.col("ct") + 1)
        / (4.0 * (F.col("n") + 1))
    )
    scores = dcum.crossJoin(F.broadcast(nn)).select(
        "d",
        F.floor(_qnorm_upper(u) * _FK_Q + F.lit(0.5)).cast("long").alias("aq"),
    )
    joined = dgrid.join(scores, "d")
    per_g = joined.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("c") * F.col("aq")).cast("long").alias("s_g"),
    )
    dec = "decimal(38,0)"
    ss = joined.agg(
        F.sum(F.col("c").cast(dec) * F.col("aq") * F.col("aq")).alias("ss")
    )
    gl = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    abar_g = F.col("s_g").cast("double") / _FK_Q / F.col("n_g")
    abar = F.col("s").cast("double") / _FK_Q / F.col("n")
    s2 = (
        F.col("ss").cast("double") / _FK_Q / _FK_Q
        - F.col("s").cast("double") * F.col("s") / _FK_Q / _FK_Q / F.col("n")
    ) / (F.col("n") - 1)
    chi = (
        per_g.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(ss))
        .agg(
            F.sum(F.col("n_g").cast("double") * F.pow(abar_g - abar, 2)).alias(
                "num"
            ),
            F.max(s2).alias("s2"),
            F.max("n").alias("n"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    x2 = F.col("num") / F.col("s2")
    return chi.select(
        "n",
        "k",
        q4(x2).alias("fk_stat"),
        (x2 > float(CHI2_CRIT_DF4)).alias("rejected"),
    )


# -------------------------------------- round-9 wave G: estimation

_CR_SPLIT = PSI_SPLIT  # reuse the calendar midpoint


@register(
    "stat_capture_recapture",
    oracle=f"""
    WITH marks AS (
        SELECT user_id,
               CAST(max(CASE WHEN CAST(ts AS DATE) <= DATE '{_CR_SPLIT}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS in1,
               CAST(max(CASE WHEN CAST(ts AS DATE) > DATE '{_CR_SPLIT}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS in2
        FROM events GROUP BY user_id
    ), c AS (
        SELECT CAST(sum(in1) AS BIGINT) AS n1,
               CAST(sum(in2) AS BIGINT) AS n2,
               CAST(sum(in1 * in2) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS observed
        FROM marks
    )
    SELECT n1, n2, m, observed,
           {sql_q4("(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0")}
               AS chapman_n,
           {sql_q4("sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)"
                   " * (n2 - m)) / ((CAST(m AS DOUBLE) + 1) * (m + 1)"
                   " * (m + 2)))")} AS chapman_se,
           {sql_q4("(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0"
                   " - CAST(observed AS DOUBLE)")} AS est_unseen
    FROM c
    """,
)
def stat_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman's capture-recapture estimate of the TOTAL user
    population from two occasions (first vs second calendar half):
    N̂ = (n1+1)(n2+1)/(m+1) - 1 with its standard error — the
    bias-corrected Lincoln-Petersen estimator ecologists and
    dedup/coverage auditors use to answer 'how many users exist that
    we never logged?', where a plain distinct count can only say how
    many we saw. est_unseen = N̂ minus the observed union.

    Exactness: the three marks (seen-in-1, seen-in-2, recaptured) are
    one per-user max aggregate, so n1, n2, m are exact; the estimator
    and Seber's variance are single closed-form doubles.

    Scale shape at 100 TB: one hash aggregate to users (map-side
    combined max flags), one 1-row fold, closed form."""
    e = table(spark, sf_dir, "events")
    marks = e.groupBy("user_id").agg(
        F.max(
            F.when(F.to_date("ts") <= F.lit(_CR_SPLIT), 1).otherwise(0)
        ).alias("in1"),
        F.max(
            F.when(F.to_date("ts") > F.lit(_CR_SPLIT), 1).otherwise(0)
        ).alias("in2"),
    )
    c = marks.agg(
        F.sum("in1").cast("long").alias("n1"),
        F.sum("in2").cast("long").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("observed"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m = F.col("m").cast("double")
    chapman = (n1 + 1) * (n2 + 1) / (m + 1) - 1.0
    se = F.sqrt(
        ((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m))
        / ((m + 1) * (m + 1) * (m + 2))
    )
    return c.select(
        "n1",
        "n2",
        "m",
        "observed",
        q4(chapman).alias("chapman_n"),
        q4(se).alias("chapman_se"),
        q4(chapman - F.col("observed").cast("double")).alias("est_unseen"),
    )


_SIEGEL_Q = 1_000_000_000


@register(
    "stat_siegel_slopes",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), slopes AS (
        SELECT a.t AS ti, b.t AS tj,
               CAST(floor(CAST(b.y - a.y AS DOUBLE) / (b.t - a.t)
                   * {_SIEGEL_Q} + 0.5) AS BIGINT) AS sq
        FROM ranked a JOIN ranked b ON b.t <> a.t
    ), permed AS (
        SELECT ti, sq,
               row_number() OVER (PARTITION BY ti ORDER BY sq, tj) AS rn,
               count(*) OVER (PARTITION BY ti) AS np
        FROM slopes
    ), mi AS (
        SELECT ti, sq AS m_i FROM permed WHERE 2 * rn = np + 1 OR 2 * rn = np
    ), gmed AS (
        SELECT m_i FROM (
            SELECT m_i, row_number() OVER (ORDER BY m_i, ti) AS rn,
                   count(*) OVER () AS nm
            FROM mi
        ) WHERE 2 * rn = nm + 1 OR 2 * rn = nm
    ), fit AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM ranked) AS n_days,
               CAST(m_i AS DOUBLE) / {_SIEGEL_Q} AS slope
        FROM gmed
    ), icept AS (
        SELECT i FROM (
            SELECT CAST(floor(r.y - f.slope * r.t + 0.5) AS BIGINT) AS i,
                   row_number() OVER (
                       ORDER BY CAST(floor(r.y - f.slope * r.t + 0.5)
                           AS BIGINT), r.t) AS rn,
                   count(*) OVER () AS nr
            FROM ranked r CROSS JOIN fit f
        ) WHERE 2 * rn = nr + 1 OR 2 * rn = nr
    )
    SELECT n_days, {sql_q4("slope")} AS slope,
           CAST((SELECT i FROM icept) AS BIGINT) AS intercept
    FROM fit
    """,
)
def stat_siegel_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel's REPEATED-median trend of the daily order-count series:
    slope = median_i( median_{j≠i} (y_j-y_i)/(t_j-t_i) ) — the
    highest-breakdown (50%) robust line: Theil-Sen's single median
    over all pairs (events_theil_sen) tolerates ~29% outliers; the
    repeated median survives when HALF the days are corrupted, which
    is exactly the incident-heavy telemetry case.

    Determinism: pairwise slopes quantize at 1e-9 (exact BIGINT keys),
    every median is the LOWER median selected by row_number over the
    total order (value, index) — identical tie resolution on both
    engines; the intercept is the lower median of the exact-integer
    residuals y - slope·t.

    Scale shape: the fact table collapses to the calendar-bounded day
    grid first, so the pair join is |days|² (metadata-sized) — every
    pair is needed, so it stays a join; the per-i medians run as
    PARTITIONED windows over i, and the only global windows (the day
    rank and count, the two lower-median selections) are over |days|
    rows (census-allowlisted)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w_gc = Window.partitionBy()
    ranked = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.count(F.lit(1)).over(w_gc).cast("long").alias("n_days"),
    )
    a = ranked.select(F.col("y").alias("ya"), F.col("t").alias("ti"))
    b = ranked.select(F.col("y").alias("yb"), F.col("t").alias("tj"))
    slopes = a.join(b, F.col("tj") != F.col("ti")).select(
        "ti",
        "tj",
        F.floor(
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("tj") - F.col("ti"))
            * _SIEGEL_Q
            + 0.5
        )
        .cast("long")
        .alias("sq"),
    )
    w_i = Window.partitionBy("ti").orderBy("sq", "tj")
    w_ic = Window.partitionBy("ti")
    permed = slopes.select(
        "ti",
        "sq",
        F.row_number().over(w_i).alias("rn"),
        F.count(F.lit(1)).over(w_ic).alias("np"),
    )
    mi = permed.where(
        (2 * F.col("rn") == F.col("np") + 1) | (2 * F.col("rn") == F.col("np"))
    ).select("ti", F.col("sq").alias("m_i"))
    w_g = Window.orderBy("m_i", "ti")
    gmed = (
        mi.select(
            "m_i",
            F.row_number().over(w_g).alias("rn"),
            F.count(F.lit(1)).over(w_gc).alias("nm"),
        )
        .where(
            (2 * F.col("rn") == F.col("nm") + 1)
            | (2 * F.col("rn") == F.col("nm"))
        )
        .select("m_i")
    )
    fit = gmed.select((F.col("m_i").cast("double") / _SIEGEL_Q).alias("slope"))
    resid = ranked.crossJoin(F.broadcast(fit)).select(
        "n_days",
        "slope",
        F.floor(F.col("y") - F.col("slope") * F.col("t") + 0.5)
        .cast("long")
        .alias("i"),
        "t",
    )
    w_r = Window.orderBy("i", "t")
    icept = (
        resid.select(
            "n_days",
            "slope",
            "i",
            F.row_number().over(w_r).alias("rn"),
            F.count(F.lit(1)).over(w_gc).alias("nr"),
        )
        .where(
            (2 * F.col("rn") == F.col("nr") + 1)
            | (2 * F.col("rn") == F.col("nr"))
        )
    )
    return icept.select(
        "n_days",
        q4(F.col("slope")).alias("slope"),
        F.col("i").cast("long").alias("intercept"),
    )


_WATSON_CRIT = "0.187"  # asymptotic 5% point of the U^2 distribution


@register(
    "stat_watson_u2",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type IN ('{KS_G1}', '{KS_G2}')
    ), grid AS (
        SELECT v_cents,
               CAST(count_if(event_type = '{KS_G1}') AS BIGINT) AS c1,
               CAST(count_if(event_type = '{KS_G2}') AS BIGINT) AS c2
        FROM ev GROUP BY v_cents
    ), cum AS (
        SELECT v_cents, c1, c2,
               sum(c1) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
               sum(c2) OVER (ORDER BY v_cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        FROM grid
    ), totals AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM grid
    ), folds AS (
        SELECT CAST(sum(CAST((c1 + c2) AS HUGEINT)
                   * (cum1*n2 - cum2*n1) * (cum1*n2 - cum2*n1)) AS HUGEINT)
                   AS std2,
               CAST(sum(CAST((c1 + c2) AS HUGEINT)
                   * (cum1*n2 - cum2*n1)) AS HUGEINT) AS std1
        FROM cum CROSS JOIN totals
    )
    SELECT n1, n2,
           {sql_q4("(CAST(std2 AS DOUBLE) - CAST(std1 AS DOUBLE)"
                   " * CAST(std1 AS DOUBLE) / (n1 + n2))"
                   " / (CAST(n1 AS DOUBLE) * n2"
                   "    * pow(CAST(n1 + n2 AS DOUBLE), 2))")} AS u2_stat,
           (CAST(std2 AS DOUBLE) - CAST(std1 AS DOUBLE)
               * CAST(std1 AS DOUBLE) / (n1 + n2))
               / (CAST(n1 AS DOUBLE) * n2
                  * pow(CAST(n1 + n2 AS DOUBLE), 2)) > {_WATSON_CRIT}
               AS rejected
    FROM folds CROSS JOIN totals
    """,
)
def stat_watson_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watson's two-sample U² between the 'click' and 'purchase'
    value distributions: the Cramér-von Mises statistic CENTERED on
    the mean ECDF gap — U² = (1/(n1·n2·N²))·[Σ t·D² - (Σ t·D)²/N]
    with D the integer gap numerator cum1·n2 - cum2·n1 and t the tie
    count — making the test invariant to where the 'origin' of the
    value axis sits (the circular-data version of CvM, also the right
    choice when a constant offset between the samples should not
    count as a difference). Completes the ECDF-distance tier:
    KS (max), Kuiper (tails), CvM (integrated), AD (tail-weighted),
    Watson (rotation-invariant integrated).

    Exactness: both folds run on exact integer D with tie weights,
    accumulated in decimal(38,0)/HUGEINT (D ~ n1·n2 squares past
    int64 fast); one double expression at the end.

    Scale shape: identical to stat_ks_test — one aggregate over the
    shared ``_ks_ecdf`` frame."""
    dec = "decimal(38,0)"
    dnum = (F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).cast(dec)
    t = (F.col("c1") + F.col("c2")).cast(dec)
    folds = _ks_ecdf(spark, sf_dir).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(t * dnum * dnum).alias("std2"),
        F.sum(t * dnum).alias("std1"),
    )
    nn = (F.col("n1") + F.col("n2")).cast("double")
    u2 = (
        F.col("std2").cast("double")
        - F.col("std1").cast("double") * F.col("std1").cast("double") / nn
    ) / (F.col("n1").cast("double") * F.col("n2") * nn * nn)
    return folds.select(
        "n1",
        "n2",
        q4(u2).alias("u2_stat"),
        (u2 > float(_WATSON_CRIT)).alias("rejected"),
    )


# ----------------------------------- round-9 wave I: time-series fits


@register(
    "stat_yule_walker_ar2",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS t
        FROM hourly
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM ranked
    ), lag1 AS (
        SELECT CAST(sum((a.y * nn - sy) * (b.y * nn - sy)) AS HUGEINT) AS s
        FROM ranked a JOIN ranked b ON b.t = a.t - 1
        CROSS JOIN (SELECT n AS nn, sy FROM m) t
    ), lag2 AS (
        SELECT CAST(sum((a.y * nn - sy) * (b.y * nn - sy)) AS HUGEINT) AS s
        FROM ranked a JOIN ranked b ON b.t = a.t - 2
        CROSS JOIN (SELECT n AS nn, sy FROM m) t
    ), den AS (
        SELECT CAST(sum((y * nn - sy) * (y * nn - sy)) AS HUGEINT) AS s
        FROM ranked CROSS JOIN (SELECT n AS nn, sy FROM m) t
    ), r AS (
        SELECT n,
               CAST(lag1.s AS DOUBLE) / CAST(den.s AS DOUBLE) AS r1,
               CAST(lag2.s AS DOUBLE) / CAST(den.s AS DOUBLE) AS r2,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*sy/n) / n AS c0
        FROM m CROSS JOIN lag1 CROSS JOIN lag2 CROSS JOIN den
    )
    SELECT n AS n_hours, {sql_q4("r1")} AS r1, {sql_q4("r2")} AS r2,
           {sql_q4("r1 * (1.0 - r2) / (1.0 - r1*r1)")} AS phi1,
           {sql_q4("(r2 - r1*r1) / (1.0 - r1*r1)")} AS phi2,
           {sql_q4("c0 * (1.0"
                   " - r1 * (r1 * (1.0 - r2) / (1.0 - r1*r1))"
                   " - r2 * ((r2 - r1*r1) / (1.0 - r1*r1)))")}
               AS noise_var,
           ((r2 - r1*r1) / (1.0 - r1*r1)) + (r1 * (1.0 - r2) / (1.0 - r1*r1))
               < 1.0
           AND ((r2 - r1*r1) / (1.0 - r1*r1)) - (r1 * (1.0 - r2)
               / (1.0 - r1*r1)) < 1.0
           AND abs((r2 - r1*r1) / (1.0 - r1*r1)) < 1.0 AS stationary
    FROM r
    """,
)
def stat_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit of the hourly event-count series: φ1 =
    r1(1-r2)/(1-r1²), φ2 = (r2-r1²)/(1-r1²) from the lag-1/lag-2
    autocorrelations, the innovation variance c0·(1 - φ1r1 - φ2r2),
    and the stationarity-triangle check (φ1+φ2<1, φ2-φ1<1, |φ2|<1) —
    the minimal model that separates 'momentum' from 'oscillation'
    where events_autocorr only reports the correlations and stat_pacf
    only reports their partialization.

    Exactness: centered cross-products use the scaled-residual
    identity (y·n - Σy is an exact integer, so every lag sum folds
    exactly in decimal(38,0)/HUGEINT with the n² scale cancelling in
    the r1/r2 ratios); the closed forms run once.

    Scale shape: one hash aggregate to the calendar-bounded hourly
    grid, one unpartitioned window over it for the grand totals and
    the lag-1/lag-2 values, one fold."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    # calendar-bounded hour grid (census-allowlisted)
    w = Window.orderBy("h")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = hourly.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("y").over(w_all).cast("long").alias("sy"),
    )

    def z(c: str) -> Column:
        return (F.col(c) * F.col("n") - F.col("sy")).cast(dec)

    folds = ranked.agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(z("y") * z("y1")).alias("s1"),
        F.sum(z("y") * z("y2")).alias("s2"),
        F.sum(z("y") * z("y")).alias("sd"),
    )
    r1 = F.col("s1").cast("double") / F.col("sd").cast("double")
    r2 = F.col("s2").cast("double") / F.col("sd").cast("double")
    phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    c0 = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    ) / F.col("n")
    return folds.select(
        F.col("n").alias("n_hours"),
        q4(r1).alias("r1"),
        q4(r2).alias("r2"),
        q4(phi1).alias("phi1"),
        q4(phi2).alias("phi2"),
        q4(c0 * (1.0 - r1 * phi1 - r2 * phi2)).alias("noise_var"),
        (
            (phi2 + phi1 < 1.0)
            & (phi2 - phi1 < 1.0)
            & (F.abs(phi2) < 1.0)
        ).alias("stationary"),
    )


@register(
    "stat_cox_stuart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM daily
    ), pairs AS (
        SELECT CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM ranked a
        JOIN ranked b ON b.t = a.t + (a.n - a.n % 2) / 2
        WHERE a.t <= a.n / 2
    ), c AS (
        SELECT CAST(count_if(sgn = 1) AS BIGINT) AS n_up,
               CAST(count_if(sgn = -1) AS BIGINT) AS n_dn,
               CAST(count_if(sgn <> 0) AS BIGINT) AS m
        FROM pairs
    ), tail AS (
        SELECT CAST(sum(CAST(floor(exp(
                   {_sql_lnfact("m")} - {_sql_lnfact("k")}
                     - {_sql_lnfact("m - k")} - m * ln(2.0)
               ) * 1e15 + 0.5) AS BIGINT)) AS BIGINT) AS tailq
        FROM c CROSS JOIN (SELECT unnest(range(0, (SELECT m FROM c) + 1))
            AS k) ks
        WHERE k >= greatest((SELECT n_up FROM c), (SELECT n_dn FROM c))
    )
    SELECT n_up, n_dn, m,
           {sql_q4("least(1.0, 2.0 * CAST(tailq AS DOUBLE) / 1e15)")}
               AS p_two_sided,
           least(1.0, 2.0 * CAST(tailq AS DOUBLE) / 1e15) < 0.05
               AS trend_detected,
           n_up > n_dn AS increasing
    FROM c CROSS JOIN tail
    """,
)
def stat_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test on the daily event-count series: pair
    day t with day t + n/2, count sign(later - earlier), and test the
    up-count against Binomial(m, 1/2) with the EXACT two-sided tail —
    the O(n) distribution-free trend check (Mann-Kendall, which
    exists separately, is the O(n²)-pairs deep version; Cox-Stuart is
    what you run first at 100 TB). Ties drop, per the classical rule.

    The binomial tail reuses the closed-form ln-factorial (exact
    literals + Stirling — no factorial table), each term quantized at
    1e-15 before the fold, so the p-value is order-free and exact to
    the quantum; the pairing join is an equi-join on the day rank
    (its offset n/2 depends on the data, so no constant ``lead``
    can replace it).

    Scale shape: one hash aggregate to days, one unpartitioned window
    over that calendar-bounded grid for the rank and the day count,
    one grid self-join, a support explode bounded by m = |days|/2."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    # calendar-bounded day grid (census-allowlisted)
    w = Window.orderBy("day")
    ranked = daily.select(
        "y",
        F.row_number().over(w).cast("long").alias("t"),
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long")
        .alias("n"),
    )
    a = ranked.select(F.col("y").alias("ya"), F.col("t").alias("ta"), "n")
    b = ranked.select(F.col("y").alias("yb"), F.col("t").alias("tb"))
    half = ((F.col("n") - F.col("n") % 2) / 2).cast("long")
    pairs = (
        a.where(F.col("ta") <= F.col("n") / 2)
        .join(b, F.col("tb") == F.col("ta") + half)
        .select(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
            .alias("sgn")
        )
    )
    c = pairs.agg(
        F.count_if(F.col("sgn") == 1).cast("long").alias("n_up"),
        F.count_if(F.col("sgn") == -1).cast("long").alias("n_dn"),
        F.count_if(F.col("sgn") != 0).cast("long").alias("m"),
    )
    ks = c.select(
        "n_up",
        "n_dn",
        "m",
        F.explode(F.sequence(F.lit(0), F.col("m"))).alias("k"),
    ).where(F.col("k") >= F.greatest(F.col("n_up"), F.col("n_dn")))
    term = F.floor(
        F.exp(
            _lnfact(F.col("m"))
            - _lnfact(F.col("k"))
            - _lnfact(F.col("m") - F.col("k"))
            - F.col("m") * F.log(F.lit(2.0))
        )
        * 1e15
        + F.lit(0.5)
    ).cast("long")
    tail = ks.agg(F.sum(term).cast("long").alias("tailq"))
    p = F.least(F.lit(1.0), 2.0 * F.col("tailq").cast("double") / 1e15)
    return c.crossJoin(F.broadcast(tail)).select(
        "n_up",
        "n_dn",
        "m",
        q4(p).alias("p_two_sided"),
        (p < 0.05).alias("trend_detected"),
        (F.col("n_up") > F.col("n_dn")).alias("increasing"),
    )


_PAGE_K = 4  # ordered treatments: the four 6-hour day-parts
_PAGE_Z_CRIT = "1.6449"  # one-sided 5% normal point (ordered alternative)


@register(
    "stat_page_trend",
    oracle=f"""
    WITH cells0 AS (
        SELECT date_trunc('week', CAST(ts AS DATE)) AS wk,
               CAST(hour(ts) // 6 AS BIGINT) AS part,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT w.wk, p.part, coalesce(c.y, 0) AS y
        FROM (SELECT DISTINCT wk FROM cells0) w
        CROSS JOIN (SELECT unnest(range(0, {_PAGE_K})) AS part) p
        LEFT JOIN cells0 c ON c.wk = w.wk AND c.part = p.part
    ), rnk AS (
        SELECT a.wk, a.part,
               CAST(2 * count_if(b.y < a.y)
                    + count_if(b.y = a.y) + 1 AS BIGINT) AS r2
        FROM dense a JOIN dense b ON b.wk = a.wk
        GROUP BY a.wk, a.part, a.y
    ), folds AS (
        SELECT CAST(count(DISTINCT wk) AS BIGINT) AS b,
               CAST(sum((part + 1) * r2) AS BIGINT) AS l2
        FROM rnk
    )
    SELECT b AS n_blocks, CAST({_PAGE_K} AS BIGINT) AS k,
           CAST(l2 / 2.0 AS DOUBLE) AS page_l,
           {sql_q4(f"(l2 - b * {_PAGE_K} * ({_PAGE_K} + 1.0)"
                   f" * ({_PAGE_K} + 1.0) / 2.0)"
                   f" / sqrt(b * {_PAGE_K}.0 * {_PAGE_K}"
                   f" * ({_PAGE_K} + 1.0)"
                   f" * ({_PAGE_K} * {_PAGE_K} - 1.0) / 36.0)")} AS z,
           (l2 - b * {_PAGE_K} * ({_PAGE_K} + 1.0) * ({_PAGE_K} + 1.0) / 2.0)
               / sqrt(b * {_PAGE_K}.0 * {_PAGE_K} * ({_PAGE_K} + 1.0)
                 * ({_PAGE_K} * {_PAGE_K} - 1.0) / 36.0) > {_PAGE_Z_CRIT}
               AS increasing_through_day
    FROM folds
    """,
)
def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative over the week ×
    day-part layout (night < morning < afternoon < evening): L =
    Σ_j j·R_j over within-block ranks, z-standardized with E[L] =
    b·k(k+1)²/4 and Var[L] = b·k²(k+1)(k²-1)/144 — the test to run
    when the hypothesis is a MONOTONE ordering of treatments
    (activity rising through the day), where Friedman/Quade only ask
    'any difference?' and waste power ignoring the order.

    Exactness: within-block mid-ranks carry doubled (2m = 2·#less +
    #eq + 1) so L2 = 2L folds as an exact BIGINT; the z expression
    absorbs the 2 (E and sd scale with it) and is one fixed double.

    Scale shape: one hash aggregate to the |weeks|×4 dense grid, a
    4-row within-block self-join, one fold."""
    e = table(spark, sf_dir, "events")
    cells0 = e.groupBy(
        F.date_trunc("week", F.to_date("ts")).alias("wk"),
        (F.hour("ts") / 6).cast("long").alias("part"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")).localCheckpoint(eager=False)
    wks = cells0.select("wk").distinct()
    parts = spark.range(_PAGE_K).select(F.col("id").cast("long").alias("part"))
    dense = (
        wks.crossJoin(F.broadcast(parts))
        .join(cells0, ["wk", "part"], "left")
        .select("wk", "part", F.coalesce(F.col("y"), F.lit(0)).alias("y")).localCheckpoint(eager=False)
    )
    a = dense.select(
        F.col("wk").alias("awk"), F.col("part").alias("apart"), F.col("y").alias("ay")
    )
    b = dense.select(F.col("wk").alias("bwk"), F.col("y").alias("by"))
    rnk = (
        a.join(b, F.col("bwk") == F.col("awk"))
        .groupBy("awk", "apart", "ay")
        .agg(
            (
                2 * F.count_if(F.col("by") < F.col("ay"))
                + F.count_if(F.col("by") == F.col("ay"))
                + 1
            )
            .cast("long")
            .alias("r2")
        )
    )
    folds = rnk.agg(
        F.count_distinct("awk").cast("long").alias("b"),
        F.sum((F.col("apart") + 1) * F.col("r2")).cast("long").alias("l2"),
    )
    k = float(_PAGE_K)
    e_l2 = F.col("b") * k * (k + 1.0) * (k + 1.0) / 2.0
    sd_l2 = F.sqrt(
        F.col("b") * k * k * (k + 1.0) * (k * k - 1.0) / 36.0
    )
    z = (F.col("l2") - e_l2) / sd_l2
    return folds.select(
        F.col("b").alias("n_blocks"),
        F.lit(_PAGE_K).cast("long").alias("k"),
        (F.col("l2") / 2.0).cast("double").alias("page_l"),
        q4(z).alias("z"),
        (z > float(_PAGE_Z_CRIT)).alias("increasing_through_day"),
    )


# -------------------------------------- round-9 wave K: diagnostics


@register(
    "stat_vif",
    oracle=f"""
    WITH t AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s2,
               CAST(sum(CAST(floor(l_tax*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s3,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT)
                   * CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s22,
               CAST(sum(CAST(floor(l_tax*100 + 0.5) AS BIGINT)
                   * CAST(floor(l_tax*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s33,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_discount*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s12,
               CAST(sum(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_tax*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s13,
               CAST(sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT)
                   * CAST(floor(l_tax*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS s23
        FROM lineitem
    ), r AS (
        SELECT n,
               (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*s2/n)
                 / sqrt((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n)
                      * (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n))
                   AS r12,
               (CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE)*s3/n)
                 / sqrt((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n)
                      * (CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE)*s3/n))
                   AS r13,
               (CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE)*s3/n)
                 / sqrt((CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n)
                      * (CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE)*s3/n))
                   AS r23
        FROM t
    ), v AS (
        SELECT n, r12, r13, r23,
               1.0 - r12*r12 - r13*r13 - r23*r23 + 2.0*r12*r13*r23 AS detr
        FROM r
    )
    SELECT n,
           {sql_q4("r12")} AS r_qty_disc, {sql_q4("r13")} AS r_qty_tax,
           {sql_q4("r23")} AS r_disc_tax,
           {sql_q4("(1.0 - r23*r23) / detr")} AS vif_qty,
           {sql_q4("(1.0 - r13*r13) / detr")} AS vif_disc,
           {sql_q4("(1.0 - r12*r12) / detr")} AS vif_tax,
           greatest((1.0 - r23*r23) / detr, (1.0 - r13*r13) / detr,
                    (1.0 - r12*r12) / detr) > 5.0 AS collinearity_flag
    FROM v
    """,
)
def stat_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the three-feature design
    (quantity, discount, tax): VIF_j = 1/(1-R²_j) where R²_j regresses
    feature j on the other two — via the closed 3×3 identity VIF_j =
    (1 - r_kl²)/det(R) with det(R) = 1 - r12² - r13² - r23² +
    2·r12·r13·r23 — the pre-flight multicollinearity check every
    regression (ml_ridge_closed_form, stat_linreg_multi) should read
    first; VIF > 5 flags coefficients whose signs/magnitudes are
    unstable.

    Exactness: nine exact integer sufficient sums in one pass (all
    within int64 — the largest is cents² × rows ~ 1e8·n), three
    correlations and the determinant identity as fixed doubles.

    Scale shape at 100 TB: ONE hash-aggregate pass, single-row
    output."""
    li = table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("long")
    x2 = cents(F.col("l_discount"))
    x3 = cents(F.col("l_tax"))
    t = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("long").alias("s1"),
        F.sum(x2).cast("long").alias("s2"),
        F.sum(x3).cast("long").alias("s3"),
        F.sum(x1 * x1).cast("long").alias("s11"),
        F.sum(x2 * x2).cast("long").alias("s22"),
        F.sum(x3 * x3).cast("long").alias("s33"),
        F.sum(x1 * x2).cast("long").alias("s12"),
        F.sum(x1 * x3).cast("long").alias("s13"),
        F.sum(x2 * x3).cast("long").alias("s23"),
    )
    n = F.col("n").cast("double")

    def _c(sxy, sx, sy, sxx, syy) -> Column:
        return (
            F.col(sxy).cast("double") - F.col(sx).cast("double") * F.col(sy) / n
        ) / F.sqrt(
            (F.col(sxx).cast("double") - F.col(sx).cast("double") * F.col(sx) / n)
            * (F.col(syy).cast("double") - F.col(sy).cast("double") * F.col(sy) / n)
        )

    r12 = _c("s12", "s1", "s2", "s11", "s22")
    r13 = _c("s13", "s1", "s3", "s11", "s33")
    r23 = _c("s23", "s2", "s3", "s22", "s33")
    detr = 1.0 - r12 * r12 - r13 * r13 - r23 * r23 + 2.0 * r12 * r13 * r23
    v1 = (1.0 - r23 * r23) / detr
    v2 = (1.0 - r13 * r13) / detr
    v3 = (1.0 - r12 * r12) / detr
    return t.select(
        "n",
        q4(r12).alias("r_qty_disc"),
        q4(r13).alias("r_qty_tax"),
        q4(r23).alias("r_disc_tax"),
        q4(v1).alias("vif_qty"),
        q4(v2).alias("vif_disc"),
        q4(v3).alias("vif_tax"),
        (F.greatest(v1, v2, v3) > 5.0).alias("collinearity_flag"),
    )


@register(
    "stat_ridit",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events
    ), grid AS (
        SELECT v, CAST(count(*) AS BIGINT) AS t
        FROM ev GROUP BY v
    ), ref AS (
        SELECT v, t,
               CAST(coalesce(sum(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS below,
               CAST(sum(t) OVER () AS BIGINT) AS n_ref
        FROM grid
    ), scored AS (
        -- 2*N_ref*ridit(v) = 2*below + t is an exact integer
        SELECT e.event_type, 2*r.below + r.t AS rid2n, r.n_ref
        FROM ev e JOIN ref r USING (v)
    ), per AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(rid2n) AS BIGINT) AS s2n,
               max(n_ref) AS n_ref
        FROM scored GROUP BY event_type
    )
    SELECT event_type, n_g,
           {sql_q4("CAST(s2n AS DOUBLE) / (2.0 * n_ref * n_g)")}
               AS mean_ridit,
           {sql_q4("(CAST(s2n AS DOUBLE) / (2.0 * n_ref * n_g) - 0.5)"
                   " / sqrt(1.0 / (12.0 * n_g))")} AS z,
           abs((CAST(s2n AS DOUBLE) / (2.0 * n_ref * n_g) - 0.5)
               / sqrt(1.0 / (12.0 * n_g))) > {Z_CRIT} AS shifted
    FROM per
    """,
)
def stat_ridit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridit analysis (Bross 1958) of each event type's value
    distribution against the pooled reference: ridit(v) = P(ref < v)
    + ½P(ref = v), so the mean ridit is P(group > ref) + ½P(=) — a
    direct probability statement ('55% of this group's values beat a
    random reference value') that chi-square cells can't give for
    ORDINAL data; z uses the Var = 1/(12n) null approximation.

    Exactness: 2·N_ref·ridit = 2·below + t is an exact integer on the
    cents grid (one bucketed prefix), so group sums fold exactly and
    the mean/z are one double expression per group.

    Scale shape: one hash aggregate to the grid, ONE prefix pass, a
    grid-sized equi-join back to rows, one |types|-row aggregate."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    ).persist()
    grid = ev.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("t")).localCheckpoint(eager=False)
    cum = global_ordered(
        grid,
        [F.col("v")],
        bucket_key="v",
        sums={"t": "cumt"},
        rank_col=None,
    ).localCheckpoint(eager=False)
    n_ref = grid.agg(F.sum("t").cast("long").alias("n_ref"))
    ref = cum.select(
        "v", "t", (F.col("cumt") - F.col("t")).alias("below")
    )
    scored = ev.join(ref, "v").select(
        "event_type", (2 * F.col("below") + F.col("t")).alias("rid2n")
    )
    per = (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("rid2n").cast("long").alias("s2n"),
        )
        .crossJoin(F.broadcast(n_ref))
    )
    mean_r = F.col("s2n").cast("double") / (2.0 * F.col("n_ref") * F.col("n_g"))
    z = (mean_r - 0.5) / F.sqrt(1.0 / (12.0 * F.col("n_g")))
    return per.select(
        "event_type",
        "n_g",
        q4(mean_r).alias("mean_ridit"),
        q4(z).alias("z"),
        (F.abs(z) > float(Z_CRIT)).alias("shifted"),
    )


_GT_Q = 1_000_000_000_000


@register(
    "stat_g_test",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) <= DATE '{PSI_SPLIT}'
                    THEN 0 ELSE 1 END AS half,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), marg AS (
        SELECT c.event_type, c.half, c.o,
               r.rt, h.ht, t.n
        FROM cells c
        JOIN (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
              FROM cells GROUP BY 1) r USING (event_type)
        JOIN (SELECT half, CAST(sum(o) AS BIGINT) AS ht
              FROM cells GROUP BY 1) h USING (half)
        CROSS JOIN (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells) t
    ), fold AS (
        SELECT CAST(sum(o * CAST(floor(ln(CAST(o AS DOUBLE) * n
                   / (CAST(rt AS DOUBLE) * ht)) * {_GT_Q} + 0.5)
                   AS BIGINT)) AS BIGINT) AS gq,
               CAST(count(*) AS BIGINT) AS n_cells,
               max(n) AS n
        FROM marg WHERE o > 0
    )
    SELECT n, n_cells,
           {sql_q4(f"2.0 * gq / {_GT_Q}")} AS g_stat,
           2.0 * gq / {_GT_Q} > {CHI2_CRIT_DF4} AS dependent
    FROM fold
    """,
)
def stat_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence for the event-
    type × calendar-half table: G = 2·Σ O·ln(O·N/(R·C)) ~ χ²(df) —
    the information-theoretic counterpart of stat_chi2_test that is
    ADDITIVE across table partitions (G of a merged table = sum of
    component G's plus the between-table G), which is why it is the
    right test to compute distributed and roll up; Pearson's X² has
    no such decomposition. Zero cells contribute 0 by the O·ln(O)
    convention.

    Exactness: observed and marginal counts are exact; each cell's
    ln term quantizes at 1e-12 and is weighted by the integer O
    before the ≤10-term fold.

    Scale shape: one hash aggregate to the 5×2 cell table, two
    broadcast marginal joins, one fold."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.when(F.to_date("ts") <= F.lit(PSI_SPLIT), 0).otherwise(1).alias("half"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o")).localCheckpoint(eager=False)
    rmarg = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("rt")
    )
    hmarg = cells.groupBy("half").agg(F.sum("o").cast("long").alias("ht"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    marg = (
        cells.join(F.broadcast(rmarg), "event_type")
        .join(F.broadcast(hmarg), "half")
        .crossJoin(F.broadcast(tot))
    )
    term = F.floor(
        F.log(
            F.col("o").cast("double")
            * F.col("n")
            / (F.col("rt").cast("double") * F.col("ht"))
        )
        * _GT_Q
        + F.lit(0.5)
    ).cast("long")
    fold = marg.where(F.col("o") > 0).agg(
        F.sum(F.col("o") * term).cast("long").alias("gq"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("n").alias("n"),
    )
    g = 2.0 * F.col("gq") / _GT_Q
    return fold.select(
        "n",
        "n_cells",
        q4(g).alias("g_stat"),
        (g > float(CHI2_CRIT_DF4)).alias("dependent"),
    )


_BD_Q = 1_000_000_000
_CHI2_CRIT_DF6 = "12.592"


@register(
    "stat_breslow_day",
    oracle=f"""
    WITH base AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS stratum,
               CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS exposed,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
        FROM events
    ), cells AS (
        SELECT stratum,
               CAST(count_if(exposed = 1 AND outc = 1) AS BIGINT) AS a,
               CAST(count_if(exposed = 1 AND outc = 0) AS BIGINT) AS b,
               CAST(count_if(exposed = 0 AND outc = 1) AS BIGINT) AS c,
               CAST(count_if(exposed = 0 AND outc = 0) AS BIGINT) AS d
        FROM base GROUP BY stratum
    ), mh AS (
        SELECT CAST(sum(CAST(floor(CAST(a AS DOUBLE) * d / (a + b + c + d)
                    * {_BD_Q} + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(sum(CAST(floor(CAST(b AS DOUBLE) * c / (a + b + c + d)
                    * {_BD_Q} + 0.5) AS BIGINT)) AS DOUBLE) AS psi
        FROM cells
    ), fitted AS (
        SELECT stratum, a,
               (psi*(a + b + a + c) + ((a+b+c+d) - (a+b) - (a+c)))
                   AS bq,
               psi, CAST(a + b AS DOUBLE) AS r, CAST(a + c AS DOUBLE) AS cc,
               CAST(a + b + c + d AS DOUBLE) AS nn
        FROM cells CROSS JOIN mh
    ), roots AS (
        SELECT stratum, a, psi, r, cc, nn,
               (bq - sqrt(bq*bq - 4.0*(psi - 1.0)*psi*r*cc))
                   / (2.0*(psi - 1.0)) AS e_a
        FROM fitted
    ), terms AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(CAST(floor(pow(a - e_a, 2)
                   / (1.0/(1.0/e_a + 1.0/(r - e_a) + 1.0/(cc - e_a)
                      + 1.0/(nn - r - cc + e_a)))
                   * {_BD_Q} + 0.5) AS BIGINT)) AS BIGINT) AS bdq
        FROM roots
    )
    SELECT n_strata, {sql_q4("(SELECT psi FROM mh)")} AS or_mh,
           {sql_q4(f"CAST(bdq AS DOUBLE) / {_BD_Q}")} AS bd_stat,
           CAST(bdq AS DOUBLE) / {_BD_Q} > {_CHI2_CRIT_DF6}
               AS heterogeneous
    FROM terms
    """,
)
def stat_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day homogeneity test for the weekday-stratified odds
    ratios behind stat_mantel_haenszel: under the common OR ψ (the MH
    estimate), each stratum's expected a-cell is the root of the
    quadratic ψ(r-A)(c-A) = A(N-r-c+A) — CLOSED FORM, the minus root
    is the admissible one — and BD = Σ (a-Ã)²·[1/Ã + 1/(r-Ã) +
    1/(c-Ã) + 1/(N-r-c+Ã)] ~ χ²(K-1). MH answers 'what is the pooled
    OR?'; Breslow-Day answers 'is pooling even legitimate?' — the
    pair is how stratified association is actually reported.

    Exactness: exact integer 2×2 cells per stratum; ψ from the same
    1e-9-quantized MH folds; the quadratic root, variance and
    per-stratum term are one fixed double expression, quantized at
    1e-9 before the 7-row fold.

    Scale shape: one hash aggregate to 7 strata, a broadcast 1-row ψ,
    closed form per stratum."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        F.expr("((dayofweek(ts) + 5) % 7) + 1").alias("stratum"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("exposed"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("outc"),
    )
    cells = base.groupBy("stratum").agg(
        F.count_if((F.col("exposed") == 1) & (F.col("outc") == 1))
        .cast("long")
        .alias("a"),
        F.count_if((F.col("exposed") == 1) & (F.col("outc") == 0))
        .cast("long")
        .alias("b"),
        F.count_if((F.col("exposed") == 0) & (F.col("outc") == 1))
        .cast("long")
        .alias("c"),
        F.count_if((F.col("exposed") == 0) & (F.col("outc") == 0))
        .cast("long")
        .alias("d"),
    )
    ntot = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    mh = cells.agg(
        (
            F.sum(
                F.floor(
                    F.col("a").cast("double") * F.col("d") / ntot * _BD_Q + 0.5
                ).cast("long")
            ).cast("double")
            / F.sum(
                F.floor(
                    F.col("b").cast("double") * F.col("c") / ntot * _BD_Q + 0.5
                ).cast("long")
            ).cast("double")
        ).alias("psi")
    )
    j = cells.crossJoin(F.broadcast(mh))
    r = (F.col("a") + F.col("b")).cast("double")
    cc = (F.col("a") + F.col("c")).cast("double")
    nn = ntot.cast("double")
    bq = F.col("psi") * (r + cc) + (nn - r - cc)
    e_a = (
        bq - F.sqrt(bq * bq - 4.0 * (F.col("psi") - 1.0) * F.col("psi") * r * cc)
    ) / (2.0 * (F.col("psi") - 1.0))
    vinv = (
        1.0 / e_a
        + 1.0 / (r - e_a)
        + 1.0 / (cc - e_a)
        + 1.0 / (nn - r - cc + e_a)
    )
    term = F.floor(
        F.pow(F.col("a") - e_a, 2) / (1.0 / vinv) * _BD_Q + 0.5
    ).cast("long")
    terms = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(term).cast("long").alias("bdq"),
    )
    bd = F.col("bdq").cast("double") / _BD_Q
    return terms.crossJoin(F.broadcast(mh)).select(
        "n_strata",
        q4(F.col("psi")).alias("or_mh"),
        q4(bd).alias("bd_stat"),
        (bd > float(_CHI2_CRIT_DF6)).alias("heterogeneous"),
    )


# -------------------------------- round-9 wave O: randomness checks


@register(
    "stat_runs_up_down",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), diffs AS (
        SELECT a.t,
               CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM ranked a JOIN ranked b ON b.t = a.t + 1
    ), nz AS (
        -- classical treatment: drop ties, then count sign changes
        SELECT sgn, row_number() OVER (ORDER BY t) AS i
        FROM diffs WHERE sgn <> 0
    ), runs AS (
        -- runs = 1 + sign changes; the first row's NULL comparison is
        -- excluded by count_if on both engines
        SELECT 1 + CAST(count_if(NOT same) AS BIGINT) AS r,
               CAST(count(*) AS BIGINT) + 1 AS n
        FROM (
            SELECT sgn = lag(sgn) OVER (ORDER BY i) AS same FROM nz
        )
    )
    SELECT n, r AS n_runs,
           {sql_q4("(2.0 * n - 1.0) / 3.0")} AS expected_runs,
           {sql_q4("(r - (2.0 * n - 1.0) / 3.0)"
                   " / sqrt((16.0 * n - 29.0) / 90.0)")} AS z,
           abs((r - (2.0 * n - 1.0) / 3.0)
               / sqrt((16.0 * n - 29.0) / 90.0)) > {Z_CRIT}
               AS nonrandom
    FROM runs
    """,
)
def stat_runs_up_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-up-and-down randomness test of the daily event-count
    series: count maximal monotone runs in the SIGN of successive
    differences (ties dropped, the classical rule) and compare with
    E[R] = (2n-1)/3, Var[R] = (16n-29)/90 — sensitive to
    oscillation/momentum structure that stat_runs_test's
    above/below-median runs (which exist separately) cannot see,
    because it looks at local moves, not levels.

    Exactness: signs, run counts and n are exact integers from the
    day grid (a ``lead`` over the days and one lag over the
    nonzero-sign sequence); the z is one double expression.

    Scale shape: one hash aggregate to days, two unpartitioned windows
    over that calendar-bounded grid in the same day order (one sort;
    census-allowlisted), one fold."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w = Window.orderBy("day")
    y_next = F.lead("y").over(w)
    diffs = daily.select(
        "day",
        F.when(y_next > F.col("y"), 1)
        .when(y_next < F.col("y"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    nz = diffs.where(F.col("sgn") != 0)
    seq = nz.select(
        "sgn", (F.col("sgn") == F.lag("sgn").over(w)).alias("same")
    )
    runs = seq.agg(
        (1 + F.count_if(~F.col("same"))).cast("long").alias("r"),
        (F.count(F.lit(1)) + 1).cast("long").alias("n"),
    )
    n = F.col("n").cast("double")
    z = (F.col("r") - (2.0 * n - 1.0) / 3.0) / F.sqrt((16.0 * n - 29.0) / 90.0)
    return runs.select(
        "n",
        F.col("r").alias("n_runs"),
        q4((2.0 * n - 1.0) / 3.0).alias("expected_runs"),
        q4(z).alias("z"),
        (F.abs(z) > float(Z_CRIT)).alias("nonrandom"),
    )


_EB_Q = 1_000_000_000


@register(
    "stat_empirical_bayes_rates",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS k
        FROM events GROUP BY user_id
    ), rq AS (
        SELECT n, k,
               CAST(floor(CAST(k AS DOUBLE) / n * {_EB_Q} + 0.5) AS BIGINT)
                   AS pq
        FROM per_user
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(pq) AS BIGINT) AS sp,
               CAST(sum(CAST(pq AS HUGEINT) * pq) AS HUGEINT) AS spp,
               CAST(sum(n) AS BIGINT) AS sn
        FROM rq
    ), par AS (
        -- beta-binomial method of moments on the rate distribution:
        -- mu = mean rate, v = rate variance; alpha+beta = mu(1-mu)/v - 1
        SELECT m, sn,
               CAST(sp AS DOUBLE) / {_EB_Q} / m AS mu,
               (CAST(spp AS DOUBLE) / {_EB_Q} / {_EB_Q}
                 - CAST(sp AS DOUBLE) * sp / {_EB_Q} / {_EB_Q} / m) / m AS v
        FROM mom
    ), ab AS (
        SELECT m, sn, mu, v,
               mu * (mu * (1.0 - mu) / v - 1.0) AS alpha,
               (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0) AS beta
        FROM par
    ), shrunk AS (
        SELECT CAST(sum(CAST(floor((k + alpha) / (n + alpha + beta)
                   * {_EB_Q} + 0.5) AS BIGINT)) AS BIGINT) AS ssq,
               CAST(sum(CAST(floor(pow((k + alpha) / (n + alpha + beta)
                     - mu, 2) * {_EB_Q} + 0.5) AS BIGINT)) AS BIGINT)
                   AS svq
        FROM rq CROSS JOIN ab
    )
    SELECT m AS n_users, {sql_q4("mu")} AS mean_rate,
           {sql_q4("alpha")} AS alpha, {sql_q4("beta")} AS beta,
           {sql_q4(f"CAST(ssq AS DOUBLE) / {_EB_Q} / m")}
               AS mean_shrunk_rate,
           {sql_q4(f"(CAST(svq AS DOUBLE) / {_EB_Q} / m) / v")}
               AS variance_ratio
    FROM shrunk CROSS JOIN ab
    """,
)
def stat_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates under a
    beta-binomial prior fit by method of moments: α+β = μ(1-μ)/v - 1
    from the observed rate mean/variance, then each user's rate
    shrinks to (k+α)/(n+α+β) — the James-Stein-style pooling that
    stops a 1-for-2 user from outranking a 90-for-200 user in any
    downstream top-k, which the raw k/n ranking gets embarrassingly
    wrong. The variance_ratio (shrunk/raw rate variance < 1)
    quantifies how much ranking noise the prior removed.

    Exactness: per-user rates and shrunken rates quantize at 1e-9
    (folds in decimal(38,0)/HUGEINT for the squares); the MoM
    parameters are one fixed double expression from those folds.

    Scale shape at 100 TB: one hash aggregate to users, one 1-row
    MoM frame broadcast back, one shrinkage fold — no sort, no
    windows."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("event_type") == "purchase").cast("long").alias("k"),
    )
    rq = per_user.select(
        "n",
        "k",
        F.floor(F.col("k").cast("double") / F.col("n") * _EB_Q + 0.5)
        .cast("long")
        .alias("pq"),
    )
    mom = rq.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("pq").cast("long").alias("sp"),
        F.sum(F.col("pq").cast(dec) * F.col("pq")).alias("spp"),
        F.sum("n").cast("long").alias("sn"),
    )
    mu = F.col("sp").cast("double") / _EB_Q / F.col("m")
    v = (
        F.col("spp").cast("double") / _EB_Q / _EB_Q
        - F.col("sp").cast("double") * F.col("sp") / _EB_Q / _EB_Q / F.col("m")
    ) / F.col("m")
    ab = mom.select(
        "m",
        "sn",
        mu.alias("mu"),
        v.alias("v"),
        (mu * (mu * (1.0 - mu) / v - 1.0)).alias("alpha"),
        ((1.0 - mu) * (mu * (1.0 - mu) / v - 1.0)).alias("beta"),
    )
    shrunk_rate = (F.col("k") + F.col("alpha")) / (
        F.col("n") + F.col("alpha") + F.col("beta")
    )
    shrunk = rq.crossJoin(F.broadcast(ab)).agg(
        F.sum(F.floor(shrunk_rate * _EB_Q + 0.5).cast("long"))
        .cast("long")
        .alias("ssq"),
        F.sum(
            F.floor(F.pow(shrunk_rate - F.col("mu"), 2) * _EB_Q + 0.5).cast(
                "long"
            )
        )
        .cast("long")
        .alias("svq"),
    )
    return shrunk.crossJoin(F.broadcast(ab)).select(
        F.col("m").alias("n_users"),
        q4(F.col("mu")).alias("mean_rate"),
        q4(F.col("alpha")).alias("alpha"),
        q4(F.col("beta")).alias("beta"),
        q4(F.col("ssq").cast("double") / _EB_Q / F.col("m")).alias(
            "mean_shrunk_rate"
        ),
        q4(
            (F.col("svq").cast("double") / _EB_Q / F.col("m")) / F.col("v")
        ).alias("variance_ratio"),
    )


# ------------------------------------------------------------------
# Wald sequential probability ratio test (r10)

_SPRT_P0 = "0.20"  # H0 conversion rate (≈ the uniform 5-type share)
_SPRT_P1 = "0.30"  # H1 conversion rate
_SPRT_LN19 = "2.9444389791664403"  # ln(19) = ln((1-0.05)/0.05), A = +, B = -


@register(
    "stat_sprt_ab",
    oracle=f"""
    WITH seq AS (
        SELECT event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
               CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) AS rk,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (ORDER BY event_id) AS BIGINT) AS cum_x
        FROM events
    ), llr AS (
        SELECT rk, cum_x,
               cum_x * ln({_SPRT_P1} / {_SPRT_P0})
                 + (rk - cum_x) * ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0}))
                   AS llr
        FROM seq
    ), agg AS (
        SELECT CAST(max(rk) AS BIGINT) AS n_total,
               CAST(max(cum_x) AS BIGINT) AS x_total,
               CAST(min(CASE WHEN llr >= {_SPRT_LN19} THEN rk END) AS BIGINT)
                   AS n_hi,
               CAST(min(CASE WHEN llr <= -{_SPRT_LN19} THEN rk END) AS BIGINT)
                   AS n_lo
        FROM llr
    ), dec AS (
        SELECT n_total, x_total,
               CASE
                 WHEN n_hi IS NOT NULL AND (n_lo IS NULL OR n_hi <= n_lo)
                   THEN 'accept_h1'
                 WHEN n_lo IS NOT NULL THEN 'accept_h0'
                 ELSE 'continue' END AS decision,
               COALESCE(LEAST(n_hi, n_lo), n_hi, n_lo, n_total) AS n_report
        FROM agg
    )
    SELECT d.n_total, d.x_total, d.decision,
           d.n_report AS n_decision,
           {sql_q4("l.llr")} AS llr_at_decision
    FROM dec d JOIN llr l ON l.rk = d.n_report
    """,
)
def stat_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test on the event stream:
    H0: P(purchase) = 0.20 vs H1: P(purchase) = 0.30, observations
    ordered by event_id. The running log-likelihood ratio
    LLR_n = x_n·ln(p1/p0) + (n−x_n)·ln(q1/q0) stops at the first
    crossing of ±ln(19) (α = β = 0.05); the output is the single
    decision row — total stream size, the decision, the sample size
    the test SEQUENTIALLY stopped at, and the LLR there. SPRT is the
    canonical always-valid A/B stopping rule: it needs ~half the
    samples of the fixed-horizon z-test at the same error rates.

    Scale shape: the global conversion prefix comes from the bucketed
    prefix machine (``global_ordered`` — never a single-partition
    window), the crossing scan is one conditional-min aggregate over
    it, and the LLR at the stop index is recovered with a broadcast
    join of the 1-row decision frame back to the ranked stream. At
    100 TB the stream ranks once and everything after is metadata."""
    e = table(spark, sf_dir, "events")
    seq = e.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("x"),
    ).persist()
    ranked = global_ordered(
        seq,
        [F.col("event_id")],
        bucket_key="event_id",
        sums={"x": "cum_x"},
        rank_col="rk",
    ).localCheckpoint(eager=False)
    p0, p1 = float(_SPRT_P0), float(_SPRT_P1)
    l1 = math.log(p1 / p0)
    l0 = math.log((1.0 - p1) / (1.0 - p0))
    ln19 = float(_SPRT_LN19)
    llr = ranked.select(
        "rk",
        "cum_x",
        (F.col("cum_x") * F.lit(l1) + (F.col("rk") - F.col("cum_x")) * F.lit(l0)).alias(
            "llr"
        ),
    )
    agg = llr.agg(
        F.max("rk").cast("long").alias("n_total"),
        F.max("cum_x").cast("long").alias("x_total"),
        F.min(F.when(F.col("llr") >= ln19, F.col("rk"))).cast("long").alias("n_hi"),
        F.min(F.when(F.col("llr") <= -ln19, F.col("rk"))).cast("long").alias("n_lo"),
    )
    dec = agg.select(
        "n_total",
        "x_total",
        F.when(
            F.col("n_hi").isNotNull()
            & (F.col("n_lo").isNull() | (F.col("n_hi") <= F.col("n_lo"))),
            F.lit("accept_h1"),
        )
        .when(F.col("n_lo").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.coalesce(
            F.least("n_hi", "n_lo"), F.col("n_hi"), F.col("n_lo"), F.col("n_total")
        ).alias("n_report"),
    )
    return llr.join(F.broadcast(dec), llr["rk"] == dec["n_report"]).select(
        "n_total",
        "x_total",
        "decision",
        F.col("n_report").alias("n_decision"),
        q4(F.col("llr")).alias("llr_at_decision"),
    )


# ------------------------------------------------------------------
# Holm step-down multiple-testing correction (r10)

_HOLM_P0 = "0.25"  # null evening share: hours 18-23 of a uniform day


@register(
    "stat_holm_stepdown",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(EXTRACT(hour FROM ts) >= 18) AS BIGINT)
                   AS x_evening
        FROM events GROUP BY event_type
    ), z AS (
        SELECT event_type, n, x_evening,
               (CAST(x_evening AS DOUBLE) / n - {_HOLM_P0})
                 / sqrt({_HOLM_P0} * (1.0 - {_HOLM_P0}) / n) AS zval,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM g
    ), r AS (
        SELECT event_type, n, x_evening, zval, m,
               CAST(rank() OVER (ORDER BY abs(zval) DESC, event_type)
                    AS BIGINT) AS rk
        FROM z
    ), t AS (
        SELECT event_type, n, x_evening, zval, rk,
               {_sql_qnorm_upper("1.0 - 0.025 / (m - rk + 1.0)")} AS thr
        FROM r
    )
    SELECT event_type, n, x_evening,
           {sql_q4("zval")} AS z_stat, rk,
           {sql_q4("thr")} AS z_crit,
           CAST(min(CASE WHEN abs(zval) >= thr THEN 1 ELSE 0 END)
                OVER (ORDER BY rk) AS BOOLEAN) AS rejected_holm
    FROM t
    """,
)
def stat_holm_stepdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down (Bonferroni-Holm) multiple-testing correction
    over the per-event-type evening-share z-tests (H0: share of
    events in hours 18-23 equals the uniform 0.25; familywise
    α = 0.05 two-sided). Hypotheses are ranked by |z| descending and
    the i-th is tested at α/(m−i+1); the step-down STOPS at the first
    failure — later hypotheses stay unrejected even past their own
    threshold — expressed exactly as a running boolean min over the
    rank order. Per-rank critical values come from the shared Acklam
    inverse-normal literals, so both engines evaluate the identical
    rational approximation (complements stat_benjamini_hochberg's
    step-up FDR with the FWER-controlling step-down).

    Scale shape: ONE conditional aggregate over events to m =
    |event_type| rows; every window after that is over the
    domain-bounded hypothesis family (5 rows), never the data."""
    e = table(spark, sf_dir, "events")
    p0 = float(_HOLM_P0)
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.hour("ts") >= 18).cast("long").alias("x_evening"),
    )
    zval = (F.col("x_evening").cast("double") / F.col("n") - p0) / F.sqrt(
        F.lit(p0 * (1.0 - p0)) / F.col("n")
    )
    z = g.select("event_type", "n", "x_evening", zval.alias("zval")).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    r = z.withColumn(
        "rk",
        F.rank()
        .over(Window.orderBy(F.abs(F.col("zval")).desc(), F.col("event_type")))
        .cast("long"),
    )
    t = r.withColumn(
        "thr", _qnorm_upper(1.0 - 0.025 / (F.col("m") - F.col("rk") + 1.0))
    )
    return t.select(
        "event_type",
        "n",
        "x_evening",
        q4(F.col("zval")).alias("z_stat"),
        "rk",
        q4(F.col("thr")).alias("z_crit"),
        F.min(F.when(F.abs(F.col("zval")) >= F.col("thr"), 1).otherwise(0))
        .over(Window.orderBy("rk"))
        .cast("boolean")
        .alias("rejected_holm"),
    )


# ------------------------------------------------------------------
# Pettitt change-point test (r10)


@register(
    "stat_pettitt",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ranked AS (
        SELECT day, x,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(2 * rank() OVER (ORDER BY x)
                    + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
        FROM daily
    ), u AS (
        SELECT t,
               CAST(sum(r2) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - t * (n + 1) AS BIGINT) AS u_t
        FROM ranked, n_
    ), k AS (
        SELECT CAST(max(abs(u_t)) AS BIGINT) AS k_stat,
               CAST(min(CASE WHEN abs(u_t) = (SELECT max(abs(u_t)) FROM u)
                             THEN t END) AS BIGINT) AS t_change
        FROM u WHERE t < (SELECT n FROM n_)
    )
    SELECT k.t_change, k.k_stat, n_.n,
           {sql_q4("2.0 * exp(-6.0 * k.k_stat * k.k_stat"
                   " / (CAST(n_.n AS DOUBLE)*n_.n*n_.n + n_.n*n_.n))")}
               AS p_approx,
           (2.0 * exp(-6.0 * k.k_stat * k.k_stat
                / (CAST(n_.n AS DOUBLE)*n_.n*n_.n + n_.n*n_.n)) < 0.05)
               AS rejected
    FROM k, n_
    """,
)
def stat_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt non-parametric change-point test on the daily
    event-count series: U_t = Σ_{{i≤t}} Σ_{{j>t}} sgn(x_i − x_j),
    K = max_t |U_t| over t < n, the split day at the max (earliest on
    ties) and the classic approximation p ≈ 2·exp(−6K²/(n³+n²)).
    Rank-based and distribution-free — the standard 'did the level
    shift, and when' readout (complements stat_cusum's parametric
    chart and stat_mann_kendall's monotone trend).

    Exactness: the double sum collapses by the midrank identity
    U_t = Σ_{{i≤t}} R2_i − t(n+1), where R2_i = 2·rank + ties − 1 is
    TWICE the midrank — so every U_t is an exact BIGINT (sgn ties
    contribute zero exactly), and only the final p-value touches
    doubles. Scale shape: one hash aggregate to the calendar-bounded
    daily grid; every window after that is metadata-sized."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ).localCheckpoint(eager=False)
    n_ = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_day = Window.orderBy("day")
    w_rank = Window.orderBy("x")
    ranked = daily.select(
        "day",
        "x",
        F.row_number().over(w_day).cast("long").alias("t"),
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(Window.partitionBy("x"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = ranked.crossJoin(F.broadcast(n_)).select(
        "t",
        "n",
        (F.sum("r2").over(w_cum) - F.col("t") * (F.col("n") + 1))
        .cast("long")
        .alias("u_t"),
    )
    interior = u.where(F.col("t") < F.col("n"))
    k = interior.agg(
        F.max(F.abs(F.col("u_t"))).cast("long").alias("k_stat"),
        F.min(F.col("n")).cast("long").alias("n"),
    )
    t_change = (
        interior.join(F.broadcast(k), F.abs(F.col("u_t")) == F.col("k_stat"))
        .agg(F.min("t").cast("long").alias("t_change"))
    )
    nd = F.col("n").cast("double")
    p = 2.0 * F.exp(
        -6.0 * F.col("k_stat") * F.col("k_stat") / (nd * nd * nd + nd * nd)
    )
    return (
        t_change.crossJoin(F.broadcast(k))
        .select(
            "t_change",
            "k_stat",
            "n",
            q4(p).alias("p_approx"),
            (p < 0.05).alias("rejected"),
        )
    )


# ------------------------------------------------------------------
# Gaussian kernel density estimate (r10)

_KDE_GRID = 40  # evaluation grid: lo..hi in 41 steps
_KDE_Q = 1_000_000_000  # 1e-9 fixed point for the kernel-sum fold
_KDE_SQRT2PI = "2.5066282746310002"  # sqrt(2*pi), shared literal


@register(
    "stat_kde_gaussian",
    oracle=f"""
    WITH b AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS nb
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), s AS (
        SELECT CAST(sum(nb) AS BIGINT) AS n,
               CAST(sum(v * nb) AS BIGINT) AS sv,
               CAST(sum(v * v * nb) AS BIGINT) AS svv,
               CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
        FROM b
    ), h AS (
        SELECT n, lo, hi,
               1.06 * sqrt((CAST(svv AS DOUBLE)
                   - CAST(sv AS DOUBLE) * sv / n) / (n - 1)) / 100.0
                 * pow(CAST(n AS DOUBLE), -0.2) AS bw
        FROM s
    ), grid AS (
        SELECT h.n, h.bw,
               CAST(g.i AS BIGINT) AS gi,
               h.lo + (CAST(g.i AS BIGINT) * (h.hi - h.lo)) // {_KDE_GRID}
                   AS xc
        FROM h, UNNEST(range(0, {_KDE_GRID} + 1)) AS g(i)
    ), terms AS (
        SELECT g.gi, g.xc, g.n, g.bw,
               CAST(sum(CAST(floor(b.nb * exp(
                   -((g.xc - b.v) / 100.0 / g.bw)
                    * ((g.xc - b.v) / 100.0 / g.bw) / 2.0)
                   * {_KDE_Q} + 0.5) AS BIGINT)) AS BIGINT) AS ksum
        FROM grid g CROSS JOIN b
        GROUP BY g.gi, g.xc, g.n, g.bw
    )
    SELECT gi AS grid_idx,
           {sql_q4("xc / 100.0")} AS x,
           {sql_q4(f"CAST(ksum AS DOUBLE) / {_KDE_Q}"
                   f" / (n * bw * {_KDE_SQRT2PI})")} AS density
    FROM terms
    """,
)
def stat_kde_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel density estimate of the purchase-value
    distribution on a 41-point evaluation grid, Silverman's
    rule-of-thumb bandwidth h = 1.06·σ̂·n^(−1/5) — the smooth
    histogram every distribution readout wants next to
    agg_histogram's bars.

    Exactness: values bin to exact cents FIRST (one hash aggregate),
    so the kernel sum runs over the value-DOMAIN-bounded bin table,
    not the data; each bin's kernel contribution n_b·K(·) is
    quantized to 1e-9 BIGINTs before summing (the order-free fold
    discipline), and σ̂, h, and the grid points derive from exact
    integer sums (grid x's are exact integer cents via floor
    division). Doubles meet only in identically-parenthesized
    expressions, so the hash is stable at any parallelism.

    Scale shape: one aggregate to cents bins (domain-bounded), a
    41-row grid broadcast, one bins×grid product that is
    bounded×bounded (never data×data), one final aggregate. At
    100 TB only the first aggregate touches the corpus."""
    e = table(spark, sf_dir, "events")
    b = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
        .localCheckpoint(eager=False)
    )
    s = b.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("nb")).cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v") * F.col("nb")).cast("long").alias("svv"),
        F.min("v").cast("long").alias("lo"),
        F.max("v").cast("long").alias("hi"),
    )
    h = s.select(
        "n",
        "lo",
        "hi",
        (
            F.lit(1.06)
            * F.sqrt(
                (
                    F.col("svv").cast("double")
                    - F.col("sv").cast("double") * F.col("sv") / F.col("n")
                )
                / (F.col("n") - 1)
            )
            / 100.0
            * F.pow(F.col("n").cast("double"), F.lit(-0.2))
        ).alias("bw"),
    )
    grid = h.select(
        "n",
        "bw",
        F.explode(F.sequence(F.lit(0), F.lit(_KDE_GRID))).alias("gi0"),
        "lo",
        "hi",
    ).select(
        "n",
        "bw",
        F.col("gi0").cast("long").alias("gi"),
        "lo",
        "hi",
    ).select(
        "n",
        "bw",
        "gi",
        (
            F.col("lo")
            + F.expr(f"(gi * (hi - lo)) div {_KDE_GRID}")
        ).cast("long").alias("xc"),
    )
    z = (F.col("xc") - F.col("v")) / 100.0 / F.col("bw")
    term = F.floor(
        F.col("nb") * F.exp(-z * z / 2.0) * _KDE_Q + 0.5
    ).cast("long")
    terms = (
        grid.join(b)  # bounded grid × domain-bounded bins
        .groupBy("gi", "xc", "n", "bw")
        .agg(F.sum(term).cast("long").alias("ksum"))
    )
    return terms.select(
        F.col("gi").alias("grid_idx"),
        q4(F.col("xc") / 100.0).alias("x"),
        q4(
            F.col("ksum").cast("double")
            / _KDE_Q
            / (F.col("n") * F.col("bw") * float(_KDE_SQRT2PI))
        ).alias("density"),
    )


# ------------------------------------------------------------------
# Hampel filter (r11)

# flag iff |x - med| > 3 * 1.4826 * MAD; in x2-scaled integer units
# (d = |2x - med2|, mad2 = 4*MAD) that is 2*d > 4.4478*mad2, i.e.
# 20000*d > 44478*mad2 — exact BIGINT comparison, no floats anywhere.
_HAMPEL_K_NUM = 44478  # 3 * 1.4826 * 10000
_HAMPEL_K_DEN = 20000  # 2 * 10000


@register(
    "stat_hampel_filter",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), win AS (
        SELECT d, rev_c,
               list_sort(list(rev_c) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS s
        FROM daily
    ), med AS (
        SELECT d, rev_c, s, CAST(len(s) AS BIGINT) AS n,
               CAST(s[CAST((len(s) + 1) // 2 AS INT)]
                    + s[CAST((len(s) + 2) // 2 AS INT)] AS BIGINT) AS med2
        FROM win
    ), mad AS (
        SELECT d, rev_c, n, med2,
               CAST(ds[CAST((len(ds) + 1) // 2 AS INT)]
                    + ds[CAST((len(ds) + 2) // 2 AS INT)] AS BIGINT) AS mad2
        FROM (SELECT *, list_sort(list_transform(s,
                  v -> abs(2*v - med2))) AS ds FROM med)
    )
    SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) / 86400000000 AS BIGINT)
               AS day_n,
           rev_c, n AS n_window, med2, mad2,
           {_HAMPEL_K_DEN} * abs(2*rev_c - med2) > {_HAMPEL_K_NUM} * mad2
               AS is_outlier
    FROM mad
    """,
)
def stat_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier over the daily purchase-revenue series: a
    centered +/-3-day rolling window, exact window median and MAD,
    flag when |x − med| > 3·1.4826·MAD — the robust outlier filter
    that survives the very spikes a rolling z-score gets dragged by
    (the robust companion to events_anomaly_mad's global-MAD key).

    Exactness — the interesting bit: there are NO floats at all.
    Medians use the x2 midrank trick (med2 = s_lo + s_hi), the MAD
    doubles again (mad2 = 4·MAD as |2v − med2| midranks), and the
    1.4826-scaled threshold becomes the integer cross-multiplication
    20000·|2x − med2| > 44478·mad2 — bit-identical on any engine.

    Scale shape: fact rows hash-aggregate to one row per day first
    (map-side combined cents), so the unpartitioned rolling window
    runs over the calendar-bounded daily series (census-allowlisted);
    the 7-element sort inside each row is constant work."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("rev_c"),
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    win = daily.withColumn("s", F.sort_array(F.collect_list("rev_c").over(w)))
    med = win.select(
        "d",
        "rev_c",
        "s",
        F.size("s").cast("long").alias("n"),
        (
            F.element_at("s", ((F.size("s") + 1) / 2).cast("int"))
            + F.element_at("s", ((F.size("s") + 2) / 2).cast("int"))
        ).cast("long").alias("med2"),
    )
    mad = med.withColumn(
        "ds", F.expr("sort_array(transform(s, v -> abs(2*v - med2)))")
    ).select(
        "d",
        "rev_c",
        "n",
        "med2",
        (
            F.element_at("ds", ((F.size("ds") + 1) / 2).cast("int"))
            + F.element_at("ds", ((F.size("ds") + 2) / 2).cast("int"))
        ).cast("long").alias("mad2"),
    )
    return mad.select(
        F.unix_date(F.col("d")).cast("long").alias("day_n"),
        "rev_c",
        F.col("n").alias("n_window"),
        "med2",
        "mad2",
        (
            _HAMPEL_K_DEN * F.abs(2 * F.col("rev_c") - F.col("med2"))
            > _HAMPEL_K_NUM * F.col("mad2")
        ).alias("is_outlier"),
    )


# ------------------------------------------------------------------
# Bradley-Terry preference strengths (r11)

_BT_K = 40  # MM fixed-point iterations (5 items: converged long before)


@register(
    "stat_bradley_terry",
    oracle=f"""
    WITH tc AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), ty AS (
        SELECT a.event_type,
               CAST((SELECT count(*) FROM (SELECT DISTINCT event_type
                     FROM events) b WHERE b.event_type < a.event_type)
                    AS INT) AS i
        FROM (SELECT DISTINCT event_type FROM events) a
    ), dense AS (
        SELECT u.user_id, ty.i, coalesce(tc.c, 0) AS c
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN ty
        LEFT JOIN tc ON tc.user_id = u.user_id
                    AND tc.event_type = ty.event_type
    ), w AS (
        SELECT CASE WHEN a.c > b.c THEN a.i ELSE b.i END AS wi,
               CASE WHEN a.c > b.c THEN b.i ELSE a.i END AS li,
               CAST(count(*) AS BIGINT) AS n
        FROM dense a JOIN dense b
          ON b.user_id = a.user_id AND a.i < b.i
        WHERE a.c <> b.c GROUP BY 1, 2
    ), mrow AS MATERIALIZED (
        SELECT list(coalesce(w.n, 0) ORDER BY g.k) AS mm
        FROM range(25) g(k)
        LEFT JOIN w ON w.wi * 5 + w.li = g.k
    ), it AS (
        WITH RECURSIVE r(k, p) AS (
            -- CAST matters: a bare [1.0, ...] list types as
            -- DECIMAL(2,1) and the whole recursion would run in
            -- 1-digit decimal, not IEEE double
            SELECT 0, [CAST(1.0 AS DOUBLE), 1.0, 1.0, 1.0, 1.0]
            UNION ALL
            SELECT r.k + 1,
                   list_transform(range(0, 5), i ->
                     CASE WHEN list_sum(list_transform(range(0, 5),
                              j -> m.mm[CAST(i*5 + j AS INT) + 1])) = 0
                          THEN 0.0
                          ELSE CAST(list_sum(list_transform(range(0, 5),
                                 j -> m.mm[CAST(i*5 + j AS INT) + 1]))
                               AS DOUBLE)
                             / list_reduce(list_transform(range(0, 5),
                                 j -> CASE WHEN j = i THEN 0.0
                                      WHEN m.mm[CAST(i*5 + j AS INT) + 1]
                                         + m.mm[CAST(j*5 + i AS INT) + 1]
                                         = 0 THEN 0.0
                                      ELSE CAST(
                                          m.mm[CAST(i*5 + j AS INT) + 1]
                                        + m.mm[CAST(j*5 + i AS INT) + 1]
                                          AS DOUBLE)
                                        / (r.p[CAST(i AS INT) + 1]
                                           + r.p[CAST(j AS INT) + 1])
                                      END),
                                 (a, b) -> a + b)
                     END)
            FROM r, mrow m WHERE r.k < {_BT_K}
        )
        SELECT p FROM r WHERE k = {_BT_K}
    ), fin AS (
        SELECT p,
               list_reduce(p, (a, b) -> a + b) AS s
        FROM it
    )
    SELECT ty.event_type,
           CAST(list_sum(list_transform(range(0, 5),
               j -> m.mm[CAST(ty.i*5 + j AS INT) + 1])) AS BIGINT) AS wins,
           CAST(list_sum(list_transform(range(0, 5),
               j -> m.mm[CAST(ty.i*5 + j AS INT) + 1]
                  + m.mm[CAST(j*5 + ty.i AS INT) + 1])) AS BIGINT)
               AS comparisons,
           {sql_q4("fin.p[ty.i + 1] / fin.s")} AS strength
    FROM ty, mrow m, fin
    """,
)
def stat_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths over the five event types:
    each user 'prefers' type i over type j when they emitted more i
    than j events; the BT model turns the resulting pairwise win
    matrix into per-type strengths via the classic MM fixed point
    p_i ← W_i / Σ_j m_ij/(p_i + p_j) — the same estimator an RLHF
    data pipeline runs over human preference pairs to rank policies
    or prompts (pipeline_preference_pairs builds such pairs; this is
    the model fitted on top).

    Exactness: the win/comparison matrix is exact BIGINT counts; the
    {_BT_K} MM iterations run as DOUBLE folds with one shared
    parenthesization — Spark's aggregate/transform HOFs and the
    oracle's recursive CTE evaluate the identical IEEE operation
    sequence (left-fold term order, 0.0 seed), so the q4 hash is
    stable. Strengths are normalized to sum 1 by the same left fold.

    Scale shape: one (user, type) hash aggregate, a x5 dense grid
    (type domain is bounded), one per-user self-join bounded to 10
    pair rows per user, one 25-cell aggregate to a single map row —
    the MM fold is metadata-sized. At 100 TB only the first
    aggregate touches the corpus."""
    e = table(spark, sf_dir, "events")
    tc = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    t = e.select("event_type").distinct()
    idx = (
        t.alias("a")
        .join(
            t.alias("b"),
            F.col("b.event_type") < F.col("a.event_type"),
            "left",
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.count(F.col("b.event_type")).cast("int").alias("i"))
    )
    users = e.select("user_id").distinct()
    dense = (
        users.crossJoin(F.broadcast(idx))
        .join(tc, ["user_id", "event_type"], "left")
        .select("user_id", "i", F.coalesce("c", F.lit(0)).alias("c"))
    )
    d1 = dense.select(
        "user_id", F.col("i").alias("i1"), F.col("c").alias("c1")
    )
    d2 = dense.select(
        F.col("user_id").alias("uid2"),
        F.col("i").alias("i2"),
        F.col("c").alias("c2"),
    )
    wins = (
        d1.join(d2, (d1["user_id"] == d2["uid2"]) & (d1["i1"] < d2["i2"]))
        .where(F.col("c1") != F.col("c2"))
        .select(
            F.when(F.col("c1") > F.col("c2"), F.col("i1"))
            .otherwise(F.col("i2"))
            .alias("wi"),
            F.when(F.col("c1") > F.col("c2"), F.col("i2"))
            .otherwise(F.col("i1"))
            .alias("li"),
        )
        .groupBy("wi", "li")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    mrow = wins.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("wi") * 5 + F.col("li")).cast("long").alias("k"),
                    F.col("n").alias("v"),
                )
            )
        ).alias("mm")
    )
    m_ij = (
        "(coalesce(element_at(mm, CAST(i*5 + j AS LONG)), 0L)"
        " + coalesce(element_at(mm, CAST(j*5 + i AS LONG)), 0L))"
    )
    wsum = (
        "aggregate(sequence(0, 4), 0L, (s, j) ->"
        " s + coalesce(element_at(mm, CAST(i*5 + j AS LONG)), 0L))"
    )
    fold = f"""
    aggregate(sequence(1, {_BT_K}),
      transform(sequence(0, 4), x -> 1.0D),
      (p, it) -> transform(sequence(0, 4), i ->
        CASE WHEN {wsum} = 0L THEN 0.0D
        ELSE CAST({wsum} AS DOUBLE)
           / aggregate(sequence(0, 4), CAST(0.0 AS DOUBLE), (s, j) ->
               s + (CASE WHEN j = i THEN 0.0D
                    WHEN {m_ij} = 0L THEN 0.0D
                    ELSE CAST({m_ij} AS DOUBLE)
                       / (element_at(p, i + 1) + element_at(p, j + 1))
                    END))
        END))
    """
    scored = mrow.select(
        "mm",
        F.expr(fold).alias("p"),
    ).select(
        "mm",
        "p",
        F.expr("aggregate(p, CAST(0.0 AS DOUBLE), (a, b) -> a + b)").alias("s"),
    )
    per_type = scored.select(
        F.explode(
            F.expr(
                f"""
                transform(sequence(0, 4), i -> struct(
                  i AS i,
                  CAST({wsum} AS LONG) AS wins,
                  CAST(aggregate(sequence(0, 4), 0L, (s, j) ->
                      s + {m_ij}) AS LONG) AS comparisons,
                  element_at(p, i + 1) / s AS strength))
                """
            )
        ).alias("r")
    ).select("r.i", "r.wins", "r.comparisons", "r.strength")
    return per_type.join(F.broadcast(idx), "i").select(
        "event_type",
        "wins",
        "comparisons",
        q4(F.col("strength")).alias("strength"),
    )


# ------------------------------------------------------------------
# Chatterjee's xi rank correlation (r11)


@register(
    "stat_chatterjee_xi",
    oracle="""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT d, y,
               CAST(count(*) OVER (ORDER BY y RANGE BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS r,
               CAST(count(*) OVER (ORDER BY y DESC RANGE BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS l
        FROM daily
    ), seq AS (
        SELECT r, l,
               lag(r) OVER (ORDER BY d) AS rp,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM ranked
    ), sums AS (
        SELECT max(n) AS n_days,
               CAST(sum(CASE WHEN rp IS NULL THEN 0
                             ELSE abs(r - rp) END) AS BIGINT) AS sum_abs_dr,
               CAST(sum(2 * l * (n - l)) AS BIGINT) AS denom
        FROM seq
    )
    SELECT n_days, sum_abs_dr, denom,
           CASE WHEN denom = 0 THEN NULL
                ELSE floor((1.0 - CAST(n_days AS DOUBLE) * sum_abs_dr
                            / denom) * 1e4 + 0.5) / 1e4 END AS xi
    FROM sums
    """,
)
def stat_chatterjee_xi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi rank correlation (Chatterjee 2021, JASA) of the
    daily event volume against time: xi = 1 - n*SUM|r_{i+1} - r_i| /
    (2*SUM l_i(n - l_i)) where rows are ordered by the regressor (day),
    r_i = #{j: y_j <= y_i} and l_i = #{j: y_j >= y_i}.  Unlike
    Pearson/Spearman it converges to a measure of FUNCTIONAL
    dependence (0 = independent, 1 = y is a measurable function of x),
    detecting non-monotone signal the classical coefficients miss —
    the modern companion to stat_spearman / stat_kendall_tau.  Days
    are unique so the regressor has no ties and the canonical
    definition applies with no randomized tie-break; y-ties are
    handled exactly by the r/l rank counts.  Every term is an exact
    BIGINT; one final double division.

    Scale shape: one map-side-combinable groupBy collapses the fact
    table to the calendar-bounded daily grid; the rank counts and the
    lag run as windows over that metadata-sized frame (census
    allowlist: one row per day), never over raw events."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w_le = Window.orderBy("y").rangeBetween(Window.unboundedPreceding, 0)
    w_ge = Window.orderBy(F.col("y").desc()).rangeBetween(
        Window.unboundedPreceding, 0
    )
    ranked = daily.select(
        "d",
        F.count(F.lit(1)).over(w_le).cast("long").alias("r"),
        F.count(F.lit(1)).over(w_ge).cast("long").alias("l"),
    )
    seq = ranked.select(
        "r",
        "l",
        F.lag("r").over(Window.orderBy("d")).alias("rp"),
        F.count(F.lit(1))
        .over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("n"),
    )
    agg = seq.agg(
        F.max("n").alias("n_days"),
        F.sum(
            F.when(F.col("rp").isNull(), F.lit(0)).otherwise(
                F.abs(F.col("r") - F.col("rp"))
            )
        )
        .cast("long")
        .alias("sum_abs_dr"),
        F.sum(F.lit(2) * F.col("l") * (F.col("n") - F.col("l")))
        .cast("long")
        .alias("denom"),
    )
    return agg.select(
        "n_days",
        "sum_abs_dr",
        "denom",
        F.when(F.col("denom") == 0, F.lit(None).cast("double"))
        .otherwise(
            q4(
                1.0
                - F.col("n_days").cast("double")
                * F.col("sum_abs_dr")
                / F.col("denom")
            )
        )
        .alias("xi"),
    )


# ------------------------------------------------------------------
# Hoeffding's D independence statistic (r11)

# Exactness cap (enforced with raise_error since r14 — the sf10 scale
# probe hit Spark's opaque ARITHMETIC_OVERFLOW at n = 6e7): |SB| <=
# 16*n^5 must stay under DECIMAL(38,0)'s 1e38 ceiling, so n <=
# (1e38/16)^(1/5) ~ 2.29e7; 22.8e6 leaves a safety margin.  Derivation
# pinned in tests/test_r14_advice.py without spelling the literal.
_HOEFF_CAP = 22_800_000


@register(
    "stat_hoeffding_d",
    oracle=f"""
    WITH cells0 AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2
    ), cells AS (
        -- loud-failure parity with the Spark build's raise_error: past
        -- the documented exactness cap the key must FAIL with a remedy,
        -- not overflow opaquely mid-aggregate (HUGEINT would raise at
        -- ~1.7e38 anyway; this makes the bound explicit and identical)
        SELECT x, y,
               CASE WHEN (SELECT sum(cnt) FROM cells0) > {_HOEFF_CAP}
                    THEN error('stat_hoeffding_d: n exceeds the '
                               'DECIMAL(38,0) exactness cap; coarsen '
                               'the value grids first')
                    ELSE cnt END AS cnt
        FROM cells0
    ), dom AS (
        SELECT a.x, a.y, a.cnt,
               CAST(sum(CASE WHEN b.x < a.x THEN b.cnt ELSE 0 END)
                    AS BIGINT) AS lt_x,
               CAST(sum(CASE WHEN b.x = a.x THEN b.cnt ELSE 0 END)
                    AS BIGINT) AS eq_x,
               CAST(sum(CASE WHEN b.y < a.y THEN b.cnt ELSE 0 END)
                    AS BIGINT) AS lt_y,
               CAST(sum(CASE WHEN b.y = a.y THEN b.cnt ELSE 0 END)
                    AS BIGINT) AS eq_y,
               CAST(sum(CASE WHEN b.x < a.x AND b.y < a.y
                             THEN b.cnt ELSE 0 END) AS BIGINT) AS c_ll,
               CAST(sum(CASE WHEN b.x = a.x AND b.y < a.y
                             THEN b.cnt ELSE 0 END) AS BIGINT) AS c_el,
               CAST(sum(CASE WHEN b.x < a.x AND b.y = a.y
                             THEN b.cnt ELSE 0 END) AS BIGINT) AS c_le
        FROM cells a, cells b
        GROUP BY a.x, a.y, a.cnt
    ), terms AS (
        SELECT cnt,
               2 * lt_x + eq_x + 1 AS r2,
               2 * lt_y + eq_y + 1 AS s2,
               4 + 4 * c_ll + 2 * c_el + 2 * c_le + (cnt - 1) AS q4v
        FROM dom
    ), sums AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               sum(CAST(cnt AS HUGEINT) * (q4v - 4) * (q4v - 8)) AS sa,
               sum(CAST(cnt AS HUGEINT) * (r2 - 2) * (r2 - 4)
                   * (s2 - 2) * (s2 - 4)) AS sb,
               sum(CAST(cnt AS HUGEINT) * (r2 - 4) * (s2 - 4)
                   * (q4v - 4)) AS sc
        FROM terms
    )
    SELECT n AS n_rows,
           CAST(sa AS DOUBLE) / 16.0 AS d1,
           CAST(sb AS DOUBLE) / 16.0 AS d2,
           CAST(sc AS DOUBLE) / 16.0 AS d3,
           CASE WHEN n <= 4 THEN NULL ELSE
           floor(30.0 * (CAST((CAST(n AS HUGEINT) - 2) * (n - 3) * sa
                              + sb - 2 * (CAST(n AS HUGEINT) - 2) * sc
                              AS DOUBLE)
                         / CAST(16 * CAST(n AS HUGEINT) * (n - 1) * (n - 2)
                                * (n - 3) * (n - 4) AS DOUBLE))
                 * 1e4 + 0.5) / 1e4 END AS d_stat
    FROM sums
    """,
)
def stat_hoeffding_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding's D statistic of independence (Hoeffding 1948;
    Hollander & Wolfe §8.6) between l_quantity and l_discount:
    D = 30*[(n-2)(n-3)D1 + D2 - 2(n-2)D3] / [n(n-1)(n-2)(n-3)(n-4)]
    with D1 = SUM(Q-1)(Q-2), D2 = SUM(R-1)(R-2)(S-1)(S-2),
    D3 = SUM(R-2)(S-2)(Q-1), where R/S are midranks and Q is the
    bivariate rank (points strictly below in both coordinates count
    1, tied on exactly one coordinate 1/2, tied on both 1/4 — the
    SAS PROC CORR HOEFFDING tie convention).  D detects ANY
    dependence with a nondegenerate joint distribution, including
    relationships Spearman/Kendall/xi miss.  Everything is exact
    integer arithmetic: midranks are carried as 2R (always odd
    integers), bivariate ranks as 4Q, so D1/D2/D3 appear as /16
    rationals folded into DECIMAL(38,0) sums; one final double
    division.  Exactness bound: |SB| <= 16*n^5 must stay under
    DECIMAL(38,0)'s 10^38 ceiling, i.e. n <= (10^38/16)^(1/5)
    ~ 2.3e7 rows — ENFORCED with raise_error (mirrored by the
    oracle's error()) since the r14 sf10 probe showed the unguarded
    fold dying in Spark's opaque ARITHMETIC_OVERFLOW at n = 6e7;
    beyond the cap, coarsen the value grids first (the quantity/
    discount domains here are already 50x11).

    Scale shape: ONE map-side-combinable groupBy collapses the fact
    table to the 50x11 value-domain cell grid (lazily
    localCheckpoint'd — both cross sides replay the materialized
    grid, so the fact table is scanned once); the dominance counts
    (2-D prefix sums) run on the broadcast bounded grid squared
    (<=550^2 metadata rows, never data x data); the D sums are one
    tiny aggregate.  The same shape serves any pair of bounded or
    binned columns at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    # the <=550-row cell grid feeds BOTH cross sides: a lazy
    # localCheckpoint materializes it once so the fact table is
    # scanned once, not once per side (the dedup_substring_spans
    # twice-read-frame discipline)
    cells = (
        li.groupBy(
            F.col("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("long")
            .alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # loud-failure guard (the ancova precedent, extended here after the
    # r14 sf10 probe hit the opaque ARITHMETIC_OVERFLOW at n = 6e7):
    # past the documented cap the key fails with a remedy in the
    # message, identically on both engines.  One extra aggregate over
    # the <=550-row materialized grid — the fact table is NOT re-read.
    ntot = cells.agg(F.sum("cnt").cast("long").alias("n_all"))
    guarded = cells.crossJoin(F.broadcast(ntot)).select(
        "x",
        "y",
        F.when(
            F.col("n_all") > F.lit(_HOEFF_CAP),
            F.raise_error(
                F.lit(
                    "stat_hoeffding_d: n exceeds the DECIMAL(38,0) "
                    "exactness cap; coarsen the value grids first"
                )
            ),
        )
        .otherwise(F.col("cnt"))
        .cast("long")
        .alias("cnt"),
    )
    b = guarded.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("cnt").alias("cb")
    )
    paired = guarded.crossJoin(F.broadcast(b))

    def _csum(cond, name):
        return (
            F.sum(F.when(cond, F.col("cb")).otherwise(F.lit(0)))
            .cast("long")
            .alias(name)
        )

    dom = paired.groupBy("x", "y", "cnt").agg(
        _csum(F.col("xb") < F.col("x"), "lt_x"),
        _csum(F.col("xb") == F.col("x"), "eq_x"),
        _csum(F.col("yb") < F.col("y"), "lt_y"),
        _csum(F.col("yb") == F.col("y"), "eq_y"),
        _csum((F.col("xb") < F.col("x")) & (F.col("yb") < F.col("y")), "c_ll"),
        _csum((F.col("xb") == F.col("x")) & (F.col("yb") < F.col("y")), "c_el"),
        _csum((F.col("xb") < F.col("x")) & (F.col("yb") == F.col("y")), "c_le"),
    )
    dec = "decimal(38,0)"
    terms = dom.select(
        "cnt",
        (F.lit(2) * F.col("lt_x") + F.col("eq_x") + 1).alias("r2"),
        (F.lit(2) * F.col("lt_y") + F.col("eq_y") + 1).alias("s2"),
        (
            F.lit(4)
            + F.lit(4) * F.col("c_ll")
            + F.lit(2) * F.col("c_el")
            + F.lit(2) * F.col("c_le")
            + (F.col("cnt") - 1)
        ).alias("q4v"),
    )
    sums = terms.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            F.col("cnt").cast(dec)
            * (F.col("q4v") - 4)
            * (F.col("q4v") - 8)
        )
        .cast(dec)
        .alias("sa"),
        F.sum(
            F.col("cnt").cast(dec)
            * (F.col("r2") - 2)
            * (F.col("r2") - 4)
            * (F.col("s2") - 2)
            * (F.col("s2") - 4)
        )
        .cast(dec)
        .alias("sb"),
        F.sum(
            F.col("cnt").cast(dec)
            * (F.col("r2") - 4)
            * (F.col("s2") - 4)
            * (F.col("q4v") - 4)
        )
        .cast(dec)
        .alias("sc"),
    )
    nd = F.col("n").cast(dec)
    num = (
        ((nd - 2) * (nd - 3)).cast(dec) * F.col("sa")
        + F.col("sb")
        - (F.lit(2) * (nd - 2)).cast(dec) * F.col("sc")
    ).cast(dec)
    den = (
        F.lit(16).cast(dec)
        * nd
        * (nd - 1)
        * (nd - 2)
        * (nd - 3)
        * (nd - 4)
    ).cast(dec)
    # n <= 4 zeroes the denominator product — under Spark 4's default
    # ANSI mode a whole-job crash on a tiny input; NULL instead (the
    # statistic is undefined below 5 observations by construction)
    return sums.select(
        F.col("n").alias("n_rows"),
        (F.col("sa").cast("double") / 16.0).alias("d1"),
        (F.col("sb").cast("double") / 16.0).alias("d2"),
        (F.col("sc").cast("double") / 16.0).alias("d3"),
        F.when(F.col("n") <= 4, F.lit(None).cast("double"))
        .otherwise(
            q4(F.lit(30.0) * (num.cast("double") / den.cast("double")))
        )
        .alias("d_stat"),
    )


@register(
    "stat_ancova",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS sx,
               SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS sxy,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sxx
        FROM lineitem GROUP BY l_returnflag
    ), m AS (
        SELECT grp, n, sx, sy,
               CAST(floor((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                           * CAST(sy AS DOUBLE) / n) * 1000 + 0.5)
                    AS BIGINT) AS sxy_milli,
               CAST(floor((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                           * CAST(sx AS DOUBLE) / n) * 1000 + 0.5)
                    AS BIGINT) AS sxx_milli
        FROM s
    ), pooled AS (
        SELECT CAST(SUM(sxy_milli) AS BIGINT) AS sp,
               CAST(SUM(sxx_milli) AS BIGINT) AS sxp,
               CAST(SUM(sx) AS BIGINT) AS sx_all,
               CAST(SUM(n) AS BIGINT) AS n_all
        FROM m
    )
    SELECT grp, n,
           {sql_q4("CAST(sx AS DOUBLE) / n")} AS mean_qty,
           {sql_q4("CAST(sy AS DOUBLE) / n / 100.0")} AS mean_price,
           CASE WHEN sxp = 0 THEN NULL ELSE
               {sql_q4("CAST(sp AS DOUBLE) / CAST(sxp AS DOUBLE) / 100.0")}
           END AS pooled_slope,
           CASE WHEN sxp = 0 THEN NULL ELSE
               {sql_q4("(CAST(sy AS DOUBLE) / n"
                       " - (CAST(sp AS DOUBLE) / CAST(sxp AS DOUBLE))"
                       " * (CAST(sx AS DOUBLE) / n"
                       " - CAST(sx_all AS DOUBLE) / CAST(n_all AS DOUBLE)))"
                       " / 100.0")}
           END AS adj_mean_price
    FROM m CROSS JOIN pooled
    """,
)
def stat_ancova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANCOVA adjusted group means (Fisher's analysis of
    covariance, public textbook form): compare mean extended price
    across return flags CONTROLLING for quantity — each group's mean
    is shifted along the POOLED within-group regression slope
    b_w = sum_g Sxy_g / sum_g Sxx_g to the grand covariate mean:
    adj_g = ybar_g - b_w (xbar_g - xbar). The covariate-blind group
    contrast (agg_groupby's mean) conflates mix and level; ANCOVA
    separates them — the BI staple behind "same basket size, who
    pays more?".

    Float discipline: the five per-group sufficient statistics fold
    as exact DECIMAL(38,0)/HUGEINT integers; the per-group corrected
    co-moments Sxy_g, Sxx_g become ONE double each, quantized to
    fixed-point milli-units BEFORE the cross-group pooling sum, so
    the pooled numerator/denominator are exact BIGINT folds no
    matter how the 3 group rows merge. Exactness bound at the milli
    scale: |Sxy_g| <= 2 n max|x*y| ~ 1.1e9 n, so sxy_milli stays in
    BIGINT to n ~ 8e6 rows PER GROUP — beyond that, pool at unit
    scale (drop the *1000) for headroom to n ~ 8e9.  The bound is
    ENFORCED, not just documented (ADVICE r12): a milli value that
    would leave BIGINT raises loudly via raise_error — matching the
    oracle's raising CAST — instead of letting the non-ANSI
    double->long cast saturate into a silent cross-engine divergence.

    Scale shape: ONE map-side-combinable groupBy to |groups| rows of
    integer sums; the pooled row is a broadcast 1-row aggregate over
    those; every downstream expression is per-group scalar math."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    dec = "decimal(38,0)"
    s = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
    )
    n = F.col("n")
    fx = lambda c: F.col(c).cast("double")  # noqa: E731

    # Loud overflow guard (ADVICE r12): past the documented milli-scale
    # bound the non-ANSI double->long cast would silently SATURATE while
    # the oracle's DuckDB CAST raises — a silent cross-engine divergence
    # class.  Raise here too, so overflow is a failure with a remedy in
    # the message, never a wrong answer.  Doubles this close to 2^63 are
    # 2048 apart, so back off one representable step.
    milli_max = float(2**63 - 2**11)

    def milli(d, label):  # d: double co-moment; exact BIGINT after floor
        v = d * 1000 + F.lit(0.5)
        return (
            F.when(
                F.abs(v) >= F.lit(milli_max),
                F.raise_error(
                    F.lit(
                        f"stat_ancova: |{label}|*1000 exceeds BIGINT; "
                        "pool at unit scale (drop the *1000) for headroom"
                    )
                ),
            )
            .otherwise(F.floor(v))
            .cast("long")
        )

    # |groups| rows; lazily materialized so the pooled aggregate and
    # the final projection replay it — ONE fact scan, not two
    m = s.select(
        "grp",
        "n",
        "sx",
        "sy",
        milli(fx("sxy") - fx("sx") * fx("sy") / n, "Sxy_g").alias("sxy_milli"),
        milli(fx("sxx") - fx("sx") * fx("sx") / n, "Sxx_g").alias("sxx_milli"),
    ).localCheckpoint(eager=False)
    pooled = m.agg(
        F.sum("sxy_milli").cast("long").alias("sp"),
        F.sum("sxx_milli").cast("long").alias("sxp"),
        F.sum("sx").cast("long").alias("sx_all"),
        F.sum("n").cast("long").alias("n_all"),
    )
    b = fx("sp") / fx("sxp")
    xbar_all = fx("sx_all") / fx("n_all")
    # a constant covariate (sxp = 0) has no within-group slope: publish
    # NULL instead of double-division infinities whose downstream
    # floor/round semantics the two engines need not share (the
    # events_cuped ANSI-degeneracy precedent)
    degenerate = F.col("sxp") == 0
    return m.crossJoin(F.broadcast(pooled)).select(
        "grp",
        "n",
        q4(fx("sx") / n).alias("mean_qty"),
        q4(fx("sy") / n / 100.0).alias("mean_price"),
        F.when(degenerate, F.lit(None)).otherwise(q4(b / 100.0)).alias(
            "pooled_slope"
        ),
        F.when(degenerate, F.lit(None))
        .otherwise(
            q4((fx("sy") / n - b * (fx("sx") / n - xbar_all)) / 100.0)
        )
        .alias("adj_mean_price"),
    )


# ----------------------- Taylor's power law (fluctuation scaling, r14 wave A)

_TL_Q = 1_000_000_000  # fixed-point quantum for the per-part log terms


@register(
    "stat_taylor_law",
    oracle=f"""
    WITH q AS (
        SELECT l_partkey,
               CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc
        FROM lineitem
    ), per AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qc) AS BIGINT) AS s,
               CAST(sum(qc * qc) AS BIGINT) AS ss
        FROM q GROUP BY 1
    ), mv AS (
        SELECT CAST(s AS DOUBLE) / n / 100.0 AS m,
               (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                   / (n - 1) / 10000.0 AS v
        FROM per WHERE n >= 2
    ), lt AS (
        SELECT CAST(floor(ln(m) * {_TL_Q} + 0.5) AS BIGINT) AS qx,
               CAST(floor(ln(v) * {_TL_Q} + 0.5) AS BIGINT) AS qy,
               CAST(floor(ln(m) * ln(v) * {_TL_Q} + 0.5) AS BIGINT) AS qxy,
               CAST(floor(ln(m) * ln(m) * {_TL_Q} + 0.5) AS BIGINT) AS qxx
        FROM mv WHERE m > 0 AND v > 0
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(qx) AS DECIMAL(38,0)) AS sx,
               CAST(sum(qy) AS DECIMAL(38,0)) AS sy,
               CAST(sum(qxy) AS DECIMAL(38,0)) AS sxy,
               CAST(sum(qxx) AS DECIMAL(38,0)) AS sxx
        FROM lt
    )
    SELECT k AS n_groups,
           CASE WHEN k * CAST(sxx AS DOUBLE) / {_TL_Q}
                     - (CAST(sx AS DOUBLE) / {_TL_Q})
                       * (CAST(sx AS DOUBLE) / {_TL_Q}) = 0 THEN NULL ELSE
           {sql_q4(
               f"(k * CAST(sxy AS DOUBLE) / {_TL_Q}"
               f" - (CAST(sx AS DOUBLE) / {_TL_Q})"
               f" * (CAST(sy AS DOUBLE) / {_TL_Q}))"
               f" / (k * CAST(sxx AS DOUBLE) / {_TL_Q}"
               f" - (CAST(sx AS DOUBLE) / {_TL_Q})"
               f" * (CAST(sx AS DOUBLE) / {_TL_Q}))"
           )} END AS slope_b,
           CASE WHEN k * CAST(sxx AS DOUBLE) / {_TL_Q}
                     - (CAST(sx AS DOUBLE) / {_TL_Q})
                       * (CAST(sx AS DOUBLE) / {_TL_Q}) = 0 THEN NULL ELSE
           {sql_q4(
               f"(CAST(sy AS DOUBLE) / {_TL_Q}"
               f" - ((k * CAST(sxy AS DOUBLE) / {_TL_Q}"
               f" - (CAST(sx AS DOUBLE) / {_TL_Q})"
               f" * (CAST(sy AS DOUBLE) / {_TL_Q}))"
               f" / (k * CAST(sxx AS DOUBLE) / {_TL_Q}"
               f" - (CAST(sx AS DOUBLE) / {_TL_Q})"
               f" * (CAST(sx AS DOUBLE) / {_TL_Q})))"
               f" * (CAST(sx AS DOUBLE) / {_TL_Q})) / k"
           )} END AS intercept_ln_a
    FROM s
    """,
)
def stat_taylor_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law (fluctuation scaling): across parts, the
    variance of order quantity scales as var ~ a * mean^b, so
    ln(var) regresses linearly on ln(mean) with slope b — the classic
    ecology/operations diagnostic (b = 1 Poisson-like demand, b -> 2
    clustered/bursty demand) that a demand-planning pipeline fits to
    decide which SKUs need safety-stock multipliers.

    Numerics: per-part sufficient statistics (n, sum q, sum q²) fold
    as exact BIGINTs in integer cents; sample mean/variance derive
    identically on both engines; each part's four log terms (ln m,
    ln v, their product, ln² m) are fixed-point quantized (x1e9,
    floor+0.5) so the four OLS sums are exact BIGINTs; the closed-form
    slope/intercept use one shared parenthesization.  Zero-variance
    and singleton parts drop on both engines; a degenerate all-equal-
    mean family (OLS denominator 0) publishes NULL.

    Scale shape: one lineitem scan, one hash aggregate keyed on
    l_partkey (map-side combinable), then a second global aggregate
    over one row per part — two shuffles of shrinking width, no
    windows, no joins. 100 TB of lineitem folds to |parts| rows."""
    li = table(spark, sf_dir, "lineitem")
    per = (
        li.select(
            "l_partkey",
            F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("qc"),
        )
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qc").cast("long").alias("s"),
            F.sum(F.col("qc") * F.col("qc")).cast("long").alias("ss"),
        )
        .where(F.col("n") >= 2)
    )
    m = F.col("s").cast("double") / F.col("n") / 100.0
    v = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / 10000.0
    )
    lt = per.select(m.alias("m"), v.alias("v")).where(
        (F.col("m") > 0) & (F.col("v") > 0)
    )
    lm, lv = F.log(F.col("m")), F.log(F.col("v"))
    terms = lt.select(
        F.floor(lm * _TL_Q + 0.5).cast("long").alias("qx"),
        F.floor(lv * _TL_Q + 0.5).cast("long").alias("qy"),
        F.floor(lm * lv * _TL_Q + 0.5).cast("long").alias("qxy"),
        F.floor(lm * lm * _TL_Q + 0.5).cast("long").alias("qxx"),
    )
    # sums in DECIMAL(38,0): |ln| terms reach ~3e10 at the 1e9 quantum,
    # so BIGINT would cap the fold at ~3e8 part groups; decimal carries
    # the fold to any realistic |parts| and is invisible to the hash
    # (only the q4 doubles are output).  The oracle casts its HUGEINT
    # sums to the SAME DECIMAL(38,0) so both engines carry the fold to
    # the identical 1e38 bound — a bare HUGEINT->BIGINT cast there
    # would error at ~9.2e18 (~3e8 groups), exactly the scale this
    # decimal fold exists for (ADVICE r14).
    dec = "decimal(38,0)"
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("qx").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("qy").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("qxy").cast(dec)).cast(dec).alias("sxy"),
        F.sum(F.col("qxx").cast(dec)).cast(dec).alias("sxx"),
    )
    kk = F.col("k")
    sx = F.col("sx").cast("double") / _TL_Q
    sy = F.col("sy").cast("double") / _TL_Q
    sxy = kk * F.col("sxy").cast("double") / _TL_Q
    sxx = kk * F.col("sxx").cast("double") / _TL_Q
    den = sxx - sx * sx
    slope = (sxy - sx * sy) / den
    return s.select(
        kk.alias("n_groups"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(q4(slope))
        .alias("slope_b"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(q4((sy - slope * sx) / kk))
        .alias("intercept_ln_a"),
    )

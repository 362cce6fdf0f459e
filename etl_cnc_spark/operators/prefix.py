"""Distributed global ordering primitives — rank / running sums
WITHOUT a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` collapses the whole
input onto one task ("WindowExec: No Partition Defined") — correct,
but a scale killer on unbounded inputs.  This module provides the
classic two-phase prefix computation instead:

1. every row gets a DETERMINISTIC ordered bucket id computed from its
   own sort-key value against the global [min, max] of the key (one
   broadcast single-row aggregate) — bucket boundaries are a pure
   function of the data, so every branch of the plan derives the
   identical id;
2. a PARTITIONED window per bucket computes local row numbers and
   local running sums in parallel (one hash shuffle of the data);
3. per-bucket totals (one tiny row per bucket) fold into exclusive
   offsets with a hierarchical broadcast join — no window, no driver
   collect;
4. global rank = offset_count + local rank; global running sum =
   offset_sum + local running sum.

Why not ``repartitionByRange`` + ``spark_partition_id()``: the
physical partition id is NOT stable across plan branches — the range
exchange is sampled per compiled RDD (seeded by rdd.id) and AQE may
read the same shuffle coalesced in one branch and raw in another, so
a diamond plan can disagree with itself about which partition a row
sits in (observed as corrupted ranks at sf0.1, first run in a fresh
session).  Value-derived bucket ids are immune by construction: AQE
and sampling can do anything to the physical layout without touching
the bucket column.

Trade-off: value-linear buckets are balanced only for roughly
uniform keys; a skewed key distribution makes some buckets larger
(still correct — the per-bucket window just has more rows).  For
heavy skew pass a larger ``num_parts`` or pre-transform the bucket
key (e.g. a CDF-ish monotone map); balance is a performance knob,
never a correctness one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["global_ordered", "ntile_from_rank", "two_sample_ecdf"]

_BUCKET = 1024  # bucket-group width for the hierarchical offset fold


def _exclusive_offsets(
    totals: DataFrame,
    cols: list[str],
    num_parts: int | None = None,
    *,
    grand: bool = False,
    next_min: tuple[str, ...] = (),
) -> DataFrame:
    """Exclusive prefix sums of ``cols`` over the per-bucket totals
    table, ordered by ``_pid`` — output columns ``_off_<c>``.  The same
    fold can add, per pid, ``_all_<c>`` — the sum over ALL pids — when
    ``grand`` is set, and for each ``next_min`` column ``m``
    ``_nxt_<m>`` — the minimum of ``m`` over the strictly LATER pids
    (NULL on the last one).

    Hierarchical two-level fold so the cost stays near-linear in the
    bucket count P: within 1024-pid groups the fold is a PARTITIONED
    window (partitionBy the group id — each window partition holds
    ≤1024 metadata rows, never data); across groups the fold runs
    over only ⌈P/1024⌉ group-total rows (a broadcast cross join of
    metadata). A flat P² non-equi fold would be quadratic at
    cluster partition counts (P=10⁵ → 10¹⁰ pairs); this shape is
    one small shuffle + (P/1024)² metadata pairs through P≈10⁶.

    When ``num_parts`` ≤ 1024 every pid shares group 0 and the
    cross-group level is statically zero — it is skipped outright,
    which matters for latency: each extra exchange is a whole AQE
    stage wave, and small-input queries are stage-bound, not
    row-bound."""
    # partition by the group EXPRESSION (not a pre-added _bkt column):
    # in the common ≤1024-pid path this keeps the whole fold ONE
    # DataFrame op — every extra op here re-analyzes the caller's full
    # data lineage, which is pure driver latency (r16, guide §7.3)
    w = Window.partitionBy(F.expr(f"_pid DIV {_BUCKET}")).orderBy("_pid")
    w_excl = w.rowsBetween(Window.unboundedPreceding, -1)
    w_after = w.rowsBetween(1, Window.unboundedFollowing)
    if num_parts is not None and num_parts <= _BUCKET:
        w_all = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return totals.select(
            "_pid",
            *[
                F.coalesce(F.sum(c).over(w_excl), F.lit(0))
                .cast("long")
                .alias(f"_off_{c}")
                for c in cols
            ],
            *[
                F.sum(c).over(w_all).cast("long").alias(f"_all_{c}")
                for c in (cols if grand else ())
            ],
            *[F.min(m).over(w_after).alias(f"_nxt_{m}") for m in next_min],
        )
    t = totals.withColumn("_bkt", F.expr(f"_pid DIV {_BUCKET}"))
    within = t.select(
        "_pid",
        "_bkt",
        *[
            F.coalesce(F.sum(c).over(w_excl), F.lit(0))
            .cast("long")
            .alias(f"_w_{c}")
            for c in cols
        ],
        *[F.min(m).over(w_after).alias(f"_wn_{m}") for m in next_min],
    )
    bkt_tot = t.groupBy("_bkt").agg(
        *[F.sum(c).cast("long").alias(c) for c in cols],
        *[F.min(m).alias(m) for m in next_min],
    )
    # every group pairs with itself, so the cross join keeps each
    # group; earlier/later groups are picked by conditional folds
    ba, bb = bkt_tot.alias("ba"), bkt_tot.alias("bb")
    before = F.col("bb._bkt") < F.col("ba._bkt")
    after = F.col("bb._bkt") > F.col("ba._bkt")
    bkt_off = (
        ba.crossJoin(F.broadcast(bb))
        .groupBy(F.col("ba._bkt").alias("_bkt"))
        .agg(
            *[
                F.coalesce(F.sum(F.when(before, F.col(f"bb.{c}"))), F.lit(0))
                .cast("long")
                .alias(f"_b_{c}")
                for c in cols
            ],
            *[
                F.sum(f"bb.{c}").cast("long").alias(f"_all_{c}")
                for c in (cols if grand else ())
            ],
            *[
                F.min(F.when(after, F.col(f"bb.{m}"))).alias(f"_bn_{m}")
                for m in next_min
            ],
        )
    )
    return within.join(F.broadcast(bkt_off), "_bkt").select(
        "_pid",
        *[
            (F.col(f"_w_{c}") + F.col(f"_b_{c}")).alias(f"_off_{c}")
            for c in cols
        ],
        *[f"_all_{c}" for c in (cols if grand else ())],
        *[
            F.coalesce(F.col(f"_wn_{m}"), F.col(f"_bn_{m}")).alias(f"_nxt_{m}")
            for m in next_min
        ],
    )


def _with_bucket_id(
    df: DataFrame,
    bucket_key: str,
    num_parts: int,
    *,
    bucket_desc: bool = False,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """``df`` plus ``_pid``, the ordered bucket id of each row's own
    key value: a pure function of (key, lo, hi, num_parts) — identical
    in every plan branch.  width = ceil(span / num_parts) ≥ 1, so
    _pid ∈ [0, num_parts-1].  Without static ``bounds`` (lo, hi) is
    one global min/max aggregate, broadcast.

    ``bucket_key`` is a Spark SQL expression over ``df``'s columns (a
    bare column name is the common case); the bucket id is ONE SQL
    expression in a single select — every DataFrame op here
    re-analyzes the caller's whole lineage, which is pure driver
    latency at any scale (r16)."""
    key_sql = f"CAST(({bucket_key}) AS BIGINT)"
    if bounds is not None:
        lo, hi = int(bounds[0]), int(bounds[1])
        width = (hi - lo + num_parts) // num_parts
        pos_sql = (
            f"CAST(({hi}L - {key_sql}) AS BIGINT)"
            if bucket_desc
            else f"CAST(({key_sql} - {lo}L) AS BIGINT)"
        )
        return df.select("*", F.expr(f"{pos_sql} DIV {width}").alias("_pid"))
    mm = df.agg(
        F.expr(f"min({key_sql})").alias("_lo"),
        F.expr(f"max({key_sql})").alias("_hi"),
    )
    wid_sql = f"((_hi - _lo + {num_parts}) DIV {num_parts})"
    pos_sql = (
        f"CAST((_hi - {key_sql}) AS BIGINT)"
        if bucket_desc
        else f"CAST(({key_sql} - _lo) AS BIGINT)"
    )
    return df.crossJoin(F.broadcast(mm)).select(
        "*", F.expr(f"{pos_sql} DIV {wid_sql}").alias("_pid")
    )


def _default_parts(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def global_ordered(
    df: DataFrame,
    order_cols: list[Column],
    *,
    bucket_key: str,
    bucket_desc: bool = False,
    sums: dict[str, str] | None = None,
    rank_col: str | None = "rk",
    num_parts: int | None = None,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Append a global 1-based row number (``rank_col``) and, for each
    ``sums`` entry ``{src: dst}``, an inclusive global running BIGINT
    sum of ``src`` named ``dst``, ordered by ``order_cols`` — computed
    with bucketed prefix sums (see module docstring), never a
    single-partition window.

    ``bucket_key`` must be an integral-valued Spark SQL expression
    string (e.g. ``"v_cents"``, ``"r DIV 65536"``) monotone in the
    LEADING sort column (pass ``bucket_desc=True`` when that
    column sorts descending); rows with equal leading keys land in
    the same bucket, so secondary tie-break columns never cross a
    bucket boundary.  ``order_cols`` must be a total order (tie-break
    with a unique key) for the rank to be deterministic.  Sum columns
    must be integral (exact BIGINT running sums — the money/cents
    discipline).

    ``bounds``: optional STATIC ``(lo, hi)`` for the bucket key.  When
    the caller can bound the key by construction (e.g. a composite key
    built to span ``[0, 3·2^20)``), passing bounds skips the global
    min/max aggregate + broadcast — one fewer full pass over the input
    and one fewer AQE stage wave, which dominates small-input latency.
    Bounds need only be a superset of the true range (bucket balance
    degrades gracefully; ``_pid`` stays in ``[0, num_parts-1]``), but
    every key value MUST lie inside them for ranks to be correct.
    """
    sums = sums or {}
    out_cols = df.columns
    if num_parts is None:
        num_parts = _default_parts(df)
    bucketed = _with_bucket_id(
        df, bucket_key, num_parts, bucket_desc=bucket_desc, bounds=bounds
    )
    # r15: the bucketed frame has TWO consumers (the per-bucket window
    # below and the per-bucket totals) — uncached, both replay the
    # caller's whole upstream lineage, so every prefix-machine user
    # paid its input twice (and the no-bounds path a third time for
    # the min/max pass).  persist() shares one computation across the
    # branches; lineage is kept (SCALE.md data-scaled rule) and the
    # registry release wrapper bounds the cache to the calling key.
    # Only inside a registered build: a direct caller (tests, host
    # code) has no release point, and an untracked entry would sit in
    # the CacheManager for the session's lifetime — exactly what the
    # r14 release discipline exists to prevent.
    from ..registry import in_registered_build

    if in_registered_build():
        bucketed = bucketed.persist()
    # single-select stages (r16): the old withColumn-per-column chains
    # re-analyzed the full caller lineage once per column — with ~50
    # call sites that was the engine's largest block of driver-side
    # planning time (events_rfm/wasserstein builds ~0.5 s each).
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = bucketed.select(
        "*",
        F.row_number().over(w).cast("long").alias("_lrk"),
        *[
            F.sum(src).over(w_run).cast("long").alias(f"_lrun_{dst}")
            for src, dst in sums.items()
        ],
    )
    totals = local.groupBy("_pid").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        *[
            F.sum(src).cast("long").alias(f"_tot_{dst}")
            for src, dst in sums.items()
        ],
    )
    offsets = _exclusive_offsets(
        totals, ["_cnt"] + [f"_tot_{d}" for d in sums.values()], num_parts
    )
    proj: list = list(out_cols)
    if rank_col is not None:
        proj.append(
            (F.col("_off__cnt") + F.col("_lrk")).cast("long").alias(rank_col)
        )
    proj.extend(
        (F.col(f"_off__tot_{dst}") + F.col(f"_lrun_{dst}"))
        .cast("long")
        .alias(dst)
        for dst in sums.values()
    )
    return local.join(F.broadcast(offsets), "_pid").select(*proj)


def two_sample_ecdf(
    grid: DataFrame, *, num_parts: int | None = None
) -> DataFrame:
    """Exact two-sample ECDF over a value grid: ``grid`` holds one row
    per distinct integral ``v_cents`` with BIGINT group counts ``c1``
    and ``c2``; the result adds, per grid point, the inclusive running
    counts ``cum1``/``cum2``, the next grid value ``v_next`` (NULL on
    the last point — ``lead(v_cents) OVER (ORDER BY v_cents)``) and
    the group totals ``n1``/``n2`` — all from ONE bucketed prefix pass.

    Within a bucket ``v_next`` is a ``lead`` in the ``_pid`` window;
    a bucket's last row takes the minimum value of the later buckets,
    and ``n1``/``n2`` are the grand totals — both read from the same
    ``_pid``-ordered fold over the per-bucket totals that yields the
    exclusive offsets (:func:`_exclusive_offsets`).  No rank self-join,
    no separate totals aggregate, and nothing is cached: every frame
    here has one consumer, and the bucketed window's two consumers
    plan one identical ``_pid`` exchange that AQE runs once."""
    if num_parts is None:
        num_parts = _default_parts(grid)
    # the min/max of the bare group key lets Catalyst drop the grid
    # aggregate under it (RemoveRedundantAggregates): that pass reads
    # the input's key column itself, CONCURRENTLY with the grid stage
    # — measured faster than serializing it behind the grid exchange
    bucketed = _with_bucket_id(grid, "v_cents", num_parts)
    w = Window.partitionBy("_pid").orderBy("v_cents")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the explicit (always true) filter matches the isnotnull(_pid)
    # Catalyst infers from the offsets join below, so both consumers
    # of ``local`` plan the same _pid exchange and AQE runs it once
    local = bucketed.where("_pid IS NOT NULL").select(
        "v_cents",
        "c1",
        "c2",
        "_pid",
        F.sum("c1").over(w_run).cast("long").alias("_l1"),
        F.sum("c2").over(w_run).cast("long").alias("_l2"),
        F.lead("v_cents").over(w).alias("_lnext"),
    )
    # bucket totals as the LAST running count (counts are ≥ 0, so it
    # is the max): reading the window output keeps this branch on the
    # window's own _pid exchange — a plain sum(c1) lets Catalyst prune
    # the window and plan a second shuffle
    totals = local.groupBy("_pid").agg(
        F.max("_l1").alias("_t1"),
        F.max("_l2").alias("_t2"),
        F.min("v_cents").alias("_vmin"),
    )
    offsets = _exclusive_offsets(
        totals, ["_t1", "_t2"], num_parts, grand=True, next_min=("_vmin",)
    )
    return local.join(F.broadcast(offsets), "_pid").selectExpr(
        "v_cents",
        "c1",
        "c2",
        "CAST(_off__t1 + _l1 AS BIGINT) AS cum1",
        "CAST(_off__t2 + _l2 AS BIGINT) AS cum2",
        "coalesce(_lnext, _nxt__vmin) AS v_next",
        "_all__t1 AS n1",
        "_all__t2 AS n2",
    )


def sql_ntile_from_rank(rk: str, n: str, k: int) -> str:
    """Spark-SQL string mirror of :func:`ntile_from_rank` — the exact
    same expression tree built from one JVM-side parse instead of ~15
    py4j Column calls per use (r16 build-latency work).  The idiv form
    ``CAST((a - a % b) / b AS BIGINT)`` matches the Column helper's
    double-division-after-exact-remainder shape bit for bit."""

    def idiv(a: str, b: str) -> str:
        return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"

    q = idiv(n, f"CAST({k} AS BIGINT)")
    r = f"(({n}) % {k})"
    big = f"({r} * ({q} + 1))"
    return (
        f"CAST(CASE WHEN ({rk}) <= {big}"
        f" THEN {idiv(f'({rk}) - 1', f'{q} + 1')} + 1"
        f" ELSE {r} + {idiv(f'({rk}) - {big} - 1', q)} + 1 END AS BIGINT)"
    )


def ntile_from_rank(rk: Column, n: Column, k: int) -> Column:
    """Exact SQL-standard ``ntile(k)`` bucket from a 1-based global
    rank ``rk`` and total row count ``n`` (both BIGINT): the first
    ``n % k`` buckets take ``n DIV k + 1`` rows, the rest ``n DIV k``.
    Matches Spark's and DuckDB's ntile bit-for-bit, so an oracle can
    keep using ``ntile(k)`` while the Spark side stays free of the
    single-partition global window ntile would need.
    """

    def idiv(a: Column, b: Column) -> Column:
        # exact non-negative integer division (numerator made exactly
        # divisible first, so the double division is lossless)
        return ((a - a % b) / b).cast("long")

    q = idiv(n, F.lit(k).cast("long"))
    r = n % k
    big = r * (q + 1)
    return (
        F.when(rk <= big, idiv(rk - 1, q + 1) + 1)
        .otherwise(r + idiv(rk - big - 1, q) + 1)
        .cast("long")
    )

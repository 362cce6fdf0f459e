"""The two-sample ECDF-grid primitive (``prefix.two_sample_ecdf``) and
the ECDF tests of ``operators/stats.py`` built on it, plus rebuild
idempotence: a key built several times in one session gives the same
answer every time.

The primitive must equal the textbook unpartitioned window (running
sums, ``lead``, grand totals) for any bucket count — including the
>1024-bucket path, whose cross-group fold carries offsets, totals and
the next grid value across 1024-pid groups, even over an empty group.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from etl_cnc_spark import registry as R
from etl_cnc_spark.operators.prefix import two_sample_ecdf
from etl_cnc_spark.oracle import canonical_rows, compare, run_oracle

REGISTRY = R.load_all()

# every key that is one aggregate or projection over stats._ks_ecdf
ECDF_KEYS = (
    "stat_ks_test",
    "stat_mann_whitney",
    "stat_wasserstein_1d",
    "stat_energy_distance",
    "stat_cvm_test",
    "stat_anderson_darling",
    "stat_qq_table",
    "stat_cliffs_delta",
    "stat_ansari_bradley",
    "stat_kuiper_test",
    "stat_cucconi",
    "stat_watson_u2",
)


def _grid(spark, keys):
    rng = random.Random(11)
    rows = []
    for k in keys:
        c1, c2 = rng.randint(0, 4), rng.randint(0, 4)
        if c1 + c2 == 0:  # a grid point holds at least one value
            c1 = 1
        rows.append(Row(v_cents=k, c1=c1, c2=c2))
    return spark.createDataFrame(rows, "v_cents long, c1 long, c2 long")


def _reference(grid):
    w = Window.orderBy("v_cents")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    every = Window.partitionBy()
    return grid.select(
        "v_cents",
        "c1",
        "c2",
        F.sum("c1").over(run).cast("long").alias("cum1"),
        F.sum("c2").over(run).cast("long").alias("cum2"),
        F.lead("v_cents").over(w).alias("v_next"),
        F.sum("c1").over(every).cast("long").alias("n1"),
        F.sum("c2").over(every).cast("long").alias("n2"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# keys in [-5000, -1000] and [4000, 5000]: at 3000 buckets (width 4)
# they fill pid groups 0 and 2 and leave group 1 (pids 1024-2047) empty
_GAPPED = sorted(
    random.Random(5).sample(range(-5000, -1000), 300)
    + random.Random(6).sample(range(4000, 5001), 100)
    + [-5000, 5000]
)


@pytest.mark.parametrize("parts", [1, 3, 8, 1100, 3000])
def test_two_sample_ecdf_matches_unpartitioned_window(spark, parts):
    grid = _grid(spark, sorted(set(_GAPPED)))
    got = two_sample_ecdf(grid, num_parts=parts)
    assert got.columns == [
        "v_cents", "c1", "c2", "cum1", "cum2", "v_next", "n1", "n2"
    ]
    assert _rows(got) == _rows(_reference(grid))


def test_two_sample_ecdf_over_1024_buckets_crosses_empty_group(spark):
    """The fixture really exercises the cross-group fold: at 3000
    buckets its keys sit in pid groups 0 and 2 only, so the last point
    of group 0 must take its v_next from group 2."""
    lo, hi, parts = _GAPPED[0], _GAPPED[-1], 3000
    width = (hi - lo + parts) // parts
    groups = {((k - lo) // width) // 1024 for k in _GAPPED}
    assert groups == {0, 2}
    grid = _grid(spark, sorted(set(_GAPPED)))
    got = {
        r["v_cents"]: r["v_next"]
        for r in two_sample_ecdf(grid, num_parts=parts).collect()
    }
    last_of_group0 = max(k for k in got if k < 0)
    assert got[last_of_group0] == min(k for k in got if k > 0)


def test_ecdf_keys_over_1024_buckets_match_default_and_oracle(spark, sf_dir):
    """Registered keys on the >1024-bucket fold path (forced through
    the session's shuffle-partition count, which sets the bucket count)
    return the same rows as the default path and as DuckDB."""
    keys = ("stat_wasserstein_1d", "stat_ks_test")
    parts = 1100
    con = duckdb.connect()
    lo, hi = con.execute(
        "SELECT min(v), max(v) FROM (SELECT CAST(floor(value*100 + 0.5)"
        f" AS BIGINT) AS v FROM '{sf_dir}/events.parquet'"
        " WHERE event_type IN ('click', 'purchase'))"
    ).fetchone()
    con.close()
    # the largest grid value must land past pid 1023, or the cross-group
    # level would be statically empty and this test would prove nothing
    assert (hi - lo) // ((hi - lo + parts) // parts) >= 1024

    def rows(key):
        return canonical_rows(REGISTRY[key].build(spark, sf_dir).toPandas())

    default = {k: rows(k) for k in keys}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        wide = {k: rows(k) for k in keys}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for k in keys:
        oracle = canonical_rows(run_oracle(REGISTRY[k].oracle, sf_dir))
        assert wide[k] == default[k] == oracle, k


@pytest.mark.parametrize("release", [True, False], ids=["released", "kept"])
def test_ecdf_keys_rebuild_idempotent(spark, sf_dir, release):
    """Three builds of each ported key in one session, with and without
    releasing the tracked caches between them: every build matches its
    oracle."""
    for key in ECDF_KEYS:
        for i in range(3):
            if release:
                R.release_caches(spark)
            res = compare(REGISTRY[key], spark, sf_dir)
            assert res.ok, (key, i, res.detail, res.mismatches[:3])


@pytest.mark.parametrize("key", ["sink_python_ds", "scan_schema_merge"])
def test_staged_sink_rebuild_overwrites(spark, sf_dir, key):
    """Sink keys stage into one stable directory per session; a second
    build must overwrite it — appending grew sink_python_ds's rows
    5 → 10, and scan_schema_merge's plain write raised
    PATH_ALREADY_EXISTS."""
    for i in range(2):
        res = compare(REGISTRY[key], spark, sf_dir)
        assert res.ok, (key, i, res.detail, res.mismatches[:3])

"""Scan/source operators (SURVEY.md §2.1).

Parquet is the primary columnar source (vectorized reader, predicate
pushdown, column pruning — asserted in tests/test_plans.py). CSV and
JSON sources round-trip fixture data through a temp dir so the
oracle can verify content, not just row counts.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..registry import register
from ..utils import ts_us, tmpdir

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           epoch_us(l_shipdate) AS l_shipdate_us
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fact-table scan, every column (timestamp emitted as
    epoch-µs for engine-neutral hashing)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        *[c for c in li.columns if c != "l_shipdate"],
        ts_us(F.col("l_shipdate")).alias("l_shipdate_us"),
    )


@register(
    "scan_parquet_pruned",
    oracle="""
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 45
    """,
)
def scan_parquet_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned scan: 3 of 16 columns + a selective predicate, both
    pushed into the parquet reader (ReadSchema/PushedFilters asserted
    in tests — at 100 TB this is the difference between reading 3
    columns' row groups and the whole table)."""
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )


@register("source_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with explicit schema + header: round-trips nation
    through CSV; the oracle verifies lossless content."""
    out = tmpdir(prefix="etlcnc_csv_", stable=True, key=sf_dir)
    table(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(NATION_SCHEMA).option("header", True).csv(out)


@register("source_json", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source: round-trips nation through json. Schema is
    explicit (inference would widen int32→int64 and cost an extra
    pass over the data at scale)."""
    out = tmpdir(prefix="etlcnc_json_", stable=True, key=sf_dir)
    table(spark, sf_dir, "nation").write.mode("overwrite").json(out)
    return spark.read.schema(NATION_SCHEMA).json(out)


@register(
    "source_text",
    oracle="SELECT text AS value FROM documents",
)
def source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source: documents round-tripped through
    line-oriented files (spark.read.text), the ingestion format of
    most raw web/LLM corpora. Fixture text is newline-free (verified)
    so lines == documents; the oracle checks lossless content."""
    d = table(spark, sf_dir, "documents")
    out = tmpdir(prefix="etlcnc_srctext_", stable=True, key=sf_dir)
    d.select(F.col("text").alias("value")).write.mode("overwrite").text(out)
    return spark.read.text(out)


@register(
    "scan_schema_merge",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
    FROM nation WHERE n_nationkey < 10
    UNION ALL
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation WHERE n_nationkey >= 10
    """,
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two parquet files with different
    schemas (a column added later) read as one dataset with
    mergeSchema — the rule at 100 TB, where datasets accrete columns
    over years and a full rewrite is off the table. Old files
    surface NULL for the new column."""
    n = table(spark, sf_dir, "nation")
    out = tmpdir(prefix="etlcnc_merge_", stable=True, key=sf_dir)
    # overwrite: the stable staging dir is reused by every rebuild in
    # the session (a plain write fails with PATH_ALREADY_EXISTS)
    n.where(F.col("n_nationkey") < 10).select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(f"{out}/v1")
    n.where(F.col("n_nationkey") >= 10).select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("long").alias("n_regionkey")
    ).write.mode("overwrite").parquet(f"{out}/v2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/v1", f"{out}/v2")
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "source_csv_corrupt",
    oracle="""
    SELECT
        CAST(count_if(o_orderkey % 10 <> 3) AS BIGINT) AS n_good,
        CAST(count_if(o_orderkey % 10 = 3) AS BIGINT) AS n_corrupt,
        CAST(SUM(CASE WHEN o_orderkey % 10 <> 3
                 THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS good_cents
    FROM orders
    """,
)
def source_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance on CSV ingest: a deterministically
    corrupted extract (every key%10==3 row carries a non-numeric
    price) is read back in PERMISSIVE mode with a
    `_corrupt_record` capture column — bad rows land in quarantine
    instead of failing the job or silently vanishing, which is the
    only acceptable behavior for TB-scale third-party feeds
    (DROPMALFORMED loses data, FAILFAST loses the night). The
    aggregate proves the good/quarantined split and that good-row
    money survived the round-trip to the cent."""
    o = table(spark, sf_dir, "orders")
    price_txt = F.when(
        F.col("o_orderkey") % 10 == 3, F.lit("N/A")
    ).otherwise(F.col("o_totalprice").cast("string"))
    # double->string->double round-trips exactly (Spark emits
    # shortest-round-trip representations), so good_cents matches the
    # oracle computed on the original doubles
    lines = o.select(
        F.concat_ws(
            ",", F.col("o_orderkey").cast("string"), price_txt
        ).alias("value")
    )
    src = tmpdir(prefix="etlcnc_csvcorrupt_", stable=True, key=sf_dir)
    lines.write.mode("overwrite").text(src)
    back = (
        spark.read.schema(
            "o_orderkey LONG, o_totalprice DOUBLE, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(src)
    )
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.sum(F.when(good, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(good, 0).otherwise(1)).cast("long").alias("n_corrupt"),
        F.sum(
            F.when(
                good, F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).otherwise(0)
        )
        .cast("long")
        .alias("good_cents"),
    )


@register(
    "scan_observe",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS rows_seen,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(count_if(l_quantity > 45) AS BIGINT) AS big_qty
    FROM lineitem
    """,
)
def scan_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline health metrics via the Observation API: named
    aggregates piggyback on a query's existing pass (`df.observe`),
    so row counts / money totals / anomaly tallies cost ZERO extra
    scans — the production pattern for load-time metric emission
    (vs. a separate audit query that doubles the I/O). The observed
    values are returned as a 1-row frame and hash-verified against
    recomputation, proving observe() sees every row exactly once."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("etlcnc_scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("price_cents"),
        F.sum(F.when(F.col("l_quantity") > 45, 1).otherwise(0))
        .cast("long")
        .alias("big_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_seen"], m["price_cents"], m["big_qty"])],
        "rows_seen long, price_cents long, big_qty long",
    )


@register(
    "scan_metadata",
    oracle="""
    SELECT 'lineitem' AS file_stem, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
)
def scan_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file columns — per-row lineage (source
    file path, size, mtime) exposed by the parquet reader with no
    data rewrite. This is how a 100 TB pipeline answers "which input
    file produced this bad row" and how file-level incremental
    processing (only new files since the last high-water mark)
    selects its work. Output keys on the file stem so the check is
    path-independent."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.regexp_extract(
            F.col("_metadata.file_path"), r"([a-z]+)\.parquet", 1
        ).alias("file_stem"),
    )
    return li.groupBy("file_stem").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "source_orc",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: customer written as ORC (Spark's
    second native columnar format — same vectorized reader, predicate
    pushdown, and column pruning machinery as parquet) and read back
    through a selective segment filter, so the check covers both the
    writer and the pushdown read path. Money is materialized as exact
    integer cents BEFORE the write, so the round-trip carries no
    float re-encoding risk. At 100 TB the format choice is a
    per-dataset config switch, not a code change — everything
    downstream consumes the same DataFrame."""
    c = table(spark, sf_dir, "customer")
    out = tmpdir(prefix="etlcnc_orc_", stable=True, key=sf_dir)
    c.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias(
            "acctbal_cents"
        ),
    ).write.mode("overwrite").orc(out)
    return spark.read.orc(out).where(F.col("c_mktsegment") == "BUILDING")


@register(
    "source_binary_files",
    oracle="""
    SELECT n_nationkey,
           CAST(strlen(n_name) AS BIGINT) AS n_bytes,
           md5(n_name) AS digest
    FROM nation
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` datasource — the ingestion path for opaque
    media/blob corpora (images, audio, model shards): one payload
    file per nation row (its name bytes) is exported by a DISTRIBUTED `mapInPandas`
    shard writer (each task writes its own rows' files to shared
    storage — the scale pattern; no driver collect), then read back
    with `spark.read.format("binaryFile")`, which yields
    (path, modificationTime, length, content) rows. The check
    verifies byte-lossless transport: per-file byte length and md5
    of the content column must equal the same digests computed
    relationally from the source strings. Fixture comments are
    ASCII, so DuckDB's md5(VARCHAR) hashes the identical bytes."""
    import os

    n = table(spark, sf_dir, "nation")
    out = tmpdir(prefix="etlcnc_binsrc_", stable=True, key=sf_dir)

    def _export(batches):
        import pandas as pd

        for pdf in batches:
            for k, name in zip(pdf["n_nationkey"], pdf["n_name"]):
                path = os.path.join(out, f"nation_{int(k):05d}.bin")
                with open(path, "wb") as fh:
                    fh.write(str(name).encode("utf-8"))
            yield pd.DataFrame({"written": [len(pdf)]})

    # noop sink triggers the export exactly once, executor-side.
    n.select("n_nationkey", "n_name").mapInPandas(
        _export, "written long"
    ).write.format("noop").mode("overwrite").save()
    b = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    return b.select(
        F.regexp_extract(F.col("path"), r"nation_(\d+)\.bin", 1)
        .cast("int")
        .alias("n_nationkey"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )

"""Native Parquet scans (SURVEY.md §2.1 S10).

These queries exist to pin the scan shape: projection + predicate must
reach the Parquet reader (``PushedFilters``/``ReadSchema`` in
.explain), so at 100 TB the engine reads only the referenced columns
and skips row groups by min/max stats.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .tables import load


@register(
    "q_scan_lineitem",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_discount > 0.05
""",
)
def q_scan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: projected, filtered fact-table scan. Both the column list
    and both predicates push into the Parquet scan node."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1995-06-01") & (F.col("l_discount") > 0.05))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


_NATION_AGG_ORACLE = """
SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
       CAST(min(n_nationkey) AS BIGINT) AS min_key
FROM nation GROUP BY n_regionkey
"""


def _ensure_format_dir(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """nation written in ``fmt`` once per (session, sf_dir, fmt);
    returns the path."""
    from .tmputil import dir_tag, ensure_materialized, tmp_path

    def build() -> str:
        path = tmp_path("formats", dir_tag(sf_dir), fmt)
        w = load(spark, sf_dir, "nation").write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        elif fmt == "xml":
            w = w.option("rowTag", "nation")
        w.save(path)
        return path

    return ensure_materialized(spark, "formats", sf_dir, build, fmt)


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Read nation's ``fmt`` copy (_ensure_format_dir) back with an
    explicit schema (never inferred — schema-on-read is pinned by the
    engine, SURVEY §1.3), and aggregate. The oracle runs on the
    original parquet, so the check covers the full write→read
    round-trip of the format."""
    path = _ensure_format_dir(spark, sf_dir, fmt)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT, n_comment STRING"
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true")
    elif fmt == "xml":
        r = r.option("rowTag", "nation")
    back = r.schema(schema).load(path)
    # min over a string buffer would plan as SortAggregate (string
    # agg buffers aren't UnsafeRow-mutable) — numeric aggregates keep
    # the round-trip inside the hash-agg/codegen path.
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n"),
        F.min("n_nationkey").cast("long").alias("min_key"),
    )


@register("q_source_csv", oracle=_NATION_AGG_ORACLE)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip with declared schema + header. CSV is the
    interchange format, not a storage format: no pushdown, no column
    skipping — which is exactly what this op documents relative to the
    parquet scans above."""
    return _roundtrip(spark, sf_dir, "csv")


@register("q_source_json", oracle=_NATION_AGG_ORACLE)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round-trip with declared schema (no inference
    pass — one read, not two)."""
    return _roundtrip(spark, sf_dir, "json")


@register("q_source_orc", oracle=_NATION_AGG_ORACLE)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip — the other columnar format, same
    pushdown/pruning machinery as parquet."""
    return _roundtrip(spark, sf_dir, "orc")


@register("q_source_xml", oracle=_NATION_AGG_ORACLE)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip (native ``xml`` format since Spark 4,
    rowTag-scoped records). Like CSV it is an interchange format —
    row-oriented, no pushdown — but feeds + legacy enterprise exports
    land this way; declared schema keeps it to one read."""
    return _roundtrip(spark, sf_dir, "xml")


@register(
    "q_scan_part_pruned",
    oracle="""
SELECT p_partkey, p_brand, p_retailprice
FROM part
WHERE p_size < 15 AND p_type LIKE '%O%'
""",
)
def q_scan_part_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: dimension scan with LIKE predicate; column pruning keeps
    ReadSchema to 4 of 6 columns."""
    return (
        load(spark, sf_dir, "part")
        .filter((F.col("p_size") < 15) & F.col("p_type").like("%O%"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


def _ensure_evolved_customer(spark: SparkSession, sf_dir: str) -> str:
    """Two-generation parquet dataset: generation v1 writes customers
    with the original columns; v2 adds a derived ``tier`` column —
    the additive schema change every long-lived landing zone
    accumulates. Materialized once per (session, sf_dir)."""
    from .tmputil import dir_tag, ensure_materialized, tmp_path, write_artifact

    def build() -> str:
        path = tmp_path("evolved", dir_tag(sf_dir), "customer")
        cust = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal"
        )
        v1 = cust.filter(F.col("c_custkey") % 2 == 0)
        v2 = cust.filter(F.col("c_custkey") % 2 == 1).withColumn(
            "tier", F.when(F.col("c_acctbal") >= 0, "standard").otherwise("debt")
        )
        write_artifact(v1.write.mode("overwrite"), f"{path}/gen=1")
        write_artifact(v2.write.mode("overwrite"), f"{path}/gen=2")
        return path

    return ensure_materialized(spark, "evolved", sf_dir, build)


@register(
    "q_schema_evolution_read",
    oracle="""
WITH ev AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CASE WHEN c_custkey % 2 = 1
              THEN (CASE WHEN c_acctbal >= 0 THEN 'standard' ELSE 'debt' END)
         END AS tier
  FROM customer
)
SELECT coalesce(tier, 'pre_schema') AS tier,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_bal
FROM ev GROUP BY coalesce(tier, 'pre_schema')
""",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution: generation 1 of the dataset lacks
    the ``tier`` column, generation 2 has it; one mergeSchema read
    unions both with nulls for the pre-schema rows (reported as
    'pre_schema'). The oracle reconstructs the same two-generation
    content relationally.

    Scale note: mergeSchema is a FOOTER sweep across files (no data
    pages), paid once per read — production pins the merged schema in
    a catalog instead; the read itself stays one pass, and columns
    missing in old files materialize as nulls at scan time, not via
    rewrite."""
    path = _ensure_evolved_customer(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        df.select(F.coalesce(F.col("tier"), F.lit("pre_schema")).alias("tier"), "c_acctbal")
        .groupBy("tier")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


def _ensure_malformed_csv(spark: SparkSession, sf_dir: str) -> str:
    """nation as one CSV file whose every 5th key is non-numeric,
    written once per (session, sf_dir); returns the path."""
    from .tmputil import dir_tag, ensure_materialized, tmp_path

    def build() -> str:
        path = tmp_path("malformed_csv", dir_tag(sf_dir), "nation")
        raw = load(spark, sf_dir, "nation").select(
            F.when(F.col("n_nationkey") % 5 == 0, F.lit("not-a-number"))
            .otherwise(F.col("n_nationkey").cast("string"))
            .alias("key_field"),
            "n_name",
        )
        raw.coalesce(1).write.mode("overwrite").option("header", "true").csv(
            path
        )
        return path

    return ensure_materialized(spark, "malformed_csv", sf_dir, build)


@register(
    "q_csv_malformed",
    oracle="""
WITH raw AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey % 5 = 0 THEN 'not-a-number' 
              ELSE CAST(n_nationkey AS VARCHAR) END AS key_field,
         n_name
  FROM nation
)
SELECT CAST(count(*) FILTER (WHERE key_field ~ '^[0-9]+$') AS BIGINT) AS n_good,
       CAST(count(*) FILTER (WHERE NOT key_field ~ '^[0-9]+$') AS BIGINT) AS n_bad,
       CAST(sum(CASE WHEN key_field ~ '^[0-9]+$'
                     THEN CAST(key_field AS BIGINT) END) AS BIGINT) AS sum_good_keys
FROM raw
""",
)
def q_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on the CSV source: a landing file
    where every 5th row carries a non-numeric key is read PERMISSIVE
    with a ``_corrupt_record`` capture column — bad rows surface as
    data (null typed fields + the raw line) instead of killing the
    job or silently vanishing (DROPMALFORMED). The report counts
    good/bad rows and checksums the good keys; the oracle derives
    the same split relationally.

    The real-world contract this pins: ingest NEVER throws on dirty
    rows and NEVER drops them silently — they land in a quarantine
    column for reprocessing, the shape a 100 TB landing zone
    requires."""
    from pyspark.sql import types as T

    path = _ensure_malformed_csv(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("key_field", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # PERMISSIVE corrupt-record semantics need the raw column
    # materialized before filtering on it (Spark requires referencing
    # the cached parsed batch; a cache() scopes it).
    df = df.cache()
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .cast("long")
        .alias("n_bad"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("key_field")))
        .cast("long")
        .alias("sum_good_keys"),
    )

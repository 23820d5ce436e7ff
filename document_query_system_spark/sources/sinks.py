"""Sinks and write-shaped operators (SURVEY.md §2.1 S7/S8).

The reference's Pinecone upsert (ref: pinecone_manager.py:61-103,
batches of 100) becomes last-writer-wins dedup over a keyed table —
a window rewrite on plain Parquet (Delta MERGE where available).
Its JSON serializer (ref: document_processing_service.py:752-781)
becomes ``to_json(struct(...))``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .tables import load


@register(
    "q_to_json",
    oracle="""
SELECT doc_id,
       to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)) AS doc_json
FROM documents
""",
)
def q_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: row → JSON document serialization
    (ref: document_processing_service.py:752-781)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("doc_json"),
    )


@register(
    "q_upsert_last_writer",
    oracle="""
SELECT user_id, event_type, event_id, value
FROM (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def q_upsert_last_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: upsert = last-writer-wins by key. The reference upserts
    vectors by chunk_id (ref: pinecone_manager.py:77-86); here the
    keyed stream is events keyed by (user_id, event_type), latest ts
    wins. One shuffle on the key — the same window rewrite implements
    idempotent re-ingestion at any scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@register(
    "q_incremental_index",
    oracle="""
WITH todo AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id NOT IN (SELECT vec_id FROM embeddings)
)
SELECT CAST(count(*) AS BIGINT)   AS docs_to_embed,
       CAST(min(doc_id) AS BIGINT) AS first_new,
       CAST(max(doc_id) AS BIGINT) AS last_new
FROM todo
""",
)
def q_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-5 incremental indexing: anti-join the corpus against the
    already-indexed id set so only NEW documents pay extraction +
    embedding (the cluster form of the reference's content-hash cache
    hit, ref: ingestion_service.py:294-299). The anti-join is a
    broadcast of the indexed-id projection at any realistic index/
    corpus ratio; the embed stage downstream then runs on the delta
    only."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    indexed = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    todo = docs.join(F.broadcast(indexed), "doc_id", "left_anti")
    return todo.agg(
        F.count("*").alias("docs_to_embed"),
        F.min("doc_id").alias("first_new"),
        F.max("doc_id").alias("last_new"),
    )


from .tmputil import (
    dir_tag,
    ensure_materialized,
    read_artifact,
    tmp_path,
    write_artifact,
)

_BUCKETS = 8


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> None:
    """Write orders/customer as bucketed tables (8 buckets on the join
    key) under the artifact root, once per (session, sf_dir).
    Bucketing pre-shuffles the data on disk: every later join or
    aggregate on the bucket key reads co-located partitions and skips
    its exchange, the trade for tables joined far more often than
    written."""

    def build() -> None:
        base = tmp_path("bucketed")
        tag = dir_tag(sf_dir)
        for name, bucket_col in (("orders", "o_custkey"), ("customer", "c_custkey")):
            tbl = f"b_{name}_{tag.replace('.', '_')}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                load(spark, sf_dir, name)
                .write.bucketBy(_BUCKETS, bucket_col)
                .sortBy(bucket_col)
                .option("path", os.path.join(base, tag, name))
                .mode("overwrite")
                .saveAsTable(tbl)
            )

    ensure_materialized(spark, "bucketed", sf_dir, build)


@register(
    "q_bucketed_join",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on bucketed tables: both sides bucketed 8-ways
    on the customer key, so the join needs NO exchange — Spark reads
    matching buckets together (zero-shuffle joins are the single
    biggest lever for repeatedly-joined fact/dim tables at 100 TB;
    plan pinned in tests/test_plan_quality.py). Results are identical
    to the plain join the oracle runs.

    The MERGE hint pins the sort-merge strategy so the co-located
    bucket read is visible at test scale — without it Catalyst
    (correctly) broadcasts the small customer side instead. At the
    scale bucketing exists for, neither side fits in memory and SMJ
    over aligned buckets is what the optimizer picks unaided."""
    _ensure_bucketed_tables(spark, sf_dir)
    tag = dir_tag(sf_dir).replace(".", "_")
    o = spark.table(f"b_orders_{tag}")
    c = spark.table(f"b_customer_{tag}").hint("MERGE")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "q_retention_sweep",
    oracle="""
WITH horizon AS (SELECT max(ts) - INTERVAL 30 DAY AS h FROM events)
SELECT CAST(count(*) AS BIGINT) AS kept,
       CAST(min(epoch_us(ts)) AS BIGINT) AS oldest_kept_us
FROM events, horizon
WHERE ts >= h
""",
)
def q_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention sweep: keep only rows inside the retention horizon
    (max ts − 30 days) — the engine form of the reference's cache
    expiry cleanup (ref: ingestion_service.py:418-439, delete files
    older than N hours). On the date-partitioned events layout
    (SCALE.md) this predicate is a partition prune, and the physical
    delete is dropping whole directories — no row-level rewrite."""
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 DAYS")).alias("h")
    )
    kept = ev.join(F.broadcast(horizon)).filter(F.col("ts") >= F.col("h"))
    return kept.agg(
        F.count("*").alias("kept"),
        F.unix_micros(F.min("ts")).alias("oldest_kept_us"),
    )


def _ensure_partitioned_docs(spark: SparkSession, sf_dir: str) -> str:
    """Write documents partitioned by lang (hive layout lang=xx/) once
    per (session, sf_dir); returns the path. Partition columns are the
    coarse file-skipping axis at scale: a lang-filtered query lists
    only that partition's directory."""

    def build() -> str:
        path = tmp_path("partitioned", dir_tag(sf_dir), "documents")
        write_artifact(
            load(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .partitionBy("lang"),
            path,
        )
        return path

    return ensure_materialized(spark, "partitioned", sf_dir, build)


@register(
    "q_partition_pruned_read",
    oracle="""
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
WHERE lang = 'de'
GROUP BY source
""",
)
def q_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: documents written partitionBy
    (lang), read back with a lang predicate — the scan lists ONE
    partition directory (PartitionFilters in the plan; pinned in
    tests/test_plan_quality.py). At 100 TB this is the difference
    between listing/reading 1/Nth of the table and all of it."""
    path = _ensure_partitioned_docs(spark, sf_dir)
    d = read_artifact(spark, path).filter(F.col("lang") == "de")
    return d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("chars"),
    )


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str,
    order_col: str | list[str],
) -> None:
    """Library helper: merge ``updates`` into the Parquet table at
    ``path`` with last-writer-wins semantics on ``key`` (S8). On a
    cluster this is a Delta/Iceberg MERGE; on plain Parquet we
    union + window-dedup + atomic overwrite.

    First-batch existence is checked via the Hadoop FS API rather than
    try/except around the read: probing a missing path through the
    DataSource resolver makes FileStreamSink.hasMetadata log a WARN
    with a full FileNotFoundException stack — which polluted the r2/r4
    bench artifact tails (ADVICE.md) even though the condition is
    expected and handled."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        unioned = read_artifact(spark, path).unionByName(updates)
    else:
        unioned = updates
    # order_col may be a list: secondary keys make the winner
    # deterministic when the primary (e.g. a timestamp) ties.
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in cols])
    deduped = (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Materialize before overwrite (reading and overwriting the same
    # path in one job would race); localCheckpoint keeps it in memory.
    write_artifact(deduped.localCheckpoint(eager=True).write.mode("overwrite"), path)


@register(
    "q_merge_into",
    oracle="""
WITH target AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 3 <> 0
),
source AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS status,
         round(o_totalprice * 1.04, 2) AS price
  FROM orders WHERE o_orderkey % 2 = 0
),
merged AS (
  SELECT coalesce(t.k, s.k) AS k,
         CASE WHEN s.k IS NULL THEN t.status ELSE s.status END AS status,
         CASE WHEN s.k IS NULL THEN t.price ELSE s.price END AS price,
         CASE WHEN t.k IS NULL THEN 'inserted'
              WHEN s.k IS NULL THEN 'kept'
              ELSE 'updated' END AS action,
         CASE WHEN s.k IS NOT NULL AND s.status = 'X' THEN 1 ELSE 0 END AS del
  FROM target t FULL OUTER JOIN source s ON t.k = s.k
)
SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM merged WHERE del = 0
GROUP BY action
""",
)
def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the Delta/Iceberg write primitive, a
    superset of S8's last-writer upsert): target rows matched by a
    source row are UPDATED, unmatched source rows are INSERTED,
    matched rows meeting a condition (status 'X') are DELETED, and
    unmatched target rows are kept. Implemented as ONE full-outer
    join on the key plus per-row case expressions — no multi-pass
    read-modify-write; summarized per action so the result is small
    and value-checkable.

    Target/source derive deterministically from orders (key drops
    simulate a partial target; the source updates prices 4% — a multiplier chosen tie-free:
    2-decimal cents times 1.04 can never land exactly on a half-cent,
    where the engines' round() disagree — and flags
    every 5th key for delete). At 100 TB this is the job you bucket
    by the merge key so the full-outer is co-located; the classified
    output then writes back partition-overwrite, exactly like the
    upsert sink."""
    od = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = od.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("tk"),
        F.col("o_orderstatus").alias("t_status"),
        F.round("o_totalprice", 2).alias("t_price"),
    )
    source = od.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("sk"),
        F.when(F.col("o_orderkey") % 5 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("s_status"),
        F.round(F.col("o_totalprice") * 1.04, 2).alias("s_price"),
    )
    j = target.join(source, target.tk == source.sk, "full_outer")
    action = (
        F.when(F.col("tk").isNull(), "inserted")
        .when(F.col("sk").isNull(), "kept")
        .otherwise("updated")
    )
    status = F.when(F.col("sk").isNull(), F.col("t_status")).otherwise(
        F.col("s_status")
    )
    price = F.when(F.col("sk").isNull(), F.col("t_price")).otherwise(
        F.col("s_price")
    )
    delete = F.col("sk").isNotNull() & (F.col("s_status") == "X")
    merged = j.select(
        action.alias("action"), status.alias("status"), price.alias("price")
    ).filter(~delete)
    # integer-cents sum: a double sum over ~1e9-magnitude prices is
    # order-sensitive past the 2nd decimal; cents are exact in BIGINT.
    return merged.groupBy("action").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.round(F.col("price") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_cents"),
    )

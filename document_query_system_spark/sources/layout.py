"""Data-layout maintenance: small-file compaction and Z-order
clustering — the table-maintenance jobs a 100 TB lakehouse runs
continuously (streaming sinks shed thousands of tiny files that
destroy scan throughput; multi-dimension filters need a layout that
keeps BOTH columns' min/max tight per file so row-group pruning
works on either).

Both ops are content-neutral by definition, which is exactly what
their oracles check: the registered queries read the rewritten
layout back and aggregate, and must equal the same aggregate over
the original table. The physical claims — fewer files after
compaction, tight per-file min/max on both Z-order dimensions — are
asserted in tests/test_layout.py against the written files
themselves.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .tables import load
from .tmputil import (
    dir_tag,
    ensure_materialized,
    read_artifact,
    tmp_path,
    write_artifact,
)

# ------------------------------------------------------------- compaction

#: Fragment count simulating a streaming sink's output ("one file per
#: micro-batch per partition" is how real landing zones rot).
_FRAG_FILES = 48
#: Compaction target. Tiny on purpose at test scale — the POINT is the
#: computation shape (files_out = ceil(bytes/target)), not the value;
#: production uses 128 MB-1 GB.
_COMPACT_TARGET_BYTES = 256 * 1024


def _ensure_fragmented_docs(spark: SparkSession, sf_dir: str) -> str:
    """documents rewritten as _FRAG_FILES small files, once per
    (session, sf_dir); returns the path."""

    def build() -> str:
        path = tmp_path("fragmented", dir_tag(sf_dir), "documents")
        docs = load(spark, sf_dir, "documents")
        write_artifact(docs.repartition(_FRAG_FILES).write.mode("overwrite"), path)
        return path

    return ensure_materialized(spark, "fragmented", sf_dir, build)


def compact_parquet(
    spark: SparkSession, in_path: str, out_path: str, target_bytes: int
) -> tuple[int, int]:
    """Coalesce a fragmented parquet dataset to ~target_bytes files;
    returns (files_before, files_after). File sizes come from the
    files the reader actually scans (``inputFiles``) — on a cluster
    the listing is the FS API, locally os.stat; either way it is a
    metadata pass, no data pages read. The rewrite is a narrow
    coalesce (no shuffle) whenever the scan has at least n_out
    partitions — at 100 TB compaction jobs are bandwidth-bound
    rewrites and the LAST thing they need is a re-shuffle of the
    whole table — with a repartition fallback for the rare
    under-partitioned scan (see the inline comment)."""
    df = read_artifact(spark, in_path)
    files = [f.removeprefix("file:") for f in df.inputFiles()]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    # coalesce can only REDUCE partition count: if the scan packed the
    # fragments into fewer read partitions than the size target wants
    # (small files + a low-core box push maxSplitBytes up), coalesce
    # would silently emit too-few, too-big files — fall back to a
    # repartition (one shuffle) only on that rare under-partitioned
    # path, keeping the common path shuffle-free.
    if df.rdd.getNumPartitions() >= n_out:
        out = df.coalesce(n_out)
    else:
        out = df.repartition(n_out)
    write_artifact(out.write.mode("overwrite"), out_path)
    n_after = len(read_artifact(spark, out_path).inputFiles())
    return len(files), n_after


def ensure_compacted_docs(spark: SparkSession, sf_dir: str) -> str:
    """Fragmented copy → compacted copy, once per (session, sf_dir)."""

    def build() -> str:
        path = tmp_path("compacted", dir_tag(sf_dir), "documents")
        frag = _ensure_fragmented_docs(spark, sf_dir)
        compact_parquet(spark, frag, path, _COMPACT_TARGET_BYTES)
        return path

    return ensure_materialized(spark, "compacted", sf_dir, build)


@register(
    "q_compact_roundtrip",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
""",
)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: fragment the documents table
    into 48 micro-batch-sized files (how a streaming sink's landing
    zone actually rots), compact to size-targeted files with a
    shuffle-free coalesce, and aggregate the compacted copy — which
    must equal the aggregate over the original table (the oracle).
    The physical claim (file count collapses to ceil(bytes/target))
    is asserted against the written files in tests/test_layout.py."""
    path = ensure_compacted_docs(spark, sf_dir)
    return (
        read_artifact(spark, path)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# ------------------------------------------------------------- Z-ordering

_Z_BITS = 8  # bits per dimension → 16-bit Morton key
_Z_FILES = 8  # range partitions (files) in the clustered layout


def _morton(bp: Column, bs: Column) -> Column:
    """Interleave the low _Z_BITS bits of two bucket columns into a
    Morton key — locality in BOTH dimensions, which is what lets a
    range-partitioned write keep min/max tight on each."""
    z = F.lit(0)
    for k in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(bp, k).bitwiseAND(F.lit(1)), 2 * k)
            + F.shiftleft(F.shiftright(bs, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        )
    return z


def ensure_zordered_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Z-order-clustered copy of lineitem by (l_partkey, l_suppkey),
    once per (session, sf_dir): value-proportional 8-bit buckets per
    dimension (the two max keys are a 1-row bounded collect), Morton
    interleave, repartitionByRange + sortWithinPartitions on the key,
    write. This is the generic recipe Delta/Iceberg OPTIMIZE ZORDER
    implements; here it is plain Spark + plain parquet."""

    def build() -> str:
        path = tmp_path("zorder", dir_tag(sf_dir), "lineitem")
        li = load(spark, sf_dir, "lineitem")
        # bounded collect: two scalars for value→bucket scaling
        pmax, smax = li.agg(
            F.max("l_partkey"), F.max("l_suppkey")
        ).first()
        bp = F.least(
            F.lit(2**_Z_BITS - 1),
            (F.col("l_partkey") * (2**_Z_BITS) / (pmax + 1)).cast("int"),
        )
        bs = F.least(
            F.lit(2**_Z_BITS - 1),
            (F.col("l_suppkey") * (2**_Z_BITS) / (smax + 1)).cast("int"),
        )
        write_artifact(
            li.withColumn("z", _morton(bp, bs))
            .repartitionByRange(_Z_FILES, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite"),
            path,
        )
        return path

    return ensure_materialized(spark, "zorder", sf_dir, build)


@register(
    "q_zorder_pruned_read",
    oracle="""
SELECT 'partkey_band' AS probe,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_partkey BETWEEN 100 AND 199
UNION ALL
SELECT 'suppkey_band' AS probe,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_suppkey BETWEEN 10 AND 19
""",
)
def q_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: rewrite lineitem ordered by the Morton
    interleave of (l_partkey, l_suppkey) buckets, then probe the
    clustered copy with a band filter on EACH dimension — both must
    equal the same filters on the raw table (the oracle). The payoff
    is physical: every output file holds a tight min/max range on
    BOTH columns, so parquet row-group pruning skips most of the
    table for either probe (a single-column sort gives this for one
    dimension and destroys it for the other) —
    tests/test_layout.py measures the per-file ranges."""
    path = ensure_zordered_lineitem(spark, sf_dir)
    z = read_artifact(spark, path)
    a = (
        z.filter(F.col("l_partkey").between(100, 199))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(F.lit("partkey_band").alias("probe"), "n_rows", "sum_qty")
    )
    b = (
        z.filter(F.col("l_suppkey").between(10, 19))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(F.lit("suppkey_band").alias("probe"), "n_rows", "sum_qty")
    )
    return a.unionByName(b)

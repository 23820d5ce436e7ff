"""Parity pins for the artifact schema catalog and the footer row count
(sources/tmputil.py).

A recorded-schema read (``read_artifact``) must see exactly what
``spark.read.parquet`` infers: the same column names, order,
nullability and types, including the ``int`` type inferred for the
``cell`` partition column, and the same rows. A package write drops the
record, so a rewrite with a new schema is read with the new schema. A
path never recorded reads by inference. ``parquet_rows`` must equal
``count()`` on a single Parquet file and on flat and partitioned
datasets."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from document_query_system_spark.sources import tmputil
from document_query_system_spark.sources.tmputil import (
    parquet_rows,
    read_artifact,
    tmp_path,
    write_artifact,
)

from conftest import SF_DIR, count_jobs


def _rows(df):
    return sorted(map(repr, (tuple(r) for r in df.collect())))


def _assert_recorded_read_matches_inference(spark, path):
    read_artifact(spark, path)  # records the schema if not yet recorded
    assert tmputil._artifact_key(path) in tmputil._SCHEMAS
    recorded, jobs = count_jobs(spark, lambda: read_artifact(spark, path))
    assert jobs == 0, f"a recorded read of {path} started {jobs} job(s)"
    inferred = spark.read.parquet(path)
    assert recorded.schema == inferred.schema
    if "cell" in inferred.columns:
        assert inferred.schema["cell"].dataType == IntegerType()
        assert recorded.columns[-1] == "cell"
    assert _rows(recorded) == _rows(inferred)


def _artifact(spark, name):
    from document_query_system_spark import api
    from document_query_system_spark.operators.ivf import ensure_ivf

    if name == "flat_index":
        return api.ensure_vector_index(spark, SF_DIR)
    if name == "keyword_table":
        return api.ensure_keyword_table(spark, SF_DIR)
    layout, cents, _cells = ensure_ivf(spark, SF_DIR, "documents", True)
    return layout if name == "scaled_layout" else cents


@pytest.mark.parametrize(
    "name", ["flat_index", "keyword_table", "scaled_layout", "scaled_centroids"]
)
def test_recorded_schema_matches_inference(spark, name):
    _assert_recorded_read_matches_inference(spark, _artifact(spark, name))


def test_recorded_schema_matches_inference_through_ivf_maintenance(spark):
    """The applied layout after each write verb: append (base overwrite
    + batch append), delete (dynamic overwrite + emptied-cell drop) and
    compaction (dynamic overwrite)."""
    from document_query_system_spark.operators.ivf import (
        DELTA_MOD,
        append_ivf_delta,
        compact_ivf_cells,
        delete_from_ivf,
    )

    path = append_ivf_delta(spark, SF_DIR, scaled=True)
    _assert_recorded_read_matches_inference(spark, path)
    victims = (
        spark.read.parquet(path)
        .filter(F.col("doc_id") % (2 * DELTA_MOD) == 0)
        .select("doc_id")
    )
    assert delete_from_ivf(spark, path, victims)
    _assert_recorded_read_matches_inference(spark, path)
    assert compact_ivf_cells(spark, path, max_files_per_cell=1)
    _assert_recorded_read_matches_inference(spark, path)


def test_rewrite_with_new_schema_is_read_with_new_schema(spark):
    path = tmp_path("t_catalog", uuid.uuid4().hex[:8])
    ints = spark.range(5).select(F.col("id").cast("int").alias("a"))
    write_artifact(ints.write.mode("overwrite"), path)
    assert read_artifact(spark, path).schema.simpleString() == "struct<a:int>"
    wider = spark.range(3).select(
        F.col("id").cast("string").alias("a"), (F.col("id") * 10).alias("b")
    )
    write_artifact(wider.write.mode("overwrite"), path)
    df = read_artifact(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.schema.simpleString() == "struct<a:string,b:bigint>"
    assert sorted(map(tuple, df.collect())) == [("0", 0), ("1", 10), ("2", 20)]


def test_write_under_a_recorded_path_drops_its_record(spark):
    """A write into one partition directory changes what a read of the
    enclosing dataset sees, so it drops the enclosing path's record."""
    path = tmp_path("t_catalog", uuid.uuid4().hex[:8])
    write_artifact(spark.range(2).write.mode("overwrite"), f"{path}/gen=1")
    read_artifact(spark, path)
    assert tmputil._artifact_key(path) in tmputil._SCHEMAS
    write_artifact(
        spark.range(2).withColumn("tier", F.lit("x")).write.mode("overwrite"),
        f"{path}/gen=2",
    )
    assert tmputil._artifact_key(path) not in tmputil._SCHEMAS


def test_unrecorded_path_reads_by_inference(spark):
    """A dataset written outside the package (a hand-built layout, a
    manifest entry from another writer) is read by inference on its
    first read_artifact."""
    path = tmp_path("t_catalog", uuid.uuid4().hex[:8])
    spark.range(20).select(
        "id", (F.col("id") % 4).alias("cell")
    ).write.partitionBy("cell").parquet(path)
    assert tmputil._artifact_key(path) not in tmputil._SCHEMAS
    df = read_artifact(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == 20


@pytest.mark.parametrize(
    "name", ["flat_index", "scaled_layout", "applied_layout", "embeddings_file"]
)
def test_parquet_rows_equals_count(spark, name):
    if name == "embeddings_file":
        path = f"{SF_DIR}/embeddings.parquet"
    elif name == "applied_layout":
        from document_query_system_spark.operators.ivf import append_ivf_delta

        path = append_ivf_delta(spark, SF_DIR, scaled=True)
    else:
        path = _artifact(spark, name)
    assert parquet_rows(path) == spark.read.parquet(path).count()


def test_parquet_rows_missing_path_raises():
    with pytest.raises(FileNotFoundError):
        parquet_rows(tmp_path("t_catalog", "missing"))

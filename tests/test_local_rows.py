"""sources.tables.local_rows must be a drop-in for
``spark.createDataFrame(rows, schema)`` over driver-side Python rows:
the same schema (names, types, nullability) and the same collected
rows, for every schema shape the package passes — only the plan leaf
changes (LocalTableScan instead of a Python-RDD scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from document_query_system_spark.operators.clustering import CENTS_DDL, _cents_df
from document_query_system_spark.sources.tables import local_rows

_CENTS_SCHEMA = T.StructType(
    [
        T.StructField(
            "__cents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("cid", T.LongType()),
                        T.StructField("cv", T.ArrayType(T.DoubleType())),
                        T.StructField("cc", T.DoubleType()),
                    ]
                )
            ),
        )
    ]
)

CASES = {
    "scalars": (
        [(1, 10_000_000_000, "spark merge", 0.125), (-7, 0, "", 1e18)],
        "a INT, b LONG, c STRING, d DOUBLE",
    ),
    "nulls": (
        [(None, None, None, None), (3, None, "x", None)],
        "a INT, b LONG, c STRING, d DOUBLE",
    ),
    "non_ascii": (
        [(1, "héllo ñandú"), (2, "日本語テスト"), (3, "γάμμα bê:ta")],
        "question_id INT, question_text STRING",
    ),
    "array_double": (
        [(1, [0.5, -0.25, 0.0], 7), (2, [], 8), (3, None, None), (4, [1.0, None], 9)],
        "question_id LONG, q_v ARRAY<DOUBLE>, qcell LONG",
    ),
    "bigint_alias": ([(1, 2), (3, 4)], "question_id INT, doc_id BIGINT"),
    "lowercase_ddl": ([("low",), ("high",)], "tier string"),
    "zero_rows": ([], "question_id LONG, doc_id LONG, rel DOUBLE"),
    "cents_struct_type": (
        [([(0, [0.5, 0.25], 0.3125), (1, [1.0, 0.0], 1.0)],)],
        _CENTS_SCHEMA,
    ),
    "cents_ddl": (
        [([(0, [0.5, 0.25], 0.3125), (1, [1.0, None], None)],), ([],), (None,)],
        CENTS_DDL,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_rows_matches_python_rdd_form(spark, case):
    rows, schema = CASES[case]
    got = local_rows(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema] == [f.nullable for f in want.schema]
    assert got.collect() == want.collect()


def test_cents_df_matches_python_rdd_form(spark):
    """_cents_df is the one struct-array caller: its one-row centroid
    relation must equal the Python-RDD form of the same literals under
    the explicit StructType it has always had."""
    cents = [(0, [0.5, 0.25], 0.3125), (1, [1.0, 0.0], 1.0), (2, [0.0, 0.0], 0.0)]
    got = _cents_df(spark, cents)
    want = spark.createDataFrame([(cents,)], _CENTS_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()

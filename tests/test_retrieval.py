"""Keyword scoring shared by every keyword leg
(``operators/retrieval.keyword_score``): question words are the
reference's ``question.lower().split()`` — whitespace runs, tabs and
leading or trailing blanks never make a word — and a question with no
words scores 0.0 instead of failing the batch on a division by zero.
The DuckDB oracles split with the same rule (``question_words_sql``)."""

from __future__ import annotations

import pytest

from conftest import SF_DIR


def _answers(spark, questions):
    from document_query_system_spark.api import run_query

    rows = run_query(spark, SF_DIR, questions, method="keyword").collect()
    return sorted((r.question_id, r.rank, r.doc_id, r.score) for r in rows)


@pytest.mark.parametrize(
    "ragged", [" spark  merge\tsort ", "spark\nmerge sort\t", "SPARK\tmerge  sort"]
)
def test_keyword_words_split_on_whitespace_runs(spark, ragged):
    assert _answers(spark, [(1, ragged)]) == _answers(spark, [(1, "spark merge sort")])
    # The DuckDB oracles split with the same rule.
    import duckdb
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.retrieval import (
        question_words,
        question_words_sql,
    )

    got = duckdb.connect().execute(f"SELECT {question_words_sql('$1')}", [ragged])
    want = spark.range(1).select(question_words(F.lit(ragged))).first()[0]
    assert got.fetchone()[0] == want == ["spark", "merge", "sort"]


def test_keyword_question_without_words_scores_zero(spark):
    got = _answers(spark, [(1, "   "), (2, "\t \n"), (3, "")])
    assert {q for q, *_ in got} == {1, 2, 3}
    assert all(score == 0.0 for *_, score in got)


def test_keyword_words_split_on_every_python_space(spark):
    """Every code point ``str.isspace()`` accepts separates words in
    Spark and in DuckDB, as in the reference's ``str.split()``; Java's
    and RE2's ``\\s`` cover only the ASCII ones."""
    import duckdb
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.retrieval import (
        question_words,
        question_words_sql,
    )

    spaces = [chr(c) for c in range(0x110000) if chr(c).isspace()]
    assert len(spaces) == 29
    texts = ["A" + c + "b" for c in spaces]
    df = spark.createDataFrame([(t,) for t in texts], "t STRING")
    got_spark = dict(df.select("t", question_words(F.col("t"))).collect())
    con = duckdb.connect()
    for t in texts:
        want = t.lower().split()
        got_duck = con.execute(f"SELECT {question_words_sql('$1')}", [t]).fetchone()[0]
        assert got_spark[t] == got_duck == want, hex(ord(t[1]))

"""Golden question set + QA constants, in a module with NO query
registrations.

Lives apart from operators/search.py so any module (operators/
pipeline.py's BM25, the api facade, the probes in operators/
retrieval.py) can share the question set without importing search's
registrations.

The reference's golden set is 10 fixed insurance questions
(ref: src/scripts/main.py:54-65); these 10 use the synthetic
documents' vocabulary so the keyword scorer yields nonzero,
oracle-reproducible scores (FIXTURES.md §13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.embed import _hash_embed_batch
from ..sources.tables import local_rows

GOLDEN_QUESTIONS: list[tuple[int, str]] = [
    (1, "how does spark merge sort runs for a big table"),
    (2, "which query uses a hash join on the customer table"),
    (3, "is the window agg slow for small batch data"),
    (4, "can a vector scan filter the stream fast"),
    (5, "why is the group order sort slow"),
    (6, "does the batch query merge dup rows"),
    (7, "what column key does the join use"),
    (8, "is a small part table broadcast fast"),
    (9, "how big is the data stream per batch window"),
    (10, "which line value does the filter scan match"),
]

TOP_K = 3  # context chunks per answer (ref: src/main.py:103, 157)
SNIPPET_LEN = 500  # fallback-answer content truncation (ref: src/main.py:147)


def questions_df(
    spark: SparkSession, questions: list[tuple[int, str]] = GOLDEN_QUESTIONS
) -> DataFrame:
    """A question batch as a LocalRelation (question_id, question_text)."""
    return local_rows(spark, questions, "question_id INT, question_text STRING")


def question_vector_rows(
    questions: list[tuple[int, str]] = GOLDEN_QUESTIONS,
) -> list[tuple[int, str, list[float]]]:
    """(question_id, question_text, qv) per question, embedded on the
    driver with ``_hash_embed_batch``: the kernel the stored indexes
    were built with, bit-identical to ``embed_df``
    (tests/test_fold_parity.py), so a question vector and a document
    vector always come from the same arithmetic."""
    vecs = _hash_embed_batch([t for _, t in questions])
    return [(qid, text, v) for (qid, text), v in zip(questions, vecs)]


def question_vectors(
    spark: SparkSession, questions: list[tuple[int, str]] = GOLDEN_QUESTIONS
) -> DataFrame:
    """The embedded question batch as a LocalRelation
    (question_id INT, question_text STRING, qv ARRAY<DOUBLE>). Every
    query that probes with question vectors starts here: a batch of a
    few rows embeds faster on the driver than Spark can plan an embed
    stage for it, and as a LocalRelation it plans as a LocalTableScan
    with no Python worker."""
    return local_rows(
        spark,
        question_vector_rows(questions),
        "question_id INT, question_text STRING, qv ARRAY<DOUBLE>",
    )


def question_values_sql() -> str:
    rows = ",\n      ".join(f"({i}, '{t}')" for i, t in GOLDEN_QUESTIONS)
    return f"questions(question_id, question_text) AS (VALUES\n      {rows})"

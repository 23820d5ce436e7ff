"""Keyword QA search — the engine's flagship query.

Re-expresses the reference's keyword-fallback QA path
(ref: src/main.py:134-157 — lowercase split of the question,
substring-containment count against each chunk, score =
matches/len(words), sort desc, top 3) as a declarative Spark plan:

    questions (tiny, broadcast) ⨯ documents
      → score as a higher-order array expression (no UDF)
      → row_number window top-k per question
      → templated answer summary

The reference treats this as an exception fallback; here it is a
first-class operator. Scale shape: the question side is broadcast
(BroadcastNestedLoopJoin), so the big documents table never
shuffles — the plan is embarrassingly parallel over document
partitions and survives a 100×/1000× scale-up of `documents`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load
from ..sources.tmputil import read_artifact
from .retrieval import keyword_score, keyword_score_sql, question_words, top_n

# Golden question set + constants live in operators/questions.py (a
# registration-free module) so other registering modules can import
# them without pulling search's queries into their registry position.
from .questions import (  # noqa: F401  (re-exported: public surface)
    GOLDEN_QUESTIONS,
    SNIPPET_LEN,
    TOP_K,
    question_values_sql,
    questions_df,
)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """questions ⨯ documents with the keyword-overlap score column
    (``retrieval.keyword_score``, the reference's
    src/main.py:137-145 semantics), as higher-order array functions
    inside whole-stage codegen, no Python UDF.

    The documents side is the stored keyword table
    (``api.ensure_keyword_table``: doc_id, snippet and the lower-cased
    text, written once per session as several files), so a call neither
    lower-cases nor re-spreads the corpus; the question words are split
    once, on the broadcast side."""
    from ..api import ensure_keyword_table

    docs = read_artifact(spark, ensure_keyword_table(spark, sf_dir))
    q = F.broadcast(
        questions_df(spark).select(
            "question_id",
            "question_text",
            question_words(F.col("question_text")).alias("__qwords"),
        )
    )
    return docs.crossJoin(q).select(
        "question_id",
        "question_text",
        "doc_id",
        keyword_score(F.col("__qwords"), F.col("text_lc")).alias("score"),
        "snippet",
    )


def keyword_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Top-k documents per question by keyword score (ref main.py:156-157).

    Deliberately the row_number window for every k, including 1: the
    tempting k=1 rewrite (max_by / max-of-struct grouped agg) plans as
    a SortAggregate — struct-valued aggregation buffers are not
    hash-aggregable and fall out of whole-stage codegen — and
    benchmarks ~2× slower than the window at sf0.1. The window sorts
    within ≤|questions| partitions and stays in codegen.
    """
    return top_n(_scored(spark, sf_dir), k, "score")


_SCORED_CTE = f"""
WITH {question_values_sql()},
scored AS (
  SELECT q.question_id, q.question_text, d.doc_id,
         {keyword_score_sql("q.question_text", "lower(d.text)")} AS score,
         substr(d.text, 1, {SNIPPET_LEN}) AS snippet
  FROM questions q CROSS JOIN documents d
)
"""

_TOPK_SQL = (
    _SCORED_CTE
    + f"""
, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY question_id
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored
)
SELECT question_id, question_text, doc_id, score, snippet
FROM ranked WHERE rn <= {TOP_K}
"""
)


@register("q_cross_score", oracle=_SCORED_CTE + "SELECT * FROM scored")
def q_cross_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A2/X1/X2: broadcast cross join + keyword-overlap score
    (ref: src/main.py:134-153)."""
    return _scored(spark, sf_dir)


@register("q_topk_per_question", oracle=_TOPK_SQL)
def q_topk_per_question(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/O2: top-3 documents per question, window ranking with stable
    tiebreak (ref: src/main.py:156-157; pinecone_manager.py:115-121)."""
    return keyword_topk(spark, sf_dir)


@register(
    "q_answer_summary",
    oracle=_SCORED_CTE
    + """
, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY question_id
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored
)
SELECT question_id, question_text,
       printf('Based on document %d (relevance %.3f): %s',
              doc_id, score, substr(snippet, 1, 100)) AS summary
FROM ranked WHERE rn = 1
""",
)
def q_answer_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: templated answer assembly from the best chunk per question
    (ref: src/main.py:116, 163 — f-string summary with %.3f score)."""
    best = keyword_topk(spark, sf_dir, k=1)
    return best.select(
        "question_id",
        "question_text",
        F.format_string(
            "Based on document %d (relevance %.3f): %s",
            F.col("doc_id"),
            F.col("score"),
            F.substring("snippet", 1, 100),
        ).alias("summary"),
    )


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The driver's ``entry()`` query: keyword QA top-3 at sf0.001."""
    return keyword_topk(spark, sf_dir)


# ------------------------------------------------------------------
# Positional-index search: exact phrase and proximity queries — the
# two IR primitives a bag-of-words scorer (above) and BM25
# (pipeline.py) cannot express, because both need token POSITIONS.

_PHRASE = ["slow", "hash", "batch"]
_NEAR_A, _NEAR_B, _NEAR_W = "customer", "query", 5

_POSTINGS_CTE = """
WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
            FROM documents),
post AS (SELECT doc_id, ts[d.pos] AS term, d.pos AS pos
         FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tk.ts))) AS pos) d)
"""


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional posting list (doc_id, term, pos), 1-based to match
    DuckDB list indexing."""
    from ..functions.hashing import tokens

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("pos"))


_PHRASE_SQL = (
    _POSTINGS_CTE
    + f""",
p0 AS (SELECT doc_id, pos FROM post WHERE term = '{_PHRASE[0]}'),
p1 AS (SELECT doc_id, pos FROM post WHERE term = '{_PHRASE[1]}'),
p2 AS (SELECT doc_id, pos FROM post WHERE term = '{_PHRASE[2]}')
SELECT p0.doc_id AS doc_id, count(*) AS n_matches, min(p0.pos) AS first_pos
FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        JOIN p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
GROUP BY p0.doc_id
"""
)


@register("q_phrase_search", oracle=_PHRASE_SQL)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via positional posting intersection: docs
    containing the 3-token phrase, with match count and first match
    position — the inverted-index primitive behind quoted queries.

    Plan: the posting build is a generate + project (no shuffle);
    each phrase term filters the postings BEFORE the joins — on a
    stored posting table this is a pushed-down `term IN (...)`
    predicate reading only 3 posting lists, never the corpus. The
    intersections are (doc_id, pos±k) equi-joins whose inputs are
    already term-pruned, so join size tracks the phrase terms'
    document frequency, not corpus size."""
    post = _postings(spark, sf_dir)
    p0 = post.filter(F.col("term") == _PHRASE[0]).select("doc_id", "pos")
    p1 = post.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    p2 = post.filter(F.col("term") == _PHRASE[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        p0.join(p1, ["doc_id", "pos"])
        .join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"), F.min("pos").alias("first_pos"))
    )


_NEAR_SQL = (
    _POSTINGS_CTE
    + f""",
a AS (SELECT doc_id, pos FROM post WHERE term = '{_NEAR_A}'),
b AS (SELECT doc_id, pos FROM post WHERE term = '{_NEAR_B}')
SELECT doc_id, n_pairs, min_gap FROM (
  SELECT doc_id, n_pairs, min_gap,
         row_number() OVER (ORDER BY n_pairs DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, count(*) AS n_pairs, min(abs(a.pos - b.pos)) AS min_gap
    FROM a JOIN b USING (doc_id)
    WHERE abs(a.pos - b.pos) <= {_NEAR_W}
    GROUP BY doc_id))
WHERE rn <= 20
"""
)


@register("q_proximity_search", oracle=_NEAR_SQL)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity (NEAR/5) search: top-20 docs where the two query
    terms co-occur within 5 tokens, scored by qualifying pair count
    with the minimum gap reported.

    Plan: both sides are term-pruned posting lists (document-
    frequency-sized), joined on doc_id with the band predicate
    |pa−pb| ≤ 5 applied in the join. Per-doc posting lists are short,
    so the within-doc pair fan-out is bounded; at scale the band
    would bucket on pos/5 exactly like q_join_interval_bucketed to
    keep the candidate set linear in postings."""
    post = _postings(spark, sf_dir)
    a = post.filter(F.col("term") == _NEAR_A).select("doc_id", F.col("pos").alias("pa"))
    b = post.filter(F.col("term") == _NEAR_B).select("doc_id", F.col("pos").alias("pb"))
    scored = (
        a.join(b, "doc_id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= _NEAR_W)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).alias("min_gap"),
        )
    )
    w = Window.orderBy(F.desc("n_pairs"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "n_pairs", "min_gap")
    )

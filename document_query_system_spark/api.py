"""User-facing facade: the reference's flagship endpoint as one engine
call, plus the builders of the stored artifacts its queries probe.

The reference's ``POST /api/v1/hackrx/run`` (ref: src/main.py:48-192)
takes (documents, questions) and returns, per question: the top
context chunks, a templated summary, and the search method — vector
search when the index path works, keyword fallback otherwise — plus
per-document processing stats. ``run_query`` is that contract on
Spark:

    answers = run_query(spark, sf_dir, questions)   # one DataFrame

- **vector path**: the question batch, embedded on the driver with the
  index's own kernel (``question_vectors``), probes the stored index
  (``operators.retrieval.exact_probe``) → cosine top-k (ref stages
  4-6);
- **keyword path**: the stored keyword table (``ensure_keyword_table``:
  doc_id, snippet and the lower-cased text, written once per session)
  cross-scored against the broadcast questions with the shared
  ``keyword_score`` → window top-k (ref :134-157) — selected per call
  like the reference's exception fallback, but as a first-class
  strategy flag rather than a try/except;
- **answer assembly**: top chunk summary template + doc stats agg
  (ref :100-127, 176-186).

The ``ensure_*`` builders write each derived artifact once per session
(``tmputil.ensure_materialized``): the flat vector index, its LSH
projection, the BM25 and TF-IDF postings, the co-order graph and the
keyword table. The IVF layouts and their lifecycle live in
``operators/ivf.py``.

Everything is lazy DataFrames end-to-end: on a warm session a request
starts no Spark job while its plan is built. The question embedding
runs on the driver, and the stored tables are read through
``read_artifact``, which reuses the schema recorded at their first read
instead of running an inference job per request. Collecting the plan
runs three jobs (broadcast, scoring map, top-k result). The two
strategies are the same plan shape with a different scoring expression,
and the result schema is the one authoritative answer schema (the
reference's declared response model drifts from what it actually
returns — SURVEY §1.1 note)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register
from .sources.tables import cluster_by_dirs, load, spread
from .sources.tmputil import (
    dir_tag,
    ensure_materialized,
    read_artifact,
    tmp_path,
    write_artifact,
)
from .functions.embed import embed_pandas
from .operators.ivf import ensure_ivf, maintain_ivf_index  # noqa: F401  (re-exported for perfbench)
from .operators.questions import (
    GOLDEN_QUESTIONS,
    SNIPPET_LEN,
    TOP_K,
    question_values_sql,
    question_vectors,
    questions_df,
)
from .operators.retrieval import (
    N_PLANES,
    N_TABLES,
    exact_pool_sql,
    exact_probe,
    golden_vectors_sql,
    keyword_score,
    keyword_score_sql,
    lsh_tables,
    question_words,
    top_n,
    vector_score,
)


def ensure_vector_index(spark: SparkSession, sf_dir: str) -> str:
    """The stored document vector index, built once per (session,
    sf_dir): the Parquet path of (doc_id, snippet, dv) with the
    deterministic embedder's vectors and the answer snippet (ref:
    vectorizer.py:60-72, the index payload carries truncated content).

    Queries probe this stored index instead of re-embedding the corpus
    per question batch, the engine form of the reference's
    build-then-query lifecycle (ref: pinecone_manager.py:61-103). The
    build embeds through the Arrow path (``embed_pandas``, bit-identical
    to the SQL fold); the snippet is cut before the embed so the full
    text never rides the Arrow return leg."""

    def build() -> str:
        path = tmp_path("vector_index", dir_tag(sf_dir))
        docs = spread(
            load(spark, sf_dir, "documents").select(
                "doc_id",
                F.substring("text", 1, SNIPPET_LEN).alias("snippet"),
                "text",
            )
        )
        idx = embed_pandas(
            docs, "text", out_col="dv", keep=["doc_id", "snippet"]
        )
        write_artifact(idx.write.mode("overwrite"), path)
        return path

    return ensure_materialized(spark, "vector_index", sf_dir, build)


def ensure_vector_index_lsh(spark: SparkSession, sf_dir: str) -> str:
    """Sign-LSH-bucketed projection of the stored vector index, built
    once per (session, sf_dir): one row per (doc, hash table) with that
    table's 4-bit bucket id, written ``partitionBy(tbl, bucket)`` (48
    directories at the default 3-table x 4-plane config,
    ``retrieval.lsh_tables``). A probe's bucket equi-join then reads
    only the probed directories, N_TABLES bucket partitions of about
    N/2^planes vectors per question, instead of the full index. It is a
    projection of the stored index, never a re-embed; the price is an
    index N_TABLES times the plain one."""

    def build() -> str:
        path = tmp_path("vector_index_lsh", dir_tag(sf_dir))
        idx = read_artifact(spark, ensure_vector_index(spark, sf_dir))
        write_artifact(
            # Cluster rows by their target directory before the
            # partitioned write: without this every task writes a
            # sliver into every (tbl, bucket) dir. The explicit
            # tables x 2^planes count lets the write parallelize
            # (cluster_by_dirs).
            cluster_by_dirs(
                idx.select("doc_id", "dv", lsh_tables(F.col("dv"))),
                N_TABLES * 2**N_PLANES,
                "tbl",
                "bucket",
            )
            .write.mode("overwrite")
            .partitionBy("tbl", "bucket"),
            path,
        )
        return path

    return ensure_materialized(spark, "vector_index_lsh", sf_dir, build)


def ensure_vector_index_ivf_scaled(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, int]:
    """``ensure_ivf(spark, sf_dir, "documents", True)`` under the name
    the perfbench harness calls."""
    return ensure_ivf(spark, sf_dir, "documents", True)


def ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """The stored BM25 posting index, built once per (session, sf_dir);
    returns its base path. ``postings/`` holds (term, doc_id, dl, tf)
    clustered and sorted by term, ``stats/`` one row (n_docs, avgdl).
    The keyword twin of ensure_vector_index: a retrieval query probes
    the stored postings (the term predicate pushes into the Parquet
    scan, and term-sorted row groups make the min/max skip selective)
    instead of re-running scan, tokenize and explode per question
    batch."""

    def build() -> str:
        from .functions.hashing import tokens

        base = tmp_path("bm25_index", dir_tag(sf_dir))
        docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
        # Checkpointed: the postings write and the stats write both
        # consume tok, so without it the build tokenizes the corpus
        # twice.
        tok = docs.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
        ).localCheckpoint(eager=False)
        tf = (
            tok.select(
                "doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("term")
            )
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
        )
        write_artifact(
            tf.repartition(F.col("term"))
            .sortWithinPartitions("term")
            .write.mode("overwrite"),
            os.path.join(base, "postings"),
        )
        write_artifact(
            tok.agg(
                F.count("*").alias("n_docs"), F.avg(F.size("tk")).alias("avgdl")
            ).write.mode("overwrite"),
            os.path.join(base, "stats"),
        )
        return base

    return ensure_materialized(spark, "bm25_index", sf_dir, build)


def ensure_tfidf_index(spark: SparkSession, sf_dir: str) -> str:
    """The stored TF-IDF index, built once per (session, sf_dir);
    returns its base path. ``weighted/`` holds (term, doc_id, w, dnorm)
    clustered and sorted by term, with w = tf·idf rounded to 6 and dnorm
    the document's vector norm carried as a column rather than divided
    in, so probe-side rounding stays bit-identical to the oracle.
    ``terms/`` holds (term, df, n_docs) for probe-side idf weights.
    Queries probe the stored index with their term predicate pushed
    into the Parquet scan; the doc-keyed copy is ensure_tfidf_by_doc.

    Per-document norms sum integer micro-units, because a float sum of
    round-6 terms depends on partition order."""

    def build() -> str:
        from .functions.hashing import tokens

        base = tmp_path("tfidf_index", dir_tag(sf_dir))
        docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
        tok = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
        stats = F.broadcast(tok.agg(F.count("*").alias("n_docs")))
        tf = (
            tok.select("doc_id", F.explode("tk").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
            .localCheckpoint(eager=False)
        )
        dfq = tf.groupBy("term").agg(F.count("*").alias("df")).crossJoin(stats)
        write_artifact(dfq.write.mode("overwrite"), os.path.join(base, "terms"))
        dfq = read_artifact(spark, os.path.join(base, "terms"))
        w = tf.join(dfq, "term").select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("w"),
        )
        norm = w.groupBy("doc_id").agg(
            F.round(
                F.sqrt(
                    F.sum(F.round(F.col("w") * F.col("w") * 1e6, 0).cast("long"))
                    / F.lit(1e6)
                ),
                6,
            ).alias("dnorm")
        )
        write_artifact(
            w.join(norm, "doc_id")
            .repartition(F.col("term"))
            .sortWithinPartitions("term")
            .write.mode("overwrite"),
            os.path.join(base, "weighted"),
        )
        return base

    return ensure_materialized(spark, "tfidf_index", sf_dir, build)


def ensure_tfidf_by_doc(spark: SparkSession, sf_dir: str) -> str:
    """The doc-keyed copy of the TF-IDF index, built once per (session,
    sf_dir); returns its path. The same weighted rows, re-clustered and
    sorted by doc_id, read back from the term-clustered copy. It is a
    separate build because only doc-keyed readers (PRF feedback-term
    mining) need it, so term-keyed queries never pay the rewrite."""

    def build() -> str:
        base = ensure_tfidf_index(spark, sf_dir)
        path = os.path.join(base, "by_doc")
        write_artifact(
            read_artifact(spark, os.path.join(base, "weighted"))
            .repartition(F.col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite"),
            path,
        )
        return path

    return ensure_materialized(spark, "tfidf_by_doc", sf_dir, build)


def ensure_coorder_edges(spark: SparkSession, sf_dir: str) -> str:
    """The co-order part graph, built once per (session, sf_dir);
    returns its path. Distinct (u, v) edges with u < v connect parts
    ordered together in the same urgent order. It is the shared input of
    the graph queries (triangles, label propagation, k-core, recursive
    BFS), which would otherwise each repeat the lineitem x orders
    self-join and distinct."""
    from .operators.graph_metrics import _TRI_PRIORITY

    def build() -> str:
        path = tmp_path("coorder_edges", dir_tag(sf_dir))
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .join(
                load(spark, sf_dir, "orders")
                .filter(F.col("o_orderpriority") == _TRI_PRIORITY)
                .select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
            )
        )
        a = li.select(F.col("ok"), F.col("pk").alias("u"))
        b = li.select(F.col("ok"), F.col("pk").alias("v"))
        write_artifact(
            a.join(b, "ok")
            .filter(F.col("u") < F.col("v"))
            .select("u", "v")
            .distinct()
            .write.mode("overwrite"),
            path,
        )
        return path

    return ensure_materialized(spark, "coorder_edges", sf_dir, build)


def ensure_keyword_table(spark: SparkSession, sf_dir: str) -> str:
    """The keyword leg's serving table, built once per (session,
    sf_dir); returns its Parquet path of (doc_id, snippet, text_lc) with
    the answer snippet and the lower-cased document text. A request
    probes the stored rows instead of re-spreading and lower-casing the
    corpus per question batch. Written through spread(), like the
    vector index, so the table lands as several files and the probe scan
    runs in parallel without a per-request round-robin shuffle."""

    def build() -> str:
        path = tmp_path("keyword_table", dir_tag(sf_dir), "documents")
        write_artifact(
            spread(load(spark, sf_dir, "documents"))
            .select(
                "doc_id",
                F.substring("text", 1, SNIPPET_LEN).alias("snippet"),
                F.lower(F.col("text")).alias("text_lc"),
            )
            .write.mode("overwrite"),
            path,
        )
        return path

    return ensure_materialized(spark, "keyword_table", sf_dir, build)


def run_query(
    spark: SparkSession,
    sf_dir: str,
    questions: list[tuple[int, str]] | None = None,
    method: str = "vector",
    top_k: int = TOP_K,
) -> DataFrame:
    """(documents, questions) → answers, the flagship contract.

    Returns one row per (question, context chunk) with rank, score,
    snippet, a summary on the best chunk, and ``search_method`` —
    the reference's response shape normalized to a DataFrame.

    On a warm session building the plan starts no Spark job: both legs
    read a stored table through read_artifact (recorded schema, no
    inference job) and the question side is a LocalRelation. Collecting
    it runs three: the broadcast, the scoring map stage and the top-k
    result stage.
    """
    if questions is None:
        questions = GOLDEN_QUESTIONS
    if method not in ("vector", "keyword"):
        raise ValueError(f"unknown method {method!r}")

    if method == "vector":
        scored = exact_probe(spark, sf_dir, questions).select(
            "question_id", "question_text", "doc_id", "score", "snippet"
        )
    else:
        # The stored keyword table carries lower(text) and the snippet,
        # computed once per document when it was written; the question
        # words are split once, on the broadcast side.
        docs = read_artifact(spark, ensure_keyword_table(spark, sf_dir))
        qb = F.broadcast(
            questions_df(spark, questions).select(
                "question_id",
                "question_text",
                question_words(F.col("question_text")).alias("__qwords"),
            )
        )
        scored = docs.crossJoin(qb).select(
            "question_id",
            "question_text",
            "doc_id",
            F.round(keyword_score(F.col("__qwords"), F.col("text_lc")), 6).alias(
                "score"
            ),
            "snippet",
        )

    topk = top_n(scored, top_k, "score", rank="rank")
    return topk.select(
        "question_id",
        "question_text",
        "rank",
        "doc_id",
        "score",
        F.substring("snippet", 1, 100).alias("snippet"),
        F.when(
            F.col("rank") == 1,
            F.format_string(
                "Based on document %d (relevance %.3f): %s",
                F.col("doc_id"),
                F.col("score"),
                F.substring("snippet", 1, 100),
            ),
        ).alias("summary"),
        F.lit(
            "vector_search" if method == "vector" else "text_search_fallback"
        ).alias("search_method"),
    )


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document response stats (ref: src/main.py:176-186)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("doc_id").agg(
        F.count("*").alias("chunks_count"),
        F.sum(F.length("text")).alias("total_characters"),
    )


def _api_oracle(method: str) -> str:
    if method == "vector":
        head = golden_vectors_sql()
        scored = f"""
scored AS (
  SELECT p.question_id, q.question_text, p.doc_id, p.rel AS score,
         substr(d.text, 1, {SNIPPET_LEN}) AS snippet
  FROM ({exact_pool_sql(TOP_K, "question_id, doc_id, rel")}) p
  JOIN questions q USING (question_id)
  JOIN documents d USING (doc_id)
)"""
        tag = "vector_search"
    else:
        head = f"WITH {question_values_sql()}"
        scored = f"""
scored AS (
  SELECT q.question_id, q.question_text, d.doc_id,
         round({keyword_score_sql("q.question_text", "lower(d.text)")}, 6) AS score,
         substr(d.text, 1, {SNIPPET_LEN}) AS snippet
  FROM questions q CROSS JOIN documents d
)"""
        tag = "text_search_fallback"
    return f"""{head},
{scored},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY question_id
                               ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT question_id, question_text, CAST(rank AS INT) AS rank, doc_id, score,
       substr(snippet, 1, 100) AS snippet,
       CASE WHEN rank = 1
            THEN printf('Based on document %d (relevance %.3f): %s',
                        doc_id, score, substr(snippet, 1, 100))
       END AS summary,
       '{tag}' AS search_method
FROM ranked WHERE rank <= {TOP_K}
"""


_RRF_K = 60  # standard reciprocal-rank-fusion constant
_RRF_DEPTH = 50  # per-retriever candidate depth before fusion


def _rrf_oracle() -> str:
    return f"""{golden_vectors_sql()},
vec AS (SELECT question_id, doc_id, rk AS r FROM ({exact_pool_sql(_RRF_DEPTH)})),
kw AS (
  SELECT q.question_id, d.doc_id,
         row_number() OVER (PARTITION BY q.question_id
            ORDER BY round({keyword_score_sql("q.question_text", "lower(d.text)")}, 6) DESC,
                     d.doc_id) AS r
  FROM questions q CROSS JOIN documents d
),
fused AS (
  SELECT coalesce(v.question_id, k.question_id) AS question_id,
         coalesce(v.doc_id, k.doc_id) AS doc_id,
         round(coalesce(1.0 / ({_RRF_K} + v.r), 0)
               + coalesce(1.0 / ({_RRF_K} + k.r), 0), 6) AS rrf
  FROM vec v
  FULL JOIN (SELECT * FROM kw WHERE r <= {_RRF_DEPTH}) k
    ON v.question_id = k.question_id AND v.doc_id = k.doc_id
)
SELECT question_id, doc_id, rrf
FROM (SELECT *, row_number() OVER (PARTITION BY question_id
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM fused)
WHERE rn <= {TOP_K}
"""


@register("q_hybrid_rrf", oracle=_rrf_oracle())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the vector and
    keyword retrievers (score = Σ 1/(60+rank), the Cormack et al.
    fusion) — the production answer to 'embedding misses exact terms,
    keywords miss paraphrases'. Each retriever contributes its top-50
    ranking; fusion is a full outer join on (question, doc) so a doc
    ranked by only one retriever still scores. Both retrievers and the
    fusion are the engine's own operators end-to-end."""
    # One pass: both retriever scores are per-(question, doc) column
    # expressions, so one broadcast cross join produces them together;
    # both rank windows share the question_id partitioning (one
    # exchange, two sorts), and because the two ranks land on the same
    # row, the full outer join of the two top-50 lists reduces to
    # conditional terms. Both halves read stored tables: the vector
    # index and the keyword table's lower-cased text, joined on doc_id.
    idx = read_artifact(spark, ensure_vector_index(spark, sf_dir)).select(
        "doc_id", "dv"
    )
    kw = read_artifact(spark, ensure_keyword_table(spark, sf_dir)).select(
        "doc_id", "text_lc"
    )
    qq = F.broadcast(
        question_vectors(spark).select(
            "question_id",
            "qv",
            question_words(F.col("question_text")).alias("__qwords"),
        )
    )
    scored = idx.join(kw, "doc_id").crossJoin(qq).select(
        "question_id",
        "doc_id",
        vector_score(F.col("qv"), F.col("dv")).alias("vscore"),
        F.round(keyword_score(F.col("__qwords"), F.col("text_lc")), 6).alias(
            "kscore"
        ),
    )
    w = Window.partitionBy("question_id")
    vr = F.row_number().over(w.orderBy(F.desc("vscore"), F.asc("doc_id")))
    kr = F.row_number().over(w.orderBy(F.desc("kscore"), F.asc("doc_id")))
    ranked = scored.select("question_id", "doc_id", vr.alias("vr"), kr.alias("kr"))
    rrf = F.round(
        F.when(F.col("vr") <= _RRF_DEPTH, 1.0 / (_RRF_K + F.col("vr"))).otherwise(0.0)
        + F.when(F.col("kr") <= _RRF_DEPTH, 1.0 / (_RRF_K + F.col("kr"))).otherwise(
            0.0
        ),
        6,
    )
    fused = ranked.filter(
        (F.col("vr") <= _RRF_DEPTH) | (F.col("kr") <= _RRF_DEPTH)
    ).select("question_id", "doc_id", rrf.alias("rrf"))
    return top_n(fused, TOP_K, "rrf")


@register("q_api_run_vector", oracle=_api_oracle("vector"))
def q_api_run_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 flagship lifecycle, vector path, end-to-end through the
    public facade: embed the QUESTION batch only, probe the stored
    vector index (broadcast questions ⨯ index scan → cosine → top-k →
    summary). The corpus embed pass happens once at index build
    (ensure_vector_index), not per query."""
    return run_query(spark, sf_dir, method="vector")


@register("q_api_run_keyword", oracle=_api_oracle("keyword"))
def q_api_run_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 flagship lifecycle, keyword fallback path, through the
    public facade — the reference's exception fallback as a strategy
    flag."""
    return run_query(spark, sf_dir, method="keyword")

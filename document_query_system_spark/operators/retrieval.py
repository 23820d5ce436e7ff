"""The engine's probes, one per index kind, in a module with NO query
registrations.

Every retrieval query in the engine is the reference's one query path
(question → embedding → top-k search over the stored index → context
rows, with keyword overlap as the fallback scorer; ref:
src/main.py:84-157) with a different consumer on top. The decisions
that path makes live here once, so every consumer makes them the same
way:

- the question batch: ``questions.question_vectors``, embedded on the
  driver with the index's own kernel;
- the scores: ``vector_score`` (rounded dot of unit vectors) and
  ``keyword_score`` (share of question words in the lower-cased text);
- the ranking: ``top_n``, per query by (score desc, id asc);
- the exact probe: ``exact_probe``, the stored document index crossed
  with the broadcast question batch;
- the IVF probe over any ``ivf.ensure_ivf`` layout: ``ivf_cell_choice``
  ranks each query's cells, ``ivf_probe_fold`` collects that ranking
  into plan-time literals, and ``ivf_cell_scan`` reads only those
  cells.

The registered queries stay in their own modules; this one registers
nothing, so importing it never moves a query in the registry order."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.embed import dot
from ..sources.tables import local_rows
from ..sources.tmputil import ensure_materialized, read_artifact
from .questions import GOLDEN_QUESTIONS, question_vectors


def vector_score(q: Column, d: Column) -> Column:
    """Cosine of two unit vectors as their dot product, rounded to 6
    places: the rounding absorbs last-ulp differences between engines,
    so ties break on the id in Spark and DuckDB alike."""
    return F.round(dot(q, d), 6)


def question_words(text: Column) -> Column:
    """The reference's ``question.lower().split()``: lower-case, split on
    runs of whitespace, no empty tokens. An empty token would be
    contained in every document."""
    return F.array_remove(F.split(F.lower(text), r"\s+"), "")


def keyword_score(words: Column, text_lc: Column) -> Column:
    """Share of the question ``words`` contained in the lower-cased
    document text (ref: src/main.py:137-145), unrounded; 0.0 for a
    question without words, where a bare ratio would divide by zero.
    Both arguments should be staged columns: inlined, the lower-casing
    would run once per word per (question, document) pair."""
    n = F.size(words)
    matches = F.size(F.filter(words, lambda w: text_lc.contains(w)))
    return F.when(n > 0, matches.cast("double") / n).otherwise(F.lit(0.0))


def question_words_sql(q: str) -> str:
    """``question_words`` as a DuckDB expression over the SQL
    expression ``q``: the oracles split words as the engine does."""
    return rf"list_filter(regexp_split_to_array(lower({q}), '\s+'), w -> w <> '')"


def keyword_score_sql(q: str, text_lc: str) -> str:
    """``keyword_score`` as a DuckDB expression, unrounded: the share of
    ``q``'s words contained in ``text_lc``, 0.0 for a question without
    words."""
    words = question_words_sql(q)
    return (
        f"CASE WHEN len({words}) = 0 THEN 0.0 "
        f"ELSE CAST(len(list_filter({words}, w -> contains({text_lc}, w))) AS DOUBLE)"
        f" / len({words}) END"
    )


def top_n(
    df: DataFrame,
    n: int,
    score: str,
    by: str = "question_id",
    tiebreak: str = "doc_id",
    rank: str | None = None,
) -> DataFrame:
    """The ``n`` best rows per ``by`` by (``score`` desc, ``tiebreak``
    asc), the ranking every probe consumer and its oracle share. The
    row_number is kept as column ``rank`` when named, else dropped."""
    w = Window.partitionBy(by).orderBy(F.desc(score), F.asc(tiebreak))
    col = rank or "__rank"
    out = df.withColumn(col, F.row_number().over(w)).filter(F.col(col) <= n)
    return out if rank else out.drop(col)


def exact_probe(
    spark: SparkSession,
    sf_dir: str,
    questions: list[tuple[int, str]] = GOLDEN_QUESTIONS,
) -> DataFrame:
    """The stored document index (``api.ensure_vector_index``) crossed
    with the broadcast question batch, scored and unranked:
    (question_id, question_text, doc_id, snippet, dv, score). A query
    probes the index built once per session instead of re-embedding the
    corpus per batch; the batch is a LocalRelation, so building this
    plan on a warm session starts no Spark job. Consumers select what
    they need and Catalyst prunes the rest from the scan."""
    from ..api import ensure_vector_index

    idx = read_artifact(spark, ensure_vector_index(spark, sf_dir))
    qv = F.broadcast(question_vectors(spark, questions))
    return idx.crossJoin(qv).select(
        "question_id",
        "question_text",
        "doc_id",
        "snippet",
        "dv",
        vector_score(F.col("qv"), F.col("dv")).alias("score"),
    )


def pool_vectors(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """A bounded (question_id, doc_id, rel) pool with each document's
    stored vector attached as ``v``: the pool broadcast against the
    stored index. The vectors join after the pool's ranking window, so
    they never ride its sort exchange."""
    from ..api import ensure_vector_index

    dv = read_artifact(spark, ensure_vector_index(spark, sf_dir)).select(
        "doc_id", F.col("dv").alias("v")
    )
    return dv.join(F.broadcast(pairs), "doc_id").select(
        "question_id", "doc_id", "rel", "v"
    )


def golden_probe_queries(spark: SparkSession) -> DataFrame:
    """The golden question batch as an IVF queries frame
    (question_id, qv, qq)."""
    return question_vectors(spark).select(
        "question_id", "qv", dot(F.col("qv"), F.col("qv")).alias("qq")
    )


def ivf_cell_choice(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest trained cells. ``queries`` is
    (id, qv, qq, ...) with the query id first; ``cents`` is a centroid
    file (cid, cv, cc). Cells rank by round(qq − 2·qv·cv + cc, 6), the
    squared distance the k-means trainer assigns by, with the cid
    breaking ties. Returns the queries' columns without qq, plus the
    probed cell as ``qcell``. The distributed probe joins this frame
    in-plan; the literal fold collects it, so the two choose the same
    cells by construction."""
    by = queries.columns[0]
    keep = [c for c in queries.columns if c != "qq"]
    d2 = F.round(F.col("qq") - 2 * dot(F.col("qv"), F.col("cv")) + F.col("cc"), 6)
    w = Window.partitionBy(by).orderBy("d2", "cid")
    return (
        queries.crossJoin(F.broadcast(cents))
        .select(*keep, "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(*keep, F.col("cid").alias("qcell"))
    )


def ivf_probe_fold(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    cents_path: str,
    nprobe: int,
    queries: Callable[[], DataFrame],
    memo: bool = True,
) -> tuple[list, list]:
    """(rows, cells): the ``ivf_cell_choice`` of ``queries()`` against
    the centroid file at ``cents_path``, collected. Each row is a tuple
    of the choice's columns, the probed cell last; ``cells`` is the
    sorted union of probed cells. As plan-time literals the cells let
    ``ivf_cell_scan`` prune the layout statically. The centroids are
    trained doubles, so the ranking runs as a bounded Spark job with
    the same expression the join path and the oracles use, rather than
    a second implementation of the arithmetic; the collect is at most
    |queries|·nprobe rows.

    ``queries`` is called only when the fold is built. With ``memo``
    the result is recorded per (``table``, ``cents_path``, ``nprobe``),
    which stands for the table's standard query set; a caller folding a
    custom query set passes ``memo=False`` and bounds it."""

    def build() -> tuple[list, list]:
        cents = read_artifact(spark, cents_path)
        rows = [tuple(r) for r in ivf_cell_choice(queries(), cents, nprobe).collect()]
        return rows, sorted({r[-1] for r in rows})

    if not memo:
        return build()
    return ensure_materialized(
        spark, "ivf_probe", sf_dir, build, table, cents_path, str(nprobe)
    )


def ivf_cell_scan(
    spark: SparkSession,
    layout: str,
    cols: list,
    probe: tuple[list, list],
    probe_schema: str,
) -> DataFrame:
    """The cell-partitioned ``layout``'s ``cols`` joined on their cell
    with the broadcast ``probe`` rows of an ``ivf_probe_fold`` (schema
    ``probe_schema``, probed cell last as ``qcell``). The literal cell
    filter turns into static PartitionFilters, so the scan lists only
    the probed cell directories; the join re-checks each row's cell, so
    the filter only prunes. Callers add their own score, exclusions and
    pool window on top.

    With no probed cells (no queries) the result is an empty relation
    with the joined schema: a zero-argument ``isin`` fails analysis, and
    an unfiltered scan would read the whole index for nothing."""
    rows, cells = probe
    db = read_artifact(spark, layout).select(*cols, "cell")
    qb = local_rows(spark, rows, probe_schema)
    if not cells:
        return local_rows(spark, [], StructType(db.schema.fields + qb.schema.fields))
    db = db.filter(F.col("cell").isin(*cells))
    return db.join(F.broadcast(qb), F.col("cell") == F.col("qcell"))

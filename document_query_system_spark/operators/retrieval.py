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
  cells;
- the sign-LSH probe: the hash (``PLANES``, ``lsh_tables``) and the
  multi-probe fan-out (``lsh_probes``), each written once per engine:
  Spark columns, the driver fold (``lsh_probe_keys``) and DuckDB SQL
  (``lsh_tables_sql``);
- the pool-recall report: ``pool_recall``.

The DuckDB oracles share one vocabulary for the same decisions: the
golden question and corpus vectors (``golden_vectors_sql``), the
ranking (``top_n_sql``), the exact pool (``exact_pool_sql``) and the
pool-recall report (``pool_recall_sql``).

The registered queries stay in their own modules; this one registers
nothing."""

from __future__ import annotations

import random
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.embed import DIM, dot, embed_subquery_sql
from ..sources.tables import local_rows
from ..sources.tmputil import ensure_materialized, read_artifact
from .questions import GOLDEN_QUESTIONS, question_values_sql, question_vectors

#: A run of the characters Python's ``str.isspace()`` accepts (29 code
#: points), spelled as one class that Java regexes (Spark) and RE2
#: (DuckDB) read alike; their ``\s`` is only the ASCII subset.
_SPACE = (
    r"[\x{9}-\x{d}\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)


def vector_score(q: Column, d: Column) -> Column:
    """Cosine of two unit vectors as their dot product, rounded to 6
    places: the rounding absorbs last-ulp differences between engines,
    so ties break on the id in Spark and DuckDB alike."""
    return F.round(dot(q, d), 6)


def question_words(text: Column) -> Column:
    """The reference's ``question.lower().split()``: lower-case, split on
    runs of whitespace, no empty tokens. An empty token would be
    contained in every document."""
    return F.array_remove(F.split(F.lower(text), _SPACE), "")


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
    return f"list_filter(regexp_split_to_array(lower({q}), '{_SPACE}'), w -> w <> '')"


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


def pool_recall(
    exact: DataFrame,
    pools: Sequence[tuple[DataFrame, str, str, str]],
    extra: Sequence[Column] = (),
) -> DataFrame:
    """Per question: the size ``n_exact`` of the ``exact`` pool and, for
    each candidate pool ``(frame, n_x, n_common, recall)``, its size, its
    overlap with the exact pool and overlap / n_exact, under those
    names; ``extra`` columns follow question_id. Pools are
    (question_id, doc_id) frames. Each is read twice (its count and the
    overlap join), the exact pool once more per candidate pool, so each
    is materialized once (a lazy local checkpoint) instead of running
    its probe per consumer; the report then joins ≤|questions|·pool-row
    tables only. Local checkpoint blocks are executor-local and
    lineage-free: losing an executor mid-query fails the job, so at
    cluster scale these become reliable checkpoints (SCALE.md)."""
    exact = exact.select("question_id", "doc_id").localCheckpoint(eager=False)
    out = exact.groupBy("question_id").agg(F.count("*").alias("n_exact"))
    cols = []
    for pool, n_x, n_common, recall in pools:
        pool = pool.select("question_id", "doc_id").localCheckpoint(eager=False)
        nx = pool.groupBy("question_id").agg(F.count("*").alias(n_x))
        nc = (
            exact.join(pool, ["question_id", "doc_id"])
            .groupBy("question_id")
            .agg(F.count("*").alias(n_common))
        )
        out = out.join(nx, "question_id", "left").join(nc, "question_id", "left")
        common = F.coalesce(F.col(n_common), F.lit(0))
        cols += [
            F.coalesce(F.col(n_x), F.lit(0)).cast("long").alias(n_x),
            common.cast("long").alias(n_common),
            F.round(common / F.col("n_exact"), 6).alias(recall),
        ]
    return out.select(
        "question_id", *extra, F.col("n_exact").cast("long").alias("n_exact"), *cols
    )


# ---------------------------------------------------------------- sign-LSH
#
# Random-hyperplane LSH: a vector's bucket in one hash table is the
# sign bits of its dot with N_PLANES fixed planes; a pair is a
# candidate when it shares a bucket in ANY of N_TABLES tables. The
# planes are seeded literals (stdlib Mersenne, platform-stable) in the
# Spark plan, the driver fold and the DuckDB oracles alike, so the
# approximate tiers stay value-checkable.

N_PLANES = 4  # sign bits per hash table
N_TABLES = 3  # OR-amplification: candidate if buckets match in ANY table


def _planes() -> list[list[list[float]]]:
    rng = random.Random(42)
    return [
        [[round(rng.gauss(0.0, 1.0), 6) for _ in range(DIM)] for _ in range(N_PLANES)]
        for _ in range(N_TABLES)
    ]


PLANES = _planes()  # [table][plane][dim]

#: Multi-probe flip masks: the query's own bucket plus every bucket at
#: Hamming distance 1 (one sign bit flipped). Lv et al., "Multi-Probe
#: LSH" (VLDB 2007): near neighbors that barely miss the query's bucket
#: land overwhelmingly in 1-flip buckets, so probing them repairs
#: recall without adding hash tables (more tables = more index storage;
#: more probes = more reads of the same stored layout).
PROBE_FLIPS = (0,) + tuple(2**i for i in range(N_PLANES))


def _bucket_expr(v: Column, table: int) -> Column:
    """LSH bucket id for one hash table: sign bit of <v, plane_i>."""
    b = F.lit(0)
    for i, plane in enumerate(PLANES[table]):
        p = F.array(*[F.lit(x) for x in plane])
        b = b + F.when(dot(v, p) > 0, F.lit(2 ** (N_PLANES - 1 - i))).otherwise(
            F.lit(0)
        )
    return b


def lsh_tables(v: Column) -> Column:
    """``v``'s bucket in every hash table, exploded to one
    (tbl, bucket) row per table."""
    buckets = F.array(*[_bucket_expr(v, t) for t in range(N_TABLES)])
    return F.posexplode(buckets).alias("tbl", "bucket")


def lsh_probes(bucket: Column, flips: Sequence[int]) -> Column:
    """The buckets a query probes: ``bucket`` xor each flip mask,
    exploded. Only the query side fans out; ``(0,)`` probes the bucket
    itself."""
    masks = F.array(*[F.lit(x) for x in flips])
    return F.explode(F.transform(masks, lambda fl: bucket.bitwiseXOR(fl)))


def lsh_probe_keys(
    v: Sequence[float], flips: Sequence[int] = PROBE_FLIPS
) -> list[tuple[int, int]]:
    """The (tbl, bucket) keys ``v`` probes, ``lsh_tables`` then
    ``lsh_probes`` on the driver, for literal probe keys. The plane dot
    is the left fold ``dot`` runs, op for op, so a driver-side key
    equals the bucket the stored index was built with."""
    keys = []
    for t, planes in enumerate(PLANES):
        b = 0
        for i, plane in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, plane):
                acc += x * y
            if acc > 0:
                b += 2 ** (N_PLANES - 1 - i)
        keys += [(t, b ^ f) for f in flips]
    return keys


def _bucket_sql(v_expr: str, table: int) -> str:
    terms = []
    for i, plane in enumerate(PLANES[table]):
        p = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({v_expr}, {p}) > 0 "
            f"THEN {2 ** (N_PLANES - 1 - i)} ELSE 0 END)"
        )
    return " + ".join(terms)


def lsh_tables_sql(rel: str, cols: str, flips: Sequence[int] = (0,)) -> str:
    """``lsh_tables`` then ``lsh_probes`` as a DuckDB SELECT: each row
    of ``rel`` (columns ``cols`` and a vector ``v``) once per hash table
    and probed bucket, as (``cols``, v, tbl, bucket)."""
    bl = "[" + ", ".join(_bucket_sql("v", t) for t in range(N_TABLES)) + "]"
    return f"""SELECT {cols}, v, tbl, xor(bucket, f.flip) AS bucket
  FROM (
    SELECT {cols}, v, t.i AS tbl, bl[CAST(t.i AS INT) + 1] AS bucket
    FROM (SELECT {cols}, v, {bl} AS bl FROM {rel})
    CROSS JOIN generate_series(0, {N_TABLES - 1}) t(i))
  CROSS JOIN (SELECT unnest({list(flips)}) AS flip) f"""


# ------------------------------------------------------ oracle vocabulary


def golden_vectors_sql() -> str:
    """The head of every golden-question oracle: ``WITH`` the question
    batch ``questions``, its vectors qv(question_id, v) and the corpus
    vectors dv(doc_id, v), embedded by the SQL twin of the index's
    kernel. Callers append their own CTEs after a comma."""
    qv = embed_subquery_sql("questions", "question_id", "question_text")
    dv = embed_subquery_sql("documents", "doc_id", "text")
    return f"""
WITH {question_values_sql()},
qv AS (SELECT id AS question_id, embedding AS v FROM {qv}),
dv AS (SELECT id AS doc_id, embedding AS v FROM {dv})"""


def top_n_sql(hits: str, n: int, cols: str = "question_id, doc_id") -> str:
    """``top_n`` as a DuckDB SELECT: the ``n`` best rows of ``hits``
    (question_id, doc_id, rel, ...) per question by (rel desc, doc_id
    asc), as ``cols`` and the rank ``rk``."""
    return f"""SELECT {cols}, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY question_id
                                 ORDER BY rel DESC, doc_id) AS rk
    FROM {hits})
  WHERE rk <= {n}"""


def exact_pool_sql(n: int, cols: str = "question_id, doc_id") -> str:
    """The exact probe's per-question top ``n`` over the
    ``golden_vectors_sql`` vectors: every (question, document) pair
    scored as ``vector_score`` (rel) and ranked by ``top_n_sql``; the
    document vector is available as ``v``."""
    scored = """(SELECT qv.question_id, dv.doc_id,
           round(list_dot_product(qv.v, dv.v), 6) AS rel, dv.v
    FROM qv CROSS JOIN dv)"""
    return top_n_sql(scored, n, cols)


def pool_recall_sql(
    exact: str, pools: Sequence[tuple[str, str, str, str]], extra: str = ""
) -> str:
    """``pool_recall`` as DuckDB text to append to a CTE list after a
    comma: the count CTEs and the final SELECT. ``exact`` and each
    pool's relation are (question_id, doc_id) CTE names; ``extra`` is
    a select-list fragment placed after question_id (ending in a
    comma)."""
    count = "SELECT question_id, count(*) AS {} FROM {} GROUP BY question_id"
    ctes = [f"ne AS ({count.format('n_exact', exact)})"]
    cols = ["CAST(ne.n_exact AS BIGINT) AS n_exact"]
    joins = []
    for i, (pool, n_x, n_common, recall) in enumerate(pools):
        ctes += [
            f"nx{i} AS ({count.format(n_x, pool)})",
            f"""nc{i} AS (
  SELECT e.question_id, count(*) AS {n_common}
  FROM {exact} e JOIN {pool} p
    ON p.question_id = e.question_id AND p.doc_id = e.doc_id
  GROUP BY e.question_id
)""",
        ]
        cols += [
            f"CAST(coalesce({n_x}, 0) AS BIGINT) AS {n_x}",
            f"CAST(coalesce({n_common}, 0) AS BIGINT) AS {n_common}",
            f"round(coalesce({n_common}, 0) / ne.n_exact, 6) AS {recall}",
        ]
        joins += [f"LEFT JOIN {cte}{i} USING (question_id)" for cte in ("nx", "nc")]
    return (
        ",\n".join(ctes)
        + f"\nSELECT ne.question_id, {extra}\n       "
        + ",\n       ".join(cols)
        + "\nFROM ne "
        + " ".join(joins)
        + "\n"
    )

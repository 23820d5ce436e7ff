"""Semantic clustering + SemDeDup-style semantic dedup over the
embedding table (SURVEY §2 J9-adjacent; the `SemDeDup` pass LLM
pipelines run between exact/MinHash dedup and quality filtering:
k-means the embedding space, then prune near-duplicate pairs inside
each cluster — Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication").

Determinism contract (what makes this oracle-checkable):
- seeds are the K vectors with the smallest md5(vec_id) — same
  expression both engines, no RNG;
- Lloyd rounds are UNROLLED (2 assignment rounds, 1 centroid
  update), not run to convergence — a fixed iteration budget like
  q_pagerank, so there is no data-dependent loop;
- every cross-engine float is rounded inside the query: squared
  distances and cosines to 6 (ranking/thresholding happens on the
  rounded value), per-dimension centroid means to 6, inertia to 2.

Scale shape (the part that matters at 100 TB):
- assignment is a PURE MAP: the K centroids (K×DIM doubles, ~4 KB
  here) are collected to the driver and re-broadcast as a ONE-ROW
  array<struct> DataFrame, and each vector argmins over that column
  with array_min(transform(...)) — no shuffle, no UDF; the only
  "join" is a 1-row BroadcastNestedLoopJoin. This is the same
  bounded-collect pattern as the bloom build (pipeline.py:476): the
  collect is O(K·DIM), never O(data). (A broadcast column, NOT a
  folded literal: see _cents_df for the codegen-size rationale.)
- the centroid update shuffles only (cluster, dim) partial
  aggregates — K·DIM cells regardless of corpus size (map-side
  combine collapses each partition to ≤ K·DIM rows before the
  exchange).
- the semantic-dedup pairwise stage joins WITHIN clusters only,
  with the same salt fan-out as q_dedup_embedding_cosine
  (dedup.py:710) so one hot cluster cannot pin a single task. In
  production K grows with the corpus (K ≈ N / target_cluster_size,
  SemDeDup uses ~100k clusters) keeping per-cluster pair counts
  bounded; the fixed K=8 here is sized to the test corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.embed import DIM, dot
from ..registry import register
from ..sources.tables import load, local_rows

K_CLUSTERS = 8
_SEM_TAU = 0.35  # within-cluster cosine prune threshold (corpus-calibrated:
# p99.9 of within-cluster cosine ≈ 0.37 on the synthetic embeddings)
_SEM_SALT = 8


def _vx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors as array<double> with their squared norms precomputed."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    ).withColumn("xx", dot(F.col("x"), F.col("x")))


CENTS_DDL = "__cents ARRAY<STRUCT<cid: BIGINT, cv: ARRAY<DOUBLE>, cc: DOUBLE>>"


def _cents_df(spark: SparkSession, rows) -> DataFrame:
    """Bounded collected centroids (K rows of DIM doubles) as a
    ONE-ROW DataFrame holding an array<struct> column. Until round 6
    these were constant-folded into an array literal — ~K·DIM·2 lit
    nodes across the two unrolled assignments, whose generated
    whole-stage method blew past JIT-compilable size and ran
    INTERPRETED under code-cache pressure (the driver-bench 9×
    scatter on q_cluster_kmeans, r6 verdict item 3). As a broadcast
    one-row cross join the generated code references one column and
    stays small; the plan is otherwise identical (no shuffle — a
    1-row BroadcastNestedLoopJoin)."""
    data = [
        ([(int(cid), [float(v) for v in cv], float(cc)) for cid, cv, cc in rows],)
    ]
    return local_rows(spark, data, CENTS_DDL)


def _assign(
    vx: DataFrame, cents: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-centroid assignment as a pure map: argmin over the
    broadcast centroid array via array_min on (rounded d2, cid)
    structs — struct ordering gives the d2-then-cid tiebreak for
    free. ``keep`` passes extra vx columns through the assignment
    (the map is column-agnostic), so a consumer that needs metadata
    next to the cell id — the embeddings IVF layout's label — never
    joins it back on vec_id afterwards (an avoidable vector-wide
    shuffle at index-build time, r11 review)."""
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                F.round(
                    F.col("xx") - 2 * dot(F.col("x"), c["cv"]) + c["cc"], 6
                ).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return vx.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "x",
        "xx",
        *keep,
        best["d2"].alias("d2"),
        best["cid"].alias("cid"),
    )


def kmeans_fit_assign(
    spark: SparkSession, vx: DataFrame, k: int, keep: tuple[str, ...] = ()
) -> tuple[DataFrame, list]:
    """Deterministic 2-round Lloyd pass over ``vx(vec_id, x, xx)``:
    seed (md5-order, first k) → assign → update → assign. Returns the
    final assignment DataFrame (vec_id, x, xx, d2, cid) AND the
    trained centroid rows [(cid, cv, cc), ...] — the coarse-quantizer
    training shared by q_cluster_kmeans (embeddings table, k=8) and
    the IVF layouts (ivf.ensure_ivf). Both collects are
    bounded (k rows of DIM doubles); every float that influences
    downstream comparisons is rounded to 6 inside the plan (seeded
    values are raw inputs; updated centroids are round(avg, 6)), the
    convention that keeps the DuckDB oracle bit-identical."""
    seeds = [
        (r["cid"], r["cv"], r["cc"])
        for r in vx.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"), F.col("x").alias("cv"), F.col("xx").alias("cc")
        )
        .collect()
    ]
    a1 = _assign(vx, _cents_df(spark, seeds))
    upd = (
        a1.select("cid", F.posexplode("x").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
            ).alias("cv")
        )
        .withColumn("cc", dot(F.col("cv"), F.col("cv")))
    )
    cents = [(r["cid"], r["cv"], r["cc"]) for r in upd.collect()]
    return _assign(vx, _cents_df(spark, cents), keep), cents


def _kmeans_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 2-round Lloyd pass: seed → assign → update → assign."""
    assigned, _ = kmeans_fit_assign(spark, _vx(spark, sf_dir), K_CLUSTERS)
    return assigned


def kmeans_sql_rounds(vx_body: str, k: int) -> str:
    """Oracle CTE chain mirroring kmeans_fit_assign over any
    ``vx(vec_id, x, xx)`` source — ``vx_body`` is the SELECT body of
    the vx CTE. Emits CTEs seeds, a1, c1, a2 (a2 = final assignment,
    c1 = the trained centroids a probe ranks against). DuckDB arrays
    are 1-indexed; dims only need to agree within the oracle
    (centroids are rebuilt ordered by dim), so 1..DIM vs posexplode's
    0..DIM-1 is immaterial. NOTE: returns text starting with
    ``WITH`` — callers with their own leading CTEs append these as
    continuation CTEs via kmeans_sql_rounds_ctes."""
    return f"""
WITH {kmeans_sql_rounds_ctes(vx_body, k)}
"""


def kmeans_sql_rounds_ctes(vx_body: str, k: "int | str") -> str:
    """``k`` may be an int literal OR a SQL expression string (DuckDB
    accepts expressions/subqueries in LIMIT) — the scaled IVF oracle
    passes ``(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS
    BIGINT)) FROM vx)`` so the oracle derives the cell count from the
    corpus exactly like the engine's ivf_cells_for (operators/ivf.py)."""
    # MATERIALIZED (r13): DuckDB 1.0 INLINES every CTE reference, so
    # a consumer that references a2/c1 more than once — the unrolled
    # MMR rounds reference their candidate CTE ~3× per round — would
    # re-run the whole O(N·k) training chain per reference: the
    # scaled-geometry serving oracle measured >570 s at sf0.1 inlined
    # vs 3.8 s materialized, byte-identical results (it's an
    # evaluation hint, not a semantic change).
    def assign(prev: str, rnd: int) -> str:
        d2 = f"round(v.xx - 2*list_dot_product(v.x, c.cv) + c.cc, 6)"
        return f"""a{rnd} AS MATERIALIZED (
  SELECT vec_id, cid, d2, x, xx FROM (
    SELECT v.vec_id, c.cid, v.x, v.xx, {d2} AS d2,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM vx v CROSS JOIN {prev} c)
  WHERE rn = 1
)"""

    return f"""vx AS ({vx_body}),
seeds AS (
  SELECT vec_id AS cid, x AS cv, xx AS cc
  FROM vx ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
),
{assign('seeds', 1)},
c1 AS MATERIALIZED (
  SELECT cid, list(cv ORDER BY dim) AS cv,
         list_dot_product(list(cv ORDER BY dim), list(cv ORDER BY dim)) AS cc
  FROM (
    SELECT a.cid, d.i AS dim, round(avg(a.x[d.i]), 6) AS cv
    FROM a1 a CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) d
    GROUP BY a.cid, d.i)
  GROUP BY cid
),
{assign('c1', 2)}"""


_EMB_VX_BODY = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS xx
  FROM embeddings
"""


def _sql_rounds() -> str:
    """The embeddings-table instance (q_cluster_kmeans / SemDeDup)."""
    return kmeans_sql_rounds(_EMB_VX_BODY, K_CLUSTERS)


_KMEANS_SQL = (
    _sql_rounds()
    + """
, fin AS (SELECT cid, vec_id, d2,
          row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rn FROM a2)
SELECT cid AS cluster_id, count(*) AS size, round(sum(d2), 2) AS inertia,
       max(CASE WHEN rn = 1 THEN vec_id END) AS rep_id
FROM fin GROUP BY cid
"""
)


@register("q_cluster_kmeans", oracle=_KMEANS_SQL)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded k-means (K=8, 2 unrolled Lloyd rounds)
    over the embedding table — the clustering pass under SemDeDup /
    semantic sharding. Per cluster: size, inertia (sum of squared
    distances), and the representative (nearest vector, d2-then-id
    tiebreak).

    Plan: two passes over the vectors. Assignment is a shuffle-free
    map over a broadcast one-row centroid DataFrame (bounded driver
    collect, K·DIM doubles — the bloom pattern); the one real
    exchange per round carries ≤ K·DIM partial-average cells. The
    final per-cluster rollup is a K-group hash aggregate."""
    a2 = _kmeans_assigned(spark, sf_dir)
    w = Window.partitionBy("cid").orderBy("d2", "vec_id")
    return (
        a2.withColumn("rn", F.row_number().over(w))
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("size"),
            F.round(F.sum("d2"), 2).alias("inertia"),
            F.max(F.when(F.col("rn") == 1, F.col("vec_id"))).alias("rep_id"),
        )
    )


_SEM_SQL = (
    _sql_rounds()
    + f"""
SELECT b.vec_id AS dropped_id, b.cid AS cluster_id,
       max(round(list_dot_product(a.x, b.x) / (sqrt(a.xx)*sqrt(b.xx)), 6)) AS best_cos
FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.x, b.x) / (sqrt(a.xx)*sqrt(b.xx)), 6) >= {_SEM_TAU}
GROUP BY b.vec_id, b.cid
"""
)


@register("q_dedup_semantic", oracle=_SEM_SQL)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within each k-means cluster, a vector is dropped when
    a LOWER-id vector in the same cluster has cosine ≥ τ (keep-lowest
    canonical, matching q_dedup_keep_canonical's convention). Emits
    (dropped_id, cluster_id, best_cos). Thresholding happens on the
    ROUNDED cosine so the boundary decision is identical across
    engines.

    Plan: pairwise ONLY within clusters, salted like
    q_dedup_embedding_cosine (dedup.py:710) — the b side carries
    vec_id % {_SEM_SALT}, the a side explodes all salts, the join key
    is (cid, salt), so a hot cluster spreads over {_SEM_SALT} tasks.
    At scale K grows with the corpus to keep per-cluster pair counts
    bounded (SemDeDup runs ~100k clusters); the quadratic term never
    leaves the cluster."""
    a2 = _kmeans_assigned(spark, sf_dir).select("vec_id", "cid", "x", "xx")
    a = a2.select(
        F.col("vec_id").alias("a_id"),
        F.col("cid"),
        F.col("x").alias("ax"),
        F.col("xx").alias("axx"),
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SEM_SALT - 1))))
    b = a2.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid"),
        F.col("x").alias("bx"),
        F.col("xx").alias("bxx"),
    ).withColumn("salt", (F.col("b_id") % _SEM_SALT).cast("int"))
    cos = F.round(
        dot(F.col("ax"), F.col("bx")) / (F.sqrt("axx") * F.sqrt("bxx")), 6
    )
    return (
        a.join(b, ["cid", "salt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _SEM_TAU)
        .groupBy(F.col("b_id").alias("dropped_id"), F.col("cid").alias("cluster_id"))
        .agg(F.max("cos").alias("best_cos"))
    )


_CONT_TAU = 0.8
# Document-frequency cap — the posting-list scale knob (same
# discipline as dedup.NGRAM_DF_CAP): a shingle in df docs emits
# O(df²) directed pairs, so one boilerplate shingle shared by 10⁶
# docs would emit 10¹² candidates. Dropping lists with df > cap
# bounds per-shingle fan-out at cap² while real containments stay
# connected through their rarer shingles. The cap must exceed the
# expected duplicate-GROUP size (every copy shares every shingle, so
# a dup group of k docs pushes its shingles' df to k): 16 clears the
# synthetic corpus's dup groups at sf0.1 (max df 25, 476/512 true
# pairs kept) where 4/8 sever them entirely; at 100 TB you'd set it
# from the dup-rate prior, e.g. 64, and it stays a constant bound.
_CONT_DF_CAP = 16


def _containment_sql() -> str:
    from ..functions.hashing import tokens_sql

    return f"""
WITH tk AS (SELECT doc_id, {tokens_sql('text')} AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || '|' || ts[i+1] || '|' || ts[i+2] AS g
  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tk.ts)-2)) AS i) d
),
df AS (SELECT g, count(*) AS c FROM sh GROUP BY g),
kept AS (SELECT sh.doc_id, sh.g FROM sh JOIN df ON df.g = sh.g
         WHERE df.c <= {_CONT_DF_CAP}),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ix AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS inter
       FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id <> b.doc_id
       GROUP BY a.doc_id, b.doc_id)
SELECT ix.contained_id, ix.container_id,
       round(ix.inter / sa.n::DOUBLE, 6) AS containment
FROM ix JOIN sz sa ON sa.doc_id = ix.contained_id
WHERE round(ix.inter / sa.n::DOUBLE, 6) >= {_CONT_TAU}
"""


@register("q_dedup_containment", oracle=_containment_sql())
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup (Broder's other resemblance
    measure): |S(A)∩S(B)| / |S(A)| over distinct 3-token shingles —
    flags documents substantially INCLUDED in another (quotes,
    excerpts, page-of-a-larger-doc), which symmetric Jaccard
    under-scores whenever the container is much larger. Emits
    (contained_id, container_id, containment ≥ 0.8), thresholded on
    the rounded value so the boundary decision is engine-identical.

    Plan: the same inverted-index shape as q_dedup_ngram_jaccard
    (dedup.py:366) — ONE groupBy-shingle shuffle builds posting
    lists, the document-frequency cap (_CONT_DF_CAP, the
    NGRAM_DF_CAP discipline) drops hot lists so per-shingle fan-out
    is bounded at cap² regardless of corpus size, and directed
    candidate pairs explode from each surviving list — never an
    all-pairs or uncapped self-join. Full (pre-cap) shingle-set
    sizes stay in the denominator, so containment is downward-biased
    only for pairs whose shared shingles were hot — exactly the
    capped-Jaccard trade. Registered here (not dedup.py) so the
    driver-prefix slots stay fixed — the q_sample_weighted
    precedent."""
    from ..functions.hashing import tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tk = docs.select("doc_id", tokens(F.col("text")).alias("ts"))
    n = F.size("ts")
    sh = (
        tk.filter(n >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - 3),
                    lambda i: F.concat_ws(
                        "|",
                        F.element_at(F.col("ts"), i + 1),
                        F.element_at(F.col("ts"), i + 2),
                        F.element_at(F.col("ts"), i + 3),
                    ),
                )
            ).alias("g"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds sizes + the posting lists
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    posting = (
        sh.groupBy("g")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _CONT_DF_CAP))
    )
    # Directed pairs (containment is asymmetric): every (x, y), x≠y,
    # from each ≤cap-length posting list — bounded cap² fan-out.
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x: F.filter(
                    F.transform(
                        F.col("ds"),
                        lambda y: F.when(
                            x != y,
                            F.struct(
                                x.alias("contained_id"),
                                y.alias("container_id"),
                            ),
                        ),
                    ),
                    lambda s: s.isNotNull(),
                ),
            )
        )
    )
    ix = (
        posting.select(pair.alias("p"))
        .groupBy("p.contained_id", "p.container_id")
        .agg(F.count("*").alias("inter"))
    )
    cont = F.round(
        F.col("inter") / F.col("n").cast("double"), 6
    )
    return (
        ix.join(
            F.broadcast(sz.withColumnRenamed("doc_id", "contained_id")),
            "contained_id",
        )
        .withColumn("containment", cont)
        .filter(F.col("containment") >= _CONT_TAU)
        .select("contained_id", "container_id", "containment")
    )

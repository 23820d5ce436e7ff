"""Corpus-hygiene operators, round 6: segment-level exact dedup
(the line-dedup pass of CCNet-style pipelines), token-distribution
quality metrics, TF-IDF cosine retrieval, URL canonicalization,
pivot→unpivot round-trip, and a document-length histogram.

Scale shapes:

- Segment dedup: posting-list groupBy on a fixed-width md5 key —
  shuffle ∝ corpus tokens, never pairwise; reassembly is one
  per-document sort of its own (tiny) segment list.
- Entropy/TTR: per-(doc, token) count then ONE per-doc aggregate —
  the Σc·ln c identity avoids a second pass / window for the total.
- TF-IDF: the classic "weight the index once, probe per query" plan;
  document norms need every term's df, so the df aggregate runs over
  the full posting table (the pass a real index build pays exactly
  once), while the per-question probe joins only broadcast-size
  sides.
- URL normalize: pure scan-local regexp chain + one groupBy on the
  canonical key.
- Unpivot: wide→long with stack() is expression-only (no shuffle
  beyond the pivot's own aggregate).
- Histogram: integer bucketing + groupBy — the fixed-cardinality
  aggregate any profiler runs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import tokens, tokens_sql
from ..registry import register
from ..sources.tables import load, local_rows, spread
from ..sources.tmputil import read_artifact

# ------------------------------------------------- segment-level exact dedup
#
# CCNet/RefinedWeb dedup the corpus at LINE granularity before any
# document-level near-dup pass. The synthetic corpus is single-line,
# so the unit here is a fixed-width non-overlapping token segment —
# same posting-list plan, same keep-first semantics: a segment is
# kept only in the lowest-doc_id document that contains it.

_SEG_W = 3  # tokens per segment (small so the synthetic corpus has real dups)


@register(
    "q_dedup_lines",
    oracle=f"""
WITH tok AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
segs AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(ceil(len(toks) / {_SEG_W}.0) AS INT) - 1),
           s -> array_to_string(toks[s * {_SEG_W} + 1 : s * {_SEG_W} + {_SEG_W}], ' ')
         ) AS segs
  FROM tok WHERE len(toks) > 0
),
post AS (
  SELECT doc_id,
         unnest(generate_series(1, len(segs))) AS pos,
         unnest(list_transform(segs, s -> md5(s))) AS seg_key,
         unnest(segs) AS seg
  FROM segs
),
own AS (SELECT seg_key, min(doc_id) AS keeper FROM post GROUP BY seg_key),
kept AS (
  SELECT p.doc_id, p.pos, p.seg
  FROM post p JOIN own o ON p.seg_key = o.seg_key AND p.doc_id = o.keeper
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments FROM post GROUP BY doc_id),
ka AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS dedup_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_segments,
       coalesce(ka.n_kept, 0) AS n_kept,
       coalesce(ka.dedup_text, '') AS dedup_text
FROM tot t LEFT JOIN ka USING (doc_id)
""",
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (the line-dedup pass of CCNet-style
    corpus cleaning, ref keyword pipeline has no equivalent): split
    each document into non-overlapping 3-token segments, keep a
    segment only in the lowest-doc_id document containing it, and
    reassemble the surviving text in original order.

    Plan: posting table (doc, pos, md5(segment)) → min-doc owner per
    key (one groupBy on a fixed 32-char key) → equi-join back →
    per-doc reassembly sorting only each document's own segment list
    (array_sort of a tiny collected array, no global sort). Shuffle
    ∝ corpus segments; nothing pairwise, nothing driver-side."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    segs = tok.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size("toks") / F.lit(_SEG_W)).cast("int") - 1
            ),
            lambda s: F.array_join(F.slice(F.col("toks"), s * _SEG_W + 1, _SEG_W), " "),
        ).alias("segs"),
    )
    # post feeds THREE consumers (the owner aggregate, the keep join's
    # probe side, the per-doc totals) — the lazy checkpoint runs the
    # tokenize → segment → explode → md5 pass once instead of once per
    # consumer (r15 opt pass; the plan carried the whole pass 3×).
    # Cluster-scale caveat: localCheckpoint blocks are executor-local
    # and lineage-free — an executor loss mid-query fails the job; at
    # cluster scale this becomes a reliable checkpoint (SCALE.md).
    post = segs.select(
        "doc_id", F.posexplode("segs").alias("pos0", "seg")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.md5("seg").alias("seg_key"),
        "seg",
    ).localCheckpoint(eager=False)
    own = post.groupBy("seg_key").agg(F.min("doc_id").alias("keeper"))
    kept = post.join(own, "seg_key").filter(F.col("doc_id") == F.col("keeper"))
    tot = post.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_segments"))
    ka = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x.getField("seg"),
            ),
            " ",
        ).alias("dedup_text"),
    )
    return tot.join(ka, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


# --------------------------------------------- token-distribution metrics
#
# Entropy / type-token-ratio / top-token share are the distributional
# quality cut above the ratio heuristics in functions/text.py: low
# entropy or a dominant token flags template spam regardless of
# stopword profile. The Σc·ln c identity
#   H = ln(n) − (Σ c·ln c) / n
# turns entropy into ONE per-doc aggregate over (doc, token) counts —
# no window, no second pass for the total.


@register(
    "q_token_entropy",
    oracle=f"""
WITH tok AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok WHERE len(toks) > 0)
  GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share
FROM tf GROUP BY doc_id
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution quality metrics per document: Shannon
    entropy of the token frequency distribution, type-token ratio,
    and the most-frequent token's share. One explode + two hash
    aggregates keyed (doc, token) then (doc) — embarrassingly
    parallel, and the entropy total falls out of the same aggregate
    via H = ln(n) − Σc·ln(c)/n."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    tf = (
        tok.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("entropy"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_share"),
    )


# ------------------------------------------------------ TF-IDF cosine top-k
#
# The vector-space-model counterpart of q_bm25_topk (same golden
# questions, independently rankable): w = tf·ln(N/df), cosine over
# the query-term subspace with FULL document norms. The norm pass
# needs df for every term — that full-posting-table aggregate is the
# cost an index build pays once; the per-question probe side joins
# only broadcast-size relations. Contributions round to 6 and scores
# to 4 before ranking (registry conventions) so ordering is
# engine-identical.

_TFIDF_TOPK = 10


def _tfidf_oracle() -> str:
    from .questions import question_values_sql

    return f"""
WITH {question_values_sql()},
tok AS (SELECT doc_id, {tokens_sql('lower(text)')} AS tk FROM documents),
stats AS (SELECT count(*) AS n_docs FROM tok),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM tok)
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (
  SELECT t.doc_id, t.term,
         round(t.tf * ln(CAST(s.n_docs AS DOUBLE) / d.df), 6) AS w
  FROM tf t JOIN dfq d USING (term) CROSS JOIN stats s
),
norm AS (
  -- exact integer micro-unit sum: order-independent across engines
  SELECT doc_id,
         round(sqrt(sum(CAST(round(w * w * 1000000, 0) AS BIGINT)) / 1000000.0), 6)
           AS dnorm
  FROM w GROUP BY doc_id
),
qt AS (
  SELECT DISTINCT question_id, term
  FROM (SELECT question_id,
               unnest(string_split(lower(question_text), ' ')) AS term
        FROM questions)
),
qw AS (
  SELECT q.question_id, q.term,
         round(ln(CAST(s.n_docs AS DOUBLE) / d.df), 6) AS wq
  FROM qt q JOIN dfq d USING (term) CROSS JOIN stats s
),
qnorm AS (
  SELECT question_id,
         round(sqrt(sum(CAST(round(wq * wq * 1000000, 0) AS BIGINT)) / 1000000.0), 6)
           AS qn
  FROM qw GROUP BY question_id
),
scored AS (
  SELECT qw.question_id, w.doc_id,
         round(sum(CAST(round(w.w * qw.wq * 1000000, 0) AS BIGINT)) / 1000000.0, 4)
           AS num
  FROM w JOIN qw USING (term)
  GROUP BY qw.question_id, w.doc_id
),
cos AS (
  SELECT s.question_id, s.doc_id,
         round(s.num / (n.dnorm * q.qn), 4) AS cosine
  FROM scored s JOIN norm n USING (doc_id) JOIN qnorm q USING (question_id)
)
SELECT question_id, doc_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY question_id
                                   ORDER BY cosine DESC, doc_id) AS rn
      FROM cos)
WHERE rn <= {_TFIDF_TOPK}
"""


@register("q_tfidf_topk", oracle=_tfidf_oracle())
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine top-10 per golden question — the vector-space
    ranker next to BM25 (ref's keyword scorer is the degenerate
    tf-only case, ref: src/main.py:137-145). Index side: tf + df
    aggregates and per-doc norms over the full posting table (the
    one-time index-build pass). Probe side: question terms and their
    idf weights are broadcast; the only big shuffle keys on
    (question, doc) for the score aggregate."""
    import os as _os

    from ..api import ensure_tfidf_index
    from .questions import GOLDEN_QUESTIONS

    # ---- index: STORED once per (session, sf_dir) — the r8 uniform
    # index-lifecycle contract (api.ensure_tfidf_index, next to the
    # vector and BM25 indexes). The probe reads (term, doc_id, w,
    # dnorm) with the question-term isin predicate pushed into the
    # term-sorted Parquet scan.
    base = ensure_tfidf_index(spark, sf_dir)
    pairs = sorted(
        {(qid, t) for qid, q in GOLDEN_QUESTIONS for t in q.lower().split()}
    )
    terms = sorted({t for _, t in pairs})
    wn = read_artifact(spark, _os.path.join(base, "weighted")).filter(
        F.col("term").isin(terms)
    )
    dfq = read_artifact(spark, _os.path.join(base, "terms"))

    # ---- probe (per-question): broadcast-size sides only.
    qt = local_rows(spark, pairs, "question_id INT, term STRING")
    qw = F.broadcast(
        F.broadcast(qt)
        .join(dfq, "term")
        .select(
            "question_id",
            "term",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("wq"),
        )
    )
    qnorm = F.broadcast(
        qw.groupBy("question_id").agg(
            F.round(
                F.sqrt(
                    F.sum(F.round(F.col("wq") * F.col("wq") * 1e6, 0).cast("long"))
                    / F.lit(1e6)
                ),
                6,
            ).alias("qn")
        )
    )
    scored = (
        wn.join(qw, "term")
        .repartition("question_id")
        .groupBy("question_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.round(F.col("w") * F.col("wq") * 1e6, 0).cast("long"))
                / F.lit(1e6),
                4,
            ).alias("num"),
            F.first("dnorm").alias("dnorm"),
        )
    )
    cos = scored.join(qnorm, "question_id").select(
        "question_id",
        "doc_id",
        F.round(F.col("num") / (F.col("dnorm") * F.col("qn")), 4).alias("cosine"),
    )
    w_rank = Window.partitionBy("question_id").orderBy(
        F.desc("cosine"), F.asc("doc_id")
    )
    return (
        cos.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _TFIDF_TOPK)
        .drop("rn")
    )


# ---------------------------------------------------- URL canonicalization
#
# Web-corpus dedup starts at the URL: strip scheme / www / query
# string / trailing slash, lowercase, then group. The synthetic
# corpus has no URL column, so (like q_pii_redact's injection) each
# document derives a deterministic messy URL from its own fields —
# the regex chain then has real case/query/slash variance to
# normalize, and the oracle checks exact canonical output.


@register(
    "q_url_normalize",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
         || source || '.example.com/page/' || CAST(doc_id % 5 AS VARCHAR)
         || (CASE WHEN doc_id % 3 = 0
                  THEN '/?utm_source=feed&utm_id=' || CAST(doc_id AS VARCHAR)
                  ELSE '/' END) AS url
  FROM documents
),
norm AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^https?://', ''),
               '^www\\.', ''),
             '\\?.*$', ''),
           '/$', '') AS canon_url
  FROM raw
)
SELECT canon_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM norm GROUP BY canon_url
""",
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup grouping: lowercase, strip scheme,
    leading www., query string, and trailing slash, then group
    documents by canonical URL (keeper = min doc_id). The normalize
    chain is scan-local column expressions; the only shuffle is the
    final groupBy on the canonical key."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "source"))
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, "HTTPS://WWW.").otherwise("https://www."),
        F.col("source"),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 5).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("/?utm_source=feed&utm_id="), F.col("doc_id").cast("string")
            ),
        ).otherwise(F.lit("/")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "^https?://", ""), r"^www\.", ""
            ),
            r"\?.*$",
            "",
        ),
        "/$",
        "",
    )
    return (
        docs.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
    )


# ------------------------------------------------------- unpivot (stack)
#
# The long→wide direction lives in analytics.q_pivot_lang_source;
# this is the inverse: pivot the per-(lang, source) counts wide, then
# stack() back to long form. stack is expression-only — the round
# trip costs exactly the pivot's one aggregate — and must reproduce
# the direct long-form groupBy, which is the oracle.

_UNPIVOT_SOURCES = ("src0", "src1", "src2", "src3")


@register(
    "q_unpivot_source",
    oracle=f"""
SELECT lang, source, CAST(count(*) AS BIGINT) AS n
FROM documents
WHERE source IN {_UNPIVOT_SOURCES!r}
GROUP BY lang, source
""",
)
def q_unpivot_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) with stack(): pivot per-language counts
    for four sources wide (explicit value list → one-pass plan), then
    stack back to (lang, source, n) and drop empty combinations —
    recovering exactly the direct long-form aggregate the oracle
    computes."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("source").isin(*_UNPIVOT_SOURCES)
    )
    wide = d.groupBy("lang").pivot("source", list(_UNPIVOT_SOURCES)).count()
    stack_args = ", ".join(f"'{s}', `{s}`" for s in _UNPIVOT_SOURCES)
    return (
        wide.selectExpr(
            "lang",
            f"stack({len(_UNPIVOT_SOURCES)}, {stack_args}) AS (source, n0)",
        )
        .filter(F.col("n0").isNotNull())
        .select("lang", "source", F.col("n0").cast("long").alias("n"))
    )


# ------------------------------------------------------ length histogram
#
# Fixed-width bucketing on n_chars: the first profiling aggregate any
# corpus audit runs. Integer floor-division bucketing is portable
# across engines (no width_bucket semantics drift), and the share
# denominator rides a broadcast 1-row aggregate, not a window.

_HIST_W = 50


@register(
    "q_length_histogram",
    oracle=f"""
WITH b AS (SELECT doc_id, n_chars, n_chars // {_HIST_W} AS bucket FROM documents),
tot AS (SELECT count(*) AS total FROM b)
SELECT bucket * {_HIST_W} AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       round(count(*) / CAST(any_value(total) AS DOUBLE), 6) AS share
FROM b CROSS JOIN tot
GROUP BY bucket
""",
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in fixed 50-char buckets with each
    bucket's corpus share. One groupBy on a derived integer key; the
    total rides a broadcast single-row aggregate so no second pass
    and no window over the whole table."""
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = d.select(
        "n_chars", (F.col("n_chars") / _HIST_W).cast("long").alias("bucket")
    )
    tot = F.broadcast(b.agg(F.count("*").alias("total")))
    return (
        b.crossJoin(tot)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.round(F.count("*") / F.any_value("total").cast("double"), 6).alias(
                "share"
            ),
        )
        .select(
            (F.col("bucket") * _HIST_W).alias("bucket_lo"),
            "n_docs",
            "min_chars",
            "max_chars",
            "share",
        )
    )


# ------------------------------------------------------------ Zipf slope
#
# Rank-frequency diagnostics: natural corpora follow Zipf (log-log
# slope ≈ −1); synthetic, templated, or spam-heavy corpora flatten or
# steepen visibly. One regression aggregate over the ranked term
# counts — the whole diagnostic is two aggregates and a window over
# |vocab| rows, nothing touches the corpus twice.


@register(
    "q_zipf_slope",
    oracle=f"""
WITH tok AS (SELECT {tokens_sql('lower(text)')} AS tk FROM documents),
tf AS (
  SELECT term, count(*) AS c
  FROM (SELECT unnest(tk) AS term FROM tok) GROUP BY term
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM tf
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       round(regr_slope(ln(c), ln(rnk)), 4) AS zipf_slope,
       round(corr(ln(c), ln(rnk)), 4) AS loglog_corr
FROM ranked
""",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope of the corpus vocabulary: regress
    ln(count) on ln(rank) over the ranked term counts (natural text
    ≈ −1; templated/spam corpora deviate — a one-row corpus health
    diagnostic). Plan: term-count aggregate (shuffle ∝ tokens), a
    rank window over |vocab| rows, then ONE regression aggregate —
    regr_slope is a streaming moment computation, so the diagnostic
    adds nothing beyond the vocabulary pass any index build already
    pays."""
    docs = spread(load(spark, sf_dir, "documents").select("text"))
    tf = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    ranked = tf.select("c", F.row_number().over(w).alias("rnk"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.round(F.regr_slope(F.log("c"), F.log("rnk")), 4).alias("zipf_slope"),
        F.round(F.corr(F.log("c"), F.log("rnk")), 4).alias("loglog_corr"),
    )


# ------------------------------------------------- PMI collocations
#
# Pointwise mutual information over adjacent token bigrams — the
# classic collocation detector (Church & Hanks 1990): PMI(a,b) =
# ln( p(a,b) / (p(a)·p(b)) ), with p(a,b) from bigram counts and
# p(·) from unigram counts. High-PMI pairs are multi-word units
# ("new york"); a corpus whose top PMI list is template boilerplate
# has a duplication problem — complements q_token_entropy (per-doc)
# and q_zipf_slope (corpus-global) as a pair-level health metric.

_PMI_MIN_COUNT = 5


@register(
    "q_collocation_pmi",
    oracle=f"""
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
), big AS (
  SELECT u.a AS a, u.b AS b
  FROM toks, unnest(list_transform(generate_series(1, len(l) - 1),
         i -> {{'a': l[i], 'b': l[i + 1]}})) AS t(u)
), bc AS (
  SELECT a, b, CAST(count(*) AS DOUBLE) AS nab FROM big GROUP BY a, b
), uni AS (
  SELECT u AS tok, CAST(count(*) AS DOUBLE) AS n
  FROM toks, unnest(l) AS t(u) GROUP BY u
), tot AS (SELECT sum(n) AS nn FROM uni),
totb AS (SELECT sum(nab) AS m FROM bc)
SELECT bc.a, bc.b, CAST(nab AS BIGINT) AS n_pair,
       round(ln((nab / m) / ((ua.n / nn) * (ub.n / nn))), 6) AS pmi
FROM bc
JOIN uni ua ON bc.a = ua.tok
JOIN uni ub ON bc.b = ub.tok
CROSS JOIN tot CROSS JOIN totb
WHERE nab >= {_PMI_MIN_COUNT}
""",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram PMI table (count >= _PMI_MIN_COUNT).

    Plan shape: bigrams come from an expression-only zip of each
    doc's own token array (struct(l[i], l[i+1]) over sequence — no
    window, no per-doc shuffle), so the whole job is two token-bound
    aggregates (bigram counts, unigram counts) plus two broadcast
    joins of the |vocab|-sized unigram table onto the |vocab|²-bounded
    bigram table and two one-row totals. At 100 TB the only wide
    shuffles are the two counts, both partial-aggregated map-side;
    everything after operates on vocabulary-sized data."""
    docs = spread(load(spark, sf_dir, "documents").select("text"))
    # toks feeds BOTH count aggregates (bigrams + unigrams); the lazy
    # checkpoint runs the tokenize fold once instead of once per
    # aggregate (r15 opt pass — the bc/uni checkpoints below already
    # share everything downstream, but each re-ran the tokenize).
    # Cluster-scale caveat: localCheckpoint blocks are executor-local
    # and lineage-free — an executor loss mid-query fails the job; at
    # cluster scale this becomes a reliable checkpoint (SCALE.md).
    toks = docs.select(tokens(F.col("text")).alias("l")).localCheckpoint(
        eager=False
    )
    big = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(l) < 2 THEN "
                "  CAST(array() AS array<struct<a:string,b:string>>) "
                "ELSE transform(sequence(0, size(l) - 2), "
                "       i -> struct(l[i] AS a, l[i + 1] AS b)) END"
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    # Both count tables feed multiple consumers (bc → totals + the
    # PMI join; uni → total + both broadcast sides); lazily
    # checkpointed so Catalyst shares one aggregate each instead of
    # re-deriving the token-explode shuffle per consumer (same trick
    # as q_event_transitions).
    bc = (
        big.groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("nab"))
        .localCheckpoint(eager=False)
    )
    uni = (
        toks.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("double").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("n").alias("nn"))
    totb = bc.agg(F.sum("nab").alias("m"))
    ua = F.broadcast(uni.select(F.col("tok").alias("a"), F.col("n").alias("na")))
    ub = F.broadcast(uni.select(F.col("tok").alias("b"), F.col("n").alias("nb")))
    return (
        bc.filter(F.col("nab") >= _PMI_MIN_COUNT)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
        .select(
            "a",
            "b",
            F.col("nab").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("nab") / F.col("m"))
                    / ((F.col("na") / F.col("nn")) * (F.col("nb") / F.col("nn")))
                ),
                6,
            ).alias("pmi"),
        )
    )


_VOCAB_CUTS = (100, 1_000, 10_000)


@register(
    "q_vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT {tokens_sql('lower(text)')} AS tk FROM documents),
tf AS (
  SELECT term, count(*) AS c
  FROM (SELECT unnest(tk) AS term FROM tok) GROUP BY term
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM tf
),
total AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM tf),
cuts(cut) AS (VALUES {", ".join(f"({n})" for n in _VOCAB_CUTS)})
SELECT CAST(cut AS BIGINT) AS cut,
       CAST(count(*) AS BIGINT) AS n_types_cut,
       CAST(sum(c) AS BIGINT) AS covered_tokens,
       CAST(max(total_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(c) AS DOUBLE) / max(total_tokens), 6) AS coverage
FROM ranked JOIN cuts ON rnk <= cut CROSS JOIN total
GROUP BY cut
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token
    occurrences the top-N most frequent types cover, at N = 100 / 1k /
    10k — the first number a tokenizer-design or vocab-sizing pass
    asks for (a 32k BPE vocab is sized against exactly this curve),
    and the companion to q_zipf_slope's shape diagnostic.

    Plan: ONE term-count aggregate (shuffle ∝ tokens — the vocabulary
    pass any index build already pays), checkpointed so its two
    consumers (the ranked head and the total) don't re-tokenize; then
    — because only ranks ≤ max(cut)=10k are ever consumed — an
    ``orderBy(desc(c)).limit(max_cut)`` that plans as
    TakeOrderedAndProject (per-partition top-10k heaps + one bounded
    merge, r9 verdict #3) BEFORE the rank window, so the single-
    partition sort ranks ≤10k rows instead of the entire type
    inventory (billions of rows at 100 TB); finally a 3-row broadcast
    theta-join of the cuts and a 3-group aggregate. Counts are
    integer end-to-end; the single float (coverage) is a ratio of two
    exact longs, rounded to 6."""
    docs = spread(load(spark, sf_dir, "documents").select("text"))
    tf = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    head = tf.orderBy(F.desc("c"), F.asc("term")).limit(max(_VOCAB_CUTS))
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    ranked = head.withColumn("rnk", F.row_number().over(w))
    total = F.broadcast(tf.agg(F.sum("c").alias("total_tokens")))
    cuts = F.broadcast(
        local_rows(spark, [(n,) for n in _VOCAB_CUTS], "cut INT")
    )
    return (
        ranked.join(cuts, F.col("rnk") <= F.col("cut"))
        .groupBy("cut")
        .agg(
            F.count("*").alias("n_types_cut"),
            F.sum("c").alias("covered_tokens"),
        )
        .crossJoin(total)
        .select(
            F.col("cut").cast("long").alias("cut"),
            F.col("n_types_cut").cast("long").alias("n_types_cut"),
            F.col("covered_tokens").cast("long").alias("covered_tokens"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.col("covered_tokens").cast("double") / F.col("total_tokens"),
                6,
            ).alias("coverage"),
        )
    )


@register(
    "q_corpus_datacard",
    oracle=f"""
WITH tok AS (
  SELECT source, lang, md5(text) AS h,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents
),
per_lang AS (
  SELECT source, lang, count(*) AS c FROM tok GROUP BY source, lang
),
top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY c DESC, lang) AS rn
    FROM per_lang)
  WHERE rn = 1
),
base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         round(avg(n_tokens), 2) AS avg_doc_tokens,
         CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM tok GROUP BY source
)
SELECT b.source, b.n_docs, b.total_tokens, b.avg_doc_tokens,
       round(1.0 - b.n_unique / b.n_docs, 6) AS exact_dup_rate,
       b.n_langs, t.top_lang
FROM base b JOIN top_lang t USING (source)
""",
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datacard: doc count, token volume, mean doc
    length, exact-duplicate rate (1 − distinct md5 / docs), language
    inventory and majority language — the one-row-per-source
    datasheet every corpus release ships (Gebru et al., "Datasheets
    for Datasets") and the first report a mixing/budgeting pass
    (q_domain_mix, q_token_budget_cap) is parameterized from.

    Plan: ONE corpus scan feeding a lazily-checkpointed (source,
    lang, md5, n_tokens) projection consumed by two bounded
    aggregates — a (source, lang) count with a per-source argmax
    window (|sources|·|langs| rows) and the per-source stats agg
    (two-distinct-aggregate hash agg; count(DISTINCT md5) expands
    but stays ∝ corpus with map-side partials). Output is
    |sources| rows; every float is a ratio of exact integers,
    rounded in both engines."""
    docs = spread(load(spark, sf_dir, "documents").select("source", "lang", "text"))
    tok = docs.select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)  # two aggregate consumers
    per_lang = tok.groupBy("source", "lang").agg(F.count("*").alias("c"))
    top_w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top_lang = (
        per_lang.withColumn("rn", F.row_number().over(top_w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    base = tok.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 2).alias("avg_doc_tokens"),
        F.countDistinct("h").alias("n_unique"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return base.join(top_lang, "source").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "avg_doc_tokens",
        F.round(
            F.lit(1.0) - F.col("n_unique") / F.col("n_docs"), 6
        ).alias("exact_dup_rate"),
        F.col("n_langs").cast("long").alias("n_langs"),
        "top_lang",
    )

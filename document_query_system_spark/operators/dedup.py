"""Deduplication operators for training-data pipelines: exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Exact dedup is q_dedup_hash (functions/scalar.py). Everything here is
near-duplicate detection, the 100 TB shape being: per-document
signature (narrow, no shuffle) → band/bucket key → self-join only
within buckets (shuffle on the band key, never all-pairs) → verify
candidates. All signatures use the engine-portable char-fold hash
(functions/hashing.py) so every stage is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load, spread
from ..functions.hashing import (
    P,
    SHINGLE,
    shingle_hashes as _shingle_hashes,
    shingle_hashes_sql as _shingle_hashes_sql,
    token_hashes,
    token_hashes_sql,
)

N_PERM = 8  # MinHash permutations
N_BANDS = 4  # bands of 2 rows each → near-dup threshold ≈ (1/4)^(1/2) = 0.5
SIMHASH_BITS = 16

# Fixed odd multipliers/offsets for the MinHash permutation family
# h_i(x) = (a_i * x + b_i) mod P.
_A = (2971, 6361, 9091, 3517, 7993, 4421, 8693, 5323)
_B = (1409, 8191, 2753, 9973, 619, 7487, 3301, 6709)

# _shingle_hashes / _shingle_hashes_sql moved to functions/hashing.py
# (shared with operators/pipeline.py without importing this module's
# registrations); imported above under their historical names.


_SIG_SQL = f"""
WITH th AS (SELECT doc_id, {token_hashes_sql('text')} AS ths FROM documents),
sh AS (SELECT doc_id, ths, {_shingle_hashes_sql('ths')} AS shingles FROM th),
sig AS (
  SELECT doc_id, shingles,
         list_transform(generate_series(1, {N_PERM}), i ->
           CASE WHEN len(shingles) = 0 THEN CAST({P} AS BIGINT)
                ELSE list_min(list_transform(shingles,
                       x -> ([{', '.join(map(str, _A))}][i] * x
                             + [{', '.join(map(str, _B))}][i]) % {P}))
           END) AS minhash
  FROM sh
)
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + MinHash signature (array<bigint>[N_PERM]) over 3-token
    shingles. Narrow per-row work; the signature is ~64 bytes/doc no
    matter how large the document is."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    s1 = docs.select("doc_id", token_hashes(F.col("text")).alias("ths"))
    s2 = s1.select("doc_id", "ths", _shingle_hashes(F.col("ths")).alias("shingles"))
    a = F.array(*[F.lit(x).cast("long") for x in _A])
    b = F.array(*[F.lit(x).cast("long") for x in _B])
    sig = F.transform(
        F.sequence(F.lit(1), F.lit(N_PERM)),
        lambda i: F.when(F.size("shingles") == 0, F.lit(P).cast("long")).otherwise(
            F.array_min(
                F.transform(
                    F.col("shingles"),
                    lambda x: (F.element_at(a, i) * x + F.element_at(b, i)) % P,
                )
            )
        ),
    )
    return s2.select("doc_id", "shingles", sig.alias("minhash")).drop("shingles")


@register(
    "q_dedup_minhash_sig",
    oracle=_SIG_SQL
    + "SELECT doc_id, array_to_string(minhash, ',') AS minhash_sig FROM sig",
)
def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures — stage 1 of shingle→minhash→band→bucket-join
    dedup; the full signature table is oracle-verified.

    Driver-facing shape: the signature is serialized to a
    comma-joined string (scalar column) because the external
    harness's canonicalizer sorts/hashes pandas values and cannot
    hash Python lists; ``minhash_signatures()`` keeps the
    array<bigint> form for internal pipeline stages."""
    sig = minhash_signatures(spark, sf_dir)
    return sig.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("minhash"), lambda x: x.cast("string")), ","
        ).alias("minhash_sig"),
    )


_BANDS_SQL = (
    _SIG_SQL
    + f"""
, bands AS (
  SELECT doc_id,
         unnest(generate_series(0, {N_BANDS - 1})) AS band,
         minhash
  FROM sig
),
keyed AS MATERIALIZED (
  SELECT doc_id, band,
         (minhash[band * 2 + 1] * 31 + minhash[band * 2 + 2]) % {P} AS band_key,
         minhash
  FROM bands
)
"""
)


@register(
    "q_dedup_minhash_pairs",
    oracle=_BANDS_SQL
    + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_filter(generate_series(1, {N_PERM}),
                                  i -> a.minhash[i] = b.minhash[i])) AS DOUBLE)
             / {N_PERM}, 6) AS est_jaccard
FROM keyed a JOIN keyed b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY ALL
""",
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band bucket, with
    the signature-agreement Jaccard estimate. The join is on
    (band, band_key) — only colliding docs ever meet, so the shuffle
    is proportional to candidates, not to |docs|²."""
    return _minhash_candidate_pairs(spark, sf_dir)


def _minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) — shared by q_dedup_minhash_pairs
    and q_dedup_tier_eval's candidate leg."""
    sig = minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band"),
        "minhash",
    )
    keyed = bands.select(
        "doc_id",
        "band",
        (
            (
                F.element_at("minhash", F.col("band") * 2 + 1) * 31
                + F.element_at("minhash", F.col("band") * 2 + 2)
            )
            % P
        ).alias("band_key"),
        "minhash",
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    est = (
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.lit(N_PERM)),
                lambda i: F.element_at(F.col("a.minhash"), i)
                == F.element_at(F.col("b.minhash"), i),
            )
        ).cast("double")
        / N_PERM
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .distinct()
    )
    return pairs


@register(
    "q_dedup_simhash",
    oracle=f"""
WITH th AS (SELECT doc_id, {token_hashes_sql('text')} AS ths FROM documents),
bits AS (
  SELECT doc_id, ths,
         list_transform(generate_series(0, {SIMHASH_BITS - 1}), j ->
           CASE WHEN len(list_filter(ths, h -> (h // (1 << j)) % 2 = 1)) * 2
                     > len(ths)
                THEN CAST(1 << j AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bitvals
  FROM th
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), bitvals), (a, b) -> a + b) AS simhash
FROM bits
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: majority vote per bit over token hashes → 16-bit
    locality-sensitive fingerprint; near-dups land at small Hamming
    distance (grouping by simhash finds clusters directly)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    s1 = docs.select("doc_id", token_hashes(F.col("text")).alias("ths"))
    # Bit test mirrors DuckDB's (h // (1 << j)) % 2. shiftright takes
    # only a literal bit count, so the shift is exact double division:
    # h < 2^30, so h / 2^j is exact and floor() equals h >> j.
    two_j = lambda j: F.pow(F.lit(2.0), j.cast("double"))  # noqa: E731
    bitvals = F.transform(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda j: F.when(
            F.size(
                F.filter(
                    F.col("ths"),
                    lambda h: F.floor(h / two_j(j)).cast("long") % 2 == 1,
                )
            )
            * 2
            > F.size(F.col("ths")),
            two_j(j).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    s2 = s1.select("doc_id", "ths", bitvals.alias("bitvals"))
    simhash = F.aggregate(
        F.col("bitvals"), F.lit(0).cast("long"), lambda a, b: a + b
    )
    return s2.select("doc_id", "bitvals", simhash.alias("simhash")).drop("bitvals")


_SIMHASH_CTE = f"""
WITH th AS (SELECT doc_id, {token_hashes_sql('text')} AS ths FROM documents),
bits AS (
  SELECT doc_id, ths,
         list_transform(generate_series(0, {SIMHASH_BITS - 1}), j ->
           CASE WHEN len(list_filter(ths, h -> (h // (1 << j)) % 2 = 1)) * 2
                     > len(ths)
                THEN CAST(1 << j AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bitvals
  FROM th
),
sh AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), bitvals), (a, b) -> a + b)
           AS simhash
  FROM bits
)
"""

HAMMING_MAX = 2  # near-dup threshold on the 16-bit fingerprint


@register(
    "q_dedup_simhash_pairs",
    oracle=_SIMHASH_CTE
    + f"""
, banded AS MATERIALIZED (
  SELECT doc_id, simhash,
         simhash % 256 AS lo_band, simhash // 256 AS hi_band
  FROM sh
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.lo_band = b.lo_band AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, bit_count(xor(a.simhash, b.simhash))
  FROM banded a JOIN banded b
    ON a.hi_band = b.hi_band AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM cand WHERE hamming <= {HAMMING_MAX}
""",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pair search, stage 2 of the SimHash tier: split
    the 16-bit fingerprint into two 8-bit bands — any pair within
    Hamming distance within the threshold agrees exactly on at least one
    band (pigeonhole), so two band-keyed equi-joins find every
    candidate without an all-pairs scan; the Hamming filter then
    verifies. This is the fingerprint-side analog of MinHash banding,
    and the standard simhash index layout at corpus scale (one
    bucket table per band)."""
    sh = q_dedup_simhash(spark, sf_dir)  # (doc_id, simhash)
    banded = sh.select(
        "doc_id",
        "simhash",
        (F.col("simhash") % 256).alias("lo_band"),
        (F.col("simhash") / 256).cast("long").alias("hi_band"),
    ).localCheckpoint(eager=False)
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")

    def band_join(key: str) -> DataFrame:
        a, b = banded.alias("a"), banded.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )

    cand = band_join("lo_band").union(band_join("hi_band")).distinct()
    return cand.filter(F.col("hamming") <= HAMMING_MAX)


JACCARD_MIN = 0.1  # near-dup report threshold


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH th AS (SELECT doc_id, lang, {token_hashes_sql('text')} AS ths FROM documents),
sh AS (
  SELECT doc_id, lang,
         len(ths) AS n_tok,
         list_distinct({_shingle_hashes_sql('ths')}) AS sset
  FROM th
),
b AS MATERIALIZED (SELECT doc_id, lang, n_tok // 16 AS size_bucket, sset FROM sh
      WHERE len(sset) > 0),
pairs AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         round(CAST(len(list_intersect(a.sset, b2.sset)) AS DOUBLE)
               / (len(a.sset) + len(b2.sset) - len(list_intersect(a.sset, b2.sset))),
               6) AS jaccard
  FROM b a JOIN b b2
    ON a.lang = b2.lang AND a.size_bucket = b2.size_bucket AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_MIN}
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup, inverted-index formulation: explode
    each doc's distinct shingle set, equi-join on the shingle hash
    (within the (lang, size) blocking key), count co-occurrences per
    pair — |A∩B| — then jaccard = inter/(|A|+|B|−inter), keeping pairs
    above the similarity floor.

    Scale shape: the shuffle key is the *shingle*, whose cardinality
    is ~vocabulary³ — massively parallel, no giant per-key groups —
    and only pairs that actually share a shingle are ever scored, so
    the quadratic all-pairs scan never materializes (the naive
    bucketed self-join degenerates when a blocking bucket holds
    thousands of docs: one SMJ key group = one task doing |bucket|²
    array intersections). At petabyte scale the one extra discipline
    is capping shingle document-frequency (drop shingles appearing in
    >>N docs — they contribute pairs but no discrimination); not
    applied here to keep the oracle semantics exact.

    The oracle keeps the direct pairwise formulation — two independent
    algorithms agreeing on the result is the point of the check.
    """
    return _ngram_jaccard(spark, sf_dir, df_cap=None)


def _ngram_jaccard(
    spark: SparkSession, sf_dir: str, df_cap: int | None
) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "lang", "text"))
    s1 = docs.select("doc_id", "lang", token_hashes(F.col("text")).alias("ths"))
    sh = s1.select(
        "doc_id",
        "lang",
        "ths",
        F.size("ths").alias("n_tok"),
        F.array_distinct(_shingle_hashes(F.col("ths"))).alias("sset"),
    ).drop("ths")
    # No size(sset)>0 filter here: explode of an empty array emits no
    # rows, so the filter is implicit — and an explicit one would be
    # predicate-pushed below the repartition with its aliases inlined,
    # recomputing the whole shingle pipeline inside the (single-
    # partition) scan stage just to evaluate the predicate. For the
    # same reason the pair generation below is posting-list explode
    # after an aggregation, not a self-join: a join would inject
    # isnotnull(join-key) predicates that likewise get pushed-and-
    # inlined below the exchange; an Aggregate is a pushdown barrier,
    # and one groupBy-shingle shuffle replaces two join-side shuffles.
    b = sh.select(
        "doc_id", "lang", F.expr("n_tok div 16").alias("size_bucket"), "sset"
    )
    # explode_outer, not explode: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, whose inferred size(sset)>0 predicate
    # is pushed below the repartition with the full shingle pipeline
    # inlined — recomputing everything single-threaded at the scan.
    # The isNotNull filter on the *generated* column replaces it and
    # cannot sink below the Generate.
    ex = b.select(
        "doc_id",
        "lang",
        "size_bucket",
        F.size("sset").alias("sz"),
        F.explode_outer("sset").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    posting = ex.groupBy("lang", "size_bucket", "shingle").agg(
        F.collect_list(F.struct("doc_id", "sz")).alias("ds")
    )
    if df_cap is not None:
        # Document-frequency cap — THE posting-list scale knob: a
        # shingle appearing in df docs emits O(df²) candidate pairs,
        # so one boilerplate shingle shared by 10⁵ docs would emit
        # 10¹⁰ pairs from a single posting list. Hot shingles carry
        # no discrimination signal (everyone has them); dropping the
        # whole list bounds per-shingle work at df_cap² while leaving
        # real near-dup pairs connected through their rarer shingles.
        posting = posting.filter(F.size("ds") <= df_cap)
    # Ordered pairs from each posting list (max list length = per-
    # shingle document frequency, the quantity a DF cap would bound).
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x: F.filter(
                    F.transform(
                        F.col("ds"),
                        lambda y: F.when(
                            x.doc_id < y.doc_id,
                            F.struct(
                                x.doc_id.alias("doc_a"),
                                y.doc_id.alias("doc_b"),
                                x.sz.alias("sz_a"),
                                y.sz.alias("sz_b"),
                            ),
                        ),
                    ),
                    lambda s: s.isNotNull(),
                ),
            )
        )
    )
    inter = (
        posting.select(pair.alias("p"))
        .groupBy("p.doc_a", "p.doc_b", "p.sz_a", "p.sz_b")
        .agg(F.count("*").alias("inter"))
    )
    jaccard = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        6,
    )
    return (
        inter.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


NGRAM_DF_CAP = 4  # max per-(block, shingle) document frequency kept


@register(
    "q_dedup_ngram_jaccard_capped",
    oracle=f"""
WITH th AS (SELECT doc_id, lang, {token_hashes_sql('text')} AS ths FROM documents),
sh AS (
  SELECT doc_id, lang,
         len(ths) AS n_tok,
         list_distinct({_shingle_hashes_sql('ths')}) AS sset
  FROM th
),
b AS MATERIALIZED (SELECT doc_id, lang, n_tok // 16 AS size_bucket, len(sset) AS sz, sset
      FROM sh WHERE len(sset) > 0),
ex AS MATERIALIZED (SELECT doc_id, lang, size_bucket, sz, unnest(sset) AS shingle FROM b),
df AS (SELECT lang, size_bucket, shingle, count(*) AS df FROM ex GROUP BY ALL),
kept AS (
  SELECT e.doc_id, e.lang, e.size_bucket, e.sz, e.shingle
  FROM ex e JOIN df ON e.lang = df.lang AND e.size_bucket = df.size_bucket
                   AND e.shingle = df.shingle
  WHERE df.df <= {NGRAM_DF_CAP}
),
cs AS MATERIALIZED (SELECT doc_id, lang, size_bucket, any_value(sz) AS sz,
              list(shingle) AS cset
       FROM kept GROUP BY doc_id, lang, size_bucket),
pairs AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         round(CAST(len(list_intersect(a.cset, b2.cset)) AS DOUBLE)
               / (a.sz + b2.sz - len(list_intersect(a.cset, b2.cset))),
               6) AS jaccard
  FROM cs a JOIN cs b2
    ON a.lang = b2.lang AND a.size_bucket = b2.size_bucket AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_MIN}
""",
)
def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_ngram_jaccard with the shingle document-frequency cap
    applied (df capped within each (lang, size) block) — the
    100 TB discipline the uncapped variant deliberately omits to keep
    its oracle exact. A shingle in df documents contributes O(df²)
    pairs; capping bounds every posting list's pair fan-out at cap²
    regardless of corpus size, at the cost of a downward-biased
    intersection for pairs that shared dropped hot shingles (full set
    sizes stay in the denominator).

    The oracle recomputes the same semantics with the independent
    pairwise formulation: remove hot shingles from each document's
    set, then list_intersect per pair."""
    return _ngram_jaccard(spark, sf_dir, df_cap=NGRAM_DF_CAP)


# ------------------------------------------------------- dedup tier eval
#
# The dedup analog of the ANN recall report (similarity.py): measure
# the MinHash-LSH candidate tier against the engine's own exact
# blocked-Jaccard truth. Blocking is PART of the truth definition —
# (lang, size-bucket) pairs are the only ones the dedup pipeline
# would ever act on — so precision counts cross-block candidates as
# false positives, which is exactly the band-collision noise the
# tier's band/width knobs trade against recall.


def _tier_eval_sql() -> str:
    truth_pairs = f"""
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         round(CAST(len(list_intersect(a.sset, c.sset)) AS DOUBLE)
               / (len(a.sset) + len(c.sset) - len(list_intersect(a.sset, c.sset))),
               6) AS jaccard
  FROM b2 a JOIN b2 c
    ON a.lang = c.lang AND a.size_bucket = c.size_bucket AND a.doc_id < c.doc_id"""
    return (
        _BANDS_SQL
        + f""",
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
th2 AS (SELECT doc_id, lang, {token_hashes_sql('text')} AS ths FROM documents),
sh2 AS (SELECT doc_id, lang, len(ths) AS n_tok,
               list_distinct({_shingle_hashes_sql('ths')}) AS sset
        FROM th2),
b2 AS MATERIALIZED (SELECT doc_id, lang, n_tok // 16 AS size_bucket, sset FROM sh2
       WHERE len(sset) > 0),
truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({truth_pairs}) WHERE jaccard >= {JACCARD_MIN}
),
tp AS MATERIALIZED (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth)
SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_tp,
       round((SELECT count(*) FROM tp)
             / CAST(nullif((SELECT count(*) FROM cand), 0) AS DOUBLE),
             6) AS tier_precision,
       round((SELECT count(*) FROM tp)
             / CAST(nullif((SELECT count(*) FROM truth), 0) AS DOUBLE),
             6) AS tier_recall
"""
    )


@register("q_dedup_tier_eval", oracle=_tier_eval_sql())
def q_dedup_tier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tier quality report: precision/recall of the MinHash-LSH
    candidate pairs against the exact blocked-Jaccard truth at
    J ≥ 0.1 — the one-row health check a pipeline runs before
    trusting an approximate dedup tier at scale (the knobs it
    steers: N_PERM, band count, shingle width).

    Plan: both legs are the engine's existing proven shapes
    (band-bucket equi-join; inverted-index Jaccard), each ending in a
    one-row count; the report is a crossJoin of three single-row
    aggregates. At 100 TB the eval runs on a hash-sampled slice
    (md5(doc_id) head — q_sample_hash's device) rather than the full
    corpus; the metric semantics are unchanged."""
    # Each leg feeds TWO consumers (its own count + the TP join);
    # without a materialization barrier Spark recomputes the whole
    # MinHash/banding pipeline and the whole inverted-index Jaccard
    # pipeline once per consumer — the r15 opt pass measured the
    # un-checkpointed plan at 40 Exchanges / 12 scans (each leg's
    # corpus scan + shingle pass duplicated) vs 9 justified. The lazy
    # checkpoints run each leg exactly once; the scorer consumes two
    # tiny (pair-count-sized) tables, the q_ann_recall discipline.
    # Cluster-scale caveat: localCheckpoint blocks live on executors
    # with no lineage — an executor loss mid-query fails the job
    # instead of recomputing; at cluster scale this becomes a reliable
    # checkpoint to shared storage (SCALE.md known-deltas).
    cand = (
        _minhash_candidate_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    truth = (
        _ngram_jaccard(spark, sf_dir, df_cap=None)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    tp = cand.join(truth, ["doc_a", "doc_b"])
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    ntp = tp.agg(F.count("*").alias("n_tp"))
    return (
        nc.crossJoin(nt)
        .crossJoin(ntp)
        .select(
            "n_candidates",
            "n_truth",
            "n_tp",
            # Zero-guard both quotients: on a degenerate input (empty
            # candidate or truth leg) Spark's double division yields
            # NULL while DuckDB yields inf/NaN — both engines must
            # emit NULL exactly when the eval is most alarming
            # (nullif() on the oracle side mirrors this).
            F.round(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_tp") / F.col("n_candidates").cast("double"),
                ),
                6,
            ).alias("tier_precision"),
            F.round(
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_tp") / F.col("n_truth").cast("double"),
                ),
                6,
            ).alias("tier_recall"),
        )
    )


@register(
    "q_dedup_clusters",
    oracle=_BANDS_SQL.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    + f"""
, edges AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE len(list_filter(generate_series(1, {N_PERM}),
                        i -> a.minhash[i] = b.minhash[i])) * 2 >= {N_PERM}
),
nodes AS (SELECT DISTINCT src AS v FROM edges UNION SELECT DISTINCT dst FROM edges),
undirected AS MATERIALIZED (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT reach.v, undirected.dst
  FROM reach JOIN undirected ON reach.r = undirected.src
)
SELECT v AS doc_id, min(r) AS cluster_id,
       min(r) = v AS is_canonical
FROM reach GROUP BY v
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash
    candidate graph (edges = pairs agreeing on ≥ half the signature),
    cluster id = min doc_id reachable, canonical = the keeper each
    cluster deduplicates to.

    Iterative min-label propagation as a driver loop over DataFrames:
    each round joins labels to the edge list, takes the min neighbor
    label, and localCheckpoints (truncating lineage so plan size stays
    constant across rounds — THE prerequisite for iterative DataFrame
    algorithms). Convergence is checked with a changed-row count;
    rounds needed = graph diameter, which for dup clusters is tiny.
    The oracle computes the same components via a recursive-CTE
    transitive closure — an independent algorithm agreeing on the
    fixpoint."""
    sig = minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band"),
        "minhash",
    )
    keyed = bands.select(
        "doc_id",
        "band",
        (
            (
                F.element_at("minhash", F.col("band") * 2 + 1) * 31
                + F.element_at("minhash", F.col("band") * 2 + 2)
            )
            % P
        ).alias("band_key"),
        "minhash",
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    agree = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(N_PERM)),
            lambda i: F.element_at(F.col("a.minhash"), i)
            == F.element_at(F.col("b.minhash"), i),
        )
    )
    edges = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(agree * 2 >= N_PERM)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels, _ = connected_components(edges)
    return labels.select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("v")).alias("is_canonical"),
    )


CC_MAX_ROUNDS = 25  # with pointer doubling: diameters beyond 2^25 don't exist


def connected_components(edges: DataFrame, max_rounds: int = CC_MAX_ROUNDS):
    """Min-label connected components over an (src, dst) edge list.

    Each round does ONE neighbor propagation (min label over incident
    edges) followed by ONE pointer jump (label ← label's label, valid
    because a node's label is always a node in the same component, so
    composing two label hops stays within the component). The jump is
    the large-star/small-star-style contraction the r5 verdict asked
    for: propagation alone needs diameter rounds on a chain; with the
    jump, label paths halve every round → ⌈log₂ diameter⌉ + O(1)
    rounds (property-tested on a 64-chain in tests/test_dedup_scale).

    Every round localCheckpoints (lineage truncation — plan size
    stays constant, THE prerequisite for iterative DataFrame
    algorithms) and the loop is hard-bounded: exceeding
    ``max_rounds`` raises instead of looping a cluster forever — at
    25 doubling rounds the graph would need a diameter beyond 2²⁵,
    so hitting the cap means the fixpoint logic itself broke.

    Returns ``(labels, n_rounds)`` where labels has columns
    ``v, label`` (label = component min id).
    """
    undirected = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select("dst"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint(eager=True)
    )
    for rounds in range(1, max_rounds + 1):
        neigh = (
            undirected.join(labels, undirected.src == labels.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.min("label").alias("nlabel"))
        )
        # old_label rides along so the convergence check below is a
        # filter over the already-checkpointed result — the per-round
        # changed-count JOIN this replaced was a full extra
        # shuffle+join job (the r6 driver-bench regression on
        # q_dedup_clusters traced to per-round overhead, not rounds).
        propagated = labels.join(neigh, labels.v == neigh.v2, "left").select(
            "v",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        # Pointer jump: label ← min(label, label(label)). Monotone
        # (labels only decrease) and component-preserving.
        hop = propagated.select(
            F.col("v").alias("hv"), F.col("label").alias("hlabel")
        )
        new_labels = (
            propagated.join(hop, propagated.label == hop.hv, "left")
            .select(
                "v",
                "old_label",
                F.least(
                    F.col("label"), F.coalesce(F.col("hlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("v", "label")
        if changed == 0:
            return labels, rounds
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "labels must reach a fixpoint in ~log2(diameter) rounds; "
        "a non-converging run means the propagation lost monotonicity"
    )


@register(
    "q_dedup_keep_canonical",
    oracle=_BANDS_SQL.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    + f"""
, edges AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE len(list_filter(generate_series(1, {N_PERM}),
                        i -> a.minhash[i] = b.minhash[i])) * 2 >= {N_PERM}
),
nodes AS (SELECT DISTINCT src AS v FROM edges UNION SELECT DISTINCT dst FROM edges),
undirected AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT reach.v, undirected.dst FROM reach JOIN undirected ON reach.r = undirected.src
),
dropped AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING min(r) <> v)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
""",
)
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the dedup pipeline: the corpus with every
    non-canonical near-duplicate removed (cluster members keep only
    the min-id representative). Left-anti join of the corpus against
    the non-canonical set — the deduplicated training corpus a
    downstream tokenizer actually consumes."""
    clusters = q_dedup_clusters(spark, sf_dir)
    dropped = clusters.filter(~F.col("is_canonical")).select("doc_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.join(F.broadcast(dropped), "doc_id", "left_anti")


COSINE_SALT = 16  # fan-out factor for the within-label pairwise join


@register(
    "q_dedup_embedding_cosine",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.4
""",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairwise cosine *within label
    buckets* (the coarse-quantization blocking key), keep pairs above
    threshold.

    Three scale disciplines on top of the blocking key:
    - norms are computed once per vector BEFORE the join (the naive
      form recomputes two O(dim) norm folds per candidate pair);
    - the join key is salted: the left side gets ``vec_id mod S``,
      the right side is replicated to all S salt values, so a label
      bucket's |bucket|² pair work splits across S tasks instead of
      landing in one sort-merge key group. Each pair still meets
      exactly once;
    - the probe side is spread(): the embeddings parquet is one row
      group at small SF, so without an explicit repartition the whole
      O(pairs·dim) join body runs on ONE task (measured 7.5 s warm on
      a single core vs sub-second spread across 32 — the salt key
      alone cannot parallelize a broadcast join, which partitions by
      the probe side's layout, not by join key).
    """
    from ..functions.embed import dot, l2_norm

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    base = emb.select("vec_id", "label", "v", l2_norm(F.col("v")).alias("nrm"))
    a = spread(base).withColumn(
        "salt", (F.col("vec_id") % COSINE_SALT).cast("int")
    ).alias("a")
    b = base.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(COSINE_SALT - 1)))
    ).alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos > 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


# ----------------------------------------------- incremental dedup ingest
#
# Steady-state dedup at 100 TB is never "re-pair the whole corpus":
# the band-key table IS the stored dedup index (constant bytes per
# doc), a new ingest batch explodes to its band keys and equi-joins
# against it, and the shuffle is proportional to the new batch plus
# its colliding buckets. The batch form below marks doc_id >=
# _INCR_NEW_FROM as "the new batch" so the shape is oracle-checkable
# on static driver data; in production the right side is the
# persisted index and the join is identical.

_INCR_NEW_FROM = 400


@register(
    "q_dedup_incremental",
    oracle=_BANDS_SQL
    + f"""
SELECT least(n.doc_id, c.doc_id) AS doc_a,
       greatest(n.doc_id, c.doc_id) AS doc_b,
       round(CAST(len(list_filter(generate_series(1, {N_PERM}),
                                  i -> n.minhash[i] = c.minhash[i])) AS DOUBLE)
             / {N_PERM}, 6) AS est_jaccard
FROM keyed n JOIN keyed c
  ON n.band = c.band AND n.band_key = c.band_key AND n.doc_id <> c.doc_id
WHERE n.doc_id >= {_INCR_NEW_FROM}
GROUP BY ALL
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: candidate pairs touching the NEW
    ingest batch (doc_id >= _INCR_NEW_FROM) against the full corpus
    — new-vs-old and new-vs-new, never old-vs-old. The new side is the
    only exploded/probing input; the corpus side is the stored
    band-key index, so steady-state ingest cost tracks batch size, not
    corpus size (the dedup analog of q_incremental_index's anti-join
    embedding delta)."""
    sig = minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band"),
        "minhash",
    )
    keyed = bands.select(
        "doc_id",
        "band",
        (
            (
                F.element_at("minhash", F.col("band") * 2 + 1) * 31
                + F.element_at("minhash", F.col("band") * 2 + 2)
            )
            % P
        ).alias("band_key"),
        "minhash",
    )
    new = keyed.filter(F.col("doc_id") >= _INCR_NEW_FROM).alias("n")
    corpus = keyed.alias("c")
    est = (
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.lit(N_PERM)),
                lambda i: F.element_at(F.col("n.minhash"), i)
                == F.element_at(F.col("c.minhash"), i),
            )
        ).cast("double")
        / N_PERM
    )
    return (
        new.join(
            corpus,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            & (F.col("n.doc_id") != F.col("c.doc_id")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("c.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("c.doc_id")).alias("doc_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .distinct()
    )


# ------------------------------------- embedding near-dup, LSH-bucketed
#
# The bounded-cost companion of q_dedup_embedding_cosine: that query's
# contract is EXACT all-pairs within the label block, so its cost is
# quadratic in block size by definition (measured 13.2× wall at a 10×
# corpus in tools/stress.py — labels don't multiply with the corpus,
# blocks do). This variant narrows the block key with the same
# OR-amplified sign-LSH tables the ANN tier uses: candidates must
# share (label, table, bucket) for ANY of the 3 tables, so candidate
# generation stays an equi-join whose per-bucket volume is controlled
# by the bit width (production sizes planes ∝ log N; 4 bits here is
# the demo geometry). Measured at a 10× corpus: 3.6× wall vs the
# exact form's 13.2× — the scaling exponent flips even at demo
# width. The price is recall on the weakest pairs — 3 of the 5
# cos>0.4 pairs at sf0.01 survive — which is the standard LSH trade,
# measured instead of hidden.


def _emb_lsh_sql() -> str:
    from .retrieval import lsh_tables_sql

    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS MATERIALIZED ({lsh_tables_sql('e', 'vec_id, label')})
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cos_sim
FROM bk a JOIN bk b
  ON a.label = b.label AND a.tbl = b.tbl AND a.bucket = b.bucket
 AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.4
"""


@register("q_dedup_embedding_lsh", oracle=_emb_lsh_sql())
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with LSH-bounded blocking: candidate
    pairs must share (label, bucket) in ANY of the 3 sign-LSH tables
    (the ANN tier's index), then exact cosine filters at 0.4. Unlike
    the exact within-label form, candidate volume is governed by the
    bucket width, not the block size — the shape that survives blocks
    growing with the corpus. Shuffle = one (label, table, bucket)
    equi-join; the pairwise work never exceeds bucket occupancy."""
    from .retrieval import lsh_tables

    emb = spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    bk = emb.select("vec_id", "label", "v", lsh_tables(F.col("v")))
    a = bk.alias("a")
    b = bk.alias("b")
    from ..functions.embed import dot, l2_norm

    cos = dot(F.col("a.v"), F.col("b.v")) / (
        l2_norm(F.col("a.v")) * l2_norm(F.col("b.v"))
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos > 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .distinct()
    )


# ----------------------------------------------- edit-distance near-dup
#
# Character-level near-dup detection — the family MinHash/SimHash
# cannot express (token-set sketches are blind to small in-token
# edits). Classic blocked edit-distance join: candidates only within
# a (lang, length-band) block, DP cost capped by probing a fixed-size
# prefix. Reference parity: content-similarity dedup cache,
# document_processing_service.py:478-520 (hash-exact there; this is
# the graded generalization).

_LEV_PROBE = 60  # chars of normalized prefix fed to the DP
_LEV_BAND = 32  # length-band width in chars (finer band = fewer pairs/block)


@register(
    "q_dedup_levenshtein",
    oracle=f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(floor(n_chars / {_LEV_BAND}) AS BIGINT) AS len_band,
         substr(lower(text), 1, {_LEV_PROBE}) AS probe
  FROM documents
), pairs AS (
  SELECT a.lang, a.len_band,
         a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(levenshtein(a.probe, b.probe) AS BIGINT) AS edit_dist
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.len_band = b.len_band
   AND a.doc_id < b.doc_id
)
SELECT lang, len_band, doc_a, doc_b, edit_dist
FROM pairs
QUALIFY row_number() OVER (PARTITION BY lang, len_band
                           ORDER BY edit_dist, doc_a, doc_b) = 1
""",
)
def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup: within each (lang, 64-char
    length band) block, the closest document pair by Levenshtein
    distance over a 60-char normalized prefix.

    100 TB shape: the self-join shuffles on the block key only —
    candidates are |block|² per block, never corpus². The DP is
    O(probe²) per pair (prefix-capped, not full-text), and the
    length band is itself a correctness-preserving prune for any
    final threshold t ≤ band width (|len(a)-len(b)| > t implies
    dist > t). At scale, swap the probe for Spark's thresholded
    levenshtein(l, r, t) (early-exits the DP) once a concrete t is
    chosen; unthresholded here because the DuckDB oracle has no
    threshold form and -1 sentinels would diverge."""
    from pyspark.sql import Window

    d = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.floor(F.col("n_chars") / _LEV_BAND).alias("len_band"),
            F.substring(F.lower("text"), 1, _LEV_PROBE).alias("probe"),
        )
    )
    # The DP evaluates in the join's output projection, which keeps
    # the PROBE side's partitioning — a small parquet file scans as
    # ONE partition, which would serialize every pair's DP on one
    # core (measured 13.2 s → ~1 s at sf0.1). Round-robin spread the
    # probe side so the pair DP parallelizes; the build side is
    # broadcast either way.
    a, b = spread(d).alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        F.col("a.len_band").alias("len_band"),
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.probe"), F.col("b.probe"))
        .cast("long")
        .alias("edit_dist"),
    )
    w = Window.partitionBy("lang", "len_band").orderBy(
        "edit_dist", "doc_a", "doc_b"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

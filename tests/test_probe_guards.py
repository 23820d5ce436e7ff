"""Degenerate-probe guards and the mining-pool path switch: an empty
probe-key set must yield an EMPTY pool
with the pool schema — not a zero-arg ``isin()`` analysis error, and
not an unfiltered full-index scan masquerading as a probe — and the
distributed cell-equi-join mining path must be byte-identical to the
literal fold it replaces past _TRIPLET_FOLD_MAX_ANCHORS anchors."""

from __future__ import annotations

from conftest import SF_DIR

from document_query_system_spark.sources import tmputil
from document_query_system_spark.sources.tmputil import session_key


def _patched(cache: dict, key, value):
    """Context-style helper: set cache[key]=value, return a restore fn."""
    missing = object()
    old = cache.get(key, missing)
    cache[key] = value

    def restore():
        if old is missing:
            cache.pop(key, None)
        else:
            cache[key] = old

    return restore


def test_ivf_pool_empty_probe_returns_empty_pool(spark):
    from document_query_system_spark.operators import pipeline as P

    from document_query_system_spark.operators.ivf import IVF_NPROBE, ensure_ivf

    # The session-memo key retrieval.ivf_probe_fold records under:
    # (kind, sf_dir, table, centroids path, nprobe).
    cents = ensure_ivf(spark, SF_DIR, "documents", False)[1]
    key = session_key(
        spark, "ivf_probe", SF_DIR, "documents", cents, str(IVF_NPROBE)
    )
    restore = _patched(tmputil._MATERIALIZED, key, ([], []))
    try:
        df = P.mmr_ivf_pool_pairs(spark, SF_DIR)
        assert [f.name for f in df.schema.fields] == [
            "question_id",
            "doc_id",
            "rel",
        ]
        assert df.count() == 0
    finally:
        restore()


def test_triplet_pool_empty_probe_returns_empty_pool(spark):
    from document_query_system_spark.operators.ivf import ensure_ivf
    from document_query_system_spark.functions import vector as V

    cents = ensure_ivf(spark, SF_DIR, "embeddings", False)[1]
    key = session_key(
        spark, "ivf_probe", SF_DIR, "embeddings", cents, str(V._TRIPLET_NPROBE)
    )
    restore = _patched(tmputil._MATERIALIZED, key, ([], []))
    try:
        df = V.triplet_ann_pool(spark, SF_DIR)
        assert [f.name for f in df.schema.fields] == [
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            "cos_sim",
        ]
        assert df.count() == 0
    finally:
        restore()


def test_triplet_pool_auto_switches_to_join_path(spark):
    """Force the size switch (threshold 0 → every anchor set takes the
    join path) and pin that the dispatcher's output is byte-identical
    to the literal fold — the property that lets one oracle cover both
    paths."""
    from document_query_system_spark.functions import vector as V

    lit = sorted(map(tuple, V.triplet_ann_pool(spark, SF_DIR).collect()))
    assert lit  # fixture yields a non-trivial pool
    old = V._TRIPLET_FOLD_MAX_ANCHORS
    V._TRIPLET_FOLD_MAX_ANCHORS = 0
    try:
        joined = sorted(
            map(tuple, V.triplet_pool_auto(spark, SF_DIR).collect())
        )
    finally:
        V._TRIPLET_FOLD_MAX_ANCHORS = old
    assert joined == lit
    # And under the real threshold the fixture-sized anchor set stays
    # on the literal-fold path (same rows either way).
    auto = sorted(map(tuple, V.triplet_pool_auto(spark, SF_DIR).collect()))
    assert auto == lit


def test_triplet_pool_auto_accepts_custom_anchors(spark):
    """r12 ADVICE: the dispatcher must serve production anchor sets,
    not just the hardcoded fixture slice — a custom (anchor_id,
    anchor_label, qv, qq) DataFrame routes by ITS size and yields the
    same pool on either path."""
    from pyspark.sql import functions as F

    from document_query_system_spark.functions import vector as V
    from document_query_system_spark.functions.embed import dot
    from document_query_system_spark.sources.tables import load

    anchors = (
        load(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id").between(5, 7))  # disjoint from fixture
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
        .withColumn("qq", dot(F.col("qv"), F.col("qv")))
    )
    via_auto = sorted(
        map(tuple, V.triplet_pool_auto(spark, SF_DIR, anchors=anchors).collect())
    )
    assert via_auto and {r[0] for r in via_auto} <= {5, 6, 7}
    via_join = sorted(
        map(tuple, V.triplet_join_pool(spark, SF_DIR, anchors=anchors).collect())
    )
    assert via_auto == via_join


def test_serving_probe_fold_is_bounded_by_calibrated_depth(spark):
    """The calibrated serving row's literal fold (q_mmr_ivf_serving's
    probe) must collect AT MOST |questions|·IVF_NPROBE_SCALED rows —
    the bounded-driver-collect contract every literal-fold probe
    carries — and each question must probe exactly min(nprobe, cells)
    distinct cells of the scaled geometry."""
    from document_query_system_spark.operators.ivf import (
        IVF_NPROBE_SCALED,
        ensure_ivf,
    )
    from document_query_system_spark.operators.retrieval import (
        golden_probe_queries,
        ivf_probe_fold,
    )

    _, cents, cells = ensure_ivf(spark, SF_DIR, "documents", True)
    qb_rows, probe_cells = ivf_probe_fold(
        spark,
        SF_DIR,
        "documents",
        cents,
        IVF_NPROBE_SCALED,
        lambda: golden_probe_queries(spark),
    )
    per_q: dict = {}
    for qid, _v, cell in qb_rows:
        per_q.setdefault(qid, set()).add(cell)
    want = min(IVF_NPROBE_SCALED, cells)
    assert per_q and all(len(cs) == want for cs in per_q.values())
    assert len(qb_rows) == len(per_q) * want
    assert set(probe_cells) == set().union(*per_q.values())


def test_scaled_join_pool_differs_only_in_geometry(spark):
    """The scaled mining pool (q_training_triplets_join's source) has
    the literal-fold pool's exact schema, and at the fixture's
    exhaustive demo probe (nprobe ≥ cells at this N) its per-anchor
    candidate count is capped by _TRIPLET_POOL like every pool."""
    from document_query_system_spark.functions import vector as V

    pool = V.triplet_join_pool(spark, SF_DIR, scaled=True)
    assert [f.name for f in pool.schema.fields] == [
        "anchor_id",
        "anchor_label",
        "cand_id",
        "cand_label",
        "cos_sim",
    ]
    counts = {r[0]: r[1] for r in pool.groupBy("anchor_id").count().collect()}
    assert counts and all(c <= V._TRIPLET_POOL for c in counts.values())

"""Physical-layout claims behind sources/layout.py: the oracle test
proves compaction and Z-ordering preserve CONTENT; these prove the
layouts themselves — file count collapses to the size target, and the
Z-ordered files hold tight per-file min/max ranges on BOTH cluster
columns (what makes parquet row-group pruning work for either
predicate, where a single-column sort helps one and ruins the
other)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR

from document_query_system_spark.sources.layout import (
    _COMPACT_TARGET_BYTES,
    _FRAG_FILES,
    _Z_FILES,
    _ensure_fragmented_docs,
    ensure_compacted_docs,
    ensure_zordered_lineitem,
)


def _data_files(spark, path):
    df = spark.read.parquet(path)
    return [f.removeprefix("file:") for f in df.inputFiles()]


def test_compaction_collapses_file_count(spark):
    import math
    import os

    frag = _ensure_fragmented_docs(spark, SF_DIR)
    out = ensure_compacted_docs(spark, SF_DIR)
    frag_files = _data_files(spark, frag)
    out_files = _data_files(spark, out)
    assert len(frag_files) == _FRAG_FILES
    total = sum(os.path.getsize(f) for f in frag_files)
    assert len(out_files) == max(1, math.ceil(total / _COMPACT_TARGET_BYTES))
    assert len(out_files) < len(frag_files)


def _per_file_ranges(files, col):
    spans = []
    lo_g, hi_g = None, None
    for f in files:
        t = pq.read_table(f, columns=[col])[col]
        lo, hi = min(t.to_pylist()), max(t.to_pylist())
        spans.append(hi - lo)
        lo_g = lo if lo_g is None else min(lo_g, lo)
        hi_g = hi if hi_g is None else max(hi_g, hi)
    return sum(spans) / len(spans), (hi_g - lo_g)


def test_zorder_keeps_both_dimensions_tight(spark):
    path = ensure_zordered_lineitem(spark, SF_DIR)
    files = _data_files(spark, path)
    assert len(files) == _Z_FILES
    # Morton range partitioning: each file covers a contiguous slab of
    # the interleaved key, so BOTH dimensions' per-file spans shrink
    # well below the global span. (A single-column sort would give
    # ~1/files on that column and ~1.0 on the other.)
    ranges = {
        col: _per_file_ranges(files, col) for col in ("l_partkey", "l_suppkey")
    }
    for col, (avg_span, global_span) in ranges.items():
        assert avg_span < 0.7 * global_span, (col, avg_span, global_span)
    # and at least one of the two must be strongly clustered
    spans = {col: a / g for col, (a, g) in ranges.items()}
    assert min(spans.values()) < 0.45, spans


def test_ivf_layouts_partition_each_vector_exactly_once(spark):
    """Integrity of the two k-means-trained IVF serving layouts (r11):
    every vector lands in EXACTLY one cell directory (an IVF index
    that drops or duplicates a vector silently corrupts every recall
    number downstream), the cell ids are a subset of the stored
    centroid ids, the centroid count is bounded by IVF_CELLS (Lloyd
    dropout may shrink it), and each probe's literal cell set is a
    subset of the stored cells with |probe| = IVF_NPROBE per
    question/anchor."""
    import os

    from document_query_system_spark.operators.ivf import (
        IVF_CELLS,
        IVF_NPROBE,
        ensure_ivf,
    )
    from document_query_system_spark.functions.vector import (
        _TRIPLET_NPROBE,
        _triplet_anchors,
    )
    from document_query_system_spark.operators.retrieval import (
        golden_probe_queries,
        ivf_probe_fold,
    )

    for queries, base_tbl, id_col, nprobe in (
        (golden_probe_queries, "documents", "doc_id", IVF_NPROBE),
        (
            lambda s: _triplet_anchors(s, SF_DIR),
            "embeddings",
            "vec_id",
            _TRIPLET_NPROBE,
        ),
    ):
        layout, cents_path, _ = ensure_ivf(spark, SF_DIR, base_tbl, False)
        cents = {r.cid for r in spark.read.parquet(cents_path).collect()}
        assert 0 < len(cents) <= IVF_CELLS
        rows = spark.read.parquet(layout).select(id_col, "cell").collect()
        ids = [r[0] for r in rows]
        assert len(ids) == len(set(ids)), "a vector landed in two cells"
        base_n = spark.read.parquet(f"{SF_DIR}/{base_tbl}.parquet").count()
        assert len(ids) == base_n, "layout dropped vectors"
        cells_on_disk = {r.cell for r in rows}
        assert cells_on_disk <= cents
        # Physical partitioning: one directory per cell, nothing else.
        dirs = {
            d for d in os.listdir(layout) if d.startswith("cell=")
        }
        assert dirs == {f"cell={c}" for c in cells_on_disk}
        probe_rows, probe_cells = ivf_probe_fold(
            spark,
            SF_DIR,
            base_tbl,
            cents_path,
            nprobe,
            lambda q=queries: q(spark),
        )
        assert set(probe_cells) <= cents
        per_key: dict = {}
        for row in probe_rows:
            per_key.setdefault(row[0], set()).add(row[-1])
        assert all(len(v) == nprobe for v in per_key.values())


def test_incremental_ivf_append_equals_rebuild(spark, duck):
    """The trained-IVF layout's delta path (ivf.incremental_ivf —
    r12 registration pending, see its docstring): base-minus-batch ∪
    batch-assigned-to-STORED-centroids must equal the full-rebuild
    per-cell checksums the DuckDB oracle computes by retraining on
    the whole corpus — append ≡ rebuild while centroids are fixed."""
    from document_query_system_spark.operators.ivf import (
        incremental_ivf,
        incremental_ivf_oracle,
    )

    got = sorted(
        tuple(r) for r in incremental_ivf(spark, SF_DIR).collect()
    )
    want = sorted(tuple(r) for r in duck.execute(incremental_ivf_oracle()).fetchall())
    assert got == want


def test_incremental_ivf_scaled_append_equals_rebuild(spark, duck):
    """r13 verdict #3: the PROMOTED serving layout (corpus-adaptive
    cells, what q_mmr_ivf_serving probes) gets the same append ≡
    rebuild proof as the fixed floor — base-minus-batch ∪
    batch-assigned-to-the-SCALED-layout's-stored-centroids must equal
    the full-rebuild per-cell checksums of a DuckDB retrain at
    greatest(16, ceil(sqrt(N))) cells. Until this round the
    production default's delta path was unexercised (only the
    fixed-16 geometry had the parity pin)."""
    from document_query_system_spark.operators.ivf import (
        incremental_ivf,
        incremental_ivf_oracle,
    )

    got = sorted(
        tuple(r) for r in incremental_ivf(spark, SF_DIR, scaled=True).collect()
    )
    want = sorted(
        tuple(r) for r in duck.execute(incremental_ivf_oracle(scaled=True)).fetchall()
    )
    assert got == want


def test_ivf_retrain_trigger_boundaries():
    """ivf.ivf_retrain_due — the stated retrain rule (r13 verdict #3):
    fires when ivf_cells_for(N_now) drifts ≥1.5× from the trained
    cell count, in either direction, and not before."""
    from document_query_system_spark.operators.ivf import (
        IVF_RETRAIN_FACTOR,
        ivf_cells_for,
        ivf_retrain_due,
    )

    assert IVF_RETRAIN_FACTOR == 1.5
    # Freshly trained: the rule's own answer is never due.
    for n in (100, 500, 5_000, 1_000_000):
        assert not ivf_retrain_due(ivf_cells_for(n), n)
    # Growth: trained at N=500 (23 cells); due exactly when
    # ceil(sqrt(N)) reaches 1.5*23 = 34.5 → 35 cells → N > 34².
    trained = ivf_cells_for(500)
    assert trained == 23
    assert not ivf_retrain_due(trained, 34 * 34)  # 34 cells: 1.48×
    assert ivf_retrain_due(trained, 34 * 34 + 1)  # 35 cells: 1.52×
    # 10× corpus growth is far past the bar.
    assert ivf_retrain_due(trained, 5_000)
    # Shrink (mass deletes): reciprocal bound. 23 → 15 cells is
    # 0.652 (> 2/3), not due; collapse to the 16-cell floor is due.
    assert not ivf_retrain_due(trained, 15 * 15)
    assert ivf_retrain_due(ivf_cells_for(10_000), 500)


def test_ivf_scaled_layout_fresh_not_due(spark):
    """Integration: the live check is one bounded count + a constant
    compare — the freshly built scaled layout reports not-due against
    its own corpus, and the layout's cell count is exactly
    ivf_cells_for(stored index rows). Also pins the 1:1
    index-per-document invariant the q_mmr_ivf_serving oracle leans
    on (r13 ADVICE: the engine derives serving cells from the stored
    vector index count while the oracle re-derives them from
    count(documents) — equal only while the index is 1:1 with the
    corpus, so a future divergence must fail HERE, loudly, not as a
    confusing driver hash mismatch)."""
    from document_query_system_spark.api import ensure_vector_index
    from document_query_system_spark.operators.ivf import (
        ensure_ivf,
        ivf_cells_for,
        ivf_retrain_due,
    )

    _, _, cells = ensure_ivf(spark, SF_DIR, "documents", True)
    n_index = spark.read.parquet(ensure_vector_index(spark, SF_DIR)).count()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert n_index == n_docs, "vector index no longer 1:1 with documents"
    assert cells == ivf_cells_for(n_docs)
    assert not ivf_retrain_due(cells, n_index)


def test_append_ivf_delta_physical_layout(spark, duck):
    """The physical append (ivf.append_ivf_delta): snapshot +
    mode('append') into the same cell-partitioned tree must read back
    to exactly the full-rebuild per-cell checksums (same oracle as
    incremental_ivf — the applied layout IS the merged content), with
    only cell= directories on disk and the delta landing as NEW files
    (parquet append never rewrites the snapshot's files). Covers both
    geometries, fixed floor and promoted scaled serving."""
    import os

    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        append_ivf_delta,
        incremental_ivf_oracle,
    )

    for scaled in (False, True):
        path = append_ivf_delta(spark, SF_DIR, scaled=scaled)
        applied = spark.read.parquet(path)
        got = sorted(
            tuple(r)
            for r in applied.groupBy("cell")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("id_sum"),
                F.sum(
                    F.round(F.element_at(F.col("dv"), 1) * 1_000_000).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("v1_micros"),
            )
            .select(
                F.col("cell").cast("long").alias("cell"),
                "n_docs",
                "id_sum",
                "v1_micros",
            )
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in duck.execute(incremental_ivf_oracle(scaled=scaled)).fetchall()
        )
        assert got == want, f"scaled={scaled}: applied layout != rebuild"
        subdirs = {
            d
            for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d))
        }
        assert all(d.startswith("cell=") for d in subdirs)


def test_ivf_layout_stats_parity(spark, duck):
    """The scaled-layout index-stats report (ivf.ivf_layout_stats,
    r15 registration candidate): the engine's one-row summary off the
    STORED layout must equal the DuckDB full-retrain oracle's — the
    geometry columns, the population spread, and the imbalance factor
    all cross-engine exact."""
    from document_query_system_spark.operators.ivf import (
        ivf_layout_stats,
        ivf_layout_stats_oracle,
    )

    got = [tuple(r) for r in ivf_layout_stats(spark, SF_DIR).collect()]
    want = duck.execute(ivf_layout_stats_oracle()).fetchall()
    assert got == want
    (row,) = got
    cells_used, cells, nprobe, frac, n_vecs, mn, mx, avg, imb = row
    assert 0 < cells_used <= cells
    assert mn <= avg <= mx and imb >= 1.0


def test_compact_ivf_cells_rewrites_only_flagged(spark):
    """Small-file compaction (ivf.compact_ivf_cells): after an
    append, the touched cells carry the snapshot's file plus the
    delta's — flag at max_files_per_cell=1, compact, and require (a)
    content byte-unchanged per cell, (b) exactly one parquet file in
    every flagged cell dir, (c) untouched cells' file sets not
    rewritten (dynamic partition overwrite must not churn them)."""
    import os

    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        append_ivf_delta,
        compact_ivf_cells,
    )

    path = append_ivf_delta(spark, SF_DIR, scaled=True)

    def checksums():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(path)
            .groupBy("cell")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("doc_id").cast("long").alias("id_sum"),
            )
            .collect()
        )

    def files_by_cell():
        out = {}
        for d in os.listdir(path):
            if d.startswith("cell="):
                out[d] = {
                    f
                    for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")
                }
        return out

    before_sums = checksums()
    before_files = files_by_cell()
    flagged = compact_ivf_cells(spark, path, max_files_per_cell=1)
    assert flagged, "the delta append should leave multi-file cells"
    assert checksums() == before_sums
    after_files = files_by_cell()
    for d, fs in after_files.items():
        cell = int(d.split("=", 1)[1])
        if cell in flagged:
            assert len(fs) == 1, f"{d} not compacted: {len(fs)} files"
        else:
            assert fs == before_files[d], f"{d} rewritten but not flagged"
    # Idempotent: a second pass finds nothing to do.
    assert compact_ivf_cells(spark, path, max_files_per_cell=1) == []


def test_ivf_cell_psi_parity(spark, duck):
    """The cell-distribution drift metric (ivf.ivf_cell_psi, r15
    registration candidate): the engine's stored-layout histograms
    must reproduce the DuckDB full-retrain PSI exactly — geometry,
    split sizes, and the smoothed statistic. The fixture batch is a
    uniform doc_id slice of the SAME corpus, so the measured PSI must
    also sit far below the 0.25 drift alarm (a sanity pin on the
    metric's meaning, not just its arithmetic)."""
    from document_query_system_spark.operators.ivf import (
        ivf_cell_psi,
        ivf_cell_psi_oracle,
    )

    got = [tuple(r) for r in ivf_cell_psi(spark, SF_DIR).collect()]
    want = duck.execute(ivf_cell_psi_oracle()).fetchall()
    assert got == want
    (row,) = got
    cells, n_base, n_batch, psi = row
    assert cells > 0 and n_base > 0 and n_batch > 0
    # PSI is a sum of (q-p)·ln(q/p) terms, each ≥ 0.
    assert psi >= 0.0
    # The split is the delta rule's: batch = doc_id % 13 == 0 of the
    # whole corpus, so the two sides partition it exactly.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert n_base + n_batch == docs
    # NOTE deliberately NOT pinned: psi < 0.25 for the same-corpus
    # batch. At this fixture's size the batch is ~39 docs over 23
    # cells (~1.7 expected per cell) and smoothing + sampling noise
    # inflate PSI to ~0.69 (0.17 at sf0.1's ~5.4/cell) — the alarm
    # threshold is meaningful at production per-cell counts, and the
    # docstring documents the batch-size gate.


def test_stream_ivf_maintenance_equals_rebuild(spark, duck):
    """The streaming form of the delta path (ivf.
    stream_ivf_maintenance, r15 registration candidate): four landing
    files drive multiple availableNow micro-batches, each
    foreachBatch-appended into the cell tree — the final layout's
    per-cell checksums must equal the DuckDB FULL-REBUILD oracle at
    the scaled geometry, proving batch boundaries cannot show in the
    applied index."""
    from document_query_system_spark.operators.ivf import (
        incremental_ivf_oracle,
        stream_ivf_maintenance,
    )

    got = sorted(
        tuple(r) for r in stream_ivf_maintenance(spark, SF_DIR).collect()
    )
    want = sorted(
        tuple(r) for r in duck.execute(incremental_ivf_oracle(scaled=True)).fetchall()
    )
    assert got == want


def test_delete_from_ivf_restores_base_and_drops_empty_cells(spark):
    """The delete verb (ivf.delete_from_ivf): removing the
    appended batch from the applied layout must restore exactly the
    base snapshot's per-cell checksums (over- or under-deletion both
    fail), rewriting only the cells the victims lived in; a
    whole-cell delete must leave NO stale directory (the dynamic
    overwrite can't rewrite a partition absent from the output, so
    the op must drop emptied cell dirs explicitly)."""
    import os

    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import ensure_ivf
    from document_query_system_spark.operators.ivf import (
        DELTA_MOD,
        append_ivf_delta,
        delete_from_ivf,
    )

    path = append_ivf_delta(spark, SF_DIR, scaled=True)

    def files_by_cell():
        return {
            d: sorted(os.listdir(os.path.join(path, d)))
            for d in os.listdir(path)
            if d.startswith("cell=")
        }

    before_files = files_by_cell()
    batch_ids = (
        spark.read.parquet(path)
        .filter(F.col("doc_id") % DELTA_MOD == 0)
        .select("doc_id")
    )
    affected = delete_from_ivf(spark, path, batch_ids)
    assert affected, "the appended batch must hit at least one cell"
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .collect()
    )
    layout, _, _ = ensure_ivf(spark, SF_DIR, "documents", True)
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(layout)
        .filter(F.col("doc_id") % DELTA_MOD != 0)
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .collect()
    )
    assert got == want, "delete did not restore the base snapshot"
    after_files = files_by_cell()
    for d, fs in after_files.items():
        if int(d.split("=", 1)[1]) not in affected:
            assert fs == before_files[d], f"{d} rewritten but unaffected"
    # Whole-cell delete: wipe one entire cell, directory must vanish.
    victim_cell = min(affected)
    cell_ids = (
        spark.read.parquet(path)
        .filter(F.col("cell") == victim_cell)
        .select("doc_id")
    )
    affected2 = delete_from_ivf(spark, path, cell_ids)
    assert victim_cell in affected2
    assert not os.path.isdir(
        os.path.join(path, f"cell={victim_cell}")
    ), "emptied cell directory left stale files behind"
    # No-op delete: ids that don't exist touch nothing.
    missing = spark.range(1).select(
        (F.col("id") + 10_000_000_000).alias("doc_id")
    )
    assert delete_from_ivf(spark, path, missing) == []


def test_index_version_publish_resolve_rollback(spark):
    """The blue/green pointer (ivf.publish_index_version /
    current_index_version / maintain_ivf_index): the first maintenance
    tick publishes v1 at the scaled geometry; the next tick, with no
    drift, reports 'append' against the same version; a manual publish
    of a different triple flips the pointer without touching the v1
    layout's files; re-publishing the v1 triple rolls back (as v3 —
    versions only move forward)."""
    import os

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        ensure_ivf,
        ivf_cells_for,
        maintain_ivf_index,
        publish_index_version,
    )

    # First tick of this test: either nothing is published yet (fresh
    # process — publish v1) or a sibling test already owns later
    # versions; assert RELATIVE behavior so ordering can't matter.
    pre = current_index_version(spark, SF_DIR)
    out1 = maintain_ivf_index(spark, SF_DIR)
    if pre is None:
        assert out1["action"] == "publish" and out1["version"] == 1
    assert out1["cells"] == ivf_cells_for(out1["n_vectors"])
    cur1 = current_index_version(spark, SF_DIR)
    assert cur1["version"] == out1["version"]
    assert cur1["cells"] == out1["cells"]
    assert os.path.isdir(cur1["layout"])
    v1_files = sorted(os.listdir(cur1["layout"]))
    # Second tick: same corpus → no drift → append against the same
    # version (whatever number it carries).
    out2 = maintain_ivf_index(spark, SF_DIR)
    assert out2 == {
        "action": "append",
        "version": out1["version"],
        "cells": out1["cells"],
        "n_vectors": out1["n_vectors"],
    }
    # Manual flip to a different (here: the fixed-floor) layout.
    alt_layout, alt_cents, _ = ensure_ivf(spark, SF_DIR, "documents", False)
    v2 = publish_index_version(spark, SF_DIR, alt_layout, alt_cents, 16)
    cur2 = current_index_version(spark, SF_DIR)
    assert v2 == out2["version"] + 1
    assert cur2["layout"] == alt_layout and cur2["cells"] == 16
    assert sorted(os.listdir(cur1["layout"])) == v1_files, "v1 touched"
    # Rollback = publish the old triple again (forward version).
    v3 = publish_index_version(
        spark, SF_DIR, cur1["layout"], cur1["centroids"], cur1["cells"]
    )
    cur3 = current_index_version(spark, SF_DIR)
    assert v3 == v2 + 1 and cur3["layout"] == cur1["layout"]
    assert cur3["cells"] == cur1["cells"]


def test_maintain_ivf_index_republishes_on_drift(spark):
    """The drift → rebuild branch of ivf.maintain_ivf_index: publish a
    deliberately stale geometry (5 trained cells — what a corpus ~25×
    smaller would have trained), then tick — ivf_retrain_due(5, N)
    fires and the tick republishes the freshly trained scaled layout
    at ivf_cells_for(N), version moving forward."""
    from document_query_system_spark.operators.ivf import (
        current_index_version,
        ensure_ivf,
        ivf_cells_for,
        maintain_ivf_index,
        publish_index_version,
    )

    layout, cents, _cells = ensure_ivf(spark, SF_DIR, "documents", True)
    v_stale = publish_index_version(spark, SF_DIR, layout, cents, 5)
    out = maintain_ivf_index(spark, SF_DIR)
    assert out["action"] == "publish", out
    assert out["version"] == v_stale + 1
    assert out["cells"] == ivf_cells_for(out["n_vectors"])
    assert current_index_version(spark, SF_DIR)["cells"] == out["cells"]


def test_index_version_log_and_rollback_mechanism(spark):
    """The manifest's metadata log (r14): every publish writes an
    immutable v{N}.json beside CURRENT, list_index_versions reads the
    log back in order, and rollback_index_version republishes the
    predecessor's triple WITHOUT the caller holding it — versions only
    move forward (rollback-as-new-snapshot, the Iceberg protocol).
    Runs in its own manifest profile so the default-profile pins
    above stay order-independent."""
    import os

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        list_index_versions,
        _manifest_dir,
        publish_index_version,
        rollback_index_version,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_log"
    assert rollback_index_version(spark, SF_DIR, profile=prof) is None
    la, lb = tmp_path("t_log_fix", "a"), tmp_path("t_log_fix", "b")
    ca, cb = tmp_path("t_log_fix", "a_c"), tmp_path("t_log_fix", "b_c")
    v1 = publish_index_version(spark, SF_DIR, la, ca, 16, profile=prof)
    v2 = publish_index_version(spark, SF_DIR, lb, cb, 23, profile=prof)
    assert (v1, v2) == (1, 2)
    mdir = _manifest_dir(SF_DIR, prof)
    assert sorted(
        n for n in os.listdir(mdir) if n.startswith("v")
    ) == ["v1.json", "v2.json"]
    log = list_index_versions(spark, SF_DIR, profile=prof)
    assert [e["version"] for e in log] == [1, 2]
    assert log[0]["layout"] == la and log[1]["cells"] == 23
    assert current_index_version(spark, SF_DIR, profile=prof)["layout"] == lb
    # Rollback: pointer returns to v1's TRIPLE under a NEW version.
    cur = rollback_index_version(spark, SF_DIR, profile=prof)
    assert cur["version"] == 3
    assert (cur["layout"], cur["centroids"], cur["cells"]) == (la, ca, 16)
    # The log grew; nothing was renumbered.
    assert [
        e["version"]
        for e in list_index_versions(spark, SF_DIR, profile=prof)
    ] == [1, 2, 3]


def test_gc_index_versions_retention_rails(spark):
    """Retention (ivf.gc_index_versions): prunes log entries beyond
    keep_last and deletes layout dirs referenced ONLY by pruned
    entries — with the three rails live: a path a KEPT version still
    references survives its pruned twin; an out-of-root path is
    reported, never deleted; a path a live builder memo hands out is
    skipped. Idempotent on re-run."""
    import os
    import tempfile

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        ensure_ivf,
        gc_index_versions,
        list_index_versions,
        publish_index_version,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_gc"

    def mkdirs(*names):
        out = []
        for n in names:
            p = tmp_path("t_gc_fix", n)
            os.makedirs(p, exist_ok=True)
            with open(os.path.join(p, "part-0"), "w") as f:
                f.write("x")
            out.append(p)
        return out

    l1, c1, l3, c3, l4, c4 = mkdirs("l1", "c1", "l3", "c3", "l4", "c4")
    outside = tempfile.mkdtemp(prefix="dqs_outside_")
    # The REAL scaled layout: its builder memo is live this session.
    live_layout, live_cents, live_cells = ensure_ivf(
        spark, SF_DIR, "documents", True
    )
    publish_index_version(spark, SF_DIR, l1, c1, 16, profile=prof)
    publish_index_version(spark, SF_DIR, outside, c1, 16, profile=prof)
    publish_index_version(
        spark, SF_DIR, live_layout, live_cents, live_cells, profile=prof
    )
    publish_index_version(spark, SF_DIR, l3, c3, 23, profile=prof)
    publish_index_version(spark, SF_DIR, l4, c4, 23, profile=prof)
    rep = gc_index_versions(spark, SF_DIR, keep_last=2, profile=prof)
    assert rep["kept_versions"] == [4, 5]
    # Only v1 is actually pruned: v2 (out-of-root layout) and v3
    # (live-memo layout) RETAIN their log entries so their paths stay
    # tracked for a later run.
    assert rep["pruned_versions"] == [1]
    # l1 was referenced only by pruned v1 → gone; c1 SURVIVES — the
    # retained v2 entry still references it as centroids, and a
    # retained log entry must never point at a deleted directory.
    assert not os.path.exists(l1) and os.path.isdir(c1)
    # Out-of-root: reported, not touched.
    assert outside in rep["skipped_paths"] and os.path.isdir(outside)
    # Live-memo rail: the real scaled layout survives AND the skip is
    # reported (r13-ADVICE class: a silent skip is invisible to the
    # maintenance log).
    assert os.path.isdir(live_layout) and os.path.isdir(live_cents)
    assert live_layout in rep["skipped_live"]
    assert live_layout not in rep["removed_paths"]
    # Kept versions' files intact; pointer untouched; v1 out of the
    # log, the two retained entries still in it.
    assert os.path.isdir(l3) and os.path.isdir(l4)
    assert current_index_version(spark, SF_DIR, profile=prof)["layout"] == l4
    assert [
        e["version"]
        for e in list_index_versions(spark, SF_DIR, profile=prof)
    ] == [2, 3, 4, 5]
    # Idempotent on deletions: the retained entries re-report their
    # skips, but nothing further is removed or pruned.
    rep2 = gc_index_versions(spark, SF_DIR, keep_last=2, profile=prof)
    assert rep2["removed_paths"] == [] and rep2["pruned_versions"] == []
    assert outside in rep2["skipped_paths"]


def test_published_topk_oracle_parity(spark, duck):
    """The read side of the blue/green lifecycle
    (pipeline.published_ivf_topk — r15 registration candidate): rows
    served THROUGH the manifest equal a DuckDB full re-derivation of
    the scaled-geometry probe, including the publish-once contract
    (version column == 1 on a fresh profile) and the geometry rule
    (cells column == greatest(16, ceil(sqrt(N))))."""
    from document_query_system_spark.operators.pipeline import (
        _published_topk_oracle,
        published_ivf_topk,
    )

    got = sorted(
        (r.question_id, r.doc_id, r.rank, round(r.score, 6), r.version, r.cells)
        for r in published_ivf_topk(spark, SF_DIR).collect()
    )
    want = sorted(
        (q, d, rk, round(s, 6), v, c)
        for q, d, rk, s, v, c in duck.execute(
            _published_topk_oracle()
        ).fetchall()
    )
    assert got == want
    # Second call: same version (the tick appends, never republishes).
    again = published_ivf_topk(spark, SF_DIR)
    assert {r.version for r in again.select("version").collect()} == {1}


def test_published_topk_follows_pointer_swap(spark):
    """Blue/green END-TO-END: doctor the published layout (drop one
    served doc), flip the pointer — the very next query stops serving
    the victim; roll back — the original rows return. Proves the
    reader consumes the MANIFEST, not a session-memoized path. Own
    profile ('t_swap') so the parity row above stays pristine."""
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        publish_index_version,
        rollback_index_version,
    )
    from document_query_system_spark.operators.pipeline import (
        published_ivf_topk,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_swap"
    base = sorted(
        (r.question_id, r.doc_id, r.rank)
        for r in published_ivf_topk(spark, SF_DIR, profile=prof).collect()
    )
    v1 = current_index_version(spark, SF_DIR, profile=prof)
    assert v1["version"] == 1
    victim_q, victim_doc, _ = base[0]
    doctored = tmp_path("t_swap_fix", "layout_minus_one")
    (
        spark.read.parquet(v1["layout"])
        .filter(F.col("doc_id") != victim_doc)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(doctored)
    )
    publish_index_version(
        spark, SF_DIR, doctored, v1["centroids"], v1["cells"], profile=prof
    )
    swapped = published_ivf_topk(spark, SF_DIR, profile=prof)
    srows = swapped.collect()
    assert {r.version for r in srows} == {2}
    assert all(r.doc_id != victim_doc for r in srows)
    # Still a full top-k per question: the pool refills behind the
    # removed doc.
    per_q = {}
    for r in srows:
        per_q[r.question_id] = max(per_q.get(r.question_id, 0), r.rank)
    assert per_q[victim_q] == 5
    # Rollback: original rows, forward version.
    rollback_index_version(spark, SF_DIR, profile=prof)
    back = published_ivf_topk(spark, SF_DIR, profile=prof)
    assert sorted(
        (r.question_id, r.doc_id, r.rank) for r in back.collect()
    ) == base
    assert {r.version for r in back.select("version").collect()} == {3}


def test_maintain_tick_psi_branch_and_retention(spark):
    """Both halves of the retrain policy plus retention in ONE tick
    (ivf.maintain_ivf_index with batch/gc_keep): a same-distribution
    batch records a tiny PSI and appends; a collapsed batch (every
    vector identical → one cell) fires the 0.25 alarm and republishes
    — but ONLY when the batch clears the 10·cells gate (the measured
    small-batch inflation cannot trigger rebuilds); gc_keep prunes
    superseded log entries from the same call. Own profile."""
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        IVF_PSI_MIN_PER_CELL,
        current_index_version,
        maintain_ivf_index,
    )

    prof = "t_psi"
    out1 = maintain_ivf_index(spark, SF_DIR, profile=prof)
    assert out1["action"] == "publish" and "psi" not in out1
    cur = current_index_version(spark, SF_DIR, profile=prof)
    layout = spark.read.parquet(cur["layout"]).select("doc_id", "dv")
    # Same-distribution batch: the layout's own vectors → psi ≈ 0,
    # above the gate (n == N ≥ 10·cells at sf0.01: 500 ≥ 230).
    out2 = maintain_ivf_index(spark, SF_DIR, profile=prof, batch=layout)
    assert out2["action"] == "append" and not out2["psi_due"]
    assert not out2["psi_gated"] and out2["psi"] < 0.25
    # Collapsed batch, BELOW the gate: psi records, alarm held.
    one = layout.limit(1).select(F.col("dv").alias("v"))
    small = (
        spark.range(20)
        .crossJoin(F.broadcast(one))
        .select(F.col("id").alias("vec_id"), F.col("v").alias("dv"))
    )
    out3 = maintain_ivf_index(spark, SF_DIR, profile=prof, batch=small)
    assert out3["action"] == "append"
    assert out3["psi_gated"] and not out3["psi_due"]
    # Collapsed batch, ABOVE the gate: the drift alarm FIRES — but the
    # rebuild resolves to the exact published triple (this session's
    # memoized builder, fixed corpus), so the tick surfaces the
    # decision WITHOUT minting a version: republishing identical
    # content is pure churn (every flip would invalidate every
    # reader's version-keyed cache for byte-identical rows).
    big = (
        spark.range(IVF_PSI_MIN_PER_CELL * cur["cells"] + 10)
        .crossJoin(F.broadcast(one))
        .select(F.col("id").alias("vec_id"), F.col("v").alias("dv"))
    )
    out4 = maintain_ivf_index(spark, SF_DIR, profile=prof, batch=big)
    assert out4["psi"] > 0.25 and out4["psi_due"] and not out4["psi_gated"]
    assert out4["action"] == "retrain_noop"
    assert out4["version"] == out1["version"]
    # Re-ticking with the same drifted batch stays churn-free.
    out4b = maintain_ivf_index(spark, SF_DIR, profile=prof, batch=big)
    assert out4b["action"] == "retrain_noop"
    assert out4b["version"] == out1["version"]
    # A publish that actually MOVES the triple (the fixed-floor
    # layout) gives retention something to prune from the tick.
    from document_query_system_spark.operators.ivf import ensure_ivf

    alt_layout, alt_cents, _ = ensure_ivf(spark, SF_DIR, "documents", False)
    from document_query_system_spark.operators.ivf import publish_index_version

    v2 = publish_index_version(
        spark, SF_DIR, alt_layout, alt_cents, 16, profile=prof
    )
    out5 = maintain_ivf_index(spark, SF_DIR, profile=prof, gc_keep=1)
    assert out5["action"] == "append"
    # v1's scaled-layout paths are live-memo'd (and served by other
    # manifests), so the entry is retained — retention reports the
    # skip instead of deleting what the session still hands out.
    assert out5["gc"]["pruned_versions"] == []
    assert out5["gc"]["removed_paths"] == []
    assert out5["gc"]["skipped_live"]
    assert (
        current_index_version(spark, SF_DIR, profile=prof)["version"] == v2
    )


def test_manifest_pointer_flip_is_atomic_under_read_load(spark):
    """The publish docstring's atomicity claim, exercised: a reader
    polling CURRENT while 150 publishes flip it must NEVER see a torn
    state — every read parses as a complete (version, layout,
    centroids, cells) triple and versions are monotone non-decreasing
    (write-temp + os.replace; on an object store this is the
    catalog's CAS). Own profile."""
    import threading

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        publish_index_version,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_atomic"
    publish_index_version(
        spark, SF_DIR, tmp_path("t_atomic_fix", "l0"),
        tmp_path("t_atomic_fix", "c0"), 16, profile=prof,
    )
    stop = threading.Event()
    torn: list[str] = []
    seen: list[int] = []

    def reader():
        last = 0
        while not stop.is_set():
            try:
                cur = current_index_version(spark, SF_DIR, profile=prof)
                assert cur is not None
                if set(cur) != {"version", "layout", "centroids", "cells"}:
                    torn.append(f"keys: {sorted(cur)}")
                if cur["version"] < last:
                    torn.append(f"regressed: {last} -> {cur['version']}")
                last = cur["version"]
                seen.append(last)
            except Exception as exc:  # json decode of a torn file, etc.
                torn.append(repr(exc))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(150):
            publish_index_version(
                spark, SF_DIR, tmp_path("t_atomic_fix", f"l{i}"),
                tmp_path("t_atomic_fix", f"c{i}"), 16 + (i % 7),
                profile=prof,
            )
    finally:
        stop.set()
        t.join(timeout=30)
    assert not torn, torn[:5]
    assert len(seen) > 10 and seen[-1] >= 100


def test_published_cache_invalidates_on_version_flip(spark):
    """The version-keyed answer cache
    (pipeline.published_topk_cached): repeat queries hit; a
    doctored-layout FLIP changes the version so the next query
    misses and serves the new layout's rows; rollback bumps the
    version again — the old layout's rows return via a MISS, never a
    stale key. Own profile."""
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        publish_index_version,
        rollback_index_version,
    )
    from document_query_system_spark.operators.pipeline import (
        published_topk_cached,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_cache"
    r1, hit1 = published_topk_cached(spark, SF_DIR, profile=prof)
    r2, hit2 = published_topk_cached(spark, SF_DIR, profile=prof)
    # Copies out, equal rows: the cache hands back a fresh list so a
    # caller's mutation can never corrupt the stored entry.
    assert (hit1, hit2) == (False, True)
    assert r2 == r1 and r2 is not r1
    cur = current_index_version(spark, SF_DIR, profile=prof)
    victim_doc = r1[0][1]
    doctored = tmp_path("t_cache_fix", "layout_minus_one")
    (
        spark.read.parquet(cur["layout"])
        .filter(F.col("doc_id") != victim_doc)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(doctored)
    )
    publish_index_version(
        spark, SF_DIR, doctored, cur["centroids"], cur["cells"], profile=prof
    )
    r3, hit3 = published_topk_cached(spark, SF_DIR, profile=prof)
    assert not hit3 and all(row[1] != victim_doc for row in r3)
    rollback_index_version(spark, SF_DIR, profile=prof)
    r4, hit4 = published_topk_cached(spark, SF_DIR, profile=prof)
    assert not hit4
    # Same selections as v1 (version/cells columns differ: the
    # rollback is a FORWARD version serving the original layout).
    assert [row[:4] for row in r4] == [row[:4] for row in r1]
    # And the repeat on the rolled-back version hits again.
    r5, hit5 = published_topk_cached(spark, SF_DIR, profile=prof)
    assert hit5 and r5 == r4
    # Mutating a returned result must not poison later hits.
    r5.clear()
    r6, hit6 = published_topk_cached(spark, SF_DIR, profile=prof)
    assert hit6 and r6 == r4


def test_published_topk_time_travel_reads_pinned_version(spark):
    """Time-travel through the version log
    (published_ivf_topk(version=N)): after a doctored flip, version=1
    still serves the ORIGINAL layout's rows while CURRENT serves the
    doctored ones; a version outside the log (pruned or never
    published) raises KeyError naming what IS available. Own
    profile."""
    import pytest
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        publish_index_version,
    )
    from document_query_system_spark.operators.pipeline import (
        published_ivf_topk,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_travel"
    base = sorted(
        (r.question_id, r.doc_id, r.rank)
        for r in published_ivf_topk(spark, SF_DIR, profile=prof).collect()
    )
    v1 = current_index_version(spark, SF_DIR, profile=prof)
    victim_doc = base[0][1]
    doctored = tmp_path("t_travel_fix", "layout_minus_one")
    (
        spark.read.parquet(v1["layout"])
        .filter(F.col("doc_id") != victim_doc)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(doctored)
    )
    publish_index_version(
        spark, SF_DIR, doctored, v1["centroids"], v1["cells"], profile=prof
    )
    # CURRENT serves the doctored layout...
    now = published_ivf_topk(spark, SF_DIR, profile=prof).collect()
    assert {r.version for r in now} == {2}
    assert all(r.doc_id != victim_doc for r in now)
    # ...while the pinned read reproduces v1 exactly.
    past = published_ivf_topk(
        spark, SF_DIR, profile=prof, version=1
    ).collect()
    assert {r.version for r in past} == {1}
    assert sorted((r.question_id, r.doc_id, r.rank) for r in past) == base
    with pytest.raises(KeyError, match=r"version 99 not in the log"):
        published_ivf_topk(spark, SF_DIR, profile=prof, version=99)


def _gc_fixture_dirs(prefix, *names):
    import os

    from document_query_system_spark.sources.tmputil import tmp_path

    out = []
    for n in names:
        p = tmp_path(prefix, n)
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, "part-0"), "w") as f:
            f.write("x")
        out.append(p)
    return out


def test_gc_protects_flag_memo_paths(spark):
    """A fixed-geometry IVF triple recorded in the session memo guards
    its paths like the scaled one: once the triple is published into a
    manifest and ages past keep_last, retention skips it (reported as
    skipped_live) instead of deleting a path a later ensure_ivf call
    hands out again."""
    import os

    from document_query_system_spark.operators.ivf import (
        ensure_ivf,
        gc_index_versions,
        publish_index_version,
    )

    prof = "t_gc_flagmemo"
    flag_layout, flag_cents, _ = ensure_ivf(spark, SF_DIR, "documents", False)
    l2, c2, l3, c3 = _gc_fixture_dirs("t_gc_flag_fix", "l2", "c2", "l3", "c3")
    publish_index_version(spark, SF_DIR, flag_layout, flag_cents, 16, profile=prof)
    publish_index_version(spark, SF_DIR, l2, c2, 16, profile=prof)
    publish_index_version(spark, SF_DIR, l3, c3, 16, profile=prof)
    rep = gc_index_versions(spark, SF_DIR, keep_last=1, profile=prof)
    # v1 (the memo triple) is retained: both paths live-skipped,
    # directories intact, log entry kept. v2 is genuinely pruned.
    assert flag_layout in rep["skipped_live"]
    assert flag_cents in rep["skipped_live"]
    assert os.path.isdir(flag_layout) and os.path.isdir(flag_cents)
    assert flag_layout not in rep["removed_paths"]
    assert rep["pruned_versions"] == [2]
    assert not os.path.exists(l2)
    # A later memo hit still resolves to a readable layout.
    again_layout, _, _ = ensure_ivf(spark, SF_DIR, "documents", False)
    assert again_layout == flag_layout
    assert spark.read.parquet(again_layout).count() > 0


def _path_builders():
    """Every builder whose memo result is a path or carries paths, as
    name -> fn(spark, sf_dir) returning the paths it hands out."""
    from document_query_system_spark import api
    from document_query_system_spark.operators.ivf import ensure_ivf
    from document_query_system_spark.sources import (
        extraction,
        http_ingest,
        layout,
        scans,
        sinks,
    )

    def one(fn):
        return lambda spark, d: [fn(spark, d)]

    def ivf(table, scaled):
        return lambda spark, d: list(ensure_ivf(spark, d, table, scaled)[:2])

    out = {
        "vector_index": one(api.ensure_vector_index),
        "vector_index_lsh": one(api.ensure_vector_index_lsh),
        "ivf_documents_scaled": ivf("documents", True),
        "ivf_embeddings": ivf("embeddings", False),
        "ivf_embeddings_scaled": ivf("embeddings", True),
        "bm25_index": one(api.ensure_bm25_index),
        "tfidf_index": one(api.ensure_tfidf_index),
        "tfidf_by_doc": one(api.ensure_tfidf_by_doc),
        "coorder_edges": one(api.ensure_coorder_edges),
        "keyword_table": one(api.ensure_keyword_table),
        "fragmented": one(layout._ensure_fragmented_docs),
        "compacted": one(layout.ensure_compacted_docs),
        "zorder": one(layout.ensure_zordered_lineitem),
        "evolved": one(scans._ensure_evolved_customer),
        "malformed_csv": one(scans._ensure_malformed_csv),
        "landing": one(extraction._ensure_landing_dir),
        "http_landing": one(http_ingest._ensure_http_landing),
        "partitioned": one(sinks._ensure_partitioned_docs),
    }
    for fmt in ("csv", "json", "orc", "xml"):
        out[f"format_{fmt}"] = (
            lambda spark, d, fmt=fmt: [scans._ensure_format_dir(spark, d, fmt)]
        )
    return out


@pytest.mark.parametrize("name", sorted(_path_builders()))
def test_gc_protects_builder_memo_paths(spark, name):
    """Every path a memoized builder returned is live: published, then
    aged past keep_last, it is reported as skipped_live and kept on
    disk, because the memo hands the same path out again."""
    import os

    from document_query_system_spark.operators.ivf import (
        gc_index_versions,
        publish_index_version,
    )

    prof = f"t_gc_memo_{name}"
    paths = _path_builders()[name](spark, SF_DIR)
    for p in paths:
        publish_index_version(spark, SF_DIR, p, p, 16, profile=prof)
    (l_last,) = _gc_fixture_dirs(f"t_gc_memo_fix_{name}", "last")
    publish_index_version(spark, SF_DIR, l_last, l_last, 16, profile=prof)
    rep = gc_index_versions(spark, SF_DIR, keep_last=1, profile=prof)
    for p in paths:
        assert p in rep["skipped_live"], (p, rep)
        assert p not in rep["removed_paths"]
        assert os.path.isdir(p)
    assert _path_builders()[name](spark, SF_DIR) == paths


def test_publish_concurrent_writers_mint_distinct_versions(spark):
    """publish_index_version under concurrent in-process publishers
    (r14 ADVICE): every writer gets a DISTINCT version, every
    v{N}.json log entry is immutable (no silent os.replace overwrite),
    and CURRENT resolves to one of the published triples."""
    import os
    import threading

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        list_index_versions,
        publish_index_version,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_pub_conc"
    n = 8
    paths = []
    for i in range(n):
        p = tmp_path("t_pub_conc_fix", f"l{i}")
        os.makedirs(p, exist_ok=True)
        paths.append(p)
    got = [None] * n
    barrier = threading.Barrier(n)

    def worker(i):
        barrier.wait()
        got[i] = publish_index_version(
            spark, SF_DIR, paths[i], paths[i], 16, profile=prof
        )

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(got) == list(range(1, n + 1))
    log = list_index_versions(spark, SF_DIR, profile=prof)
    assert [e["version"] for e in log] == list(range(1, n + 1))
    # Each log entry kept the triple its publisher wrote (immutable).
    assert len({e["layout"] for e in log}) == n
    cur = current_index_version(spark, SF_DIR, profile=prof)
    assert cur["layout"] in {e["layout"] for e in log}


def test_gc_protect_all_on_unreadable_foreign(spark):
    """r14 ADVICE: a REAL foreign CURRENT that fails to read must turn
    the gc pass into protect-all (nothing deleted or pruned, the
    failure reported) — the old per-entry swallow silently dropped
    that manifest's protection. A zero-byte v{N}.json, by contrast, is
    a publisher's in-flight slot claim and is benignly skipped."""
    import json
    import os

    from document_query_system_spark.operators.ivf import (
        gc_index_versions,
        list_index_versions,
        _manifest_dir,
        publish_index_version,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_gc_unreadable"
    foreign_prof = "t_gc_unreadable_foreign"

    def mk(n):
        p = tmp_path("t_gc_unread_fix", n)
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, "part-0"), "w") as f:
            f.write("x")
        return p

    l1, l2, l3 = mk("l1"), mk("l2"), mk("l3")
    publish_index_version(spark, SF_DIR, l1, l1, 16, profile=prof)
    publish_index_version(spark, SF_DIR, l2, l2, 16, profile=prof)
    publish_index_version(spark, SF_DIR, l3, l3, 16, profile=prof)
    fdir = _manifest_dir(SF_DIR, foreign_prof)
    os.makedirs(fdir, exist_ok=True)
    corrupt = os.path.join(fdir, "CURRENT")
    try:
        with open(corrupt, "w") as f:
            f.write("{not json")
        rep = gc_index_versions(spark, SF_DIR, keep_last=1, profile=prof)
        assert rep["pruned_versions"] == [] and rep["removed_paths"] == []
        assert corrupt in rep["unreadable_foreign"]
        assert os.path.isdir(l1) and os.path.isdir(l2)
        assert [
            e["version"]
            for e in list_index_versions(spark, SF_DIR, profile=prof)
        ] == [1, 2, 3]
    finally:
        os.remove(corrupt)
    # With the corruption gone the same pass prunes normally…
    rep2 = gc_index_versions(spark, SF_DIR, keep_last=1, profile=prof)
    assert rep2["pruned_versions"] == [1, 2]
    assert not os.path.exists(l1) and not os.path.exists(l2)
    # …and an in-flight zero-byte claim in the foreign dir is benign:
    # not a failure, not listed as a version.
    claim = os.path.join(fdir, "v7.json")
    try:
        os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        with open(os.path.join(fdir, "v1.json"), "w") as f:
            json.dump(
                {"version": 1, "layout": l3, "centroids": l3, "cells": 16},
                f,
            )
        rep3 = gc_index_versions(spark, SF_DIR, keep_last=1, profile=prof)
        assert "unreadable_foreign" not in rep3
        assert [
            e["version"]
            for e in list_index_versions(spark, SF_DIR, profile=foreign_prof)
        ] == [1]
    finally:
        os.remove(claim)
        os.remove(os.path.join(fdir, "v1.json"))


def test_maintain_batch_column_resolution(spark):
    """r14 ADVICE: maintain_ivf_index's batch resolution must ignore
    non-float array columns (an array<string> metadata column used to
    pass the type guard), prefer an id-NAMED column over positional
    choice, and refuse an ambiguous id instead of guessing."""
    import pytest
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        maintain_ivf_index,
    )

    prof = "t_batch_cols"
    maintain_ivf_index(spark, SF_DIR, profile=prof)
    cur = current_index_version(spark, SF_DIR, profile=prof)
    layout = spark.read.parquet(cur["layout"])
    # Extra array<string> metadata + shuffled column order + id-named
    # column: resolves (vector by float-array type, id by name).
    batch = layout.select(
        F.array(F.lit("a"), F.lit("b")).alias("tags"),
        F.col("dv"),
        F.col("doc_id"),
    )
    out = maintain_ivf_index(spark, SF_DIR, profile=prof, batch=batch)
    assert out["action"] == "append" and out["psi"] < 0.25
    # Two candidate id columns, neither id-named → explicit error.
    ambiguous = layout.select(
        F.col("dv"),
        F.col("doc_id").alias("k1"),
        F.col("doc_id").alias("k2"),
    )
    with pytest.raises(ValueError, match="ambiguous"):
        maintain_ivf_index(spark, SF_DIR, profile=prof, batch=ambiguous)
    # No float-array column at all → explicit error (array<string>
    # must not satisfy the vector guard).
    novec = layout.select(
        F.col("doc_id"),
        F.array(F.lit("x")).alias("tags"),
    )
    with pytest.raises(ValueError, match="vector column"):
        maintain_ivf_index(spark, SF_DIR, profile=prof, batch=novec)


def test_gc_sweeps_stale_zero_byte_claims(spark):
    """r15 review: a publisher that crashes between the O_EXCL slot
    claim and the content os.replace leaves a zero-byte v{N}.json
    nothing else removes (readers skip it; it never enters the log).
    gc sweeps claims older than 10 minutes and reports them; a FRESH
    claim (possibly an in-flight publisher) is left alone."""
    import os
    import time

    from document_query_system_spark.operators.ivf import (
        gc_index_versions,
        list_index_versions,
        _manifest_dir,
        publish_index_version,
    )
    from document_query_system_spark.sources.tmputil import tmp_path

    prof = "t_gc_claims"
    p = tmp_path("t_gc_claims_fix", "l1")
    os.makedirs(p, exist_ok=True)
    publish_index_version(spark, SF_DIR, p, p, 16, profile=prof)
    mdir = _manifest_dir(SF_DIR, prof)
    stale = os.path.join(mdir, "v7.json")
    fresh = os.path.join(mdir, "v8.json")
    os.close(os.open(stale, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    os.close(os.open(fresh, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    old = time.time() - 3600
    os.utime(stale, (old, old))
    rep = gc_index_versions(spark, SF_DIR, keep_last=2, profile=prof)
    assert rep["removed_stale_claims"] == ["v7.json"]
    assert not os.path.exists(stale) and os.path.exists(fresh)
    # The real log entry is untouched; the fresh claim still unlisted.
    assert [
        e["version"] for e in list_index_versions(spark, SF_DIR, profile=prof)
    ] == [1]
    os.remove(fresh)


def test_maintain_batch_two_named_ids_is_ambiguous(spark):
    """r15 review follow-up to the id-name guard: TWO id-named
    columns are refused, not resolved by column position."""
    import pytest
    from pyspark.sql import functions as F

    from document_query_system_spark.operators.ivf import (
        current_index_version,
        maintain_ivf_index,
    )

    prof = "t_batch_cols2"
    maintain_ivf_index(spark, SF_DIR, profile=prof)
    cur = current_index_version(spark, SF_DIR, profile=prof)
    layout = spark.read.parquet(cur["layout"])
    two_named = layout.select(
        F.col("doc_id").alias("vec_id"),
        F.col("dv"),
        F.col("doc_id"),
    )
    with pytest.raises(ValueError, match="ambiguous"):
        maintain_ivf_index(spark, SF_DIR, profile=prof, batch=two_named)


def test_cluster_by_dirs_explicit_count_and_one_file_per_dir(spark, tmp_path):
    """cluster_by_dirs (r16 opt pass) must (a) pin the pre-write
    shuffle to EXACTLY the requested directory count — a
    user-specified repartition count AQE's coalescer may not shrink,
    unlike the keyless repartition(cols...) it replaced, which
    collapsed the few-MB pre-write shuffles to ONE task writing every
    cell directory sequentially — and (b) preserve the
    one-file-per-directory layout (each key still hashes wholly into
    one partition)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from document_query_system_spark.sources.tables import cluster_by_dirs

    df = spark.range(500).select((F.col("id") % 7).alias("cell"), "id")
    out = cluster_by_dirs(df, 7, "cell")
    # (a) the explicit count survives planning (AQE cannot coalesce it)
    assert out.rdd.getNumPartitions() == 7
    p = str(tmp_path / "layout")
    out.write.mode("overwrite").partitionBy("cell").parquet(p)
    dirs = glob.glob(p + "/cell=*")
    assert len(dirs) == 7
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: {files}"
    # content round-trips
    assert spark.read.parquet(p).count() == 500

"""The IVF index lifecycle, in a module with NO query registrations.

Stage 4 of the reference is one index lifecycle: create, upsert, delete
and describe (ref: src/services/vector_engine/pinecone_manager.py:19-166).
The engine owns all of it here:

- **geometry**: the fixed layout (``IVF_CELLS``, ``IVF_NPROBE``), the
  corpus-adaptive one (``ivf_cells_for``, ``IVF_NPROBE_SCALED``) and
  the retrain rule (``ivf_retrain_due``);
- **create**: ``ensure_ivf`` trains the coarse centroids and writes the
  cell tree;
- **publish**: the serving manifest, a CURRENT pointer plus an
  immutable ``v{N}.json`` log (``publish_index_version``,
  ``current_index_version``, ``list_index_versions``,
  ``rollback_index_version``, ``gc_index_versions``);
- **maintain**: ``maintain_ivf_index``, the tick that publishes or
  retrains, with ``psi_report`` as its drift check;
- **upsert and delete**: ``append_ivf_delta``, ``delete_from_ivf``,
  ``compact_ivf_cells`` and ``stream_ivf_maintenance`` write the cell
  tree; ``incremental_ivf``, ``ivf_layout_stats`` and ``ivf_cell_psi``
  report on it, each checked by a DuckDB oracle that retrains from the
  corpus.

Each lifecycle decision is written once: assignment to a layout's
stored centroids (``cell_assigner``), the delta split (``delta_split``,
``DELTA_MOD``), the cell-tree write (``write_cells``,
``rewrite_cells``), the per-cell checksum (``cell_checksums``) and the
manifest log entry rule (``_log_files``, ``_is_claim``).

The registered queries over these functions live in
operators/pipeline.py, the probes in operators/retrieval.py. The
modules that register queries (api, pipeline, clustering,
functions/vector, streaming/event_windows) are imported only inside
the functions that need them: api, pipeline and vector import this
module at their top."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.embed import dot, embed_pandas, embed_subquery_sql
from ..sources.tables import cluster_by_dirs, load, local_rows, spread
from ..sources.tmputil import (
    ROOT,
    dir_tag,
    ensure_materialized,
    forget_artifact,
    live_paths,
    parquet_rows,
    read_artifact,
    tmp_path,
    write_artifact,
)

# ------------------------------------------------------------- geometry

#: The fixed IVF geometry of the documents corpus. 16 cells keep cells
#: big enough that a 20-candidate pool survives nprobe=5 at sf0.001
#: while the probe still prunes ~11/16 of the index. The registered
#: fixed-geometry queries pin their results to it; ``ivf_cells_for``
#: never goes below it.
IVF_CELLS = 16
IVF_NPROBE = 5

#: Probe depth of the scaled serving geometry, read off the measured
#: nprobe curve (tools/ivf_nprobe_curve.py, SCALE.md): at the sf0.1
#: geometry (71 cells) pool recall@20 is 0.555/0.695/0.82/0.90 at
#: nprobe 5/8/12/16, so 16 is the first depth that meets the 0.90
#: recall bar, at a 22.5% read that dominates the fixed layout's 0.87
#: recall at a 31% read. nprobe is the recall knob and the cell count
#: the read-bound knob: at 5B vectors the same nprobe=16 probes
#: 16/70711 ≈ 0.02% of the index while per-cell reads stay ~sqrt(N).
IVF_NPROBE_SCALED = 16


def ivf_cells_for(n_vectors: int) -> int:
    """Corpus-adaptive cell count: ``max(IVF_CELLS, ceil(sqrt(N)))``.
    With a fixed cell count an nprobe=5 probe reads ~31% of the index at
    any size; with cells ~ sqrt(N) the probe fraction falls as
    nprobe/sqrt(N) (5/23 ≈ 22% at N=500, 5/71 ≈ 7% at N=5000) while
    the expected cell population sqrt(N) keeps per-cell reads bounded.
    The scaled oracles derive the same number from the corpus
    (``ivf_cells_sql``) rather than trusting a shared constant, and
    ceil(sqrt()) is exact in both engines: counts are exact ints, the
    sqrt of a perfect square is exact, and the ceil of a non-square's
    sqrt is unambiguous."""
    return max(IVF_CELLS, math.ceil(math.sqrt(n_vectors)))


def ivf_cells_sql(source: str = "vx") -> str:
    """``ivf_cells_for`` as a DuckDB scalar subquery over ``source``,
    which holds one row per vector. The scaled oracles put it in the
    k-means seeds LIMIT and in their geometry columns, so the oracle's
    cell count follows the corpus at every scale factor."""
    return (
        f"(SELECT greatest({IVF_CELLS}, CAST(ceil(sqrt(count(*))) AS BIGINT)) "
        f"FROM {source})"
    )


#: Retrain trigger of the scaled layouts. Appends hold the centroids
#: fixed, so as the corpus grows ivf_cells_for(N) drifts away from the
#: trained cell count and the per-cell population (and probe cost)
#: grows with N/cells. At 1.5× a retrain comes roughly every 2.25× of
#: corpus growth (cells ~ √N): O(log N) rebuilds over any growth curve.
#: Shrinking (mass deletes) triggers at the reciprocal.
IVF_RETRAIN_FACTOR = 1.5


def ivf_retrain_due(trained_cells: int, n_vectors_now: int) -> bool:
    """The size half of the retrain policy: True when the sizing rule's
    answer for the corpus as it stands now differs from the trained cell
    count by IVF_RETRAIN_FACTOR or more, in either direction. A count
    and a constant compare, no vector reads: ``maintain_ivf_index``
    takes N from the stored index's Parquet footers and, when a retrain
    is due, publishes ``ensure_ivf(scaled=True)``'s layout. That layout
    lives under its own cells tag, so the two geometries coexist until
    the pointer flips: the blue/green swap the reference delegates to
    Pinecone's index create/connect (ref:
    src/services/vector_engine/pinecone_manager.py:19-59). Appends
    between retrains go through the delta verbs below."""
    ratio = ivf_cells_for(n_vectors_now) / float(trained_cells)
    return ratio >= IVF_RETRAIN_FACTOR or ratio <= 1.0 / IVF_RETRAIN_FACTOR


# ----------------------------------------------------- the cell tree


def write_cells(df: DataFrame, path: str, cells: int, mode: str = "overwrite") -> None:
    """Write ``df``'s rows into the cell tree at ``path``, one
    ``cell=`` directory per cell. Rows are clustered by cell first, with
    ``cells`` as the explicit partition count (``cluster_by_dirs``), so
    each write leaves one file per cell and runs up to one task per
    cell; unclustered, every task writes a sliver into every cell
    directory."""
    write_artifact(
        cluster_by_dirs(df, cells, "cell").write.mode(mode).partitionBy("cell"),
        path,
    )


def rewrite_cells(spark: SparkSession, df: DataFrame, path: str, cells: int) -> None:
    """``write_cells`` as a dynamic partition overwrite: only the cell
    directories ``df`` has rows for are replaced, every other cell's
    files stay untouched. ``cells`` is the number of cells rewritten.
    The session's overwrite mode is restored afterwards, also when the
    write fails."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        write_cells(df, path, cells)
    finally:
        spark.conf.set(key, old)


def cell_assigner(
    spark: SparkSession, cents_path: str
) -> Callable[[DataFrame, str, str], DataFrame]:
    """Assignment to a layout's stored centroids. Collects the K-row
    centroid file once (a bounded collect of K rows of DIM doubles) and
    returns ``assign(df, id_col, vec_col)``, which gives (id_col,
    vec_col, cell LONG) with each vector's nearest cell. The centroids
    ride the trainer's broadcast one-row frame through its ``_assign``
    map, so a vector lands in the cell the build would have put it in."""
    from .clustering import _assign, _cents_df

    cents = _cents_df(
        spark,
        [(r.cid, r.cv, r.cc) for r in read_artifact(spark, cents_path).collect()],
    )

    def assign(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        vx = df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("x")
        ).withColumn("xx", dot(F.col("x"), F.col("x")))
        return _assign(vx, cents).select(
            F.col("vec_id").alias(id_col),
            F.col("x").alias(vec_col),
            F.col("cid").cast("long").alias("cell"),
        )

    return assign


def cell_checksums(layout: DataFrame) -> DataFrame:
    """Per-cell content checksums of a (doc_id, dv, cell) layout:
    (cell, n_docs, id_sum, v1_micros), the row count, the doc_id sum and
    the sum of each vector's first component in integer micro-units.
    Integer sums are union-associative, so two layouts holding the same
    rows per cell agree exactly however their files were written."""
    return (
        layout.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum(F.round(F.element_at(F.col("dv"), 1) * 1_000_000).cast("long"))
            .cast("long")
            .alias("v1_micros"),
        )
        .select(F.col("cell").cast("long").alias("cell"), "n_docs", "id_sum", "v1_micros")
    )


# ------------------------------------------------------------- create


def ensure_ivf(
    spark: SparkSession, sf_dir: str, table: str, scaled: bool
) -> tuple[str, str, int]:
    """The k-means-trained IVF layout of one vector table, built once per
    (session, sf_dir, table, geometry). Returns (layout_path,
    centroids_path, cells).

    The build trains ``cells`` coarse centroids with the engine's
    deterministic Lloyd pass (operators/clustering.kmeans_fit_assign),
    stores them as a K-row Parquet next to the layout (every probe ranks
    them to pick its cells), and writes the vectors as a cell tree
    (``write_cells``), one directory per Voronoi cell, so a probe's
    literal cell filter becomes a static partition prune.

    - ``table="documents"`` trains on the stored document index
      (``api.ensure_vector_index``): layout (doc_id, dv, cell) at
      ``vector_index_ivf``.
    - ``table="embeddings"`` trains on the embeddings table: layout
      (vec_id, v, label, cell) at ``emb_index_ivf``. The label rides
      through the assignment map because the mining queries split
      candidates by label inside the pool.
    - ``scaled=False`` is the fixed IVF_CELLS geometry that the
      registered fixed-geometry queries pin their results to.
      ``scaled=True`` is ``ivf_cells_for(N)``, N read from the source's
      Parquet footers (no Spark job), under a ``_c{cells}`` path so the
      two geometries coexist in one session.

    The centroids path is the layout path with a ``_cents`` suffix."""

    def build() -> tuple[str, str, int]:
        from ..api import ensure_vector_index
        from .clustering import kmeans_fit_assign

        if table == "documents":
            source = ensure_vector_index(spark, sf_dir)
            vx = read_artifact(spark, source).select(
                F.col("doc_id").alias("vec_id"), F.col("dv").alias("x")
            )
            keep: tuple[str, ...] = ()
            out_cols = [F.col("vec_id").alias("doc_id"), F.col("x").alias("dv")]
            leaf = "vector_index_ivf"
        elif table == "embeddings":
            source = os.path.join(sf_dir, "embeddings.parquet")
            vx = load(spark, sf_dir, "embeddings").select(
                "vec_id",
                "label",
                F.col("embedding").cast("array<double>").alias("x"),
            )
            keep = ("label",)
            out_cols = ["vec_id", F.col("x").alias("v"), "label"]
            leaf = "emb_index_ivf"
        else:
            raise ValueError(f"no IVF layout for table {table!r}")
        cells = ivf_cells_for(parquet_rows(source)) if scaled else IVF_CELLS
        leaf = f"{leaf}_c{cells}" if scaled else leaf
        tag = dir_tag(sf_dir)
        path, cents_path = tmp_path(leaf, tag), tmp_path(f"{leaf}_cents", tag)
        assigned, cents = kmeans_fit_assign(
            spark,
            vx.withColumn("xx", dot(F.col("x"), F.col("x"))),
            cells,
            keep=keep,
        )
        write_artifact(
            local_rows(
                spark,
                [(int(c), [float(v) for v in cv], float(cc)) for c, cv, cc in cents],
                "cid LONG, cv ARRAY<DOUBLE>, cc DOUBLE",
            ).write.mode("overwrite"),
            cents_path,
        )
        write_cells(assigned.select(*out_cols, F.col("cid").alias("cell")), path, cells)
        return path, cents_path, cells

    return ensure_materialized(spark, "ivf", sf_dir, build, table, scaled)


# ---------------------------------------------------- the manifest


def _manifest_dir(sf_dir: str, profile: str = "default") -> str:
    """Directory of one serving manifest. ``profile`` namespaces
    independent pointers over the same corpus (the registered
    published-serving row keeps its own profile, so test publishes of
    doctored layouts never perturb the driver-checked row, and the
    reverse), the role a catalog namespace plays for two tables built
    from one source."""
    if profile == "default":
        return tmp_path("ivf_serving_manifest", dir_tag(sf_dir))
    return tmp_path(f"ivf_serving_manifest__{profile}", dir_tag(sf_dir))


#: A manifest log entry: ``v{N}.json``, the snapshot publish N wrote.
_LOG_ENTRY = re.compile(r"v(\d+)\.json")


def _log_path(mdir: str, version: int) -> str:
    return os.path.join(mdir, f"v{version}.json")


def _log_files(mdir: str) -> list[tuple[int, str]]:
    """(N, path) of every log entry in the manifest directory ``mdir``,
    ascending by N. An entry may still be an in-flight claim
    (``_is_claim``)."""
    if not os.path.isdir(mdir):
        return []
    names = ((_LOG_ENTRY.fullmatch(n), n) for n in os.listdir(mdir))
    return sorted((int(m.group(1)), os.path.join(mdir, n)) for m, n in names if m)


def _is_claim(path: str) -> bool:
    """A zero-byte log entry is a publisher's O_EXCL slot claim whose
    content has not landed yet: it holds its version number, but it is
    not published and has no triple to read."""
    return os.path.getsize(path) == 0


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


#: Serializes in-process publishers across all manifest directories,
#: so two of them never read one high-water mark and collide. One lock
#: for every directory: a publish holds it for two tiny JSON writes, so
#: finer granularity would buy nothing, and per-directory lock
#: registries leak.
_PUBLISH_LOCK = threading.Lock()


def publish_index_version(
    spark: SparkSession,
    sf_dir: str,
    layout_path: str,
    cents_path: str,
    cells: int,
    profile: str = "default",
) -> int:
    """Point the serving manifest at a new (layout, centroids, cells)
    triple atomically: the blue/green swap itself. The manifest is one
    tiny JSON file named CURRENT, replaced by write-temp + os.replace
    (atomic on POSIX), so a reader resolves either the old version or
    the new one, never a torn state, and the old layout's files are
    untouched. Returns the new version number.

    Every publish also adds an immutable ``v{N}.json`` snapshot of the
    triple next to CURRENT: the metadata log, in the file-per-version
    shape of Iceberg's metadata.json sequence. The log makes rollback a
    mechanism (``rollback_index_version`` republishes the predecessor's
    triple without the caller holding it) and gives retention something
    to prune against (``gc_index_versions``).

    Cluster form: on an object store the rename becomes the catalog's
    conditional put, the one-pointer protocol every table format ships.
    Concurrent publishers never overwrite each other's log entry: a
    module lock serializes in-process publishers, and the log slot is
    claimed with O_CREAT|O_EXCL, so a cross-process collision moves on
    to the next version instead of replacing an existing entry. CURRENT
    stays last-writer-wins across processes; the maintenance singleton
    owns it."""
    mdir = _manifest_dir(sf_dir, profile)
    os.makedirs(mdir, exist_ok=True)
    with _PUBLISH_LOCK:
        prev = current_index_version(spark, sf_dir, profile=profile)
        # Next version = 1 + max(pointer, log), also when the pointer was
        # rolled back below the log's high-water mark: a reused number
        # would make log entries mutable. Claims count, and the numbers
        # come from the file names, so a publish reads no entry.
        high = max(
            [prev["version"] if prev else 0] + [v for v, _ in _log_files(mdir)]
        )
        while True:
            version = high + 1
            vfile = _log_path(mdir, version)
            try:
                os.close(os.open(vfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                high = version
        payload = {
            "version": version,
            "layout": layout_path,
            "centroids": cents_path,
            "cells": int(cells),
        }
        # Log entry first, pointer second: a crash between the two
        # leaves an orphan log entry (harmless; the next publish numbers
        # past it), never a CURRENT pointing at an unlogged triple. Each
        # lands by temp + os.replace, so a reader sees the claim or the
        # full entry, never a torn write.
        for name, dest in (("v", vfile), ("CURRENT", os.path.join(mdir, "CURRENT"))):
            tmp = os.path.join(mdir, f".{name}.tmp.{os.getpid()}.{version}")
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, dest)
    return version


def current_index_version(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> dict | None:
    """Resolve the serving manifest: the (version, layout, centroids,
    cells) a prober should use, or None before the first publish. One
    tiny driver-side read, the cost class of the K-row centroid collect
    every probe already pays."""
    cur = os.path.join(_manifest_dir(sf_dir, profile), "CURRENT")
    if not os.path.exists(cur):
        return None
    return _read_json(cur)


def list_index_versions(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> list[dict]:
    """The manifest's version log, ascending: one dict per published
    ``v{N}.json`` snapshot. In-flight claims are not published, so they
    are not listed; any other unreadable entry is corruption and raises.
    Retention bounds the log, so this is a metadata listing, never a
    data scan."""
    return [
        _read_json(p)
        for _, p in _log_files(_manifest_dir(sf_dir, profile))
        if not _is_claim(p)
    ]


def rollback_index_version(
    spark: SparkSession, sf_dir: str, profile: str = "default"
) -> dict | None:
    """Roll serving back one step: republish the log entry preceding
    CURRENT's version as a new forward version (the pointer flips, the
    log only grows: Iceberg's rollback-as-new-snapshot). Returns the new
    CURRENT, or None when there is nothing to roll back to (no pointer,
    or no earlier log entry)."""
    cur = current_index_version(spark, sf_dir, profile=profile)
    if cur is None:
        return None
    older = [
        e
        for e in list_index_versions(spark, sf_dir, profile=profile)
        if e["version"] < cur["version"]
    ]
    if not older:
        return None
    target = older[-1]
    publish_index_version(
        spark,
        sf_dir,
        target["layout"],
        target["centroids"],
        target["cells"],
        profile=profile,
    )
    return current_index_version(spark, sf_dir, profile=profile)


def gc_index_versions(
    spark: SparkSession,
    sf_dir: str,
    keep_last: int = 2,
    profile: str = "default",
) -> dict:
    """Retention for superseded index layouts (Iceberg's
    expire_snapshots). Keeps the newest ``keep_last`` log entries plus
    whatever CURRENT references; prunes older log entries and deletes the
    layout and centroid directories that only pruned entries reference.
    Three safety rails:

    - every pointer's paths are protected: this profile's CURRENT
      (whatever its version: a rolled-back pointer may be older than the
      kept window) and every other manifest's CURRENT and log entries
      under the artifact root, because two profiles can publish the same
      layout path and one profile's retention must never break another's
      reader;
    - only paths under this process's artifact root are deleted
      (retention owns its table prefix and nothing else); out-of-root
      paths are reported, not removed, and their log entries retained
      so a later run still sees them;
    - paths the session memo recorded (``tmputil.live_paths``) are
      skipped, because a later builder call hands them out again without
      rebuilding; they are reported as skipped_live and their log
      entries retained.

    Returns {kept_versions, pruned_versions, removed_paths,
    skipped_paths, skipped_live}; pruned_versions lists only entries
    whose log file was removed. When any foreign manifest file fails to
    read, the pass protects everything: nothing is deleted or pruned and
    the failure is reported as unreadable_foreign, because a manifest
    whose references cannot be read might reference anything. Claims
    older than ten minutes are swept and reported as
    removed_stale_claims. Idempotent: a second run with the same
    arguments removes nothing."""
    log = list_index_versions(spark, sf_dir, profile=profile)
    cur = current_index_version(spark, sf_dir, profile=profile)
    keep_last = max(1, int(keep_last))
    kept = log[-keep_last:]
    candidates = log[:-keep_last] if len(log) > keep_last else []
    protected: set[str] = set()
    for e in kept:
        protected.update((e["layout"], e["centroids"]))
    if cur is not None:
        protected.update((cur["layout"], cur["centroids"]))
    foreign, unreadable = _foreign_manifest_paths(sf_dir, profile)
    if unreadable:
        # That manifest's references are unknown: deleting nothing beats
        # deleting a layout another profile's reader still resolves. The
        # next pass retries.
        return {
            "kept_versions": [e["version"] for e in log],
            "pruned_versions": [],
            "removed_paths": [],
            "skipped_paths": [],
            "skipped_live": [],
            "unreadable_foreign": sorted(unreadable),
        }
    protected |= foreign
    live = live_paths()
    root = ROOT.rstrip(os.sep) + os.sep
    removed: list[str] = []
    skipped: list[str] = []
    skipped_live: list[str] = []
    pruned: list[int] = []
    mdir = _manifest_dir(sf_dir, profile)
    # Pass 1, per entry: an entry holding a path retention does not own
    # (foreign root) or must not break (live memo) keeps its log file,
    # so the path stays tracked; its other paths then become protected
    # too, because a retained entry must never reference a deleted
    # directory. Both checks run before the protected-set shortcut, so
    # which rail held a path does not depend on what else was published.
    deletable: list[dict] = []
    for e in candidates:
        reasons = []
        for p in (e["layout"], e["centroids"]):
            if not p.startswith(root):
                skipped.append(p)
                reasons.append(p)
            elif p in live:
                skipped_live.append(p)
                reasons.append(p)
        if reasons:
            protected.update((e["layout"], e["centroids"]))
        else:
            deletable.append(e)
    # Pass 2: delete what only deletable entries reference.
    for e in deletable:
        for p in (e["layout"], e["centroids"]):
            if p in protected or p in removed:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                forget_artifact(p)
                removed.append(p)
        vfile = _log_path(mdir, e["version"])
        if os.path.exists(vfile):
            os.remove(vfile)
        pruned.append(e["version"])
    # A publisher that died between its claim and its content leaves a
    # claim nothing else removes (readers skip it). Sweep claims old
    # enough (10 min) that no live publisher can still be inside the
    # claim-to-replace window of two tiny JSON writes.
    stale_claims: list[str] = []
    for _, p in _log_files(mdir):
        try:
            if _is_claim(p) and time.time() - os.path.getmtime(p) > 600:
                os.remove(p)
                stale_claims.append(os.path.basename(p))
        except OSError:
            continue
    return {
        "kept_versions": [e["version"] for e in kept],
        "pruned_versions": pruned,
        "removed_paths": sorted(removed),
        "skipped_paths": sorted(set(skipped)),
        "skipped_live": sorted(set(skipped_live)),
        **({"removed_stale_claims": sorted(stale_claims)} if stale_claims else {}),
    }


def _foreign_manifest_paths(sf_dir: str, profile: str) -> tuple[set[str], list[str]]:
    """Every (layout, centroids) path that any other manifest (another
    profile, or another corpus tag) references through its CURRENT or
    its log, plus the manifest files that failed to read. One metadata
    walk of the manifest directories under the artifact root; the
    cluster form is the catalog listing a retention job consults before
    deleting data files another table might share.

    In-flight publish files are not failures: temp files never match
    the CURRENT or log entry names, and claims are skipped. Anything
    else unreadable goes into the failure list, which
    ``gc_index_versions`` treats as protect-all."""
    own = _manifest_dir(sf_dir, profile)
    out: set[str] = set()
    bad: list[str] = []
    if not os.path.isdir(ROOT):
        return out, bad
    for d in os.listdir(ROOT):
        if not d.startswith("ivf_serving_manifest"):
            continue
        base = os.path.join(ROOT, d)
        for tag in os.listdir(base):
            mdir = os.path.join(base, tag)
            if mdir == own or not os.path.isdir(mdir):
                continue
            cur = os.path.join(mdir, "CURRENT")
            files = [p for _, p in _log_files(mdir)]
            files += [cur] if os.path.exists(cur) else []
            for p in files:
                try:
                    if p != cur and _is_claim(p):
                        continue
                    e = _read_json(p)
                    out.update((e["layout"], e["centroids"]))
                except (OSError, ValueError, KeyError):
                    bad.append(p)
    return out, bad


# ----------------------------------------------------- maintenance

#: PSI alarm of the tick's drift branch: the standard 0.25 "significant
#: shift" bar (q_psi_drift, ivf_cell_psi), applied to the index's own
#: cell occupancy.
IVF_PSI_ALARM = 0.25
#: Small-batch gate: PSI's 0.1/0.25 stability rules assume each cell's
#: expected batch count is ≳10 (ivf_cell_psi measures 0.69 at ~1.7
#: docs/cell on a same-distribution slice), so batches below
#: 10·cells record their PSI but cannot fire the alarm.
IVF_PSI_MIN_PER_CELL = 10


def maintain_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    profile: str = "default",
    batch: DataFrame | None = None,
    gc_keep: int | None = None,
) -> dict:
    """One maintenance tick of the published serving layout:

    - SIZE: read the stored index's row count from its Parquet footers
      (``parquet_rows``) and ask ``ivf_retrain_due`` against the
      published geometry;
    - DATA (when ``batch``, a DataFrame of incoming (id, vector) rows,
      is supplied): assign the batch to the published centroids and
      compute the PSI of its cell histogram against the published
      layout's occupancy (``psi_report``, the arithmetic of the
      ivf_cell_psi row, so the tick and the monitor cannot drift apart).
      The alarm is gated on n_batch ≥ IVF_PSI_MIN_PER_CELL·cells;
    - on either trigger, or before the first version: publish the
      ensured scaled layout. ``ensure_ivf`` trains at ivf_cells_for(N)
      by construction, so a rebuild and a first publish are one call.
      A psi_due retrain trains from the stored index, never from the
      probed batch: drifted vectors enter the stored index only through
      the delta path or a corpus refresh (which changes sf_dir and so
      the memo key), so until the batch lands the rebuild resolves to
      the published triple and the tick reports 'retrain_noop'.
      Otherwise the tick reports 'append': the delta verbs move data
      between retrains;
    - RETENTION (when ``gc_keep`` is set): run
      gc_index_versions(keep_last=gc_keep) after the decision, so the
      singleton that publishes layouts also prunes them.

    Returns {action, version, cells, n_vectors}, plus {psi, psi_gated,
    psi_due} when a batch was checked and {gc: report} when retention
    ran. A tick without a batch starts no Spark job: the corpus-scale
    work stays in the builders."""
    from ..api import ensure_vector_index

    n_now = parquet_rows(ensure_vector_index(spark, sf_dir))
    cur = current_index_version(spark, sf_dir, profile=profile)
    extra: dict = {}
    psi_due = False
    if cur is not None and batch is not None:
        # The vector column is resolved by type, a float array (the
        # layouts' array<double>; array<float> for a caller that kept a
        # Parquet source type), not by position and not any array: an
        # array<string> metadata column must not pass. Ambiguity is an
        # error, not a guess.
        vec_cols = [
            f.name
            for f in batch.schema.fields
            if f.dataType.simpleString() in ("array<double>", "array<float>")
        ]
        if len(vec_cols) != 1:
            raise ValueError(
                "maintain_ivf_index batch needs exactly one "
                "array<double>/array<float> vector column, got "
                f"{vec_cols or batch.columns}"
            )
        vecc = vec_cols[0]
        others = [c for c in batch.columns if c != vecc]
        if not others:
            raise ValueError(
                "maintain_ivf_index batch needs an id column besides "
                f"the vector column {vecc!r}"
            )
        # An id-named column wins, so extra metadata columns never
        # become the id; two id-named columns are as ambiguous as none.
        named = [c for c in others if c in ("id", "vec_id", "doc_id")]
        if len(named) == 1:
            idc = named[0]
        elif not named and len(others) == 1:
            idc = others[0]
        else:
            raise ValueError(
                "maintain_ivf_index batch id column is ambiguous: "
                f"{others} (name exactly one of id/vec_id/doc_id, or "
                "pass exactly two columns)"
            )
        delta = cell_assigner(spark, cur["centroids"])(batch, idc, vecc).select("cell")
        base = read_artifact(spark, cur["layout"]).select(
            F.col("cell").cast("long").alias("cell")
        )
        r = psi_report(spark, cur["centroids"], base, delta).collect()[0]
        gated = r.n_batch < IVF_PSI_MIN_PER_CELL * r.cells
        psi_due = (not gated) and float(r.psi) > IVF_PSI_ALARM
        extra = {
            "psi": float(r.psi),
            "psi_gated": bool(gated),
            "psi_due": bool(psi_due),
        }
    # A fired psi_due does not drop the scaled layout's memo entry:
    # the rebuild would then overwrite the layout path in place
    # mid-session, and every reader holding Spark's cached file listing
    # for it would fail with FILE_NOT_EXIST.
    if cur is not None and not psi_due and not ivf_retrain_due(cur["cells"], n_now):
        out = {"action": "append", "version": cur["version"]}
        cells = cur["cells"]
    else:
        layout, cents, cells = ensure_ivf(spark, sf_dir, "documents", True)
        published = cur and (cur["layout"], cur["centroids"], cur["cells"])
        if published == (layout, cents, cells):
            # The rebuild resolved to the published triple: a new
            # version would flip every reader's version-keyed cache for
            # byte-identical content. Report the decision, keep the
            # pointer.
            out = {"action": "retrain_noop", "version": cur["version"]}
        else:
            version = publish_index_version(
                spark, sf_dir, layout, cents, cells, profile=profile
            )
            out = {"action": "publish", "version": version}
    out.update(cells=cells, n_vectors=n_now, **extra)
    if gc_keep is not None:
        out["gc"] = gc_index_versions(spark, sf_dir, keep_last=gc_keep, profile=profile)
    return out


def psi_report(
    spark: SparkSession, cents_path: str, base: DataFrame, delta: DataFrame
) -> DataFrame:
    """PSI between the cell occupancy of two cell-assigned frames,
    ``base`` and ``delta``, over the centroid domain of ``cents_path``:
    +0.5-smoothed histograms, one (cells, n_base, n_batch, psi) row.
    ``ivf_cell_psi`` and the tick's drift branch both compute it here."""
    cent = (
        read_artifact(spark, cents_path)
        .select(F.col("cid").alias("cell"))
        .localCheckpoint(eager=False)
    )
    bh = base.groupBy("cell").agg(F.count("*").alias("bn")).localCheckpoint(eager=False)
    dh = delta.groupBy("cell").agg(F.count("*").alias("dn")).localCheckpoint(eager=False)
    # Totals off the checkpointed histograms: two bounded one-row
    # collects (≤cells longs summed), not a corpus recompute.
    k = cent.count()
    nb = bh.agg(F.sum("bn")).collect()[0][0] or 0
    nd = dh.agg(F.sum("dn")).collect()[0][0] or 0
    pq = (
        cent.join(F.broadcast(bh), "cell", "left")
        .join(F.broadcast(dh), "cell", "left")
        .select(
            ((F.coalesce(F.col("bn"), F.lit(0)) + 0.5) / F.lit(nb + 0.5 * k)).alias("p"),
            ((F.coalesce(F.col("dn"), F.lit(0)) + 0.5) / F.lit(nd + 0.5 * k)).alias("q"),
        )
    )
    return pq.coalesce(1).agg(
        F.lit(k).cast("long").alias("cells"),
        F.lit(nb).cast("long").alias("n_base"),
        F.lit(nd).cast("long").alias("n_batch"),
        F.round(
            F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))),
            6,
        ).alias("psi"),
    )


# ------------------------------------------------- upsert and delete

#: The incoming batch of every delta path: the documents with
#: doc_id % DELTA_MOD == 0. The stored layout minus those rows plays the
#: index as of yesterday.
DELTA_MOD = 13


def delta_split(
    spark: SparkSession, sf_dir: str, layout: str
) -> tuple[DataFrame, DataFrame]:
    """(base, batch): the cell layout at ``layout`` minus the incoming
    batch, as (doc_id, dv, cell LONG), and the batch's documents as
    (doc_id, text), still to be embedded and assigned."""
    base = (
        read_artifact(spark, layout)
        .filter(F.col("doc_id") % DELTA_MOD != 0)
        .select("doc_id", "dv", F.col("cell").cast("long").alias("cell"))
    )
    batch = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % DELTA_MOD == 0)
    )
    return base, batch


def _base_and_delta(
    spark: SparkSession, sf_dir: str, scaled: bool
) -> tuple[DataFrame, DataFrame, int]:
    """(base, delta, cells) of the documents layout: ``delta_split``'s
    base, and its batch embedded (Arrow, cost ∝ batch) and assigned to
    the layout's stored centroids."""
    layout, cents_path, cells = ensure_ivf(spark, sf_dir, "documents", scaled)
    base, batch = delta_split(spark, sf_dir, layout)
    emb = embed_pandas(spread(batch), "text", out_col="dv", keep=["doc_id"])
    return base, cell_assigner(spark, cents_path)(emb, "doc_id", "dv"), cells


def incremental_ivf(
    spark: SparkSession, sf_dir: str, scaled: bool = False
) -> DataFrame:
    """Delta maintenance of the trained IVF layout, as content: base
    (the stored layout minus the incoming batch) ∪ delta (the batch
    embedded and assigned to the stored centroids), reported as
    ``cell_checksums``. The oracle computes the same checksums from a
    full retrain, so equality proves append ≡ rebuild for the trained
    layout, next to q_incremental_lsh (buckets), q_incremental_bm25
    (postings) and q_dedup_incremental (MinHash state).

    ``scaled=True`` runs the same path against the corpus-adaptive
    serving layout (``ensure_ivf(scaled=True)``); only the stored
    centroids, and so the cell space, differ.

    The delta's cost is ∝ batch. Appends hold the centroids fixed; when
    ``ivf_retrain_due`` fires, the layout retrains under a new cells
    tag instead."""
    base, delta, _ = _base_and_delta(spark, sf_dir, scaled)
    return cell_checksums(base.unionByName(delta))


def append_ivf_delta(
    spark: SparkSession, sf_dir: str, scaled: bool = False
) -> str:
    """The physical append: the base snapshot written as a cell tree,
    then the assigned batch appended into the same tree
    (``write_cells`` with mode 'append'). Returns the layout path, whose
    ``cell_checksums`` equal ``incremental_ivf``'s.

    The append costs ∝ batch: each task writes only the cell
    directories its rows land in, and Parquet append adds files, never
    rewrites. It writes a tagged copy, never the memoized serving
    layout: mutating that mid-session would change every later probe's
    stored input."""
    base, delta, cells = _base_and_delta(spark, sf_dir, scaled)
    suffix = "_scaled" if scaled else ""
    path = tmp_path(f"vector_index_ivf_applied{suffix}", dir_tag(sf_dir))
    write_cells(base, path, cells)
    write_cells(delta, path, cells, mode="append")
    return path


def delete_from_ivf(
    spark: SparkSession, layout_path: str, ids: DataFrame
) -> list[int]:
    """Targeted delete from a cell tree (the reference delegates it to
    Pinecone's delete endpoint): one per-cell aggregate over the layout
    (the cell and id columns only, victims broadcast-marked) counts each
    cell's victim hits and rows, so a single collect returns both the
    cells to rewrite (hits > 0) and the cells the delete empties (no
    survivors). Only the hit cells are rewritten, with the victims
    anti-joined out (``rewrite_cells``). Returns the rewritten cell ids,
    ascending.

    The collect is bounded by min(|ids|, cells): each victim lives in
    exactly one cell, so a 1k-id delete touches ≤1k of the 70k cells at
    5B vectors and rewrites only those cells' ~√N-row directories. A
    cell the delete empties cannot be rewritten by a dynamic overwrite
    (no rows, no output partition), so its stale files would keep
    serving the deleted vectors: its directory is dropped explicitly."""
    victims = ids.select(F.col(ids.columns[0]).alias("doc_id"))
    layout = read_artifact(spark, layout_path)
    # rows - hits is the cell's survivor count, also when an id is listed
    # twice (its layout row then joins twice and counts as two hits).
    per_cell = (
        layout.select("doc_id", "cell")
        .join(F.broadcast(victims.withColumn("__hit", F.lit(True))), "doc_id", "left")
        .groupBy("cell")
        .agg(F.count("__hit").alias("hits"), F.count("*").alias("rows"))
        .filter(F.col("hits") > 0)
        .collect()
    )
    affected = sorted(r.cell for r in per_cell)
    if not affected:
        return affected
    emptied = {r.cell for r in per_cell if r.rows == r.hits}
    # Eager checkpoint: Spark refuses to overwrite a path it is reading.
    survivors = (
        layout.filter(F.col("cell").isin(affected))
        .join(F.broadcast(victims), "doc_id", "anti")
        .localCheckpoint(eager=True)
    )
    rewrite_cells(spark, survivors, layout_path, len(affected))
    for cell in emptied:
        d = os.path.join(layout_path, f"cell={cell}")
        if os.path.isdir(d):
            shutil.rmtree(d)
    return affected


def compact_ivf_cells(
    spark: SparkSession, layout_path: str, max_files_per_cell: int = 4
) -> list[int]:
    """Small-file compaction of an appended cell tree: every append adds
    files to the cells it touches, and after many batches a probe of one
    cell opens dozens of tiny files. Flags the cells holding more than
    ``max_files_per_cell`` files and rewrites only those
    (``rewrite_cells``), one file per compacted cell. Returns the
    flagged cell ids (empty: nothing to do).

    The flag pass is one listing of ≤cells directories; the rewrite
    reads and writes only the flagged cells' rows (the isin(cell)
    filter prunes directories). The rows are checkpointed eagerly
    first, because Spark refuses to overwrite a path it is reading; on a
    cluster this is a checkpoint to the object store (SCALE.md)."""
    flagged = []
    for d in os.listdir(layout_path):
        if not d.startswith("cell="):
            continue
        n_files = sum(
            1 for f in os.listdir(os.path.join(layout_path, d)) if f.endswith(".parquet")
        )
        if n_files > max_files_per_cell:
            flagged.append(int(d.split("=", 1)[1]))
    if not flagged:
        return flagged
    rows = (
        read_artifact(spark, layout_path)
        .filter(F.col("cell").isin(flagged))
        .localCheckpoint(eager=True)
    )
    rewrite_cells(spark, rows, layout_path, len(flagged))
    return flagged


def stream_ivf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta path as a stream (the reference's polling ingestion
    loop feeding its batched Pinecone upsert, ref:
    ingestion_service.py:376-416 and pinecone_manager.py:61-103): new
    documents arrive on a landing directory, and each micro-batch is
    embedded, assigned to the scaled layout's stored centroids and
    appended into the cell tree by foreachBatch, under availableNow and
    a restartable checkpoint. Returns the applied layout's
    ``cell_checksums``, which equal the full-rebuild oracle's whatever
    the micro-batch split: per-cell content is union-associative.

    Per micro-batch the cost is ∝ batch. The centroids are collected
    once, before the stream starts, and reused by every batch."""
    import uuid

    from ..streaming.event_windows import _drain, _scoped_shuffle_partitions

    layout, cents_path, cells = ensure_ivf(spark, sf_dir, "documents", True)
    assign = cell_assigner(spark, cents_path)
    base, batch = delta_split(spark, sf_dir, layout)
    run = uuid.uuid4().hex[:8]
    # The landing directory holds the raw batch as four files, drained
    # two per trigger, so availableNow takes two micro-batches and the
    # split-independence claim is exercised. Not spread: the per-row
    # work runs per micro-batch, parallel over the landing files.
    landing = tmp_path(f"stream_ivf_landing_{run}")
    write_artifact(batch.repartition(4).write.mode("overwrite"), landing)
    applied = tmp_path(f"stream_ivf_applied_{run}")
    write_cells(base, applied, cells)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        emb = embed_pandas(batch_df, "text", out_col="dv", keep=["doc_id"])
        write_cells(assign(emb, "doc_id", "dv"), applied, cells, mode="append")

    src = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(landing)
    )
    with _scoped_shuffle_partitions(spark, "4"):
        q = (
            src.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{applied}_ckpt")
            .start()
        )
        _drain(q)
    return cell_checksums(read_artifact(spark, applied))


#: Victims of the lifecycle roundtrip: multiples of 29 (base snapshot
#: members at test scales) plus doc 26 = 2·13, a member of the appended
#: batch at every scale, so the delete reaches rows the append wrote.
LIFECYCLE_DEL_MOD = 29
LIFECYCLE_DEL_BATCH_DOC = 26


def ivf_lifecycle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The physical CRUD chain on a tagged copy of the scaled layout:
    append the batch (``append_ivf_delta``), delete a victim set that
    includes one appended doc (``delete_from_ivf``), compact the cells
    the append fragmented (``compact_ivf_cells``), then report the
    layout's ``cell_checksums``. The oracle reaches the same end state
    the other way round, a full retrain minus the victims.

    Each verb costs what it touches: append ∝ batch, delete ∝ the
    affected cells, compaction ∝ the flagged cells, never a full-layout
    rewrite."""
    victims = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(
            (F.col("doc_id") % LIFECYCLE_DEL_MOD == 0)
            | (F.col("doc_id") == LIFECYCLE_DEL_BATCH_DOC)
        )
    )
    path = append_ivf_delta(spark, sf_dir, scaled=True)
    delete_from_ivf(spark, path, victims)
    # Threshold 1 flags exactly the cells the append fragmented (two
    # files) that the delete did not already rewrite back to one.
    compact_ivf_cells(spark, path, max_files_per_cell=1)
    return cell_checksums(read_artifact(spark, path))


# ---------------------------------------------------------- describe


def ivf_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index stats of the scaled serving layout (the vector analog of
    q_agg_index_stats): one row with the trained geometry (cells,
    serving nprobe, the probe's read fraction) and the measured cell
    population (min/max/avg, imbalance = max/avg), the numbers an
    operator watches between retrains, since appends grow max_cell while
    the trained cell count stands still (``ivf_retrain_due`` is the
    action rule; this is its dashboard). Everything derives from a
    groupBy(cell) count over the stored layout, which reads only the
    cell partition column: ≤cells rows after partial aggregation.

    Reference analog: describe_index_stats, the per-namespace vector
    counts the reference reads off Pinecone (ref:
    src/services/vector_engine/pinecone_manager.py:19-59)."""
    layout, _cents, cells = ensure_ivf(spark, sf_dir, "documents", True)
    pc = read_artifact(spark, layout).groupBy("cell").agg(F.count("*").alias("n"))
    return pc.agg(
        F.count("*").cast("long").alias("cells_used"),
        F.lit(cells).cast("long").alias("cells"),
        F.lit(IVF_NPROBE_SCALED).cast("long").alias("nprobe"),
        F.round(F.lit(float(IVF_NPROBE_SCALED)) / F.lit(cells), 6).alias(
            "probe_fraction"
        ),
        F.sum("n").cast("long").alias("n_vecs"),
        F.min("n").cast("long").alias("min_cell"),
        F.max("n").cast("long").alias("max_cell"),
        F.round(F.sum("n").cast("double") / F.count("*"), 2).alias("avg_cell"),
        F.round(F.max("n").cast("double") * F.count("*") / F.sum("n"), 4).alias(
            "imbalance"
        ),
    )


def ivf_cell_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy drift between the trained scaled layout and an
    incoming batch, the data half of the retrain policy
    (``ivf_retrain_due`` is the size half): ``psi_report`` over base =
    the stored layout's build assignments and batch = the delta assigned
    to the same stored centroids. A batch that no longer looks like the
    training corpus piles into few cells and crosses the standard 0.25
    alarm even though ivf_cells_for(N) has not moved (q_psi_drift's
    discipline, with the same +0.5 smoothing over the centroid domain,
    so empty cells cannot blow up the log).

    Reading the number: the 0.1/0.25 stability rules assume each cell's
    expected batch count is ≳10. Small batches inflate PSI through
    smoothing and sampling noise (measured on a same-corpus uniform
    slice: 0.69 at sf0.01's ~1.7 docs/cell, 0.17 at sf0.1's ~5.4), so
    a monitor gates the alarm on batch size, as ``maintain_ivf_index``
    does; at 5B vectors / 70k cells that is a 700k-vector window."""
    _layout, cents_path, _cells = ensure_ivf(spark, sf_dir, "documents", True)
    base, delta, _ = _base_and_delta(spark, sf_dir, scaled=True)
    return psi_report(spark, cents_path, base, delta)


# ---------------------------------------------------------- oracles
#
# Each report above is checked against DuckDB retraining the layout
# from the whole corpus; the SQL here is the reference, so its text is
# part of the contract.


def _corpus_training_ctes(k: int | str) -> str:
    """DuckDB CTEs training ``k`` cells on every document's embedding,
    as ``ensure_ivf("documents")`` trains on the stored index: vx, then
    the seeds, a1, c1 and a2 of clustering.kmeans_sql_rounds_ctes (a2
    is the final assignment)."""
    from .clustering import kmeans_sql_rounds_ctes

    dv = embed_subquery_sql("documents", "doc_id", "text")
    vx_body = f"""
  SELECT id AS vec_id, embedding AS x,
         list_dot_product(embedding, embedding) AS xx
  FROM (SELECT id, embedding FROM {dv})
"""
    return kmeans_sql_rounds_ctes(vx_body, k)


#: ``cell_checksums`` over the oracle's final assignment a2.
_CHECKSUM_SQL = """SELECT CAST(cid AS BIGINT) AS cell,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       CAST(sum(CAST(round(x[1] * 1000000) AS BIGINT)) AS BIGINT) AS v1_micros
FROM a2"""


def incremental_ivf_oracle(scaled: bool = False) -> str:
    """Full-rebuild oracle of ``incremental_ivf`` and
    ``stream_ivf_maintenance``: train on the whole corpus, assign every
    doc, checksum per cell. ``scaled=True`` trains the corpus-adaptive
    cell count."""
    k = ivf_cells_sql() if scaled else IVF_CELLS
    return f"""
WITH {_corpus_training_ctes(k)}
{_CHECKSUM_SQL} GROUP BY cid
"""


def ivf_layout_stats_oracle() -> str:
    """Full-retrain oracle of ``ivf_layout_stats``: train the scaled
    geometry from the corpus, count per cell and summarize. The cell
    count is re-derived from the corpus, so the geometry columns check
    the sizing rule too."""
    cells = ivf_cells_sql()
    return f"""
WITH {_corpus_training_ctes(cells)},
pc AS (SELECT cid, count(*) AS n FROM a2 GROUP BY cid)
SELECT CAST((SELECT count(*) FROM pc) AS BIGINT) AS cells_used,
       {cells} AS cells,
       CAST({IVF_NPROBE_SCALED} AS BIGINT) AS nprobe,
       round(CAST({IVF_NPROBE_SCALED} AS DOUBLE)
             / {cells}, 6) AS probe_fraction,
       CAST(sum(n) AS BIGINT) AS n_vecs,
       CAST(min(n) AS BIGINT) AS min_cell,
       CAST(max(n) AS BIGINT) AS max_cell,
       round(CAST(sum(n) AS DOUBLE)
             / (SELECT count(*) FROM pc), 2) AS avg_cell,
       round(CAST(max(n) AS DOUBLE) * (SELECT count(*) FROM pc)
             / sum(n), 4) AS imbalance
FROM pc
"""


def ivf_cell_psi_oracle() -> str:
    """Full-retrain oracle of ``ivf_cell_psi``: assign every doc with the
    trained centroids, split base and batch on DELTA_MOD and compute the
    smoothed PSI over the centroid domain. The engine's base cells are
    build assignments and its delta cells are assigned to the same
    stored centroids, so it must reproduce this exactly."""
    return f"""
WITH {_corpus_training_ctes(ivf_cells_sql())},
base AS (SELECT cid FROM a2 WHERE vec_id % {DELTA_MOD} <> 0),
bat AS (SELECT cid FROM a2 WHERE vec_id % {DELTA_MOD} = 0),
cent AS (SELECT cid FROM c1),
bh AS (SELECT cid, count(*) AS bn FROM base GROUP BY cid),
dh AS (SELECT cid, count(*) AS dn FROM bat GROUP BY cid),
pq AS (
  SELECT (coalesce(bn, 0) + 0.5)
           / ((SELECT count(*) FROM base)
              + 0.5 * (SELECT count(*) FROM cent)) AS p,
         (coalesce(dn, 0) + 0.5)
           / ((SELECT count(*) FROM bat)
              + 0.5 * (SELECT count(*) FROM cent)) AS q
  FROM cent LEFT JOIN bh USING (cid) LEFT JOIN dh USING (cid))
SELECT CAST((SELECT count(*) FROM cent) AS BIGINT) AS cells,
       CAST((SELECT count(*) FROM base) AS BIGINT) AS n_base,
       CAST((SELECT count(*) FROM bat) AS BIGINT) AS n_batch,
       round(sum((q - p) * ln(q / p)), 6) AS psi
FROM pq
"""


def ivf_lifecycle_oracle() -> str:
    """Full-rebuild oracle of ``ivf_lifecycle_roundtrip``: train the
    scaled geometry on the whole corpus, assign every doc, remove the
    victims, checksum per cell. Compaction moves no content, so it has
    no term here."""
    return f"""
WITH {_corpus_training_ctes(ivf_cells_sql())}
{_CHECKSUM_SQL}
WHERE vec_id % {LIFECYCLE_DEL_MOD} <> 0
  AND vec_id <> {LIFECYCLE_DEL_BATCH_DOC}
GROUP BY cid
"""

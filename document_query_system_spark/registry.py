"""Central query registry — the driver-contract surface.

Every operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus, when the semantics
are ANSI-SQL-expressible, an equivalent DuckDB oracle SQL string.
``__spark_entry__.py`` exposes this registry to the driver, which
runs Spark query and oracle side-by-side and compares row-count +
schema + order-insensitive value-hash.

Conventions (FIXTURES.md):
- alias every computed column identically in Spark and SQL;
- round float aggregates *inside both queries* (sum order differs
  across engines; rounding inside the query makes the hashed values
  identical) — wide sums to 2 decimals, per-row floats to 6;
- top-k queries tiebreak on a stable key.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # UDF-backed plans need the package importable on executor
            # Python workers regardless of the driver's cwd/PYTHONPATH.
            from .session import ensure_worker_imports

            ensure_worker_imports(spark)
            # Calendar functions (year/date_trunc/session windows) are
            # session-timezone-dependent; the engine's semantics — and
            # the DuckDB oracle, which reads parquet timestamps as
            # naive UTC — are defined in UTC. Pin it per call so
            # results do not depend on the host session's zone.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # Pin the generate-filter-inference exclusion for driver
            # sessions not built by session.get_spark (see the
            # rationale there: the rule un-stages expensive exprs
            # above a Generate into a per-row quadratic Filter).
            spark.conf.set(
                "spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
            )
            # Subset-key co-partitioning (see session.get_spark): lets
            # composed joins reuse an existing partitioning on a
            # subset of the join keys instead of re-exchanging.
            spark.conf.set(
                "spark.sql.requireAllClusterKeysForCoPartition", "false"
            )
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        _REGISTRY[name] = QuerySpec(name, wrapped, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


# REGISTRATION ORDER IS THE DRIVER-COVERAGE ROTATION. The external
# harness verifies a ~50-query prefix of ``queries()`` dict order per
# round, so queries needing a FRESH driver row must come first. The
# rotation is an explicit NAME list: ``all_specs()`` emits
# ``_ROTATION_PREFIX`` names first (in listed order), then everything
# else by the position of its module in ``_MODULES`` and, within a
# module, in registration (source) order. No part of the order depends
# on which module a process happens to import first. Unknown prefix
# names and registering modules missing from ``_MODULES`` fail loudly.
#
# The prefix: (1) the five IVF lifecycle rows and (2) the composed
# CRUD row q_ivf_lifecycle_roundtrip (append_ivf_delta →
# delete_from_ivf → compact_ivf_cells cross-engine), all pre-flighted
# engine-vs-oracle at sf0.001/0.01/0.1 (tools/preflight_staged.py);
# (3) 44 of the 49 oldest oracled rows (name order). 6 + 44 = exactly
# the 50 driver slots, all oracled. Positions 51+ stage the remaining
# five oldest rows as the next prefix's tail.
_ROTATION_PREFIX: tuple[str, ...] = (
    # --- the five IVF lifecycle rows ---
    "q_incremental_ivf_scaled",
    "q_ivf_layout_stats",
    "q_ivf_cell_psi",
    "q_stream_ivf_maintenance",
    "q_vector_topk_published",
    # --- the composed physical-CRUD row ---
    "q_ivf_lifecycle_roundtrip",
    # --- 44 of the 49 oldest oracled rows ---
    "q_agg_distinct",
    "q_agg_doc_stats",
    "q_agg_index_stats",
    "q_agg_rollup",
    "q_agg_success_rate",
    "q_answer_summary",
    "q_binaryfile_scan",
    "q_bucketed_join",
    "q_corpus_datacard",
    "q_delete_anti_join",
    "q_extract_chunks",
    "q_extract_real_containers",
    "q_extract_sniff",
    "q_extract_tables",
    "q_extract_text",
    "q_filter_isin",
    "q_filter_length",
    "q_filter_range",
    "q_golden_vector_search",
    "q_hybrid_rrf",
    "q_incremental_index",
    "q_incremental_lsh",
    "q_join_broadcast",
    "q_join_hash",
    "q_join_left_nomatch",
    "q_join_range",
    "q_join_semi",
    "q_join_sortmerge",
    "q_late_interaction",
    "q_mime_sniff",
    "q_mmr_ann_pool",
    "q_mmr_diversify",
    "q_ocr_text",
    "q_partition_pruned_read",
    "q_project_truncate",
    "q_retention_sweep",
    "q_sliding_window_events",
    "q_stream_dedup",
    "q_stream_python_source",
    "q_stream_python_source_partitioned",
    "q_stream_session",
    "q_stream_stateful_counts",
    "q_stream_stream_join",
    "q_stream_tumbling",
    # --- positions 51+: the 5 remaining oldest rows (name order) ---
    "q_stream_upsert_foreachbatch",
    "q_to_json",
    "q_training_triplets",
    "q_upsert_last_writer",
    "q_vocab_coverage",
)


#: Every module that registers queries, in tail order (see above).
_MODULES: tuple[str, ...] = (
    ".operators.similarity",
    ".operators.dedup",
    ".operators.pipeline",
    ".operators.sampling",
    ".operators.corpus",
    ".operators.scoring",
    ".operators.graph",
    ".sources.layout",
    ".operators.analytics",
    ".operators.setops",
    ".operators.clustering",
    ".operators.sketches",
    ".operators.graph_metrics",
    ".operators.recipes",
    ".operators.behavior",
    ".operators.governance",
    ".operators.sql_surface",
    ".sources.pydatasource",
    ".functions.vector",
    ".operators.textpipe",
    ".sources.scans",
    ".operators.multimodal",
    ".streaming.event_windows",
    ".operators.joins",
    ".api",
    ".operators.search",
    ".sources.extraction",
    ".sources.sinks",
    ".operators.filters",
    ".operators.aggregates",
    ".sources.http_ingest",
    ".operators.windows",
    ".functions.text",
    ".functions.scalar",
)


def _load_all() -> None:
    """Import every module that registers queries (side-effect imports;
    imported here, not at the top, because they import ``register``
    from this module)."""
    global _LOADED
    if _LOADED:
        return
    for mod in _MODULES:
        importlib.import_module(mod, __package__)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    missing = [n for n in _ROTATION_PREFIX if n not in _REGISTRY]
    if missing:
        raise KeyError(f"_ROTATION_PREFIX names not registered: {missing}")
    pos = {__package__ + m: i for i, m in enumerate(_MODULES)}
    unlisted = sorted({s.fn.__module__ for s in _REGISTRY.values()} - pos.keys())
    if unlisted:
        raise KeyError(f"registering modules missing from _MODULES: {unlisted}")
    prefix = {n: _REGISTRY[n] for n in _ROTATION_PREFIX}
    # sorted() is stable: registration order within a module survives.
    rest = sorted(
        (s for n, s in _REGISTRY.items() if n not in prefix),
        key=lambda s: pos[s.fn.__module__],
    )
    return {**prefix, **{s.name: s for s in rest}}


def queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_specs().items()}


def oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in all_specs().items() if s.oracle is not None}

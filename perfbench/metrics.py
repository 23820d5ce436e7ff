"""Metric names, units and how each is computed from a run.

``E2E`` is what ``--trace 0`` prints, ``PER_LAYER`` what ``--trace 1``
prints; both lists are the ones ``BENCHMARK.json`` declares. Per-layer
counters are means per call of that layer over the traced calls; a layer
the workload does not call reports 0.
"""

from __future__ import annotations

import statistics

# (name, unit, better)
E2E = (
    ("op_p50_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
)

# Layers in pipeline order: module · public call in README.md.
LAYERS = (
    "extract", "chunk", "embed", "index.flat", "index.ivf_build",
    "index.publish", "index.append", "index.delete", "index.compact",
    "serve.flat", "serve.keyword", "serve.ivf_tick", "serve.ivf_probe",
    "relational",
)
# Layers whose public call returns a DataFrame: timed as build + run.
DF_LAYERS = ("extract", "chunk", "embed", "serve.flat", "serve.keyword",
             "serve.ivf_probe", "relational")

_BASE = (
    ("p50_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"), ("gc_s", "s"),
)
_SPLIT = (("build_s", "s"), ("run_s", "s"), ("build_jobs", "count"))
_EXTRA = (
    ("extract.rows_per_s", "1/s", "higher"),
    ("extract.input_bytes", "bytes", "lower"),
    ("chunk.chunks_per_doc", "count", "lower"),
    ("embed.rows_per_s", "1/s", "higher"),
    ("index.flat.bytes_written", "bytes", "lower"),
    ("index.ivf_build.cells", "count", "lower"),
    ("index.ivf_build.files_written", "count", "lower"),
    ("index.append.files_per_cell", "count", "lower"),
    ("index.delete.cells_rewritten_frac", "ratio", "lower"),
    ("index.compact.cells_rewritten_frac", "ratio", "lower"),
    ("serve.flat.index_rows_read_per_answer_row", "count", "lower"),
    ("serve.keyword.index_rows_read_per_answer_row", "count", "lower"),
    ("serve.ivf_probe.read_fraction", "ratio", "lower"),
    ("relational.stream_batches", "count", "lower"),
    ("relational.stream_input_rows", "count", "lower"),
)
_ENGINE = (
    ("spark.stages", "count", "lower"),
    ("spark.tasks_per_stage", "count", "lower"),
    ("spark.shuffle_bytes_per_task", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.jvm_jit_s", "s", "lower"),
    ("spark.jvm_gc_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
)

# Extras the workloads record with Tracer.record, one value per call.
_RECORDED = (
    "extract.rows_per_s", "chunk.chunks_per_doc", "embed.rows_per_s",
    "index.flat.bytes_written", "index.ivf_build.cells",
    "index.ivf_build.files_written", "index.append.files_per_cell",
    "index.delete.cells_rewritten_frac", "index.compact.cells_rewritten_frac",
)

PER_LAYER = (
    tuple((f"{lyr}.{m}", u, "lower") for lyr in LAYERS for m, u in _BASE)
    + tuple((f"{lyr}.{m}", u, "lower") for lyr in DF_LAYERS for m, u in _SPLIT)
    + _EXTRA
    + _ENGINE
)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def kind_p50s(latencies, traced=None) -> dict[int, float]:
    """``latencies``: (position in round, traced, seconds) per measured op.
    Ops at one position of a round are one kind (a ``qa`` request kind, an
    ``analytics`` query); returns the median latency of each kind, over the
    traced ops, the untraced ops, or (``traced=None``) all of them."""
    by_kind: dict[int, list[float]] = {}
    for k, t, dt in latencies:
        if traced is None or t == traced:
            by_kind.setdefault(k, []).append(dt)
    return {k: median(v) for k, v in by_kind.items()}


def overhead(latencies) -> tuple[float, float]:
    """(untraced, traced) op p50s summed over the kinds that have both;
    comparing kind by kind keeps the mix of kinds out of the ratio."""
    on, off = kind_p50s(latencies, True), kind_p50s(latencies, False)
    both = on.keys() & off.keys()
    return sum(off[k] for k in both), sum(on[k] for k in both)


def e2e(latencies, items: int, busy_s: float, setups: list[float]) -> dict:
    """``op_p50_s`` is the median latency of each kind of op, averaged over
    the kinds: a pooled median of a mix of kinds would jump between them
    from run to run."""
    return {
        "op_p50_s": statistics.fmean(kind_p50s(latencies).values()),
        "items_per_s": items / busy_s if busy_s > 0 else 0.0,
        "setup_s": median(setups),
    }


def per_layer(tr, latencies) -> dict:
    layers = tr.layers  # a defaultdict: a layer never called reads as empty
    m: dict[str, float] = {}
    for lyr in LAYERS:
        ls = layers[lyr]
        if lyr in DF_LAYERS:
            calls = [b + r for b, r in zip(ls.wall["build"], ls.wall["run"])]
            m[f"{lyr}.p50_s"] = median(calls)
            m[f"{lyr}.build_s"] = ls.p50("build")
            m[f"{lyr}.run_s"] = ls.p50("run")
            m[f"{lyr}.build_jobs"] = ls.per_call("build_jobs") + ls.per_call("stream_jobs")
        else:
            m[f"{lyr}.p50_s"] = ls.p50("call")
        for key in ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "gc_s"):
            m[f"{lyr}.{key}"] = ls.per_call(key)

    for name in _RECORDED:  # figures the workloads record per call
        lyr, key = name.rsplit(".", 1)
        m[name] = layers[lyr].extra_mean(key)
    m["extract.input_bytes"] = layers["extract"].per_call("input_bytes")
    m["relational.stream_batches"] = layers["relational"].per_call("stream_batches")
    m["relational.stream_input_rows"] = layers["relational"].per_call("stream_input_rows")
    for lyr in ("serve.flat", "serve.keyword"):
        answers = layers[lyr].extra_mean("answer_rows")
        read = layers[lyr].per_call("run_input_records")
        m[f"{lyr}.index_rows_read_per_answer_row"] = read / answers if answers else 0.0
    probe = layers["serve.ivf_probe"]
    index_rows = probe.extra_mean("index_rows")
    m["serve.ivf_probe.read_fraction"] = (
        probe.per_call("run_input_records") / index_rows if index_rows else 0.0
    )

    ops = tr.ops
    tot = {k: sum(o.get(k, 0.0) for o in ops) for k in
           ("stages", "tasks", "shuffle_write_bytes", "spill_bytes", "jit_s", "jvm_gc_s")}
    n = len(ops)
    m["spark.stages"] = tot["stages"] / n if n else 0.0
    m["spark.tasks_per_stage"] = tot["tasks"] / tot["stages"] if tot["stages"] else 0.0
    m["spark.shuffle_bytes_per_task"] = (
        tot["shuffle_write_bytes"] / tot["tasks"] if tot["tasks"] else 0.0
    )
    m["spark.spill_bytes"] = tot["spill_bytes"] / n if n else 0.0
    m["spark.jvm_jit_s"] = tot["jit_s"] / n if n else 0.0
    m["spark.jvm_gc_s"] = tot["jvm_gc_s"] / n if n else 0.0
    base, on = overhead(latencies)
    m["trace.overhead_frac"] = on / base - 1.0 if base else 0.0
    return m

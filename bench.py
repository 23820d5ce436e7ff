"""Benchmark harness (BASELINE.md protocol, B4 + flagship B3).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the noop writer (full plan runs, nothing
collected to the driver) — measures engine time, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from document_query_system_spark import registry
from document_query_system_spark.session import get_spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Queries named on the stdout summary line, slowest first. 25 gives a
#: round-over-round compare of the same stdout line enough queries in
#: common; the full map lives in the sidecar.
SUMMARY_SLOWEST = 25


def summary_line(
    total: float,
    cold_total: float | None,
    timings: dict[str, float],
    sf,
    cpus: int,
    baseline: dict,
    sidecar: str,
) -> str:
    """The one JSON line bench.py prints last. A caller keeps only a
    bounded tail of stdout and parses the LAST JSON line, so the line
    stays bounded (≲2 KB): summary numbers, the slowest
    SUMMARY_SLOWEST queries and the small B-lane baseline block. The
    full per-query map and golden_attrib live in the sidecar
    (full_timings_file)."""
    ok = {n: t for n, t in timings.items() if t >= 0}
    slowest = dict(sorted(ok.items(), key=lambda p: -p[1])[:SUMMARY_SLOWEST])
    return json.dumps(
        {
            "metric": "queries_suite_wall_sec",
            "value": total,
            "value_cold": cold_total,  # first-run total (JIT included)
            "unit": "sec",
            "queries": slowest,
            "sf": sf,
            "n_queries": len(timings),
            "n_failed": sum(1 for t in timings.values() if t < 0),
            "cpus": cpus,
            "baseline": baseline,
            "full_timings_file": sidecar,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="dqs-bench")
    # The driver records a bounded tail of this process's output as
    # the round's bench artifact; streaming queries otherwise spray
    # log4j WARN lines (temp-checkpoint, AQE-disabled) into it (r2/r5
    # ADVICE hygiene item). Errors still surface — BENCH-ERROR lines
    # are print()s, not log4j.
    spark.sparkContext.setLogLevel("ERROR")
    # DAGScheduler additionally logs a BENIGN race at ERROR level:
    # "Failed to update accumulator ... attempted to access
    # non-existent accumulator" — late SQL-metric updates from tasks
    # of already-cancelled stages (streaming query.stop(), limit/take
    # early exit). It is timing-dependent (one r12 run had 0, the
    # next ~90, same tree) and a trace can land directly above the
    # BENCH JSON line, polluting the recorded tail. Deny THAT MESSAGE
    # CLASS ONLY via a log4j2 StringMatchFilter on the DAGScheduler
    # logger (r12 ADVICE: the earlier level=FATAL mute also swallowed
    # stage-failure / executor-loss ERROR diagnostics, which should
    # keep reaching the log tail); bench process only — tests/dev
    # sessions stay verbose. Real query failures reach the artifact
    # as BENCH-ERROR prints and n_failed regardless (every timed run
    # is a try/except around a Python-side action).
    try:
        jvm = spark._jvm
        name = "org.apache.spark.scheduler.DAGScheduler"
        ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
        cfg = ctx.getConfiguration()
        result = {
            str(c): c
            for c in jvm.java.lang.Class.forName(
                "org.apache.logging.log4j.core.Filter$Result"
            ).getEnumConstants()
        }
        b = jvm.org.apache.logging.log4j.core.filter.StringMatchFilter.newBuilder()
        b.setMatchString("Failed to update accumulator")
        b.setOnMatch(result["DENY"])
        b.setOnMismatch(result["NEUTRAL"])
        lc = cfg.getLoggerConfig(name)
        if lc.getName() != name:
            # No dedicated LoggerConfig yet (getLoggerConfig returned
            # an ancestor — filtering there would mute repo-wide):
            # create one inheriting the effective level, additive so
            # surviving events still flow to the root appender.
            lc = jvm.org.apache.logging.log4j.core.config.LoggerConfig(
                name, lc.getLevel(), True
            )
            cfg.addLogger(name, lc)
        lc.addFilter(b.build())
        ctx.updateLoggers()
    except Exception as exc:  # pragma: no cover - non-log4j2 deployments
        # r13 ADVICE: a silent pass here left DAGScheduler fully
        # verbose when the filter wiring failed (older log4j-core,
        # alternate backend) — accumulator traces could again land
        # above the BENCH JSON line. Fall back to the coarse pre-r13
        # level mute and say so on stderr, so the failure is visible
        # and the recorded tail stays clean either way.
        print(
            f"BENCH-WARN DAGScheduler message filter install failed ({exc}); "
            "falling back to level=FATAL mute",
            file=sys.stderr,
        )
        try:
            jvm = spark._jvm
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                "org.apache.spark.scheduler.DAGScheduler",
                jvm.org.apache.logging.log4j.Level.FATAL,
            )
        except Exception:
            pass
    specs = registry.all_specs()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        specs = {n: s for n, s in specs.items() if n in keep}

    # JVM/codegen warmup on a trivial plan so q1 doesn't pay startup,
    # plus a tiny mapInPandas so the Python worker pool (pandas/arrow
    # imports, one worker per core) is spun up before any timed query —
    # otherwise the alphabetically-first UDF query absorbs the whole
    # pool's cold start.
    _force(spark.read.parquet(f"{sf_dir}/region.parquet"))
    warm = spark.range(int(os.environ.get("SPARK_GRAFT_CPUS", "32")) * 4).repartition(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    _force(warm.mapInPandas(lambda it: it, "id long"))
    # Build the document vector index before any timed query — the
    # reference's lifecycle too: the Pinecone index exists before
    # queries arrive, and B1 below measures the index-build rate
    # separately. Query timings then measure PROBE time (the thing a
    # query pays at 100 TB), not a first-caller index build.
    try:
        from document_query_system_spark.api import ensure_vector_index

        # The index build IS the corpus embed warm pass now: r10 moved
        # the corpus-scale embed onto the Arrow path (embed_pandas —
        # 19× the SQL fold at the B1 workload, and no giant generated
        # plan to JIT), so ensure_vector_index both materializes the
        # stored index the retrieval queries probe AND warms the exact
        # path q_golden_vector_search / B1 measure. The separate
        # untimed embed_df pass the r4-r9 benches carried (C2 warmup
        # for the interpreted HOF fold) is gone with its cause.
        ensure_vector_index(spark, sf_dir)
    except Exception as exc:  # pragma: no cover
        print(f"BENCH-ERROR index warmup: {exc}", file=sys.stderr)

    # Attribution counters (r9 verdict #1): the driver box ran
    # q_golden_vector_search at ~16 s in BOTH suite passes vs 1.9 s
    # pre-suite in the same process, and the cause could only be
    # guessed at (codegen-cache eviction? GC pressure? megamorphic
    # interpreted eval?). Snapshot the JVM's cumulative JIT-compilation
    # and GC times around every timed run of that query so the sidecar
    # ATTRIBUTES any elevation: a big jit_ms delta = recompilation, a
    # big gc_ms delta = memory pressure, neither = profile-polluted
    # interpreted eval (or plain box load).
    _ATTRIB_QUERY = "q_golden_vector_search"
    golden_attrib: dict[str, dict] = {}

    def _jvm_counters() -> dict[str, int]:
        mf = spark._jvm.java.lang.management.ManagementFactory
        jit = int(mf.getCompilationMXBean().getTotalCompilationTime())
        gc_ms = 0
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            gc_ms += int(it.next().getCollectionTime())
        return {"jit_ms": jit, "gc_ms": gc_ms}

    def _attrib_run(tag: str, thunk) -> float:
        """Run thunk(), record wall + JIT/GC deltas under tag."""
        try:
            before = _jvm_counters()
        except Exception:  # pragma: no cover - exotic JVMs
            before = None
        t0 = time.perf_counter()
        thunk()
        wall = time.perf_counter() - t0
        rec: dict[str, float] = {"wall_sec": round(wall, 3)}
        if before is not None:
            try:
                after = _jvm_counters()
                rec["jit_ms_delta"] = after["jit_ms"] - before["jit_ms"]
                rec["gc_ms_delta"] = after["gc_ms"] - before["gc_ms"]
            except Exception:  # pragma: no cover
                pass
        golden_attrib[tag] = rec
        return wall

    # B-lane acceptance gate (r13 verdict #2): BENCH_r13's B2 read
    # 0.362 s/query THROUGH 8.8 s of JIT compilation inside the timed
    # run (r12: 55 ms) — min-of-2-after-warmup is not robust to a
    # loaded/cold driver box. Repeat each B-lane run until its
    # jit_ms_delta falls below the gate (default 500 ms) — collecting
    # up to two qualifying runs, the old min-of-2 under quiet
    # conditions — or a max of 4 attempts; report the min QUALIFYING
    # wall, and keep every run's attribution in golden_attrib so the
    # artifact itself proves whether a quiet window existed.
    _JIT_GATE_MS = int(os.environ.get("SPARK_GRAFT_JIT_GATE_MS", "500"))
    _BLANE_MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BLANE_ATTEMPTS", "4"))

    # Settle wait (measured need, r14 run 1): the gate alone found ZERO
    # qualifying windows in 4 attempts per lane even on an otherwise
    # quiet box — the B-lanes run right after warmup, where the JVM's
    # tiered-compilation backlog still ticks 1-3.7 s of JIT per run,
    # while the SAME query late in the suite shows 128 ms. The backlog
    # drains on compiler threads whether or not queries run, so wait it
    # out BEFORE the timed attempts: poll the compilation counter until
    # a half-second window shows <250 ms of JIT (or give up after 20 s)
    # and record the wait in the gate row. Load-induced pollution still
    # lands on the per-run gate; this removes only the self-inflicted
    # warmup tail.
    def _jit_settle(max_wait_s: float = 20.0) -> dict:
        waited = 0.0
        settled = False
        try:
            last = _jvm_counters()["jit_ms"]
            while waited < max_wait_s:
                time.sleep(0.5)
                waited += 0.5
                now = _jvm_counters()["jit_ms"]
                if now - last < 250:
                    settled = True
                    break
                last = now
        except Exception:  # pragma: no cover - exotic JVMs
            pass
        return {"settle_wait_sec": round(waited, 1), "settled": settled}

    # Adaptive second clause (r14 verdict #3): r14's strict gate
    # exhausted 4 attempts on B1/B2 with best JIT deltas 1,118/2,133 ms
    # — on this host class the 500 ms bar can be plain unreachable, and
    # burning every attempt to then fall back to min-of-all rewards
    # nothing. After the attempts, a run also qualifies when its JIT
    # delta is within 25% of the BEST delta observed — the quietest
    # window the box actually offered — and the gate row reports which
    # clause fired (strict / adaptive / none) so the artifact stays
    # honest about what the min means.
    _JIT_ADAPTIVE_FACTOR = 1.25

    def _gated_min(tag: str, thunk) -> float:
        settle = _jit_settle()
        walls_q: list[float] = []
        walls_all: list[float] = []
        jits: list[float] = []
        for i in range(_BLANE_MAX_ATTEMPTS):
            wall = _attrib_run(f"{tag}_run{i}", thunk)
            rec = golden_attrib[f"{tag}_run{i}"]
            walls_all.append(wall)
            jit = rec.get("jit_ms_delta")
            qualified = jit is None or jit <= _JIT_GATE_MS
            rec["qualified"] = qualified
            if jit is not None:
                jits.append(jit)
            if qualified:
                walls_q.append(wall)
                if len(walls_q) >= 2:
                    break
        # Exactly one of the two clauses always fires (r15 review): an
        # empty walls_q means every attempt had a NON-None jit delta
        # (a None delta qualifies strictly), so jits is non-empty and
        # the min-jit attempt satisfies the adaptive bar by
        # construction — there is no third outcome.
        clause = "strict"
        adaptive_gate_ms = None
        if not walls_q:
            clause = "adaptive"
            adaptive_gate_ms = int(min(jits) * _JIT_ADAPTIVE_FACTOR)
            for i in range(len(walls_all)):
                rec = golden_attrib[f"{tag}_run{i}"]
                jit = rec.get("jit_ms_delta")
                if jit is not None and jit <= adaptive_gate_ms:
                    rec["qualified"] = True
                    rec["qualified_by"] = "adaptive"
                    walls_q.append(walls_all[i])
        golden_attrib[f"{tag}_gate"] = {
            "attempts": len(walls_all),
            "qualifying_runs": len(walls_q),
            "jit_gate_ms": _JIT_GATE_MS,
            "clause": clause,
            **(
                {"adaptive_gate_ms": adaptive_gate_ms}
                if adaptive_gate_ms is not None
                else {}
            ),
            **settle,
        }
        return min(walls_q)

    # BASELINE.md headline benches — measured BEFORE the two full
    # suite passes (r8 verdict #1): B1/B2/B3 are reference-envelope
    # comparators, not suite members. Measuring them here, on a JVM
    # that is warm (the untimed warmup + index build above) but not
    # yet polluted by ~470 other generated plans, removes the
    # cross-suite codegen-cache/JIT scatter that made driver B2 swing
    # 0.24↔1.3↔0.55 s/query across r6-r8 with no code change. Each
    # per-query metric takes min-of-2 timed runs after one untimed
    # warm run (steady-state engine time, the envelope's own terms:
    # the reference amortizes model load + index build the same way).
    baseline: dict[str, float] = {}
    try:
        from pyspark.sql import functions as F

        from document_query_system_spark.functions.vector import embed_pandas
        from document_query_system_spark.sources.tables import load, spread
        from document_query_system_spark.sources.tmputil import tmp_path

        # B1 protocol: embed AND write the embeddings table (the
        # reference's index build, minus its throttling sleeps). The
        # raw corpus at sf0.1 is only 500 docs (~0.25-1 s of work) —
        # sub-second wall is noise-dominated (B1 "moved" 4× across r3/
        # r4 with zero code change), so replicate the corpus until the
        # measured batch is big enough that the rate is stable (±20%).
        B1_REPLICAS = int(os.environ.get("SPARK_GRAFT_B1_REPLICAS", "20"))
        base_docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        docs = spread(
            base_docs.crossJoin(
                F.broadcast(
                    spark.range(B1_REPLICAS).select(F.col("id").alias("replica"))
                )
            ).select(
                (F.col("doc_id") + F.col("replica") * 1_000_000_000).alias("doc_id"),
                "text",
            )
        )
        n_docs = docs.count()

        # B1 embeds via the engine's production index-build path (the
        # Arrow embedder — what ensure_vector_index runs; bit-identical
        # to the SQL fold, measured 19× at exactly this workload).
        # JIT-gated like the other lanes (r13 verdict #2): the first
        # attempt doubles as the plan's warm run when the box is cold —
        # its JIT delta disqualifies it and a retry supplies the
        # steady-state wall.
        def _b1_once() -> None:
            embed_pandas(docs, "text", keep=["doc_id"]).write.mode(
                "overwrite"
            ).parquet(tmp_path("bench_embeddings.parquet"))

        b1 = _gated_min("b1", _b1_once)
        baseline["b1_index_docs_per_sec"] = round(n_docs / b1, 1)
        baseline["b1_batch_docs"] = n_docs
        baseline["b1_wall_sec"] = round(b1, 3)

        def _steady(name: str, tag: str) -> float:
            fn = specs[name].fn
            _force(fn(spark, sf_dir))  # untimed: codegen + JIT warm
            return _gated_min(tag, lambda: _force(fn(spark, sf_dir)))

        # B2/B3 divide by the 10-question batch: the reference runs
        # its per-question searches SEQUENTIALLY (BASELINE.md), so
        # sec-per-question is the comparable unit.
        if "q_golden_vector_search" in specs:
            baseline["b2_vector_sec_per_query"] = round(
                _steady("q_golden_vector_search", "b2") / 10, 4
            )
        if "q_topk_per_question" in specs:
            baseline["b3_keyword_sec_per_query"] = round(
                _steady("q_topk_per_question", "b3") / 10, 4
            )
    except Exception as exc:  # pragma: no cover
        print(f"BENCH-ERROR baseline: {exc}", file=sys.stderr)

    # JMH-style warmup pass: run every query once before the timed
    # loop so per-query numbers measure STEADY-STATE engine
    # throughput, not whole-stage-codegen JIT compilation (measured
    # 2-6× on cold keyword-scoring and extract-cascade plans — the
    # generated class is cached per plan, so the timed run below hits
    # warm code). The warmup pass is itself TIMED and reported as
    # value_cold / queries_cold (r5 verdict item 7: keep cross-round
    # comparisons possible against the r1-r4 cold numbers); disable
    # with SPARK_GRAFT_BENCH_WARMUP=0 to skip it, making the main
    # timings cold-start.
    # Periodic full gc between queries (outside every per-query
    # timer): eagerly-checkpointed RDDs from ~165 queries stay pinned
    # until their Python DataFrame wrappers are collected and the
    # JVM ContextCleaner's weak refs fire — left to chance, the
    # session accretes blocks and late-suite queries pay multi-second
    # GC/memory-pressure stalls that bisect clean in isolation
    # (BENCH_NOTES.md round-6 scatter).
    import gc

    _GC_EVERY = 8

    def _maybe_gc(i: int) -> None:
        if i % _GC_EVERY == 0:
            gc.collect()

    cold_timings: dict[str, float] = {}
    cold_total = None
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        t_cold0 = time.perf_counter()
        for i, name in enumerate(sorted(specs)):
            try:
                if name == _ATTRIB_QUERY:
                    wall = _attrib_run(
                        "cold", lambda: _force(specs[name].fn(spark, sf_dir))
                    )
                else:
                    t0 = time.perf_counter()
                    _force(specs[name].fn(spark, sf_dir))
                    wall = time.perf_counter() - t0
                cold_timings[name] = round(wall, 3)
            except Exception:
                pass  # the timed loop below reports the failure
            _maybe_gc(i)
        cold_total = round(time.perf_counter() - t_cold0, 3)

    timings: dict[str, float] = {}
    t_total0 = time.perf_counter()
    for i, name in enumerate(sorted(specs)):
        try:
            if name == _ATTRIB_QUERY:
                wall = _attrib_run(
                    "steady", lambda: _force(specs[name].fn(spark, sf_dir))
                )
            else:
                t0 = time.perf_counter()
                _force(specs[name].fn(spark, sf_dir))
                wall = time.perf_counter() - t0
            timings[name] = round(wall, 3)
        except Exception as exc:  # record failures, keep benching
            timings[name] = -1.0
            print(f"BENCH-ERROR {name}: {exc}", file=sys.stderr)
        _maybe_gc(i)
    total = round(time.perf_counter() - t_total0, 3)

    # Full per-query timings go to a sidecar file; the driver captures
    # only a bounded tail of stdout, so the LAST line must be a SHORT
    # summary it can always parse (round 1's 120-entry line overflowed
    # the captured window → BENCH_r01 "parsed": null).
    full = {
        "metric": "queries_suite_wall_sec",
        "value": total,
        "value_cold": cold_total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold_timings,
        "sf": sf_val,
        "n_queries": len(timings),
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "baseline": baseline,
        "golden_attrib": golden_attrib,
    }
    # Subset probes (SPARK_GRAFT_BENCH_ONLY) divert their sidecar so a
    # quick bisection never clobbers the committed full-suite timings.
    default_name = (
        "BENCH_SUBSET.json"
        if os.environ.get("SPARK_GRAFT_BENCH_ONLY")
        else "BENCH_FULL.json"
    )
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), default_name
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError as exc:  # pragma: no cover
        print(f"BENCH-ERROR sidecar: {exc}", file=sys.stderr)

    print(
        summary_line(
            total,
            cold_total,
            timings,
            sf_val,
            int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            baseline,
            sidecar,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""The workloads: what one operation is, its set-up and its checks.

Each workload calls the package's public functions on inputs made by
``gen`` from the run's seed. ``before`` prepares one operation's inputs
(untimed), ``op`` is the timed operation, ``after`` checks its output
(untimed). ``problems`` collects every correctness failure; each check
recomputes the answer with DuckDB or numpy, never with the Spark code
it checks.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

# Sizes: at these, Spark's fixed cost per job dominates every layer, and a
# run stays within its share of the time budget.
INGEST_DOCS = 1_000
INGEST_WARMUP_DOCS = 100
INGEST_VICTIM_SHARE = 0.02
QA_DOCS = 1_000
QA_BATCH = 10
ANALYTICS_SF = 0.01

# The relational and streaming control: a fixed subset of the registry
# (every query here has an exact DuckDB oracle) covering each module named
# in the README, run in a seed-shuffled order.
ANALYTICS_QUERIES = (
    "q_scan_part_pruned",  # sources.scans
    "q_join_hash", "q_join_semi",  # operators.joins
    "q_agg_cube",  # operators.aggregates
    "q_rank_family",  # operators.windows
    "q_union_distinct",  # operators.setops
    "q_pipe_syntax",  # operators.sql_surface
    "q_filter_range",  # operators.filters
    "q_date_funcs",  # functions.scalar
    "q_tumbling_window", "q_stream_tumbling",  # streaming.event_windows
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files(root: str, suffix: str = ".parquet") -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(suffix)
    ]


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _files(root, ""))


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _files(path))


def hash_embed(texts, dim: int, mult: int, p: int) -> np.ndarray:
    """numpy twin of the package's deterministic embedder: polynomial
    char-fold hash per space-separated token, bucket histogram, L2
    normalisation, rounded to 6 places."""
    out = np.zeros((len(texts), dim))
    for i, text in enumerate(texts):
        for tok in text.split(" "):
            if tok:
                h = 0
                for ch in tok:
                    h = (h * mult + ord(ch)) % p
                out[i, h % dim] += 1.0
    norm = np.linalg.norm(out, axis=1, keepdims=True)
    return np.round(np.divide(out, norm, out=np.zeros_like(out), where=norm > 0), 6)


def check_topk(label, got, exact, k, problems, tol=1e-5) -> None:
    """``got``: {qid: [(rank, doc_id, score)]}; ``exact``: {qid: {doc_id:
    score}}. Each returned score must be the exact score of its doc, ranks
    must run 1..k in score order, and no unreturned doc may beat the
    lowest returned score (ties may break either way within ``tol``)."""
    for qid, scores in exact.items():
        rows = sorted(got.get(qid, []))
        want = min(k, len(scores))
        if len(rows) != want or [r[0] for r in rows] != list(range(1, want + 1)):
            problems.append(f"{label} q{qid}: ranks {[r[0] for r in rows]}, want 1..{want}")
            continue
        for _, doc, score in rows:
            if doc not in scores or abs(scores[doc] - score) > tol:
                problems.append(f"{label} q{qid}: doc {doc} score {score} != {scores.get(doc)}")
        got_scores = [r[2] for r in rows]
        if any(a < b - tol for a, b in zip(got_scores, got_scores[1:])):
            problems.append(f"{label} q{qid}: scores not descending {got_scores}")
        kth = sorted(scores.values(), reverse=True)[want - 1]
        if got_scores and got_scores[-1] < kth - tol:
            problems.append(f"{label} q{qid}: missed a doc scoring {kth}")


def _norm_cell(v):
    import datetime

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def result_digest(cols, rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) over columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    return len(rows), hashlib.sha1("\n".join(norm).encode()).hexdigest()


class Workload:
    name = ""
    round_ops = 1  # a run measures whole rounds of this many ops
    # At least two rounds, so a round that outlasts the window on a busy
    # machine does not halve the samples of each kind of op.
    min_rounds = 2
    stream_layer: str | None = None

    def __init__(self, rng: np.random.Generator, work: str) -> None:
        self.rng = rng
        self.work = work
        self.problems: list[str] = []
        self._n = 0

    def _dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{self.name}-{tag}-{self._n}")

    def prepare(self) -> None:
        """Seeded inputs needed before the first session starts."""

    def warmup(self, spark, run_op) -> None:
        """Untimed work before the measured ops: builds the workload
        serves from, and ops that warm the JVM. ``run_op(arg)`` runs one op
        with failure accounting and returns its output."""

    def before(self, spark, i: int):
        return None

    def op(self, spark, tr, arg):
        raise NotImplementedError

    def after(self, spark, tr, arg, out) -> None:
        pass

    def finish(self, spark) -> None:
        """Checks that run once, after the measured ops."""


class Ingest(Workload):
    """The document write path on a fresh corpus per op: extract, chunk,
    embed the chunks and build the flat index; then the IVF write side on
    that index: scaled build, first publish, and one append / delete /
    compact round."""

    name = "ingest"
    min_rounds = 1  # one op already outlasts the window

    def before(self, spark, i, n_docs: int = INGEST_DOCS):
        d = gen.write_corpus(self._dir("corpus"), self.rng, n_docs)
        victims = sorted(
            int(v)
            for v in self.rng.choice(
                n_docs, size=max(1, int(n_docs * INGEST_VICTIM_SHARE)), replace=False
            )
        )
        vdf = spark.createDataFrame([(v,) for v in victims], "doc_id long")
        return d, n_docs, victims, vdf

    def warmup(self, spark, run_op):
        run_op(self.before(spark, 0, n_docs=INGEST_WARMUP_DOCS))

    def op(self, spark, tr, arg):
        from document_query_system_spark import api
        from document_query_system_spark.functions.embed import embed_pandas
        from document_query_system_spark.operators import pipeline
        from document_query_system_spark.operators.textpipe import sliding_chunks
        from document_query_system_spark.sources.extraction import q_extract_text

        d, n_docs, _victims, vdf = arg
        chunks = os.path.join(d, "chunks")
        vectors = os.path.join(d, "chunk_vectors")
        with tr.span("extract", "build"):
            df = q_extract_text(spark, d)
        with tr.span("extract", "run"):
            _noop(df)
        with tr.span("chunk", "build"):
            df = sliding_chunks(spark, d)
        with tr.span("chunk", "run"):
            df.write.mode("overwrite").parquet(chunks)
        with tr.span("embed", "build"):
            df = embed_pandas(
                spark.read.parquet(chunks), "content", out_col="cv",
                keep=["doc_id", "chunk_id"],
            )
        with tr.span("embed", "run"):
            df.write.mode("overwrite").parquet(vectors)
        with tr.span("index.flat"):
            index = api.ensure_vector_index(spark, d)
        with tr.span("index.ivf_build"):
            layout, _cents, cells = api.ensure_vector_index_ivf_scaled(spark, d)
        with tr.span("index.publish"):
            tick = api.maintain_ivf_index(spark, d)
        with tr.span("index.append"):
            applied = pipeline.append_ivf_delta(spark, d, scaled=True)
        files_after_append = len(_files(applied))
        with tr.span("index.delete"):
            deleted = pipeline.delete_from_ivf(spark, applied, vdf)
        with tr.span("index.compact"):
            compacted = pipeline.compact_ivf_cells(spark, applied, max_files_per_cell=1)
        return n_docs, (
            index, cells, layout, tick, applied, files_after_append, deleted, compacted
        )

    def after(self, spark, tr, arg, out):
        d, n_docs, victims, _ = arg
        index, cells, layout, tick, applied, files_after_append, deleted, compacted = out
        self.last = d, index
        n_chunks = _rows(os.path.join(d, "chunks"))
        n_vectors = _rows(os.path.join(d, "chunk_vectors"))
        n_index = _rows(index)
        if n_vectors != n_chunks or n_index != n_docs:
            self.problems.append(
                f"ingest: {n_chunks} chunks, {n_vectors} chunk vectors, "
                f"{n_index} index rows for {n_docs} docs"
            )
        if tick.get("action") != "publish":
            self.problems.append(f"ingest: first tick was {tick.get('action')!r}, not publish")
        con = duckdb.connect()
        try:
            rows, docs, n_cells, hit = con.execute(
                f"""SELECT count(*), count(DISTINCT doc_id), count(DISTINCT cell),
                           count(*) FILTER (WHERE list_contains(?, doc_id))
                    FROM read_parquet('{applied}/*/*.parquet', hive_partitioning = true)""",
                [victims],
            ).fetchone()
        finally:
            con.close()
        # append_ivf_delta replays docs with doc_id % 13 == 0 as the delta batch.
        delta = sum(1 for i in range(n_docs) if i % 13 == 0)
        base = n_docs - delta
        want = base + delta - len(victims)
        if rows != want or docs != rows or hit != 0 or n_cells > cells:
            self.problems.append(
                f"ingest: IVF layout has {rows} rows / {docs} distinct docs / {hit} "
                f"victims in {n_cells} cells; want {want} rows, each doc in one of "
                f"{cells} cells"
            )
        ls = tr.layers
        tr.record("extract", "rows_per_s", n_docs / ls["extract"].wall["run"][-1])
        tr.record("chunk", "chunks_per_doc", n_chunks / n_docs)
        tr.record("embed", "rows_per_s", n_chunks / ls["embed"].wall["run"][-1])
        tr.record("index.flat", "bytes_written", _dir_bytes(index))
        tr.record("index.ivf_build", "cells", cells)
        tr.record("index.ivf_build", "files_written", len(_files(layout)))
        tr.record("index.append", "files_per_cell", files_after_append / cells)
        tr.record("index.delete", "cells_rewritten_frac", len(deleted) / cells)
        tr.record("index.compact", "cells_rewritten_frac", len(compacted) / cells)

    def finish(self, spark):
        """The extraction and chunking oracles, and the stored document
        vectors, on the last corpus."""
        from document_query_system_spark import registry
        from document_query_system_spark.functions.embed import DIM
        from document_query_system_spark.functions.hashing import MULT, P

        if not hasattr(self, "last"):
            return
        d, index = self.last
        specs = registry.all_specs()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(d, 'documents.parquet')}')"
            )
            for name in ("q_extract_text", "q_sliding_chunks"):
                df = specs[name].fn(spark, d)
                got = result_digest(df.columns, [tuple(r) for r in df.collect()])
                res = con.execute(specs[name].oracle)
                want = result_digest([c[0] for c in res.description], res.fetchall())
                if got != want:
                    self.problems.append(f"ingest: {name} {got} != oracle {want}")
        finally:
            con.close()
        docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
        idx = pq.read_table(index).to_pandas().set_index("doc_id").loc[docs.doc_id]
        want = hash_embed(list(docs.text), DIM, MULT, P)
        if not np.allclose(np.stack(idx.dv.to_numpy()), want, atol=1e-6):
            self.problems.append("ingest: stored document vectors differ from numpy embedder")


class QA(Workload):
    """Question batches against a prebuilt index: vector, keyword, then
    IVF serving through the published manifest, in rotation."""

    name = "qa"
    round_ops = 3
    KINDS = ("vector", "keyword", "ivf")

    def prepare(self):
        self.docs = gen.documents(self.rng, QA_DOCS)
        self.d = os.path.join(self.work, "qa-corpus")
        os.makedirs(self.d)
        pq.write_table(self.docs, os.path.join(self.d, "documents.parquet"))
        self.answers: list[tuple] = []
        self._qid = 0

    def warmup(self, spark, run_op):
        """Build the flat and scaled IVF indexes, publish v1, then serve
        one round."""
        from document_query_system_spark import api
        from document_query_system_spark.operators.pipeline import PUBLISHED_PROFILE

        api.ensure_vector_index(spark, self.d)
        api.ensure_vector_index_ivf_scaled(spark, self.d)
        self.published = api.maintain_ivf_index(spark, self.d, profile=PUBLISHED_PROFILE)
        for i in range(len(self.KINDS)):
            run_op(self.before(spark, i))

    def before(self, spark, i):
        kind = self.KINDS[i % 3]
        if kind == "ivf":
            return kind, None
        qs = gen.questions(self.rng, QA_BATCH, first_id=self._qid + 1)
        self._qid += QA_BATCH
        return kind, qs

    def op(self, spark, tr, arg):
        from document_query_system_spark import api
        from document_query_system_spark.operators import pipeline

        kind, qs = arg
        if kind == "ivf":
            with tr.span("serve.ivf_tick"):
                api.maintain_ivf_index(spark, self.d, profile=pipeline.PUBLISHED_PROFILE)
            with tr.span("serve.ivf_probe", "build"):
                df = pipeline.published_ivf_topk(spark, self.d, tick=False)
            with tr.span("serve.ivf_probe", "run"):
                rows = df.collect()
            from document_query_system_spark.operators.questions import GOLDEN_QUESTIONS

            return len(GOLDEN_QUESTIONS), rows
        layer = "serve.flat" if kind == "vector" else "serve.keyword"
        with tr.span(layer, "build"):
            df = api.run_query(spark, self.d, qs, method=kind)
        with tr.span(layer, "run"):
            rows = df.collect()
        return len(qs), rows

    def after(self, spark, tr, arg, rows):
        kind, qs = arg
        self.answers.append((kind, qs, rows))
        n = len(rows) or 1
        if kind == "ivf":
            tr.record("serve.ivf_probe", "index_rows", QA_DOCS)
        else:
            tr.record("serve.flat" if kind == "vector" else "serve.keyword", "answer_rows", n)

    def finish(self, spark):
        """Recompute every answered batch with numpy."""
        from document_query_system_spark.functions.embed import DIM
        from document_query_system_spark.functions.hashing import MULT, P
        from document_query_system_spark.operators.pipeline import _PUBLISHED_TOPK
        from document_query_system_spark.operators.questions import GOLDEN_QUESTIONS, TOP_K

        ids = self.docs.column("doc_id").to_numpy()
        texts = self.docs.column("text").to_pylist()
        lowered = [t.lower() for t in texts]
        dv = hash_embed(texts, DIM, MULT, P)

        def exact_vector(qs):
            qv = hash_embed([t for _, t in qs], DIM, MULT, P)
            s = np.round(qv @ dv.T, 6)
            return {qid: dict(zip(ids.tolist(), s[j].tolist())) for j, (qid, _) in enumerate(qs)}

        def exact_keyword(qs):
            out = {}
            for qid, text in qs:
                words = text.lower().split(" ")
                out[qid] = {
                    int(doc): round(sum(w in t for w in words) / len(words), 6)
                    for doc, t in zip(ids, lowered)
                }
            return out

        golden = exact_vector(GOLDEN_QUESTIONS)
        version, cells = self.published["version"], self.published["cells"]
        for kind, qs, rows in self.answers:
            if kind == "ivf":
                bad = [r for r in rows if (r.version, r.cells) != (version, cells)]
                if bad:
                    self.problems.append(f"qa ivf: served {bad[0]} not v{version}/{cells} cells")
                got: dict = {}
                for r in rows:
                    got.setdefault(r.question_id, []).append((r.rank, r.doc_id, r.score))
                for qid, rs in got.items():
                    rs.sort()
                    if [r[0] for r in rs] != list(range(1, len(rs) + 1)) or len(rs) > _PUBLISHED_TOPK:
                        self.problems.append(f"qa ivf q{qid}: ranks {[r[0] for r in rs]}")
                    for _, doc, score in rs:
                        if abs(golden[qid][doc] - score) > 1e-5:
                            self.problems.append(f"qa ivf q{qid}: doc {doc} score {score}")
                continue
            got = {}
            for r in rows:
                got.setdefault(r.question_id, []).append((r.rank, r.doc_id, r.score))
            exact = exact_vector(qs) if kind == "vector" else exact_keyword(qs)
            check_topk(f"qa {kind}", got, exact, TOP_K, self.problems)


class Analytics(Workload):
    """One registered relational or streaming query per op, forced with
    the noop writer. The first warm-up round collects each query instead
    and checks it against its DuckDB oracle."""

    name = "analytics"
    round_ops = len(ANALYTICS_QUERIES)
    stream_layer = "relational"

    def prepare(self):
        self.d = gen.write_tables(
            os.path.join(self.work, "tables"), gen.relational_tables(self.rng, ANALYTICS_SF)
        )
        self.order = [ANALYTICS_QUERIES[i] for i in self.rng.permutation(len(ANALYTICS_QUERIES))]

    def before(self, spark, i, collect: bool = False):
        return self.order[i % len(self.order)], collect

    def op(self, spark, tr, arg):
        from document_query_system_spark import registry

        name, collect = arg
        fn = registry.all_specs()[name].fn
        with tr.span("relational", "build"):
            df = fn(spark, self.d)
        with tr.span("relational", "run"):
            if collect:
                return 1, result_digest(df.columns, [tuple(r) for r in df.collect()])
            _noop(df)
        return 1, name

    def warmup(self, spark, run_op):
        from document_query_system_spark import registry
        from document_query_system_spark.sources.tables import TABLES

        specs = registry.all_specs()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.d, t + '.parquet')}')"
                )
            for i in range(len(self.order)):
                name, _ = arg = self.before(spark, i, collect=True)
                got = run_op(arg)
                if got is None:
                    continue
                res = con.execute(specs[name].oracle)
                want = result_digest([c[0] for c in res.description], res.fetchall())
                if got != want:
                    self.problems.append(f"analytics: {name} {got} != oracle {want}")
        finally:
            con.close()
        # A second, uncollected round: JIT keeps speeding queries up for a
        # round or two, and the measured rounds should not depend on how
        # many of them fit in the window.
        for i in range(len(self.order)):
            run_op(self.before(spark, i))


WORKLOADS = {w.name: w for w in (Ingest, QA, Analytics)}

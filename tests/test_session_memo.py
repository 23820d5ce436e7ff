"""The session memo (``tmputil.ensure_materialized``): every derived
artifact is built once per session. A second call of any memoized
builder returns an equal result and starts no Spark job; a build that
raises records nothing; the paths among the recorded results are the
live set index retention must keep."""

from __future__ import annotations

import pytest

from conftest import SF_DIR, count_jobs

from document_query_system_spark.sources import tmputil
from document_query_system_spark.sources.tmputil import (
    ensure_materialized,
    live_paths,
)


def _anchor_count(spark, sf_dir):
    """triplet_pool_auto's recorded routing count for the fixture
    anchors."""
    from document_query_system_spark.functions import vector

    vector.triplet_pool_auto(spark, sf_dir)
    key = tmputil.session_key(spark, "triplet_anchor_count", sf_dir)
    return tmputil._MATERIALIZED[key]


def _ivf_fold(spark, sf_dir, table, scaled):
    """The IVF probe fold for a table's standard query set: the golden
    questions for documents, the mining anchors for embeddings."""
    from document_query_system_spark.functions import vector
    from document_query_system_spark.operators import ivf, retrieval

    _, cents, _ = ivf.ensure_ivf(spark, sf_dir, table, scaled)
    if table == "documents":
        nprobe = ivf.IVF_NPROBE
        queries = lambda: retrieval.golden_probe_queries(spark)  # noqa: E731
    else:
        nprobe = vector._TRIPLET_NPROBE
        queries = lambda: vector._triplet_anchors(spark, sf_dir)  # noqa: E731
    return retrieval.ivf_probe_fold(spark, sf_dir, table, cents, nprobe, queries)


def _memo_builders():
    """name -> fn(spark, sf_dir) for every builder routed through the
    memo."""
    from document_query_system_spark import api
    from document_query_system_spark.operators import ivf
    from document_query_system_spark.sources import (
        extraction,
        http_ingest,
        layout,
        scans,
        sinks,
    )

    out = {
        "vector_index": api.ensure_vector_index,
        "vector_index_lsh": api.ensure_vector_index_lsh,
        "bm25_index": api.ensure_bm25_index,
        "tfidf_index": api.ensure_tfidf_index,
        "tfidf_by_doc": api.ensure_tfidf_by_doc,
        "coorder_edges": api.ensure_coorder_edges,
        "keyword_table": api.ensure_keyword_table,
        "fragmented": layout._ensure_fragmented_docs,
        "compacted": layout.ensure_compacted_docs,
        "zorder": layout.ensure_zordered_lineitem,
        "evolved": scans._ensure_evolved_customer,
        "malformed_csv": scans._ensure_malformed_csv,
        "landing": extraction._ensure_landing_dir,
        "http_landing": http_ingest._ensure_http_landing,
        "bucketed": sinks._ensure_bucketed_tables,
        "partitioned": sinks._ensure_partitioned_docs,
        "ivf_probe": lambda s, d: _ivf_fold(s, d, "documents", False),
        "ivf_probe_scaled": lambda s, d: _ivf_fold(s, d, "documents", True),
        "emb_ivf_probe": lambda s, d: _ivf_fold(s, d, "embeddings", False),
        "triplet_anchor_count": _anchor_count,
    }
    for table in ("documents", "embeddings"):
        for scaled in (False, True):
            out[f"ivf_{table}{'_scaled' if scaled else ''}"] = (
                lambda s, d, t=table, sc=scaled: ivf.ensure_ivf(s, d, t, sc)
            )
    for fmt in ("csv", "json", "orc", "xml"):
        out[f"format_{fmt}"] = (
            lambda s, d, f=fmt: scans._ensure_format_dir(s, d, f)
        )
    return out


@pytest.mark.parametrize("name", sorted(_memo_builders()))
def test_second_call_is_a_memo_hit(spark, name):
    build = _memo_builders()[name]
    first = build(spark, SF_DIR)
    again, jobs = count_jobs(spark, lambda: build(spark, SF_DIR))
    assert again == first
    assert jobs == 0, f"a repeated {name} call started {jobs} Spark job(s)"


def test_failed_build_records_nothing(spark):
    calls = []

    def build():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return "built"

    with pytest.raises(RuntimeError):
        ensure_materialized(spark, "t_memo_fail", "/nowhere", build)
    assert ensure_materialized(spark, "t_memo_fail", "/nowhere", build) == "built"
    assert ensure_materialized(spark, "t_memo_fail", "/nowhere", build) == "built"
    assert len(calls) == 2
    tmputil._MATERIALIZED.pop(
        tmputil.session_key(spark, "t_memo_fail", "/nowhere"), None
    )


def test_live_paths_are_the_recorded_strings(spark):
    ensure_materialized(spark, "t_memo_live", "/a", lambda: "/p/one")
    ensure_materialized(
        spark, "t_memo_live", "/b", lambda: ("/p/two", "/p/three", 7)
    )
    ensure_materialized(spark, "t_memo_live", "/c", lambda: ([("/not/a/path",)], [1]))
    ensure_materialized(spark, "t_memo_live", "/d", lambda: None)
    live = live_paths()
    assert {"/p/one", "/p/two", "/p/three"} <= live
    assert "/not/a/path" not in live
    for d in ("/a", "/b", "/c", "/d"):
        tmputil._MATERIALIZED.pop(
            tmputil.session_key(spark, "t_memo_live", d), None
        )

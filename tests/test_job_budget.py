"""Serving job budget: on a warm session a question batch runs only the
jobs of its own plan.

Building a served plan (``run_query`` vector and keyword,
``published_ivf_topk(tick=False)``) starts no Spark job: the stored
tables are read with their recorded schemas (no inference job) and the
question side is a LocalRelation. A maintenance tick without a batch
takes the index size from the Parquet footers, so it starts no job
either. A served call, built and collected, runs at most three: the
broadcast, the scoring map stage and the top-k result stage.

Jobs are counted per call with ``setJobGroup`` and ``statusTracker``
(``conftest.count_jobs``)."""

from __future__ import annotations

import pytest

from conftest import SF_DIR, count_jobs

#: Own manifest namespace, so the tick never touches the registered
#: row's profile.
_PROFILE = "t_job_budget"


def _builders(spark):
    from document_query_system_spark import api
    from document_query_system_spark.operators.pipeline import published_ivf_topk

    return {
        "vector": lambda: api.run_query(spark, SF_DIR, method="vector"),
        "keyword": lambda: api.run_query(spark, SF_DIR, method="keyword"),
        "ivf": lambda: published_ivf_topk(
            spark, SF_DIR, profile=_PROFILE, tick=False
        ),
    }


@pytest.fixture(scope="module")
def warm(spark):
    """One served round first, so every artifact is built, its schema
    recorded and the IVF probe literals folded."""
    from document_query_system_spark.operators.ivf import maintain_ivf_index

    maintain_ivf_index(spark, SF_DIR, profile=_PROFILE)
    for build in _builders(spark).values():
        build().collect()
    return spark


@pytest.mark.parametrize("kind", ["vector", "keyword", "ivf"])
def test_building_a_served_plan_starts_no_job(warm, kind):
    _, n = count_jobs(warm, _builders(warm)[kind])
    assert n == 0, f"building the {kind} plan started {n} Spark job(s)"


def test_maintenance_tick_without_batch_starts_no_job(warm):
    from document_query_system_spark.operators.ivf import maintain_ivf_index

    out, n = count_jobs(
        warm, lambda: maintain_ivf_index(warm, SF_DIR, profile=_PROFILE)
    )
    assert out["action"] == "append", out
    assert n == 0, f"the tick started {n} Spark job(s)"


@pytest.mark.parametrize("kind", ["vector", "keyword", "ivf"])
def test_a_served_call_runs_at_most_three_jobs(warm, kind):
    """Build and collect together: the broadcast, the scoring map stage
    and the top-k result stage, nothing else."""
    build = _builders(warm)[kind]
    rows, n = count_jobs(warm, lambda: build().collect())
    assert rows
    assert n <= 3, f"building and collecting the {kind} plan ran {n} Spark jobs"

"""Three-scale preflight for the staged (unregistered) r15 pairs.

Every r15 registration candidate already has a pytest parity pin at
the gate scale (tests/test_layout.py); this tool re-runs each
engine-vs-DuckDB pair at sf0.001/0.01/0.1 in ONE command — the audit
the ad-hoc preflight snippets in BENCH_NOTES r14 ran by hand — so the
r15 registration session can re-earn the MATCH×3 claim on its opening
tree with zero setup. Exit code 1 on any mismatch.

Run: python tools/preflight_staged.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from document_query_system_spark.session import get_spark  # noqa: E402
from document_query_system_spark.sources.tables import TABLES  # noqa: E402


def pairs():
    """(name, engine_fn, oracle_sql) for each staged candidate —
    the same pairings as their tests in tests/test_layout.py."""
    from document_query_system_spark.operators.pipeline import (
        published_ivf_topk,
        _published_topk_oracle,
    )
    from document_query_system_spark.operators.ivf import (
        incremental_ivf,
        incremental_ivf_oracle,
        ivf_cell_psi,
        ivf_cell_psi_oracle,
        ivf_layout_stats,
        ivf_layout_stats_oracle,
        stream_ivf_maintenance,
    )

    return [
        (
            "q_incremental_ivf_scaled",
            lambda spark, sf: incremental_ivf(spark, sf, scaled=True),
            incremental_ivf_oracle(scaled=True),
        ),
        ("q_ivf_layout_stats", ivf_layout_stats, ivf_layout_stats_oracle()),
        ("q_ivf_cell_psi", ivf_cell_psi, ivf_cell_psi_oracle()),
        (
            "q_stream_ivf_maintenance",
            stream_ivf_maintenance,
            incremental_ivf_oracle(scaled=True),
        ),
        (
            "q_vector_topk_published",
            published_ivf_topk,
            _published_topk_oracle(),
        ),
    ]


def main() -> None:
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark(app_name="dqs-preflight-staged")
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    for sf in dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        for name, fn, sql in pairs():
            got = sorted(
                tuple(
                    round(v, 6) if isinstance(v, float) else v for v in r
                )
                for r in fn(spark, sf).collect()
            )
            want = sorted(
                tuple(
                    round(v, 6) if isinstance(v, float) else v for v in r
                )
                for r in con.execute(sql).fetchall()
            )
            ok = got == want
            failed += not ok
            print(f"{sf} {name:28s} {'MATCH' if ok else 'MISMATCH'} "
                  f"({len(got)} rows)")
        con.close()
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

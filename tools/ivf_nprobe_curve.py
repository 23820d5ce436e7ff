"""Recall-vs-nprobe curve at the corpus-adaptive IVF geometry (r12):
the quantitative backing for the sizing story's second knob. cells =
ivf_cells_for(N) bounds the per-probe read (~sqrt(N) vectors/cell);
nprobe is then the recall knob tuned against the product's recall bar
— this tool measures pool recall@20 per nprobe so the trade is a
CURVE, not an assertion. Uses the engine's own probe/pool path
(mmr_ivf_pool_pairs(scaled=True, nprobe=k) — the same arithmetic the
registered q_ivf_recall_scaled oracle checks at the default depth),
so there is no third probe implementation to keep in parity.

Run: python tools/ivf_nprobe_curve.py [sf_dir ...] [--nprobe 5,8,12,16]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_query_system_spark.session import get_spark  # noqa: E402


def report(spark, sf_dir: str, depths: list[int]) -> dict:
    from document_query_system_spark.operators.ivf import ensure_ivf
    from document_query_system_spark.operators.pipeline import (
        _MMR_POOL,
        exact_pool_topn,
        mmr_ivf_pool_pairs,
    )

    _, _, cells = ensure_ivf(spark, sf_dir, "documents", True)
    exact = {}
    for r in exact_pool_topn(spark, sf_dir, _MMR_POOL).collect():
        exact.setdefault(r.question_id, set()).add(r.doc_id)
    if not exact:
        # No questions collide with this corpus slice — recall is
        # undefined, not zero (r12 ADVICE: the mean below would
        # divide by an empty list).
        return {"sf_dir": sf_dir, "cells": cells, "curve": {}, "note": "empty exact pool"}
    curve = {}
    for k in depths:
        pools: dict = {}
        rows = mmr_ivf_pool_pairs(
            spark, sf_dir, scaled=True, nprobe=k
        ).collect()
        for r in rows:
            pools.setdefault(r.question_id, set()).add(r.doc_id)
        rec = [
            len(exact[q] & pools.get(q, set())) / len(exact[q])
            for q in sorted(exact)
        ]
        curve[k] = {
            "probe_fraction": round(k / cells, 3),
            "mean_pool_recall": round(sum(rec) / len(rec), 3),
            "min_pool_recall": round(min(rec), 3),
        }
    return {"sf_dir": sf_dir, "cells": cells, "curve": curve}


def main() -> None:
    depths = [5, 8, 12, 16]
    dirs = []
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i].startswith("--nprobe"):
            if "=" in args[i]:
                val, step = args[i].split("=", 1)[1], 1
            elif i + 1 < len(args):
                val, step = args[i + 1], 2
            else:  # trailing space-form flag with no value (r12 ADVICE)
                sys.exit("--nprobe requires a value (e.g. --nprobe 5,8,12)")
            depths = [int(x) for x in val.split(",")]
            i += step
        else:
            dirs.append(args[i])
            i += 1
    dirs = dirs or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_spark(app_name="ivf-nprobe-curve")
    spark.sparkContext.setLogLevel("ERROR")
    for d in dirs:
        print(report(spark, d, depths))
    spark.stop()


if __name__ == "__main__":
    main()

"""Pins for the IVF geometry rules (no Spark session needed): the
corpus-adaptive cell count (ivf.ivf_cells_for — the rule BOTH engines
derive independently, so its Python form must stay exactly
max(16, ceil(sqrt(N)))) and the serving/mining probe-depth ratio the
scaled constants encode."""

from __future__ import annotations

import math

from document_query_system_spark.operators.ivf import (
    IVF_CELLS,
    IVF_NPROBE,
    IVF_NPROBE_SCALED,
    ivf_cells_for,
)
from document_query_system_spark.functions.vector import (
    _TRIPLET_NPROBE,
    _TRIPLET_NPROBE_SCALED,
)


def test_ivf_cells_floor_and_sqrt():
    # Floor: every corpus up to 16² trains the IVF_CELLS minimum.
    assert ivf_cells_for(0) == IVF_CELLS
    assert ivf_cells_for(1) == IVF_CELLS
    assert ivf_cells_for(256) == IVF_CELLS
    # Just past the floor the ceil(sqrt) rule takes over.
    assert ivf_cells_for(257) == 17
    # The driver-table geometries quoted everywhere (SCALE.md,
    # q_ivf_recall_scaled): N=500 → 23, N=2000 → 45, N=5000 → 71.
    assert ivf_cells_for(500) == 23
    assert ivf_cells_for(2000) == 45
    assert ivf_cells_for(5000) == 71
    # Perfect squares are exact (no ceil drift): 71² = 5041.
    assert ivf_cells_for(5041) == 71
    assert ivf_cells_for(5042) == 72


def test_ivf_cells_monotone_and_sublinear():
    prev = 0
    for n in range(0, 20_000, 137):
        c = ivf_cells_for(n)
        assert c >= prev  # monotone in corpus size
        prev = c
        # per-cell population stays ~sqrt(N): N/cells <= sqrt(N)+1
        if n > 256:
            assert n / c <= math.sqrt(n) + 1


def test_scaled_probe_depths_keep_mining_serving_ratio():
    # Serving calibration: nprobe=16 is the first measured point
    # meeting the 0.90 recall bar (tools/ivf_nprobe_curve.py) and must
    # stay deeper than the fixed-geometry default.
    assert IVF_NPROBE_SCALED > IVF_NPROBE
    # Mining probes deeper than serving at BOTH geometries, with the
    # fixed-geometry ratio (8/5) carried to the scaled one:
    # ceil(16 * 8 / 5) = 26.
    assert _TRIPLET_NPROBE > IVF_NPROBE
    assert _TRIPLET_NPROBE_SCALED > IVF_NPROBE_SCALED
    assert _TRIPLET_NPROBE_SCALED == math.ceil(
        IVF_NPROBE_SCALED * _TRIPLET_NPROBE / IVF_NPROBE
    )

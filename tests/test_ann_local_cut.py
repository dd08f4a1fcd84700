"""The per-batch local top-k cut of the PQ / IVF-PQ scans ranks on the
same ``(adc_sim desc, neighbor_id)`` floats as the global window, and
the IVF-PQ probe masks come from one table lookup, not a per-row loop."""

from __future__ import annotations

import pathlib

import numpy as np

import sketchlib.ann as ann


def test_local_cut_ties_on_rounded_adc_sim_keep_smaller_id():
    # both distances round to adc_sim == 1.0: a tie the global window
    # breaks on id, so id 1 stays (a cut on raw dist2 keeps id 2)
    rm = np.array([2e-17, 1e-17])
    ids = np.array([1, 2], dtype=np.int64)
    assert (1.0 - rm / 2.0 == 1.0).all()
    nb, sim = ann._local_cut(rm, ids, 1)
    assert nb.tolist() == [1]
    assert sim.tolist() == [1.0]


def test_local_cut_orders_by_sim_then_id():
    rm = np.array([0.5, 0.1, 0.5, 0.3])
    ids = np.array([9, 4, 2, 7], dtype=np.int64)
    nb, sim = ann._local_cut(rm, ids, 3)
    assert nb.tolist() == [4, 7, 2]
    np.testing.assert_array_equal(sim, 1.0 - np.array([0.1, 0.3, 0.5]) / 2)


def test_ivfpq_probe_mask_has_no_per_row_loop():
    src = pathlib.Path(ann.__file__).read_text()
    assert "np.fromiter(" not in src

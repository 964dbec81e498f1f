"""Golden-parity tests for the driver-side planners.

The expected arrays are the reference's own pinned golden values
(reference test/test_helpers.py:6-11) — they pin meters→pixels rounding
semantics including banker's rounding.
"""

import numpy as np

from topo_descriptors_spark.functions import planner


def test_round_up_to_odd_goldens():
    inputs = np.arange(0.1, 10, 0.7)
    out = planner.round_up_to_odd(inputs)
    expected = [1, 1, 1, 3, 3, 3, 5, 5, 5, 7, 7, 7, 9, 9, 9]
    assert out.dtype == np.int64
    assert out.tolist() == expected


def test_round_up_to_odd_scalar():
    # banker's rounding: (10-1)/2 = 4.5 rounds half-to-even -> 4 -> 9
    assert planner.round_up_to_odd(10.0).tolist() == 9
    assert planner.round_up_to_odd(10.2).tolist() == 11


def test_frame_half_width():
    # 50 m grid: 150 m -> 3 px (k=1), 450 m -> 9 px (k=4)
    assert planner.round_up_to_odd(np.array([150, 450]) / 50.0).tolist() == [3, 9]
    assert [planner.frame_half_width(d) for d in (3, 9)] == [1, 4]


def test_grid_resolution_uniform():
    res = planner.grid_resolution(np.arange(0, 500, 50.0))
    assert np.allclose(res, 50.0)


def test_grid_resolution_irregular_edges():
    c = np.array([0.0, 1.0, 3.0, 6.0])
    res = planner.grid_resolution(c)
    # one-sided at edges, central in the interior (np.gradient semantics)
    assert np.allclose(res, [1.0, 1.5, 2.5, 3.0])


def test_get_sigmas():
    # factor None/0 -> None; else factor*scale/4 (reference conf:5)
    out = planner.get_sigmas([None, 0, 1, 0.5], [9, 9, 9, 8])
    assert out[0] is None and out[1] is None
    assert np.isclose(out[2], 9 / 4)
    assert np.isclose(out[3], 1.0)


def test_gaussian_weights_normalized():
    w = planner.gaussian_weights(2.0)
    assert len(w) == 2 * int(4 * 2.0 + 0.5) + 1
    assert np.isclose(w.sum(), 1.0)
    assert np.argmax(w) == len(w) // 2
    # symmetric
    assert np.allclose(w, w[::-1])

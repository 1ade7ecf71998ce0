"""_top3_stable must equal the stable full argsort it replaced.

The ann scoring kernel's top-3 selection moved from
``np.argsort(-S, kind="stable")[:, :3]`` (O(M log M), 75-80% of the
kernel) to an argpartition-based O(M) selection.  Ties are the only
way the two can differ — argpartition is order-arbitrary among equal
values — so this test hammers tie layouts: ties inside the top-3,
ties straddling the top-3 boundary, whole rows of one constant, and
random matrices with heavy value duplication.
"""

from __future__ import annotations

import numpy as np

from antidote_data_framework_spark.ml.als import _top3_stable


def _ref(S: np.ndarray) -> np.ndarray:
    return np.argsort(-S, axis=1, kind="stable")[:, :3]


def test_adversarial_tie_layouts():
    cases = [
        # tie inside the top-3
        [[5.0, 5.0, 1.0, 0.0]],
        # tie straddling the boundary: 3rd and 4th equal
        [[9.0, 8.0, 7.0, 7.0, 1.0]],
        # 4-way tie across the boundary
        [[3.0, 2.0, 2.0, 2.0, 2.0]],
        # everything equal
        [[1.0, 1.0, 1.0, 1.0, 1.0, 1.0]],
        # strictly-greater count 0, 1, 2 against a tie plateau
        [[2.0, 2.0, 2.0, 2.0]],
        [[4.0, 2.0, 2.0, 2.0]],
        [[4.0, 3.0, 2.0, 2.0, 2.0]],
        # negative values and zeros
        [[-1.0, 0.0, -1.0, 0.0, -2.0]],
        # boundary value also appears before higher values
        [[7.0, 9.0, 7.0, 8.0, 7.0, 7.0]],
    ]
    for case in cases:
        S = np.array(case, dtype=np.float64)
        got, want = _top3_stable(S), _ref(S)
        assert (got == want).all(), (case, got.tolist(), want.tolist())


def test_random_heavy_duplication():
    rng = np.random.default_rng(42)
    for m in (4, 5, 16, 257):
        # draw from a tiny value set so ties are everywhere
        S = rng.integers(0, 4, size=(64, m)).astype(np.float64)
        assert (_top3_stable(S) == _ref(S)).all()
        # and dense floats (no ties) for the common path
        S = rng.standard_normal((64, m))
        assert (_top3_stable(S) == _ref(S)).all()


def test_ann_scratch_holds_one_buffer():
    """A long-lived worker keeps at most ONE 2048 x M score buffer: a
    new M replaces the old buffer instead of adding a second one."""
    import weakref

    from antidote_data_framework_spark.ml import als

    old = weakref.ref(als._ann_scratch(5))
    buf = als._ann_scratch(7)
    assert buf.shape == (2048, 7)
    assert als._ann_scratch(7) is buf, "same M must reuse the buffer"
    assert old() is None, "the M=5 buffer must be released when M changes"

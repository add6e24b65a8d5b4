"""r11 optimization guard: the vectorized per-row top-k kernel helper
(`similarity._topk_rows`) must be BIT-IDENTICAL to the per-row
``np.lexsort`` loop it replaced inside the GEMM/ADC kernels
(_cogroup_topk, _cogroup_adc_topk and the block-tiled
_tile_topk emit behind ann_topk_bruteforce and hard_negatives).

The adversarial surface is 6dp rounding boundaries: selection runs on
RAW values with a 1e-6 margin and re-ranks the survivors on ROUNDED
values, so the fuzz plants values exactly on/next to rounding grid
edges and verifies the emitted (row, col, rounded-metric) triples match
the reference loop exactly — ordering, tie-breaks and cut included.
"""

import numpy as np
import pytest

from sift_spark.operators.similarity import _topk_rows, round6_half_away


def _reference_loop(S, mids, kk, largest=True, valid=None):
    """The pre-r11 kernel loop, verbatim semantics: per row, order
    candidates by (rounded metric best-first, mid asc), cut at kk."""
    Sr = round6_half_away(S)
    out = []
    for i in range(S.shape[0]):
        cand = np.where(valid[i])[0] if valid is not None else np.arange(S.shape[1])
        if len(cand) == 0:
            continue
        order = np.lexsort(
            (mids[cand], -Sr[i][cand] if largest else Sr[i][cand])
        )
        for j in cand[order[:kk]]:
            out.append((i, int(j), Sr[i][j]))
    return out


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_topk_rows_matches_loop_on_rounding_boundaries(seed):
    rng = np.random.default_rng(seed)
    for trial in range(80):
        n, m = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        k = int(rng.integers(1, 8))
        # values clustered on the 6dp grid ± sub-grid epsilons: every
        # selection/rounding boundary case is in play
        base = rng.integers(0, 20, size=(n, m)) * 1e-6
        eps = rng.choice(
            [-6e-7, -5e-7, -4.9e-7, 0.0, 4.9e-7, 5e-7, 6e-7, 1e-6],
            size=(n, m),
        )
        S = base + eps + rng.choice([0.0, 0.5], size=(n, m))
        mids = (rng.permutation(m) * 3).astype("int64")
        valid = rng.random((n, m)) > 0.2 if trial % 2 else None
        largest = bool(trial % 3)
        kk = min(k, m)
        ii, jj, vals = _topk_rows(S, mids, kk, largest=largest, valid=valid)
        got = list(zip(ii.tolist(), jj.tolist(), vals.tolist()))
        assert got == _reference_loop(S, mids, kk, largest=largest, valid=valid)


def test_topk_rows_short_rows_and_empty():
    mids = np.array([10, 20, 30], dtype="int64")
    # row 0: only one valid candidate -> emits just it; row 1: none
    S = np.array([[0.9, 0.8, 0.7], [0.5, 0.4, 0.3]])
    valid = np.array([[False, True, False], [False, False, False]])
    ii, jj, vals = _topk_rows(S, mids, 5, valid=valid)
    assert ii.tolist() == [0] and jj.tolist() == [1] and vals.tolist() == [0.8]
    ii, jj, vals = _topk_rows(np.empty((0, 3)), mids, 5)
    assert len(ii) == len(jj) == len(vals) == 0

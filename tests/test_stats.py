"""DatasetStatistics parity — reference stats.py:77-97 semantics."""

import numpy as np
import pytest

from docling_eval_spark.functions.stats import compute_stats


class TestComputeStats:
    def test_empty(self):
        s = compute_stats([])
        assert s["total"] == 0
        assert s["mean"] == -1.0 and s["median"] == -1.0 and s["std"] == 0.0
        assert len(s["bins"]) == 21 and len(s["hist"]) == 20

    def test_single_value(self):
        s = compute_stats([0.5])
        assert s["total"] == 1 and s["mean"] == 0.5 and s["std"] == 0.0

    def test_known(self):
        vals = [0.1, 0.2, 0.3, 0.4]
        s = compute_stats(vals)
        assert s["mean"] == pytest.approx(0.25)
        assert s["median"] == pytest.approx(0.25)
        assert s["std"] == pytest.approx(np.std(vals, ddof=1))
        assert sum(s["hist"]) == 4
        # numpy histogram semantics over [0,1]
        ref_hist, ref_bins = np.histogram(vals, bins=20, range=(0, 1))
        assert s["hist"] == [float(h) for h in ref_hist]
        assert s["bins"] == [float(b) for b in ref_bins]

    def test_max_value_not_one(self):
        vals = [1.0, 5.0, 10.0]
        s = compute_stats(vals, max_value_is_one=False)
        assert s["bins"][-1] == 10.0

import numpy as np

from lbf_spark.functions import peaks


def test_savgol_preserves_polynomials():
    x = np.arange(50, dtype=float)
    y = 0.5 * x**2 - 3 * x + 7  # degree ≤ polyorder ⇒ exact reconstruction
    sm = peaks.savgol_smooth(y, window=11, polyorder=3)
    assert np.allclose(sm, y, rtol=1e-8, atol=1e-6)

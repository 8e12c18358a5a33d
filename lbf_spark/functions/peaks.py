"""Driver-side signal post-processing (A22,
``/root/reference/src/lbfextract/fextract/cli_lib.py:58-73``).

The reference smooths a (tiny) global fragment-length histogram with a
Savitzky-Golay filter. The arrays are n_bins-sized (hundreds of
values) — driver-side numpy is the right tool; without scipy the
kernel is implemented directly (the standard published formula).
"""

from __future__ import annotations

import numpy as np


def savgol_smooth(y: np.ndarray, window: int = 11, polyorder: int = 3) -> np.ndarray:
    """Savitzky-Golay smoothing via local least-squares polynomial fits
    (the classic convolution formulation; edges use shrunken windows)."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if window % 2 == 0:
        window += 1
    half = window // 2
    out = np.empty(n)
    # precompute the center convolution coefficients
    x = np.arange(-half, half + 1, dtype=np.float64)
    A = np.vander(x, polyorder + 1, increasing=True)
    coeffs = np.linalg.pinv(A)[0]  # row 0 → value at x=0
    for i in range(n):
        lo, hi = max(0, i - half), min(n, i + half + 1)
        if hi - lo == window:
            out[i] = float(coeffs @ y[lo:hi])
        else:  # edge: refit on the truncated window
            xe = np.arange(lo - i, hi - i, dtype=np.float64)
            Ae = np.vander(xe, min(polyorder, hi - lo - 1) + 1, increasing=True)
            out[i] = float(np.linalg.pinv(Ae)[0] @ y[lo:hi])
    return out

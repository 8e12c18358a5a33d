"""Approx-twin operators pinned against their exact twins.

The exact operator (table_profile exact mode, oracle-checked by q92) is
the ground truth; these tests pin the approx twin within its stated
error bound on the same data — the "swap at scale" notes in profile.py
become verified claims instead of documentation.
"""

import time

import pytest

from lbf_spark.operators import profile as PR


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.01/events.parquet")


def test_approx_profile_schema_and_error_bound(events):
    """Same schema as the exact profile; HLL++ distinct estimates
    within 3·rsd relative error per column (rsd=0.05 → 15%); null
    fraction and min/max are exact in both modes."""
    cols = ["event_id", "user_id", "event_type", "value"]
    exact = {r["column"]: r.asDict() for r in PR.table_profile(events, cols).collect()}
    approx = {
        r["column"]: r.asDict()
        for r in PR.table_profile(events, cols, approx=True, rsd=0.05).collect()
    }
    assert set(exact) == set(approx) == set(cols)
    for c in cols:
        assert approx[c]["null_frac"] == exact[c]["null_frac"]
        assert approx[c]["min_value"] == exact[c]["min_value"]
        assert approx[c]["max_value"] == exact[c]["max_value"]
        nd_e, nd_a = exact[c]["n_distinct"], approx[c]["n_distinct"]
        assert abs(nd_a - nd_e) <= max(1, 0.15 * nd_e), (c, nd_e, nd_a)


def test_approx_profile_is_faster_at_sf01(spark):
    """The point of the sketch: one warm pass each at sf0.1, approx
    must not be slower than exact (it removes the per-column distinct
    shuffles). Wall-clock on this box is noisy — assert a generous
    ratio, not a tight one."""
    doc = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"]
    for _ in range(1):  # warm both code paths
        PR.table_profile(doc.limit(1000), cols).collect()
        PR.table_profile(doc.limit(1000), cols, approx=True).collect()
    t0 = time.time()
    PR.table_profile(doc, cols).collect()
    t_exact = time.time() - t0
    t0 = time.time()
    PR.table_profile(doc, cols, approx=True).collect()
    t_approx = time.time() - t0
    assert t_approx <= t_exact * 1.5, (t_exact, t_approx)

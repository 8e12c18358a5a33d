from __future__ import annotations

import pandas as pd
import pytest

from lbf_spark import fixtures
from lbf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lbf_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_events() -> pd.DataFrame:
    # 2 entities × ~500 rows — mirrors the reference's 499-site test BEDs
    return fixtures.generate_events(n_rows=1000, n_entities=2)


@pytest.fixture(scope="session")
def small_events() -> pd.DataFrame:
    return fixtures.generate_events(n_rows=6000, n_entities=10)


@pytest.fixture(scope="session")
def tiny_anchors(tiny_events) -> pd.DataFrame:
    return fixtures.generate_anchors(tiny_events, n_per_entity=10)


@pytest.fixture(scope="session")
def small_anchors(small_events) -> pd.DataFrame:
    return fixtures.generate_anchors(small_events, n_per_entity=15)


def foreach_batch(stream, fn, checkpoint_dir: str):
    """Run ``stream`` to completion (trigger availableNow) with
    ``fn(batch_df, batch_id)`` as its ``foreachBatch`` sink and a
    checkpoint at ``checkpoint_dir`` — how a deployment drives the
    per-batch sinks of ``streaming.stream_features``."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )


def build_jobs(spark, build):
    """Run ``build()`` under a job group; return (its result, the ids of
    the Spark jobs it ran)."""
    import uuid

    sc, group = spark.sparkContext, f"build_{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))

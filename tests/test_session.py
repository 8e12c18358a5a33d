"""Session defaults: the heap size, the generated-class cache, and a
running session keeping its settings."""

from lbf_spark import fixtures, session
from lbf_spark.operators import dedup
from lbf_spark.plans import pipeline as P
from lbf_spark.util import codegen_counters

# eight families of three near-duplicate docs
DOCS = [
    (10 * f + k, " ".join(f"w{f}x{j}" for j in range(12)) + f" tail{k % 2}")
    for f in range(8)
    for k in range(3)
]


def test_default_driver_memory_fits_host():
    gib = 1 << 30
    # capped at 24g on a big host
    assert session.default_driver_memory(128 * gib) == "24576m"
    # 60 % of RAM below that: a 15.7 GiB host without swap gets ~9.4 GiB
    assert session.default_driver_memory(int(15.7 * gib)) == "9646m"
    assert session.default_driver_memory(8 * gib) == "4915m"


def test_repeated_pass_compiles_no_code(spark, tiny_events, tiny_anchors):
    """The same plans run twice in one JVM compile their generated
    classes once: the cache holds a whole pass (the default of 100
    entries thrashes on this one)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    ev = fixtures.events_to_spark(spark, tiny_events)
    an = fixtures.anchors_to_spark(spark, tiny_anchors)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def one_pass() -> int:
        out = P.extract_features(ev, an, P.FeatureConfig())
        out["point_in_time"].toPandas()
        out["vectors"].toPandas()
        pairs = dedup.minhash_dedup_pairs(docs, num_hashes=16, bands=8, threshold=0.5)
        n = dedup.dup_clusters(pairs).toPandas()["cluster_id"].nunique()
        dedup.release_caches()
        return n

    assert one_pass() == 8
    before, _ = codegen_counters(spark)
    assert one_pass() == 8
    assert codegen_counters(spark)[0] - before == 0


def test_get_spark_keeps_a_running_sessions_settings(spark, tmp_path):
    """A bare ``get_spark()`` and an in-process CLI run fetch the running
    session without re-applying the engine defaults over it: the
    fixture's 8 shuffle partitions and a split size set since stay."""
    from lbf_spark.cli import main

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1m")
    try:
        assert session.get_spark().sparkContext is spark.sparkContext
        assert main(["table", "tags", str(tmp_path / "no_table")]) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get(key) == "1m"
    finally:
        spark.conf.set(key, prev)

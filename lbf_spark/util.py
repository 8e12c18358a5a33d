"""Small cross-cutting helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Partitioning spellings that mean "a shuffle already spread the rows
# over many tasks" — matched case-insensitively so Catalyst node
# renames across Spark versions degrade gracefully (see fan_out).
_FULL_PARALLEL_MARKERS = (
    "hashpartitioning",
    "rangepartitioning",
    "roundrobinpartitioning",
)


def _plan_probe(df: DataFrame) -> tuple[bool, str]:
    """``(spread, plan)`` for ``df`` without executing it: ``plan`` is
    the lowercased ``executedPlan`` string and ``spread`` says a
    full-parallelism shuffle (hash/range/round-robin exchange) is
    already in it. Reads the private py4j ``queryExecution`` surface;
    if that surface moves this raises — callers must not guess a
    physical shape from a probe that did not run."""
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    return any(m in plan for m in _FULL_PARALLEL_MARKERS), plan


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the incoming plan has fewer
    partitions than the cluster has cores.

    Row-local-heavy stages (regex tokenize, shingle, md5, explode) run
    at SCAN parallelism — a single-row-group parquet file yields ONE
    task no matter how many cores exist, serializing the whole stage
    (measured: the sf0.1 documents table is one row group; shingling
    5 000 docs took 4 s on 1 task vs ~0.3 s fanned out). The shuffle
    this inserts moves only the raw input rows (tiny next to the
    exploded output) and is deterministic (Spark sorts round-robin
    partitions for retry safety). At warehouse scale inputs are
    many-file and this is a no-op.

    Plan dispatch (version-tolerant, probed on the ``executedPlan``
    string — building the AdaptiveSparkPlan wrapper executes nothing
    (``isFinalPlan=false``), and unlike ``sparkPlan`` it INCLUDES the
    exchanges EnsureRequirements inserts, so aggregate/join plans are
    recognized instead of falling through to the ``df.rdd`` probe,
    which would materialize their shuffle stages at plan-build time):

    - hash/range/round-robin exchange anywhere → returned untouched
      (the shuffle already provides full parallelism downstream);
    - ``SinglePartition`` exchange with no full-parallelism shuffle
      (global sort / limit / scalar aggregate) → ONE task feeds every
      downstream stage, the exact pathology fan_out exists to fix →
      unconditionally repartitioned to the default parallelism (a
      narrow round-robin of the — usually small — post-collapse rows);
    - broadcast exchange only, or an Exchange spelling this version
      doesn't recognize → ``df.rdd`` would materialize upstream stages
      at plan-build time under AQE, so fall back to ``inputFiles()``
      (driver-side listing, no execution) as a lower bound on scan
      splits — multi-row-group files undercount, costing at worst one
      unnecessary narrow shuffle;
    - narrow plan (no exchange at all) → probe
      ``df.rdd.getNumPartitions()`` directly (safe: nothing to
      execute).

    If the private plan-string probe itself fails (API moved), this
    raises (``_plan_probe``).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    spread, plan = _plan_probe(df)
    if spread:
        return df
    if "singlepartition" in plan:
        return df.repartition(target)
    if "exchange" in plan:
        # BroadcastExchange, or a renamed/unknown exchange node: never
        # risk the df.rdd probe over a plan that contains an exchange.
        n = len(df.inputFiles())
        return df.repartition(target) if 0 < n < target else df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def free_local_checkpoint(df: DataFrame) -> bool:
    """Unpersist the block-backed RDD behind an EAGER ``localCheckpoint``
    (a ``LogicalRDD`` plan). The frame's data is UNRECOVERABLE
    afterwards — local checkpoints truncate the recompute lineage — so
    only call on frames nothing will act on again (a superseded
    iteration round, a released scope). Returns True only when it freed
    persisted blocks: False for a plan that is not a LogicalRDD, a
    RELIABLE ``checkpoint`` (its DFS files are owned by the
    checkpoint-dir lifecycle, not block storage) or an already freed
    frame. A moved py4j/Catalyst surface raises. This is the release
    half of the iterative-algorithm lineage-truncation rule
    (CLAUDE.md): without it every round's node-sized blocks (and each
    bench repeat's edge list) stay resident until the session dies —
    measured r7: the q55@10x pair stage's CPU grew 246 → 566 s across
    three same-JVM repeats from the accumulated storage + GC
    pressure."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return False
    rdd = plan.rdd()
    if not rdd.getStorageLevel().isValid():
        return False
    rdd.unpersist(False)
    return True


def local_frame(spark, rows, schema) -> DataFrame:
    """A small driver-built frame (``rows``: tuples in ``schema``'s
    field order; ``schema``: a ``StructType`` or a DDL string) that
    plans as a ``LocalRelation``: the rows travel as one Arrow table
    inside the plan. ``spark.createDataFrame(<list>)`` plans as a Python
    RDD instead, and every evaluation of it, empty or not, runs a job
    of Python tasks (measured on Spark 4.1.2, local[4]: ~0.45 s and 4
    Python tasks per collect, against 0.04 s here). Nulls, arrays, empty
    ``rows`` and the exact schema, nullability included, round-trip."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow))


def codegen_counters(spark) -> tuple[int, float]:
    """JVM-global generated-code counters: (classes compiled, compile
    ms) since the JVM started. Free to read (no job, no UI); take
    deltas around a unit of work. A cache hit compiles nothing, so a
    repeated identical plan should add 0."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return compiles.getCount(), gen.compileTime() / 1e6

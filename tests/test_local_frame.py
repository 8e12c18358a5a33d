"""util.local_frame: small driver-built frames as LocalRelations."""

from pyspark.sql import types as T

from lbf_spark.util import local_frame

SCHEMA = T.StructType([
    T.StructField("name", T.StringType(), True),
    T.StructField("n", T.LongType(), False),
    T.StructField("k", T.LongType(), True),
    T.StructField("x", T.DoubleType(), True),
    T.StructField("tags", T.ArrayType(T.StringType(), True), True),
])

ROWS = [
    ("a", 1, None, 0.5, ["p", None]),
    (None, 2, 7, None, None),
    ("c", 3, -4, 2.0, []),
]


def _relation(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_round_trips_schema_and_rows(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    assert df.schema == SCHEMA
    assert [tuple(r) for r in df.collect()] == ROWS
    # the rows ride in the plan: no Python RDD to evaluate
    assert _relation(df) == "LocalRelation"


def test_local_frame_empty_rows_and_ddl_schema(spark):
    empty = local_frame(spark, [], SCHEMA)
    assert empty.schema == SCHEMA and empty.collect() == []
    assert _relation(empty) == "LocalRelation"
    ddl = local_frame(spark, [("q", None)], "stage string, n_docs long")
    assert ddl.schema == T.StructType([
        T.StructField("stage", T.StringType(), True),
        T.StructField("n_docs", T.LongType(), True),
    ])
    assert [tuple(r) for r in ddl.collect()] == [("q", None)]

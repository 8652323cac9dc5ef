"""local_frame / spread_if_narrow unit coverage.

local_frame promises IDENTICAL values+schema to the plain
createDataFrame path for every shape the model tables use, while
routing through Arrow (a JVM local relation, no pickled Python RDD).
The r11 ADVICE flagged two silent-coercion hazards the helper must
dodge: pandas turns int64+None into float64 (precision loss above
2^53, NaN->null), and Row inputs are consumed positionally. These
tests pin the dodge paths.
"""

import pytest
from pyspark.sql.types import LongType

from chill_spark.session import local_frame, spread_if_narrow


def _both(spark, rows, schema):
    a = local_frame(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema, (a.schema, b.schema)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    return a


SHAPES = [
    ([(1, 2.5, "x", True), (2, -0.0, None, False)],
     "a bigint, b double, c string, d boolean"),
    ([([1.0, 2.0],), ([],)], "v array<double>"),
    ([], "a bigint, b string"),
    ([(0, [1, 2, 3])], "i int, xs array<bigint>"),
    ([(2**60, "big")], "n bigint, s string"),
    # neither DDL, StructType nor names: must fall back, not raise
    ([1, 2], LongType()),
]


@pytest.mark.parametrize("rows,schema", SHAPES)
def test_local_frame_value_parity(spark, rows, schema):
    _both(spark, rows, schema)


def test_local_frame_null_int_falls_back_exact(spark):
    # int64 + None would become float64 through pandas; the helper
    # must keep LongType and the exact value above 2^53
    big = 2**60 + 1
    df = _both(spark, [(1, big), (2, None)], "k int, n bigint")
    vals = {r["k"]: r["n"] for r in df.collect()}
    assert vals == {1: big, 2: None}
    assert dict(df.dtypes)["n"] == "bigint"


def test_local_frame_name_only_schema_null_int(spark):
    df = _both(spark, [(1, 10), (2, None)], ["k", "n"])
    assert dict(df.dtypes)["n"] == "bigint"
    assert {r["k"]: r["n"] for r in df.collect()} == {1: 10, 2: None}


def test_local_frame_arrow_path_is_local_relation(spark):
    # the whole point: flat model tables plan as a local relation,
    # not a pickled Python RDD scan
    df = local_frame(spark, [(1, 2.0)], "a bigint, b double")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan


def test_spread_if_narrow_single_file_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism:
        pytest.skip("fixture scan already wide on this box")
    wide = spread_if_narrow(docs)
    assert (
        wide.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # idempotent: a second call adds nothing
    assert spread_if_narrow(wide) is wide
    # row set unchanged
    assert wide.count() == docs.count()

"""The planned exchange every encode writer dispatches through
(encode.encode_footers): its driver-side bucket keys must agree with
Spark's own hash partitioning, and under the session's AQE settings it
must give each part_id a task of its own."""

import pytest
from pyspark.sql import functions as F

from skar_spark.engine.encode import _bucket_keys, planned_exchange

pytestmark = pytest.mark.spark


@pytest.mark.parametrize("n", [1, 3, 16, 64])
def test_bucket_keys_match_spark_hash_partitioning(spark, n):
    keys = _bucket_keys(n)
    df = spark.createDataFrame([(k,) for k in keys], "k int")
    got = [r.b for r in df.select(
        F.pmod(F.hash("k"), F.lit(n)).alias("b")).collect()]
    assert got == list(range(n))
    # and the exchange itself places key b in shuffle partition b
    placed = {r.k: r.p for r in df.repartition(n, "k").select(
        "k", F.spark_partition_id().alias("p")).collect()}
    assert placed == {k: b for b, k in enumerate(keys)}


def test_planned_exchange_one_part_per_task(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled") == "true"
    ids = [7, 3, 11, 5, 9]
    df = spark.range(0, 5_000, 1, 8).withColumn(
        "part_id", F.element_at(
            F.array(*[F.lit(i) for i in ids]),
            (F.col("id") % len(ids) + 1).cast("int")))
    exch = planned_exchange(df, ids, len(ids), loads={11: 100, 5: 50})
    per_task = (exch.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.countDistinct("part_id").alias("n"),
                     F.count("*").alias("rows"))
                .collect())
    assert len(per_task) == len(ids)
    assert all(r.n == 1 for r in per_task)
    assert sum(r.rows for r in per_task) == 5_000

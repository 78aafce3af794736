"""kNN ring-expansion join and polygon-pair join correctness."""

from __future__ import annotations


import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_knn_join_matches_brute_force(spark):
    from s2js_spark.spark.joins import _chord2_sql, knn_join

    rng = np.random.RandomState(13)
    pts = [
        (int(i), float(46.0 + rng.uniform(-2, 2)), float(6.0 + rng.uniform(-3, 3)))
        for i in range(3000)
    ]
    # plus far-away outliers and a sparse region to force escalation paths
    pts += [(9000 + i, float(-45 + i), float(120.0)) for i in range(4)]
    points = spark.createDataFrame(pts, ["id", "lat", "lng"])
    queries = spark.createDataFrame(
        [(0, 46.0, 6.0), (1, 47.5, 8.5), (2, -44.0, 120.0), (3, 45.2, 4.1)],
        ["query_id", "qlat", "qlng"],
    )

    got_df = knn_join(spark, points, queries, k=5)
    # a distributed query frame gets its neighbourhood in SQL
    assert "ArrowEvalPython" not in got_df._jdf.queryExecution().executedPlan().toString()
    got = got_df.toPandas()

    brute = points.crossJoin(F.broadcast(queries))
    chord2 = F.round(_chord2_sql("lat", "lng", "qlat", "qlng"), 12)
    w = Window.partitionBy("query_id").orderBy(F.col("chord2"), F.col("id"))
    want = (
        brute.withColumn("chord2", chord2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "id", "chord2", "rank")
        .toPandas()
    )

    g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert g[["query_id", "id", "rank"]].equals(b[["query_id", "id", "rank"]])


def test_knn_auto_level_uses_sampled_estimate(spark):
    """level=None must pick a sane level WITHOUT a full count pre-pass
    (partition-sampled estimate) and stay exact vs brute force."""
    from s2js_spark.spark.joins import _estimate_count, knn_join

    rng = np.random.RandomState(3)
    pts = [
        (int(i), float(10 + rng.uniform(-1, 1)), float(20 + rng.uniform(-1, 1)))
        for i in range(2000)
    ]
    points = spark.createDataFrame(pts, ["id", "lat", "lng"]).repartition(8)
    est = _estimate_count(points)
    assert 1000 <= est <= 4000  # within 2x of the true 2000

    queries = spark.createDataFrame(
        [(0, 10.0, 20.0), (1, 10.5, 20.5)], ["query_id", "qlat", "qlng"]
    )
    got = {
        (r.query_id, r.id, r.rank)
        for r in knn_join(spark, points, queries, k=3, level=None).collect()
    }
    want = {
        (r.query_id, r.id, r.rank)
        for r in knn_join(spark, points, queries, k=3, level=8).collect()
    }
    assert got == want

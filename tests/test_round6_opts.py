"""Round-6 optimization equivalence tests: rewritten operator
interiors must produce bit-identical results to the original forms.

- simhash_rows (explode + HashAggregate sums) vs the per-row
  simhash64 HOF expression;
- knn_join's driver-side LocalRelation neighborhood path vs the
  SQL neighbourhood path (same queries through both must match);
- minhash signature numeric-min reconstruction vs a direct string-min
  recomputation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _pages_df(spark, n=120):
    rows = [
        (
            f"https://t/{i % 90}",  # some duplicate keys
            int(i),
            (
                "the quick brown fox jumps over the lazy dog %d und der die le et "
                % i
            )
            * (1 + i % 3),
        )
        for i in range(n)
    ] + [("https://t/empty", n, ""), ("https://t/short", n + 1, "ab")]
    return spark.createDataFrame(rows, ["url", "doc_id", "text"])


def test_simhash_rows_matches_hof_form(spark):
    from s2js_spark.spark import textops

    df = _pages_df(spark)
    old = df.select(
        "url", "doc_id", textops.simhash64("text", k=4).alias("simhash")
    )
    new = textops.simhash_rows(df, "text", k=4, key_cols=("url", "doc_id"))
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b


def test_minhash_numeric_min_signature_matches_string_min(spark):
    from s2js_spark.spark import textops

    df = _pages_df(spark)
    groups = textops.minhash_dedup_groups(
        df, key_col="url", bands=4, num_hashes=8, k=8
    )
    # recompute band_sig the pre-round-6 way: string mins over the
    # HOF shingle transform
    sh = (
        "transform(sequence(1, greatest(length(text) - 7, 1)),"
        " i -> substring(text, i, 8))"
    )
    ex = df.select("url", F.explode_outer(F.expr(sh)).alias("_s"))
    aggs = []
    for i in range(8):
        salt, slice_i = divmod(i, 4)
        digest = F.md5(F.concat(F.lit(f"salt{salt}:"), F.col("_s")))
        aggs.append(
            F.min(F.substring(digest, 1 + 8 * slice_i, 8)).alias(f"_m{i}")
        )
    sig = ex.groupBy("url").agg(*aggs).select(
        "url",
        F.array(*[F.col(f"_m{i}") for i in range(8)]).alias("_sig"),
    )
    bands_arr = F.expr(
        "transform(sequence(0, 3),"
        " b -> concat_ws('|', slice(_sig, b * 2 + 1, 2)))"
    )
    from pyspark.sql import Window

    exploded = sig.withColumn("_bands", bands_arr).select(
        "url", F.posexplode_outer("_bands").alias("band", "band_sig")
    )
    w = Window.partitionBy("band", "band_sig")
    ref = (
        exploded.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    a = sorted(map(tuple, groups.select("band", "band_sig", "url").collect()))
    b = sorted(map(tuple, ref.select("band", "band_sig", "url").collect()))
    assert a == b and len(a) > 0


def test_knn_local_values_path_matches_udf_path(spark):
    from s2js_spark.spark.joins import knn_join

    import numpy as np

    rng = np.random.RandomState(7)
    pts = [
        (int(i), float(40.0 + rng.uniform(-2, 2)), float(7.0 + rng.uniform(-2, 2)))
        for i in range(800)
    ]
    points = spark.createDataFrame(pts, ["id", "lat", "lng"])
    # query 3 has no coordinates: no neighbours on either path
    qrows = [(0, 40.0, 7.0), (1, 41.5, 8.5), (2, 39.0, 5.5), (3, None, None)]
    # SQL path: RDD-backed createDataFrame query frame
    q_sql = spark.createDataFrame(qrows, "query_id long, qlat double, qlng double")
    # local path: inline VALUES (LocalRelation)
    dbl = lambda v: "NULL" if v is None else f"CAST('{v!r}' AS DOUBLE)"  # noqa: E731
    vals = ", ".join(
        f"({qid}, {dbl(qlat)}, {dbl(qlng)})" for qid, qlat, qlng in qrows
    )
    q_local = spark.sql(
        f"SELECT * FROM VALUES {vals} AS q(query_id, qlat, qlng)"
    )
    assert (
        q_local._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    )
    a_df = knn_join(spark, points, q_sql, k=4, level=8)
    b_df = knn_join(spark, points, q_local, k=4, level=8)
    # the null-coordinate filter keeps the batch a LocalRelation, so it
    # still takes the driver-side path (no SQL neighbourhood fan-out)
    plan = lambda df: df._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    assert "Generate inline" in plan(a_df)
    assert "Generate" not in plan(b_df)
    a, b = a_df.collect(), b_df.collect()
    assert {r["query_id"] for r in a} == {r["query_id"] for r in b} == {0, 1, 2}
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    aa = sorted([(r["query_id"], r["rank"], r["id"], r["chord2"]) for r in a])
    bb = sorted([(int(r["query_id"]), r["rank"], r["id"], r["chord2"]) for r in b])
    assert aa == bb

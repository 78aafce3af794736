"""Salted aggregation and the covering UDFs."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_salted_agg_matches_plain(spark):
    from s2js_spark.spark.skew import salted_agg

    # Zipf-ish: key 0 holds ~50% of rows
    df = spark.range(20000).selectExpr(
        "case when id % 2 = 0 then 0 else id % 37 end as key",
        "cast(id as double) as v",
    )

    got = salted_agg(
        df,
        "key",
        aggs=[
            (F.count("*"), F.sum, "n"),
            (F.sum("v"), F.sum, "sum_v"),
            (F.max("v"), F.max, "max_v"),
        ],
        n_salts=8,
    ).toPandas().sort_values("key").reset_index(drop=True)

    want = (
        df.groupBy("key")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"), F.max("v").alias("max_v"))
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    assert got["n"].tolist() == want["n"].tolist()
    assert got["sum_v"].tolist() == want["sum_v"].tolist()
    assert got["max_v"].tolist() == want["max_v"].tolist()


def test_s2_cover_udf_matches_driver_coverer(spark):
    from s2js_spark.geometry.geojson import GeoJSONRegionCoverer
    from s2js_spark.spark import functions as s2f
    from tests.test_tiles_kernel import _polygon_geojson

    geoms = [
        _polygon_geojson(46.2, 6.1, 0.6),
        _polygon_geojson(-20.0, 130.0, 2.0, n=9),
        {"type": "Point", "coordinates": [2.35, 48.85]},
    ]
    df = spark.createDataFrame(
        [(i, json.dumps(g)) for i, g in enumerate(geoms)], ["gid", "gj"]
    )
    got = (
        df.withColumn("cov", s2f.s2_cover(F.col("gj"), F.lit(16)))
        .withColumn("cov_norm", s2f.s2_cell_union_normalize(F.col("cov")))
        .toPandas()
        .sort_values("gid")
    )
    cov = GeoJSONRegionCoverer(max_cells=16)
    for i, g in enumerate(geoms):
        want = [int(np.uint64(c).astype(np.int64)) for c in cov.covering(g)]
        assert list(got.iloc[i]["cov"]) == want
        # coverings are already normalized
        assert list(got.iloc[i]["cov_norm"]) == want


def test_salted_agg_plan_is_two_stage(spark):
    """Round-4: the salted aggregate's PHYSICAL plan must show the
    two-stage shape — a shuffle on (key, _salt) feeding a partial
    aggregate, then a shuffle on key alone for the final aggregate —
    so a hot Zipf city key spreads over n_salts reducers instead of
    serializing on one."""
    from pyspark.sql import functions as F

    from s2js_spark.spark.skew import salted_agg

    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot_city"))
        .otherwise(F.concat(F.lit("cell"), (F.col("id") % 37).cast("string")))
        .alias("cell"),
        F.lit(1).alias("v"),
    )
    out = salted_agg(df, "cell", [(F.count("*"), F.sum, "n")], n_salts=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert any("_salt" in line for line in exchanges), plan
    assert any(
        "cell" in line and "_salt" not in line for line in exchanges
    ), plan
    # and the answer equals the plain groupBy
    got = {(r["cell"], r["n"]) for r in out.collect()}
    want = {
        (r["cell"], r["count"]) for r in df.groupBy("cell").count().collect()
    }
    assert got == want


def test_salted_collect_set_matches_plain(spark):
    """The HOLISTIC salted form (partial collect_set per salt, final
    flatten+array_distinct merge) — the case where salting actually
    matters, since every plain partial set for a hot key converges on
    one reducer (bench.py salted_rollup_phase measures the win)."""
    from s2js_spark.spark.skew import salted_agg

    df = spark.range(20000).selectExpr(
        "case when id % 2 = 0 then 0 else id % 37 end as key",
        "concat('u', id % 500) as url",
    )
    got = salted_agg(
        df, "key",
        aggs=[(
            F.collect_set("url"),
            lambda c: F.size(F.array_distinct(F.flatten(F.collect_list(c)))),
            "n_urls",
        )],
        n_salts=8,
    ).toPandas().sort_values("key").reset_index(drop=True)
    want = (
        df.groupBy("key").agg(F.size(F.collect_set("url")).alias("n_urls"))
        .toPandas().sort_values("key").reset_index(drop=True)
    )
    assert got["key"].tolist() == want["key"].tolist()
    assert got["n_urls"].tolist() == want["n_urls"].tolist()

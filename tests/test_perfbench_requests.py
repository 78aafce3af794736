"""Every fresh request kind of perfbench's spatial_requests workload is
served and passes the workload's own check, on a tiny seeded corpus.

The workload sends its fresh kinds block by block (gen.FRESH_KINDS), so
a short run reaches only the first two; this builds one request of each
kind directly through ``workloads.serve``, the code path the benchmark
times, so an engine change that breaks a request expression it builds
(say, the raster's token of a level-8 parent) fails here.
"""

from __future__ import annotations

import os
import sys
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2js_spark.spark import pipeline
from s2js_spark.spark.pages import PAGES_SQL, pages
from s2js_spark.spark.session import get_session

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "perfbench"))

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

SEED = 1


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("requests"))
    gen.write_tables(work, SEED, workloads.SMOKE_SF, workloads.SMOKE_EMB)
    spark = get_session("local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    geo = pipeline.extract_geotags(pages(spark, work))
    state = {
        "geo": geo.select("url", "doc_id", "lat", "lng"),
        "pts": pipeline.dedup_latest(geo).filter(F.col("lat").isNotNull())
        .select(F.col("url").alias("id"), "lat", "lng"),
    }
    bench = types.SimpleNamespace(spark=spark, tracer=Tracer(False), work=work)
    con = checks.duck(work)
    sample = checks.sample_points(con, SEED, 400)
    dedup_pts = con.sql(
        f"SELECT url, lat_e6/1e6 AS lat, lng_e6/1e6 AS lng FROM ("
        f" SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts_sec DESC,"
        f" doc_id DESC) AS rn FROM ({PAGES_SQL})) WHERE rn = 1 AND lat_e6 IS NOT NULL"
    ).df()
    return bench, state, sample, dedup_pts


@pytest.mark.parametrize("kind", gen.FRESH_KINDS)
def test_fresh_request_is_served_and_checked(ctx, kind):
    bench, state, sample, dedup_pts = ctx
    rng = np.random.default_rng([SEED, 5, gen.FRESH_KINDS.index(kind)])
    req = gen.Request(kind, False, gen.fresh_params(rng, kind, 0))
    memo = {"calls": 0, "hits": 0, "seen": {}}
    build = {"tileset": [], "tagjoin": [], "cells": []}
    answer = workloads.serve(bench, req, state, None, memo, build, 0)
    assert workloads.check_fresh(req, answer, sample, dedup_pts)
    if kind == "raster":
        assert len(answer) > 0 and set(answer.columns) == {"cell_l8", "n_pages"}

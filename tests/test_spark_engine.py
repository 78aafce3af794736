"""End-to-end Spark-layer tests: pipeline invariants, UDF/kernel
equivalence, media plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "cellid", "token", "text", "lang", "tile_id"}


def test_text_byte_identity(spark):
    """input_hint invariant: text survives every stage byte-identically."""
    import __spark_entry__ as e
    from s2js_spark.spark.pages import pages

    src = pages(spark, SF).select("url", "text", "warc_ts_sec", "doc_id").toPandas()
    # expected text per url after dedup = row with max (warc_ts_sec, doc_id)
    src["rank"] = src.groupby("url")["doc_id"].rank(ascending=False)
    latest = src.sort_values(["url", "warc_ts_sec", "doc_id"]).groupby("url").last()
    want = {
        u: hashlib.sha256(t.encode()).hexdigest() for u, t in latest["text"].items()
    }

    out = e.entry(spark).select("url", "text").toPandas()
    assert len(out) > 0
    for _, r in out.iterrows():
        assert hashlib.sha256(r["text"].encode()).hexdigest() == want[r["url"]], r["url"]


def test_udf_kernel_equivalence(spark):
    """SQL encode + registered s2_token == scalar oracle."""
    from s2js_spark.geometry import cellid_scalar as cs
    from s2js_spark.spark import sqlkernels as sq
    from s2js_spark.spark.functions import register_all

    register_all(spark)
    rows = [(float(la), float(ln)) for la in range(-80, 81, 20) for ln in range(-170, 171, 30)]
    df = spark.createDataFrame(rows, ["lat", "lng"])
    got = (
        sq.with_s2_cellid(df)
        .withColumn("token", F.expr("s2_token(cellid)"))
        .toPandas()
    )
    for _, r in got.iterrows():
        want = cs.from_latlng_degrees(r["lat"], r["lng"])
        assert int(np.int64(r["cellid"]).astype(np.uint64)) == want
        assert r["token"] == cs.to_token(want)


def test_media_feature_plumbing(spark):
    from s2js_spark.spark.multimodal import extract_features, synth_mixed_media

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    feats = extract_features(synth_mixed_media(docs)).toPandas()
    assert len(feats) == 50
    assert feats["feature"].map(len).eq(8).all()
    # decoded sample count: null exactly for the digest-fake video
    assert feats["n_samp"].isna().eq(feats["kind"] == "video").all()
    # deterministic: same id -> same feature
    f2 = extract_features(synth_mixed_media(docs)).toPandas()
    a = [list(v) for v in feats.sort_values("media_id")["feature"]]
    b = [list(v) for v in f2.sort_values("media_id")["feature"]]
    assert a == b


def test_cell_vectorize_is_one_lazy_jvm_plan(spark):
    """cell_vectorize runs no Python node and caches nothing, so the
    plan memo serves it like the other spatial queries."""
    import __spark_entry__ as e

    q = e.queries()["cell_vectorize"]
    df = q(spark, SF)
    assert q(spark, SF) is df
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "InMemoryRelation"):
        assert node not in plan, node


def test_extract_geotags_malformed_utf8(spark):
    """Invalid UTF-8 in html: bytes outside the geotag leave lat/lng
    unchanged, an invalid byte inside the tag's content gives nulls,
    and text is carried through byte-identical."""
    from s2js_spark.spark.pipeline import extract_geotags

    tag = b'<meta name="geo.position" content="%s;8.25">'
    html = [
        b"\xff\xfe" + tag % b"47.5" + b"\xc3(",  # invalid lead, bad continuation
        b"\xed\xa0\x80" + tag % b"47.5",  # lone surrogate
        tag % b"47.5" + b"\xe2\x82",  # truncated sequence
        tag % b"4\xff7.5",  # invalid byte inside the content
    ]
    texts = ["café ü", "\U0001f600 x", "plain", "€ 5"]
    df = spark.createDataFrame(
        [(n, bytearray(h), t) for n, (h, t) in enumerate(zip(html, texts))],
        "n int, html binary, text string",
    )
    got = extract_geotags(df).orderBy("n").collect()
    assert [(r.lat, r.lng) for r in got] == [(47.5, 8.25)] * 3 + [(None, None)]
    assert [r.text.encode() for r in got] == [t.encode() for t in texts]

"""End-to-end Spark-layer tests: pipeline invariants, checkpoint
resume, UDF/kernel equivalence, streaming."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

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


def test_checkpoint_resume(spark):
    from s2js_spark.spark.checkpoint import (
        completed_buckets,
        manifest,
        read_stage,
        resumable_write,
    )
    from s2js_spark.spark.pages import pages

    df = pages(spark, SF).select("url", "text", "lang")
    tmp = tempfile.mkdtemp(prefix="s2js_ckpt_")
    try:
        # first attempt crashes after bucket 5
        with pytest.raises(RuntimeError):
            resumable_write(
                df, tmp, stage="tag", input_fingerprint="fp1", key_col="url",
                n_buckets=8, fail_after_bucket=5,
            )
        done = completed_buckets(tmp, "tag", "fp1")
        assert done == set(range(6))

        # resume: only remaining buckets are written
        rep = resumable_write(
            df, tmp, stage="tag", input_fingerprint="fp1", key_col="url", n_buckets=8
        )
        assert rep.buckets_skipped == list(range(6))
        assert rep.buckets_written == [6, 7]

        # full table recovered, with per-bucket metrics
        got = read_stage(spark, tmp)
        assert got.count() == df.count()
        rows = manifest(tmp)
        assert sum(m["row_count"] for m in rows) == df.count()
        assert all("wall_sec" in m for m in rows)

        # a new input fingerprint does not reuse old buckets
        assert completed_buckets(tmp, "tag", "fp2") == set()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_available_now(spark, tmp_path):
    """Structured Streaming over the events table: tumbling windows with
    a watermark, availableNow trigger (SURVEY §2.12 stretch)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src_dir = str(tmp_path / "events_src")
    ev.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> TZ for watermark
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    evt = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    batch = evt.groupBy(F.window("ts", "10 minutes"), F.col("event_type")).agg(
        F.count("*").alias("n")
    )
    # Append mode emits only windows closed by the final watermark
    # (max event time - 10 min); the trailing open windows are held back.
    max_ts = evt.agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(
        F.col("window.end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    g = {(str(r["window"]), r["event_type"]): r["n"] for r in got.collect()}
    b = {(str(r["window"]), r["event_type"]): r["n"] for r in closed.collect()}
    assert b and g == b


def test_media_feature_plumbing(spark):
    from s2js_spark.spark.multimodal import extract_features, synth_media

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    feats = extract_features(synth_media(spark, docs)).toPandas()
    assert len(feats) == 50
    assert feats["feature"].map(len).eq(8).all()
    # deterministic: same id -> same feature
    f2 = extract_features(synth_media(spark, docs)).toPandas()
    a = [list(v) for v in feats.sort_values("media_id")["feature"]]
    b = [list(v) for v in f2.sort_values("media_id")["feature"]]
    assert a == b


def test_streaming_incremental_tiling(spark, tmp_path):
    """SURVEY §2.12 stretch: the spatial tagging pipeline under
    Structured Streaming (availableNow incremental batches) produces
    exactly the batch result."""
    import __spark_entry__ as entry
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags
    from s2js_spark.spark.streaming import streaming_tag_pairs
    from s2js_spark.spark.tagjoin import tag_tiles_pairs
    from s2js_spark.spark.tiles import build_tileset

    ts = build_tileset(entry.PIP_TILES + entry.RECT_TILES, max_cells=32)

    src_dir = str(tmp_path / "pages_src")
    p = pages(spark, SF).select("url", "html")
    p.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(p.schema)
        .option("maxFilesPerTrigger", 1)  # incremental batches
        .parquet(src_dir)
    )
    tagged = streaming_tag_pairs(spark, extract_geotags(stream), ts)
    out = tagged.select("url", "tile_i")

    out_dir = str(tmp_path / "tags_out")
    ckpt = str(tmp_path / "tags_ckpt")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {(r["url"], r["tile_i"]) for r in spark.read.parquet(out_dir).collect()}
    batch = tag_tiles_pairs(
        spark, extract_geotags(p), ts, exact_residuals=False
    )
    want = {(r["url"], r["tile_i"]) for r in batch.collect()}
    assert got == want and len(got) > 0


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

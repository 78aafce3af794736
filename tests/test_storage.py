"""Bucketed storage layout: exchange-free url-dedup (SURVEY §4.2).

The round-2 cluster scaling phase measured the flagship's one shuffle
(the url-dedup exchange) as the non-scaling term. These tests prove
the designed fix: a pages table stored hash-clustered by url makes
``dedup_latest``'s window run with ZERO Exchange in the physical plan
while producing exactly the unbucketed answer, and the layout survives
re-attachment from a fresh catalog (the multi-session scaling phase).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from s2js_spark.spark.pipeline import dedup_latest, extract_geotags
from s2js_spark.spark.session import get_session
from s2js_spark.spark.storage import (
    MANIFEST,
    _bucket_files,
    ensure_bucketed,
    manifest,
    no_exchange_before_window,
    write_bucketed,
)


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _pages_df(spark):
    return spark.range(2000).select(
        F.concat(F.lit("https://crawl.test/u"), (F.col("id") % 700).cast("string")).alias("url"),
        F.col("id").alias("doc_id"),
        F.timestamp_seconds(F.col("id") * 37 % 99991).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html><meta name="geo.position" content="'),
                ((F.col("id") % 120) - 60.0).cast("double").cast("string"),
                F.lit(";"),
                ((F.col("id") % 300) - 150.0).cast("double").cast("string"),
                F.lit('"><body>t</body></html>'),
            ),
            "UTF-8",
        ).alias("html"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
    )


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bucketed") / "pages")
    shutil.rmtree(path, ignore_errors=True)
    df = _pages_df(spark)
    tbl = ensure_bucketed(spark, lambda: df, path, "pages_bucketed_test", "url", 8)
    yield tbl, path
    spark.sql("DROP TABLE IF EXISTS pages_bucketed_test")


def test_bucketed_dedup_has_no_exchange(spark, bucketed):
    tbl, _ = bucketed
    dd = dedup_latest(tbl)
    assert no_exchange_before_window(dd)
    # sanity: the unbucketed plan DOES have an exchange (the test means something)
    assert not no_exchange_before_window(dedup_latest(_pages_df(spark)))


def test_bucketed_dedup_matches_unbucketed(spark, bucketed):
    tbl, _ = bucketed
    got = sorted(
        (r["url"], r["doc_id"]) for r in dedup_latest(tbl).select("url", "doc_id").collect()
    )
    want = sorted(
        (r["url"], r["doc_id"])
        for r in dedup_latest(_pages_df(spark)).select("url", "doc_id").collect()
    )
    assert got == want
    assert len(got) == 700


def test_reattach_from_fresh_catalog(spark, bucketed):
    tbl, path = bucketed
    spark.sql("DROP TABLE pages_bucketed_test")  # simulate a fresh session
    tbl2 = ensure_bucketed(
        spark, lambda: 1 / 0, path, "pages_bucketed_test", "url", 8
    )  # df_builder must NOT be called: layout exists
    dd = dedup_latest(tbl2)
    assert no_exchange_before_window(dd)
    assert dd.count() == 700


def test_full_flagship_prefix_is_exchange_free(spark, bucketed):
    """scan -> geotag regex -> dedup window: zero shuffles end-to-end."""
    tbl, _ = bucketed
    dd = dedup_latest(extract_geotags(tbl))
    assert no_exchange_before_window(dd)
    n = dd.filter(F.col("lat").isNotNull()).count()
    assert n == 700


def test_bucketed_join_is_colocated(spark, bucketed, tmp_path):
    """Two tables bucketed by url join WITHOUT any shuffle Exchange —
    the co-located join the layout buys for free (page table x per-url
    metadata at 10^12 docs)."""
    tbl, _ = bucketed
    meta = spark.range(400).select(
        F.concat(F.lit("https://crawl.test/u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 7).alias("score"),
    )
    path = str(tmp_path / "meta")
    ensure_bucketed(spark, lambda: meta, path, "meta_bucketed_test", "url", 8)
    joined = spark.table("pages_bucketed_test").join(
        spark.table("meta_bucketed_test").hint("merge"), "url"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert not any(
        line.strip().lstrip("+-:* ").startswith("Exchange")
        for line in plan.splitlines()
    ), plan
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS meta_bucketed_test")


def test_write_bucketed_one_file_per_bucket(spark, tmp_path):
    path = str(tmp_path / "pg")
    write_bucketed(_pages_df(spark), path, "pages_bucket_files_test", "url", 8)
    import glob

    files = [
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        if not os.path.basename(f).startswith("_")
    ]
    assert len(files) == 8
    spark.sql("DROP TABLE IF EXISTS pages_bucket_files_test")


def _crash_after_bucket(path, k, torn=False):
    """Leave the state a writer that died between its data commit and
    its bookkeeping leaves: every bucket's files on disk, the log only
    up to bucket ``k`` (and, with ``torn``, a half-written next line)."""
    kept = [m for m in manifest(path) if m["bucket"] <= k]
    with open(os.path.join(path, MANIFEST), "w") as fh:
        fh.writelines(json.dumps(m) + "\n" for m in kept)
        if torn:
            fh.write('{"key": "url", "n_buck')


def test_resumable_bucketed_write_crash_resume(spark, tmp_path):
    """The resumable writer and the bucketed layout are ONE mechanism:
    after a crash between data commit and bookkeeping, resume keeps the
    committed buckets, replaces the uncommitted leftovers, and the
    re-attached table serves the dedup window with zero Exchange
    (HashPartitioning from the scan)."""
    df = _pages_df(spark)
    path = str(tmp_path / "stage_bucketed")
    tbl = "stage_bucketed_test"
    try:
        ensure_bucketed(spark, lambda: df, path, tbl, "url", 8)
        _crash_after_bucket(path, 3)
        assert {m["bucket"] for m in manifest(path)} == {0, 1, 2, 3}
        before = _bucket_files(path)

        # the log's schema is part of its identity: another input raises
        # before any leftover is deleted
        with pytest.raises(ValueError, match="was written CLUSTERED BY"):
            ensure_bucketed(spark, lambda: df.drop("lang"), path, tbl, "url", 8)
        assert _bucket_files(path) == before

        ensure_bucketed(spark, lambda: df, path, tbl, "url", 8)
        log = manifest(path)
        assert [m["bucket"] for m in log] == list(range(8))
        after = _bucket_files(path)
        # only the pending buckets were written
        assert all(after[b] == before[b] for b in range(4))
        assert all(after[b] != before[b] for b in range(4, 8))
        # the log's row counts reflect exactly the persisted files
        assert sum(m["row_count"] for m in log) == 2000

        # idempotent: a third call writes nothing (nor builds its input)
        ensure_bucketed(spark, lambda: 1 / 0, path, tbl, "url", 8)
        assert manifest(path) == log and _bucket_files(path) == after

        spark.sql(f"DROP TABLE {tbl}")  # a fresh session re-attaches
        attached = ensure_bucketed(spark, lambda: 1 / 0, path, tbl, "url", 8)
        assert attached.count() == 2000  # no dups from the crashed attempt
        dd = dedup_latest(attached)
        assert no_exchange_before_window(dd)
        assert dd.count() == 700
        got = sorted(
            (r["url"], r["doc_id"])
            for r in dd.select("url", "doc_id").collect()
        )
        want = sorted(
            (r["url"], r["doc_id"])
            for r in dedup_latest(df).select("url", "doc_id").collect()
        )
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_resume_after_torn_manifest_line(spark, tmp_path):
    """A resume after a torn trailing log line leaves a log that reads
    back whole: the writer replaces the log, it does not append to the
    torn line."""
    df = _pages_df(spark)
    path = str(tmp_path / "torn_resume")
    tbl = "torn_resume_test"
    try:
        write_bucketed(df, path, tbl, "url", 8)
        _crash_after_bucket(path, 5, torn=True)
        ensure_bucketed(spark, lambda: df, path, tbl, "url", 8)
        log = manifest(path)
        assert [m["bucket"] for m in log] == list(range(8))
        assert sum(m["row_count"] for m in log) == 2000
        with open(os.path.join(path, MANIFEST)) as fh:
            assert all(json.loads(line) for line in fh)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_resumable_bucketed_filter_matches_writer_spec(spark, tmp_path):
    """The resume filter pmod(hash(key), n) must equal the bucket id
    Spark's bucketed writer stamps into file names — otherwise resume
    would mix committed and uncommitted rows in one file bucket."""
    df = _pages_df(spark)
    path = str(tmp_path / "spec_check")
    tbl = "spec_check_test"
    try:
        write_bucketed(df, path, tbl, "url", 8)
        checked = 0
        for b, fns in _bucket_files(path).items():
            for fn in fns:
                rows = spark.read.parquet(os.path.join(path, fn)).select(
                    F.pmod(F.hash(F.col("url")), F.lit(8)).alias("calc")
                ).distinct().collect()
                assert [r["calc"] for r in rows] == [b], fn
                checked += 1
        assert checked >= 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_manifest_tolerates_torn_trailing_line(tmp_path):
    """A crash mid-append can tear the FINAL manifest line; resume
    must self-heal (the torn bucket was never committed). A malformed
    line anywhere else is real corruption and still raises."""
    path = str(tmp_path / "torn")
    (tmp_path / "torn").mkdir()
    good = {"key": "url", "n_buckets": 8, "schema": "`url` string",
            "bucket": 0, "row_count": 10, "wall_sec": 0.1, "written_at": "t"}
    mp = tmp_path / "torn" / MANIFEST
    mp.write_text(json.dumps(good) + "\n" + '{"key": "url", "bu')
    rows = manifest(path)
    assert rows == [good]

    # torn line NOT at the end -> raise
    mp.write_text('{"key": "url", "bu\n' + json.dumps(good) + "\n")
    with pytest.raises(json.JSONDecodeError):
        manifest(path)


def test_resumable_bucketed_table_spec_mismatch_raises(spark, tmp_path):
    """CREATE TABLE IF NOT EXISTS silently reuses a pre-existing
    catalog table; if its LOCATION or bucket spec differs from the
    requested one, the write must fail loudly instead of landing data
    outside the logged location."""
    df = _pages_df(spark)
    tbl = "spec_mismatch_test"
    try:
        ensure_bucketed(spark, lambda: df, str(tmp_path / "a"), tbl, "url", 8)
        with pytest.raises(ValueError, match="LOCATION"):
            ensure_bucketed(spark, lambda: df, str(tmp_path / "b"), tbl, "url", 8)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_resumable_bucketed_foreign_file_raises(spark, tmp_path):
    """A parquet data file with no parseable bucket id in its name
    (foreign committer) must abort the resumable write before any
    cleanup or data movement."""
    df = _pages_df(spark)
    path = tmp_path / "foreign"
    path.mkdir()
    rogue = path / "data.parquet"
    rogue.write_bytes(b"PAR1 not really parquet")
    tbl = "foreign_file_test"
    try:
        with pytest.raises(ValueError, match="bucket id"):
            ensure_bucketed(spark, lambda: df, str(path), tbl, "url", 8)
        assert rogue.exists()  # nothing deleted before the abort
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucket_count_mismatch_raises(spark, tmp_path):
    """A layout written into 8 buckets must not be re-attached as 4:
    Spark trusts the declared bucketing and plans no Exchange, so the
    per-url count over the mis-declared table would read fewer than
    700 urls (363 in this module's local[4] session).
    The log's spec is checked first and the error names both specs."""
    df = _pages_df(spark)
    path = str(tmp_path / "n_mismatch")
    tbl = "n_mismatch_test"
    try:
        ensure_bucketed(spark, lambda: df, path, tbl, "url", 8)
        before = _bucket_files(path)
        with pytest.raises(ValueError, match="INTO 8 BUCKETS.*INTO 4 BUCKETS"):
            ensure_bucketed(spark, lambda: df, path, tbl, "url", 4)
        assert _bucket_files(path) == before
        again = ensure_bucketed(spark, lambda: 1 / 0, path, tbl, "url", 8)
        assert again.groupBy("url").count().count() == 700
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_rewrite_drops_memoized_plans(spark, tmp_path):
    """A plan memoized over the table has the same semantics after a
    rewrite in place, so the writer drops the session's memo: the next
    call answers from the new files, not the old listing."""
    from s2js_spark.spark import memo

    path = str(tmp_path / "memo_rewrite")
    tbl = "memo_rewrite_test"

    def count():
        t = spark.table(tbl)
        return memo.cached(spark, "storage-test", lambda: t.groupBy().count(),
                           plan=t).collect()[0][0]

    try:
        write_bucketed(_pages_df(spark), path, tbl, "url", 8)
        assert count() == 2000
        write_bucketed(_pages_df(spark).limit(300), path, tbl, "url", 8)
        assert count() == 300
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

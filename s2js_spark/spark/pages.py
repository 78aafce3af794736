"""Deterministic synthesis of the Common-Crawl-style pages table.

The engine's input is an Iceberg/parquet table of web pages
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` (BASELINE.json input_hint). The sandbox has no such table,
so we derive one deterministically from the driver's ``documents``
parquet with a SINGLE dialect-portable SQL text that runs identically
in Spark SQL and DuckDB — this is what makes every downstream operator
oracle-checkable.

Properties of the synthetic corpus:
- geotags: ~95% of pages carry <meta name="geo.position"
  content="lat;lng"> built from exact integer (E6) arithmetic, so the
  decimal strings are bit-identical across engines. 70% of pages
  cluster around 16 "cities" (Zipf-ish skew for the salting path),
  30% are uniform.
- re-crawls: pages with doc_id % 5 == 4 share the url of doc_id-1
  (same url, later warc_ts, same text) -> dedup-by-url material.
- text is carried through byte-identical from documents.text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One SQL text, two dialects. Functions used: ||, abs, %, floor, cast,
# lpad, case, lag-over. All verified to behave identically in Spark SQL
# and DuckDB for these inputs.
PAGES_SQL = """
WITH base AS (
  SELECT
    doc_id,
    text,
    lang,
    source,
    CASE WHEN doc_id % 5 = 4 THEN doc_id - 1 ELSE doc_id END AS url_id,
    doc_id % 16 AS city_id,
    (doc_id * 1103515245 + 12345) % 1000000 AS j1,
    (doc_id * 214013 + 2531011) % 1000000 AS j2
  FROM documents
),
geo AS (
  SELECT
    *,
    CASE WHEN doc_id % 10 < 7
      THEN (CAST(city_id AS BIGINT) * 7 - 55) * 1000000
           + CAST(FLOOR((j1 - 500000) / 2.0) AS BIGINT)
      ELSE ((doc_id * 48271) % 160000000) - 80000000
    END AS lat_e6,
    CASE WHEN doc_id % 10 < 7
      THEN (CAST(city_id AS BIGINT) * 21 - 160) * 1000000 + (j2 - 500000)
      ELSE ((doc_id * 69621) % 360000000) - 180000000
    END AS lng_e6
  FROM base
),
fmt AS (
  SELECT
    *,
    CASE WHEN lat_e6 < 0 THEN '-' ELSE '' END
      || CAST(CAST(FLOOR(ABS(lat_e6) / 1000000.0) AS BIGINT) AS STRING)
      || '.' || LPAD(CAST(ABS(lat_e6) % 1000000 AS STRING), 6, '0') AS lat_str,
    CASE WHEN lng_e6 < 0 THEN '-' ELSE '' END
      || CAST(CAST(FLOOR(ABS(lng_e6) / 1000000.0) AS BIGINT) AS STRING)
      || '.' || LPAD(CAST(ABS(lng_e6) % 1000000 AS STRING), 6, '0') AS lng_str
  FROM geo
)
SELECT
  'https://crawl.test/src' || CAST(url_id % 20 AS STRING) || '/'
    || CAST(url_id AS STRING) AS url,
  1704067200 + (doc_id * 37) % 31536000 AS warc_ts_sec,
  CASE WHEN doc_id % 20 = 7
    THEN '<html><head><title>page ' || CAST(doc_id AS STRING)
         || '</title></head><body>' || text || '</body></html>'
    ELSE '<html><head><title>page ' || CAST(doc_id AS STRING)
         || '</title><meta name="geo.position" content="'
         || lat_str || ';' || lng_str
         || '"><meta name="ICBM" content="' || lat_str || ', ' || lng_str
         || '"></head><body>' || text || '</body></html>'
  END AS html,
  text,
  lang,
  doc_id,
  CASE WHEN doc_id % 20 = 7 THEN NULL ELSE lat_e6 END AS lat_e6,
  CASE WHEN doc_id % 20 = 7 THEN NULL ELSE lng_e6 END AS lng_e6
FROM fmt
"""

# DuckDB spells STRING casts the same way (STRING is a VARCHAR alias),
# so the oracle shares the text verbatim (__spark_entry__._PAGES_CTE).


def register_documents(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("documents")


def pages(spark: SparkSession, sf_dir: str, with_binary_html: bool = True) -> DataFrame:
    """The synthetic pages DataFrame.

    ``html`` is a binary column (input_hint shape); ``warc_ts`` a real
    timestamp. The helper columns (doc_id, lat_e6, lng_e6) exist for
    oracle checks and are NOT used by the engine operators, which parse
    the geotag out of ``html`` like they would on real crawl data.
    """
    register_documents(spark, sf_dir)
    df = spark.sql(PAGES_SQL)
    # The local documents parquet is one split; a production crawl table
    # is thousands. Spread rows across cores so downstream stages see
    # realistic parallelism. Hash-cluster by ``url`` (round 6, guide
    # §2.4): the dedup window / minhash groupBy / any url-keyed
    # aggregate downstream then reuses this exchange instead of adding
    # a second full-corpus shuffle — and the shingle/md5 fan-out stages
    # keep all ``defaultParallelism`` partitions instead of running on
    # the ONE partition AQE coalesces a tiny window exchange to
    # (measured: the minhash signature aggregate dropped 4.1s -> 0.6s
    # at sf0.1 from this change alone). Urls are ~unique, so the hash
    # layout is as balanced as round-robin.
    df = df.repartition(
        spark.sparkContext.defaultParallelism, F.col("url")
    )
    df = df.withColumn("warc_ts", F.timestamp_seconds(F.col("warc_ts_sec")))
    if with_binary_html:
        df = df.withColumn("html", F.encode(F.col("html"), "UTF-8"))
    return df

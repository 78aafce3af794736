"""The flagship pipeline: scan pages -> extract geotags -> S2-encode ->
dedup re-crawls -> spatial join to tile sets.

Stage order is chosen for scan efficiency at 100 TB: the geotag regex
reads only ``html``; ``text`` is carried through untouched (byte
identity asserted in tests); dedup shuffles on ``url`` once; the tile
join is map-side (broadcast covering join, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .tiles import TileSetStruct, tile_id_col


def extract_geotags(df: DataFrame) -> DataFrame:
    """Append lat/lng doubles parsed from the html geotag (null if none).

    JVM-side inside whole-stage codegen: the fat ``html`` column never
    crosses the Arrow boundary — at 100 TB this is the difference
    between shipping bytes to Python per page and a pure columnar
    scan. Both engines' correctly-rounded string->double casts agree
    bit-for-bit.

    Round 6 (guide §1.2 "per-task work", measured): the geotag parse
    was the single largest flagship stage (~1.2s of the 3.4s x1600
    wall). ``decode(html,'UTF-8')`` materialized a java.lang.String —
    a full UTF-16 transcode + copy of every page, twice (String then
    back to UTF8String); ``cast(html as string)`` wraps the bytes as a
    UTF8String zero-copy. Measured on the x1600 corpus: parse stage
    1.2s -> 0.34s (the regex
    itself is cheap — java.util.regex Boyer-Moores the literal
    ``<meta name=...`` prefix; an explicit locate()+slice variant was
    measured SLOWER and rejected).

    Malformed UTF-8: the cast does not validate. Invalid bytes outside
    the geotag leave lat/lng unchanged; an invalid byte inside the
    tag's content fails the pattern and gives null lat/lng. ``text`` is
    never read or rewritten (tests/test_spark_engine.py pins both).
    """
    page = F.col("html").cast("string")
    # One regex pass for the whole content attribute, then cheap splits
    # (two regexp_extract calls would scan the page twice).
    content = F.regexp_extract(
        page, r'<meta name="geo\.position" content="(-?\d+\.\d+;-?\d+\.\d+)"', 1
    )
    lat_s = F.substring_index(content, ";", 1)
    lng_s = F.substring_index(content, ";", -1)
    return df.withColumn(
        "lat", F.when(content != "", lat_s.cast("double"))
    ).withColumn("lng", F.when(content != "", lng_s.cast("double")))


def encode_cells(df: DataFrame) -> DataFrame:
    """Leaf cell id + token for geotagged rows (pure-SQL JVM path)."""
    from . import sqlkernels as sq

    df = sq.with_s2_cellid(df, "lat", "lng", out_col="cellid")
    return df.withColumn(
        "token",
        F.when(F.col("cellid").isNotNull(), sq.s2_token_sql("cellid")),
    )


def dedup_latest(df: DataFrame, key: str = "url", ts: str = "warc_ts") -> DataFrame:
    """Keep the most recent crawl per url (SURVEY §2.7)."""
    w = Window.partitionBy(key).orderBy(F.desc(ts), F.desc("doc_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def tag_pipeline(
    spark: SparkSession, pages_df: DataFrame, ts: TileSetStruct
) -> DataFrame:
    """pages -> (url, tile_id, cellid, token, text, lang): the flagship.

    100% JVM: geotag regex, url dedup window, SQL cell encode and the
    covering broadcast join + SQL refinement (tagjoin) all run inside
    whole-stage codegen; the only Python is the exact residual check
    over triage-uncertified polygon lanes (empty on organic data).
    """
    from . import sqlkernels as sq
    from .tagjoin import tag_tiles_pairs

    df = extract_geotags(pages_df)
    df = dedup_latest(df)
    geo = df.select("url", "lat", "lng", "text", "lang")
    pairs = tag_tiles_pairs(spark, geo, ts, cellid_col="cellid")
    out = pairs.withColumn("token", sq.s2_token_sql("cellid"))
    return out.select(
        "url", "cellid", "token", "text", "lang",
        tile_id_col(ts.tile_ids).alias("tile_id"),
    )

"""Bucketed (hash-clustered) storage layout for the pages table, and
its one resumable writer.

The 100 TB design point stores the Common-Crawl-style page table
hash-clustered by ``url`` — the Iceberg `bucket(N, url)` partition
transform; this container has no Iceberg runtime jar, so the same
layout is realised with Spark's native parquet bucketing, which is
plan-equivalent: the scan reports ``HashPartitioning(url, N)``, so

- ``dedup_latest``'s window (partitionBy url) needs NO Exchange —
  the one shuffle in the flagship pipeline disappears entirely (the
  exchange was the measured non-scaling term in the round-2 cluster
  phase: ~10 GB re-shuffled per run at 10^8 pages, a guaranteed
  scale-killer at 10^12);
- any url-keyed join/aggregate downstream co-locates for free.

Bucketed metadata lives in the session catalog, so a table written
once is re-attached to any later session (other executors-count runs
of the scaling phase, a fresh driver) with one DDL statement over the
same files — `register_bucketed`. Spark derives the bucket id from
the writer's file names, so attach-after-the-fact is exact.

The writer is resumable, with a per-bucket commit log
(``_s2js_manifest.jsonl`` at ``path``, one JSON line per committed
bucket: key, bucket count, schema DDL, bucket, row count, wall
seconds, commit time). A write

1. checks that the log's key, bucket count and schema equal the
   requested ones, and raises naming both before anything is deleted
   (Spark trusts the declared bucketing and plans no Exchange, so a
   layout read under another bucket count answers wrongly);
2. leaves the buckets in the log alone: they are committed;
3. deletes the files of buckets not in the log, the leftovers of a
   crashed attempt; a parquet file without a bucket id in its name
   (another committer's layout) raises first;
4. writes the pending buckets in one pass, filtered by
   ``pmod(hash(key), n)``, Spark's own bucket id, through
   ``insertInto`` an EXTERNAL table (``CREATE TABLE … LOCATION``, so a
   catalog drop never purges committed files);
5. drops the session's memoized plans, which cannot see that the
   files changed;
6. adds one log line per written bucket, its row count read from
   the parquet footers (file metadata only, no Spark job), and
   replaces the log file whole.

``write_bucketed`` runs the writer from an empty log, so it overwrites;
``ensure_bucketed`` resumes from the log and re-attaches a complete
layout without building its input. The log records what the writer
can observe, not where the rows came from: the path names the input,
and a different input needs a different path (or ``write_bucketed``).
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import memo

MANIFEST = "_s2js_manifest.jsonl"

# part-00000-<uuid>_00003.c000.snappy.parquet -> bucket 3
_BUCKET_FILE_RE = re.compile(r"_(\d{5})(?:\.|$)")


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def manifest(path: str) -> list[dict]:
    """The commit log's rows. A torn FINAL line (partial JSON, what a
    crash while appending leaves) is tolerated: that bucket was never
    committed, so it simply rewrites. A malformed line anywhere else
    is real corruption and still raises."""
    mp = os.path.join(path, MANIFEST)
    if not os.path.exists(mp):
        return []
    with open(mp) as f:
        lines = [ln for ln in f if ln.strip()]
    out: list[dict] = []
    for i, line in enumerate(lines):
        try:
            out.append(json.loads(line))
        except json.JSONDecodeError:
            if i == len(lines) - 1:
                break
            raise
    return out


def _check_spec(
    path: str, log: list[dict], key: str, n_buckets: int, schema: str | None
) -> None:
    """Raise unless every log row was written under the requested key,
    bucket count and (when given) schema."""
    for m in log:
        if (m["key"], m["n_buckets"]) != (key, n_buckets) or (
            schema is not None and m["schema"] != schema
        ):
            want = f"CLUSTERED BY ({key}) INTO {n_buckets} BUCKETS"
            if schema is not None:
                want += f" ({schema})"
            raise ValueError(
                f"bucketed layout at {path!r} was written CLUSTERED BY"
                f" ({m['key']}) INTO {m['n_buckets']} BUCKETS"
                f" ({m['schema']}), not the requested {want} — write it"
                " again with write_bucketed or use another path"
            )


def _bucket_files(path: str) -> dict[int, list[str]]:
    """Parquet data files at ``path`` by the bucket id in their names.

    A data file whose name carries no ``_NNNNN`` bucket id was written
    by another committer than Spark's bucketed writer — skipping it
    would commit buckets with wrong counts and leave stale files that
    cleanup cannot see, so it raises instead."""
    files: dict[int, list[str]] = {}
    if not os.path.isdir(path):
        return files
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".parquet"):
            continue
        m = _BUCKET_FILE_RE.search(fn)
        if m is None:
            raise ValueError(
                f"parquet file without a bucket id in its name at the"
                f" bucketed table location: {os.path.join(path, fn)}"
                " (expected Spark bucketed-writer naming"
                " part-...-<uuid>_NNNNN...parquet)"
            )
        files.setdefault(int(m.group(1)), []).append(fn)
    return files


def _verify_table_spec(
    spark: SparkSession, table: str, path: str, key: str, n_buckets: int
) -> None:
    """Raise unless the catalog table's LOCATION and bucket spec are
    the requested ones: ``CREATE TABLE IF NOT EXISTS`` silently reuses
    a table, and ``insertInto`` would then write outside the logged
    location."""
    info = {
        r["col_name"].strip(): (r["data_type"] or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r["col_name"]
    }
    loc = info.get("Location", "")
    loc_path = re.sub(r"^[a-z]+:(//)?", "", loc)
    if os.path.realpath(loc_path) != os.path.realpath(path):
        raise ValueError(
            f"catalog table {table} already exists with LOCATION"
            f" {loc!r}, not the requested path {path!r} — drop or"
            " rename the table"
        )
    buckets = info.get("Num Buckets", "")
    cols = info.get("Bucket Columns", "")
    if buckets != str(n_buckets) or key not in cols:
        raise ValueError(
            f"catalog table {table} bucket spec ({cols} INTO {buckets})"
            f" does not match the requested CLUSTERED BY ({key})"
            f" INTO {n_buckets} BUCKETS"
        )


def _write(df: DataFrame, path: str, table: str, key: str, n_buckets: int) -> None:
    """The writer: commit the buckets the log at ``path`` lacks."""
    spark = df.sparkSession
    schema = _schema_ddl(df)
    log = manifest(path)
    _check_spec(path, log, key, n_buckets, schema)
    done = {m["bucket"] for m in log}
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return
    leftovers = [
        fn for b, fns in _bucket_files(path).items() if b not in done for fn in fns
    ]
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema})"
        f" USING PARQUET CLUSTERED BY ({key}) SORTED BY ({key})"
        f" INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    _verify_table_spec(spark, table, path, key, n_buckets)
    for fn in leftovers:
        os.remove(os.path.join(path, fn))
        crc = os.path.join(path, f".{fn}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    t0 = time.time()
    if done:
        df = df.filter(F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).isin(pending))
    # repartition(n, key) hashes exactly like the bucket id, so every
    # task holds one bucket and the layout is one file per bucket.
    df.repartition(n_buckets, F.col(key)).write.insertInto(table)
    wall = round(time.time() - t0, 3)
    # Plans memoized over the old files have the same semantics as
    # plans over the new ones; they would answer from the old listing.
    memo.clear(spark)

    import pyarrow.parquet as pq

    files = _bucket_files(path)
    stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    for b in pending:
        rows = sum(
            pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
            for fn in files.get(b, [])
        )
        log.append({"key": key, "n_buckets": n_buckets, "schema": schema,
                    "bucket": b, "row_count": rows, "wall_sec": wall,
                    "written_at": stamp})
    # Replace the log whole: a torn line is never appended to, and a
    # crash here leaves the old log, whose pending buckets rewrite.
    os.makedirs(path, exist_ok=True)
    mp = os.path.join(path, MANIFEST)
    with open(mp + ".tmp", "w") as fh:
        fh.writelines(json.dumps(m) + "\n" for m in log)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(mp + ".tmp", mp)


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    key: str = "url",
    n_buckets: int = 64,
) -> None:
    """Write ``df`` hash-clustered by ``key`` into ``n_buckets`` at
    ``path``, replacing whatever layout and catalog table were there:
    the resumable writer started from an empty log."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    mp = os.path.join(path, MANIFEST)
    if os.path.exists(mp):
        os.remove(mp)
    _write(df, path, table, key, n_buckets)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    key: str = "url",
    n_buckets: int = 64,
) -> DataFrame:
    """Attach an existing bucketed layout to this session's catalog."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET"
        f" CLUSTERED BY ({key}) SORTED BY ({key})"
        f" INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    return spark.table(table)


def ensure_bucketed(
    spark: SparkSession,
    df_builder,
    path: str,
    table: str,
    key: str = "url",
    n_buckets: int = 64,
) -> DataFrame:
    """Resumable ingest: commit the buckets the log at ``path`` lacks,
    writing ``df_builder()`` bucketed by ``key``, then return the
    bucketed table. A complete layout is re-attached without calling
    ``df_builder`` (a fresh session, the scaling phase's separate
    executor-count runs); one logged under another key or bucket count
    raises."""
    log = manifest(path)
    _check_spec(path, log, key, n_buckets, None)
    if log and {m["bucket"] for m in log} == set(range(n_buckets)):
        return register_bucketed(spark, table, path, log[0]["schema"], key, n_buckets)
    _write(df_builder(), path, table, key, n_buckets)
    return spark.table(table)


def no_exchange_before_window(df: DataFrame) -> bool:
    """True iff the physical plan contains no shuffle Exchange — the
    proof obligation for the bucketed dedup path (broadcast exchanges
    don't count: they're map-side)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Tree-prefix charset includes ':' — operators under a join branch
    # render as ':  +- Exchange ...' and must not escape detection.
    return not any(
        line.strip().lstrip("+-*: ").startswith("Exchange")
        for line in plan.splitlines()
    )

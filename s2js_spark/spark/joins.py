"""Distributed spatial joins beyond the broadcast tile join (tagjoin).

``knn_join`` is the scale path for many-query nearest-neighbor joins
(SURVEY §2.5): both sides key by their cell at a chosen level, queries
fan out to their 3x3 cell neighborhood (edge+vertex neighbors, in SQL
for a distributed query frame and from the scalar port for a literal
batch), candidates equi-join on the cell key (a plain shuffle join —
AQE handles skew), and a window takes the top-k by chord^2. Queries
whose k-th neighbor cannot be certified inside the neighborhood
(k-th distance > the level's minimum cell width) are re-run brute
force — an escalation that is empty for well-chosen levels.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..geometry import cellid_scalar as cs
from ..geometry.angle import chord_from_angle
from ..geometry.metric import MIN_WIDTH_METRIC
from . import memo
from . import sqlkernels as sq


def _estimate_count(df: DataFrame, sample_partitions: int = 4) -> int:
    """Row-count estimate from at most ``sample_partitions`` partitions
    (sc.runJob on a partition subset — no full scan). Exact when the
    DataFrame has that few partitions."""
    rdd = df.rdd
    n_parts = rdd.getNumPartitions()
    if n_parts == 0:
        return 0
    take = min(sample_partitions, n_parts)
    counts = rdd.context.runJob(
        rdd, lambda it: [sum(1 for _ in it)], range(take)
    )
    total = sum(counts)
    if take == n_parts:
        return total
    return int(total / take * n_parts)


def _cell_keyed_points(points: DataFrame, level: int) -> DataFrame:
    """The encoded, lineage-truncated point-side of the kNN join — the
    kNN service's stored index table, memoized by knn_join. Catalyst
    analysis + physical planning of the 14-layer encode chain is ~3.7s
    of FIXED driver cost per call (measured at sf0.1), and the memoized
    DataFrame also carries the materialized checkpoint blocks."""
    # assume_nonnull after a BASE-column filter: the null-guard CASE
    # makes the output nullable and downstream join analysis then
    # infers `_cell IS NOT NULL` through the chain (the pushdown
    # blow-up sqlkernels.pushdown_barrier documents).
    pts = points.filter(
        F.col("lat").isNotNull() & F.col("lng").isNotNull()
    )
    pts = sq.with_s2_cellid(
        pts, "lat", "lng", out_col="_leaf", assume_nonnull=True
    )
    pts = pts.withColumn(
        "_cell", sq.s2_parent_sql("_leaf", level)
    ).drop("_leaf")
    # Lineage truncation (lazy localCheckpoint): the equi-join makes
    # dynamic-partition-pruning track the `_cell` join key's lineage
    # down the encode chain with full alias substitution — measured
    # as a multi-minute optimizer hang (jstack:
    # PartitionPruning.prune rebuilding the inlined CaseWhen forest),
    # and unlike predicate pushdown it ignores nondeterministic
    # barriers. Truncating to an RDD leaf stops every such lineage
    # walk; the materialized NARROW key table (id, lat, lng, _cell)
    # is the index a kNN service stores anyway.
    return pts.localCheckpoint(eager=False)


def _chord2_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> F.Column:
    """Squared chord distance between two degree column pairs, all JVM:
    ``sqlkernels.chord2_sql`` of the two ``sqlkernels.xyz_sql`` unit
    vectors, Point.chord_angle_between in the scalar port's op order.
    Every op after cos/sin is IEEE correctly rounded in both, and the
    JVM's trig is the engine's canonical choice for DataFrame geometry
    (sqlkernels' encode chain made the same call)."""
    return F.expr(sq.chord2_sql(sq.xyz_sql(lat1, lng1), sq.xyz_sql(lat2, lng2)))


def _neighbors_3x3(leaf: int, level: int) -> list[int]:
    """The cell at ``level`` holding ``leaf`` followed by its
    neighbours in (di, dj) order, cube-corner duplicates dropped: the
    scalar form of ``sqlkernels.with_s2_neighborhood``."""
    center = cs.parent(leaf, level)
    size = cs.size_ij(level)
    f, i, j, _ = cs.face_ij_orientation(center)
    cells = [center] + [
        cs.parent(cs.from_face_ij_wrap(f, i + di * size, j + dj * size), level)
        for di in (-1, 0, 1)
        for dj in (-1, 0, 1)
        if di or dj
    ]
    return list(dict.fromkeys(cells))


def _local_neighborhood_frame(
    spark: SparkSession,
    queries: DataFrame,
    level: int,
    query_id: str,
) -> DataFrame | None:
    """Driver-side (query_id, qlat, qlng, _cell) VALUES frame for a
    LocalRelation query batch, or None when the query side is a real
    distributed frame (which takes the SQL neighbourhood). Cells come
    from the scalar port, the same set the SQL path computes."""
    try:
        # optimized (not analyzed) plan: ConvertToLocalRelation folds
        # the Project a `SELECT * FROM VALUES` wraps around the
        # LocalRelation
        plan = queries._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LocalRelation":
            return None
        rows = queries.collect()  # LocalRelation: driver-only, no job
    except Exception:  # pragma: no cover - exotic sessions
        return None
    if not rows or len(rows) > 10_000:
        return None
    cols = set(queries.columns)
    if not {query_id, "qlat", "qlng"} <= cols:
        return None

    def qid_sql(v) -> str | None:
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, np.integer)):
            return f"{int(v)}L"
        if isinstance(v, str) and "'" not in v and "\\" not in v:
            return f"'{v}'"
        return None

    vals = []
    for r in rows:
        qid = qid_sql(r[query_id])
        if qid is None:  # unsupported id type: use the SQL path
            return None
        lat, lng = float(r["qlat"]), float(r["qlng"])
        for c in _neighbors_3x3(cs.from_latlng_degrees(lat, lng), level):
            c -= (c >> 63) << 64  # raw uint64 bits as a signed long
            vals.append(f"({qid}, {sq.cast_lit(lat)}, {sq.cast_lit(lng)}, {c}L)")
    out = spark.sql(
        "SELECT * FROM VALUES " + ", ".join(vals)
        + f" AS _q({query_id}, qlat, qlng, _cell)"
    )
    # match the incoming query_id type (entry uses int ids; VALUES
    # spelled them as longs)
    return out.withColumn(
        query_id, F.col(query_id).cast(queries.schema[query_id].dataType)
    )


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    level: int | None = None,
    point_id: str = "id",
    query_id: str = "query_id",
) -> DataFrame:
    """k nearest points per query over (lat, lng) columns on both sides.

    Returns (query_id, id, chord2, rank). Exact: under-covered queries
    fall back to brute force automatically. A query with a null
    coordinate gets no rows.
    """
    # A Filter over a LocalRelation still optimizes to a LocalRelation,
    # so literal batches keep the driver-side neighbourhood path.
    queries = queries.filter(F.col("qlat").isNotNull() & F.col("qlng").isNotNull())
    if level is None:
        # aim for ~4k points per cell-neighborhood; level from an
        # ESTIMATED point count — counting a handful of partitions and
        # extrapolating (round 2 ran a FULL points.count() pre-pass
        # here; at 100 TB that is an extra scan of the corpus before
        # the join even starts). The level only needs the right order
        # of magnitude: correctness is level-independent via the
        # certified brute-force escalation below. Not memoized here:
        # queries() memoizes the whole knn_auto plan.
        n = _estimate_count(points)
        level = max(2, min(16, int(math.log(max(n, 1) / 32.0 + 1, 4)) + 4))

    # Point-side cell key via the pure-SQL JVM encode (sqlkernels),
    # memoized + lineage-truncated: the corpus side must never cross
    # the Arrow boundary — the round-3 bench showed the pandas-UDF
    # encode alone cost ~1.8s of knn's wall at sf0.1 (an extra Python
    # roundtrip of every point; the 100 TB anti-pattern). The query
    # side gets its 3x3 neighbourhoods in SQL too
    # (sqlkernels.with_s2_neighborhood), except when the query frame is
    # a LocalRelation (driver-literal query batches, the interactive
    # service shape): then the scalar port computes them on the driver
    # and they are inlined as a VALUES frame, which skips the SQL
    # chain's planning (median 0.87 s vs 4.0 s per fresh 4-query
    # request, 200k points, level 8, on a 4-core host).
    # A hit needs the same live session, level and points-plan
    # semantics, so fresh query batches on one corpus reuse the index.
    # Plan semantics cannot see files rewritten in place: call
    # memo.clear(spark) after such a rewrite. The index blocks are
    # localCheckpoint ones, which an executor loss invalidates: with
    # preemptible executors, checkpoint() to a checkpoint dir instead.
    pts = memo.cached(
        spark, ("joins.points", level), lambda: _cell_keyed_points(points, level), plan=points
    )
    q = _local_neighborhood_frame(spark, queries, level, query_id)
    if q is None:
        q = sq.with_s2_neighborhood(queries, "qlat", "qlng", level, "_cell")

    cand = q.join(pts, "_cell")
    chord2 = F.round(
        _chord2_sql("lat", "lng", "qlat", "qlng"), 12
    )
    w = Window.partitionBy(query_id).orderBy(F.col("chord2"), F.col(point_id))
    topk = (
        cand.withColumn("chord2", chord2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "chord2", "rank")
    )

    # Certification: the 3x3 ring at `level` guarantees correctness iff
    # the k-th distance is below the minimum cell width at that level.
    #
    # Round 6: the whole certify-and-escalate decision is now ONE lazy
    # plan instead of an eager ``isEmpty`` probe + ``persist`` at build
    # time (which executed the full topk during DataFrame construction,
    # left a persisted result behind, and cost 2-3 extra jobs per
    # call). The brute branch streams the memoized NARROW index table
    # ``pts`` — the same rows as ``points`` with null coordinates
    # dropped (null-coordinate points can never be nearest neighbors;
    # the brute-force oracle filters them too) — so when every query
    # certifies, the escalation branch costs one scan of the
    # checkpointed (id, lat, lng) table joined against an empty
    # broadcast, not a second pass over the corpus pipeline. The
    # shared topk subtree's window exchange is reused across the
    # certified and escalation branches (ReuseExchange), so nothing is
    # computed twice at scale.
    min_width = MIN_WIDTH_METRIC.value(level)
    max_certified_chord2 = chord_from_angle(min_width)
    per_q = topk.groupBy(query_id).agg(
        F.max("chord2").alias("_kth"), F.count("*").alias("_n")
    )
    certified = per_q.filter(
        (F.col("_n") >= k) & (F.col("_kth") <= F.lit(max_certified_chord2))
    ).select(query_id)
    # Escalations derive from QUERIES, not from topk: a query whose 3x3
    # neighborhood holds zero candidates never appears in per_q at all
    # and must still fall back to brute force.
    bad_q = queries.join(certified, query_id, "left_anti")
    brute = pts.drop("_cell").crossJoin(F.broadcast(bad_q))
    brute_topk = (
        brute.withColumn(
            "chord2",
            F.round(_chord2_sql("lat", "lng", "qlat", "qlng"), 12),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "chord2", "rank")
    )
    good = topk.join(F.broadcast(certified), query_id, "left_semi")
    return good.unionByName(brute_topk)

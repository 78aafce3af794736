"""Explicit skew handling for hot cell keys (north rule, SURVEY §4.3).

Zipfian geotags make coarse cell prefixes (cities) extremely hot. On
top of AQE's runtime skew-join splitting, ``salted_agg`` provides
two-phase aggregation — hash-salt the keys, partial-aggregate on
(key, salt), then final-aggregate on key. For algebraic aggregates
this removes single-reducer hot spots entirely.

The broadcast tile join (spark/tagjoin.py) is deliberately map-side, so
join-skew never arises there; this module covers the groupBy paths
(per-cell roll-ups) where a hot city cell would otherwise serialize on
one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_col: str,
    aggs: list,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for algebraic aggregates.

    ``aggs`` is a list of (partial_expr, final_expr, name) triples,
    e.g. ``(F.count("*"), F.sum, "n")`` aggregates count partials per
    (key, salt) then sums them per key. Cheap insurance: for uniform
    keys the extra shuffle stage is tiny (n_salts rows per key).
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key_col, "_salt")
        .agg(*[p.alias(f"_p_{name}") for p, _, name in aggs])
    )
    return partial.groupBy(key_col).agg(
        *[fin(f"_p_{name}").alias(name) for _, fin, name in aggs]
    )


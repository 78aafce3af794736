"""Text-analysis and deduplication operators for training-data pipelines.

All hot-path expressions are Spark built-ins (JVM, whole-stage
codegen); nothing here drops to Python. Hash choices (md5, polynomial
rolling hash over integer codes) are engine-portable so every operator
has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# A tiny stopword list per language for the n-gram language-ID heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["de", "shi", "le"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def quality_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-length quality scores."""
    tokens = F.split(F.trim(F.col(col)), r"\s+")
    n_tokens = F.size(tokens)
    n_chars = F.length(F.col(col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    stop_hits = F.size(
        F.filter(tokens, lambda t: t.isin(STOPWORDS))
    )
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_ratio", F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6))
        .withColumn(
            "avg_word_len",
            F.round((n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1)), 6),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "url") -> DataFrame:
    """Exact content dedup: keep one representative per md5(text).

    Representative = lexicographically smallest key; fully shuffle-
    on-hash, the canonical 100 TB exact-dedup plan.
    """
    h = F.md5(F.col(text_col))
    w = Window.partitionBy("content_hash").orderBy(key_col)
    return (
        df.withColumn("content_hash", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_dedup_groups(
    df: DataFrame, text_col: str = "text", key_col: str = "url",
    k: int = 8, num_hashes: int = 8, bands: int = 4,
) -> DataFrame:
    """LSH near-dup candidate groups: band over the MinHash signature,
    bucket-join on band value (shuffle on band hash — scales linearly).

    Returns (band, band_sig, key) rows for buckets with >1 member.
    """
    rows_per_band = num_hashes // bands
    # Round-4 shape: EXPLODE shingles -> codegen md5/substring -> MIN
    # aggregates per key, instead of higher-order-function lambdas.
    # HOFs (transform/array_min) evaluate interpreted per element —
    # the signature alone measured 6.4s vs 5.1s for this shape at
    # sf0.1 — and the old plan needed a round-robin exchange barrier
    # plus posexplode_outer to defeat two optimizer traps (Generate
    # inlining, InferFiltersFromGenerate) that re-inlined the HOF
    # chain. Here the signature is a plain aggregate: when the input
    # comes off the url-dedup window (or the bucketed table) the
    # groupBy reuses its HashPartitioning — ZERO additional shuffle —
    # and `_sig` is an aggregate output attribute, so nothing can be
    # re-inlined downstream. Signature value i is the minimum over the
    # key's k-shingles of the (i % 4)-th 8-hex-char slice of
    # md5('salt{i // 4}:' || shingle) — min over the shingle multiset
    # == min over the set, so the `minhash_bands` oracle reproduces it.
    # Rows with null/empty text produce no bands (they cannot be
    # near-dups of anything).
    # Round 6 (guide §4.1/§1.2): explode the shingle INDEX (a primitive
    # int sequence) and compute substring(text, i, k) in the codegen
    # projection above the Generate, instead of materializing a
    # ~250-element array of string shingles per row inside an
    # interpreted transform() lambda — same multiset, ~20% off the
    # explode stage. explode_OUTER still defeats
    # InferFiltersFromGenerate (the sequence is never empty:
    # greatest(..., 1) >= 1).
    ex = (
        df.select(key_col, F.col(text_col))
        .withColumn(
            "_i",
            F.explode_outer(
                F.expr(
                    f"sequence(1, greatest(length({text_col}) - {k - 1}, 1))"
                )
            ),
        )
        .select(key_col, F.expr(f"substring({text_col}, _i, {k})").alias("_s"))
    )
    # min over the NUMERIC value of each 8-hex-char digest slice
    # instead of the string: identical order (fixed-width lowercase
    # hex), but long agg buffers qualify for HashAggregate — the
    # string-min form fell back to SortAggregate, which SORTS the
    # entire exploded shingle stream per partition (a guaranteed
    # scale-killer at 10^12 docs). Values reconstruct bitwise via
    # lower(lpad(hex(.), 8, '0')) (verified value-equal on sf0.1).
    aggs = []
    for i in range(num_hashes):
        salt, slice_i = divmod(i, 4)
        aggs.append(
            F.min(
                F.expr(
                    f"cast(conv(substring(md5(concat('salt{salt}:', _s)),"
                    f" {1 + 8 * slice_i}, 8), 16, 10) as bigint)"
                )
            ).alias(f"_m{i}")
        )
    sig = ex.groupBy(key_col).agg(*aggs).select(
        key_col,
        F.array(
            *[
                F.expr(f"lower(lpad(hex(_m{i}), 8, '0'))")
                for i in range(num_hashes)
            ]
        ).alias("_sig"),
    )
    bands_arr = F.expr(
        f"transform(sequence(0, {bands - 1}),"
        f" b -> concat_ws('|', slice(_sig, b * {rows_per_band} + 1, {rows_per_band})))"
    )
    exploded = (
        sig.withColumn("_bands", bands_arr)
        .select(key_col, F.posexplode_outer("_bands").alias("band", "band_sig"))
    )
    w = Window.partitionBy("band", "band_sig")
    return (
        exploded.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )


def minhash_dedup(
    df: DataFrame, text_col: str = "text", key_col: str = "url",
    k: int = 8, num_hashes: int = 8, bands: int = 4, max_iter: int = 25,
) -> DataFrame:
    """Near-dup dedup DECISIONS: (key, rep, keep) for every input row.

    Connected components over the LSH candidate graph, computed with
    DataFrames only (no driver-side graph):

    - candidate buckets from ``minhash_dedup_groups`` become STAR
      edges (member -> bucket-min member): linear in bucket sizes,
      same connectivity as the full clique;
    - iterative min-label propagation with pointer doubling to a fixed
      point (the classic large-scale connected-components shape;
      O(log component-diameter) rounds, each a shuffle on the edge
      key — scales linearly);
    - ``rep`` is the lexicographically smallest key of the component;
      ``keep`` is 1 exactly for the representative row.

    Deterministic, and SQL-expressible (transitive closure over the
    same star edges), so the driver's DuckDB oracle can verify it
    bit-for-bit.
    """
    groups = minhash_dedup_groups(
        df, text_col=text_col, key_col=key_col,
        k=k, num_hashes=num_hashes, bands=bands,
    )
    bucket_min = groups.groupBy("band", "band_sig").agg(
        F.min(key_col).alias("_rep")
    )
    star = (
        groups.join(bucket_min, ["band", "band_sig"])
        .filter(F.col(key_col) != F.col("_rep"))
        .select(F.col(key_col).alias("_a"), F.col("_rep").alias("_b"))
        .distinct()
    )
    return min_label_components(
        df.select(key_col).distinct(), star, key_col, max_iter
    )


def min_label_components(
    nodes: DataFrame, star: DataFrame, key_col: str, max_iter: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation,
    DataFrames only (no driver-side graph): (key, rep, keep) where
    ``rep`` is the component's smallest key. ``nodes`` is one distinct
    key column; ``star`` is (_a, _b) edges (any orientation — the
    reverse direction is added here). Each round does one
    min-over-neighbors step AND one pointer-doubling step
    (label <- label(label)), so convergence takes O(log diameter)
    rounds — a 10^12-doc chain component of length 10^6 converges in
    ~20 rounds instead of 10^6. Raises if ``max_iter`` rounds elapse
    without reaching the fixed point (silent non-convergence would
    return reps that disagree with the transitive-closure oracle).
    Shared by minhash_dedup (text near-dups) and
    similarity.semantic_dedup (embedding near-dups)."""
    # localCheckpoint (not persist): each round's labels feed the next
    # round's joins, so without lineage truncation the logical plan
    # doubles per iteration and the driver OOMs just PRINTING it. On a
    # real cluster use a reliable checkpoint dir instead.
    # Round 6: checkpoints are LAZY (eager=False) and each round's
    # convergence test rides the same action that materializes the
    # round's checkpoint — the old-label column is carried through the
    # round so "did anything change" is a filter over the new frame
    # instead of a separate join-back job (halves the actions per
    # round; the per-round join work is unchanged).
    edges = star.unionByName(
        star.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    ).localCheckpoint(eager=False)

    labels = nodes.withColumn("_lbl", F.col(key_col)).localCheckpoint(
        eager=False
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["_b"] == labels[key_col])
            .groupBy("_a")
            .agg(F.min("_lbl").alias("_nbr_lbl"))
        )
        prop = labels.join(
            nbr_min, labels[key_col] == nbr_min["_a"], "left"
        ).select(
            labels[key_col],
            F.least(
                F.col("_lbl"), F.coalesce(F.col("_nbr_lbl"), F.col("_lbl"))
            ).alias("_lbl"),
            F.col("_lbl").alias("_lbl_old"),
        )
        # Pointer doubling: _lbl <- label(_lbl). Labels are always node
        # keys and label(y) <= y, so the step is monotone and halves
        # the distance to the component min — O(log diameter) rounds
        # total instead of O(diameter).
        lbl2 = prop.select(
            F.col(key_col).alias("_pk"), F.col("_lbl").alias("_plbl")
        )
        new_labels = (
            prop.join(lbl2, prop["_lbl"] == lbl2["_pk"], "left")
            .select(
                prop[key_col],
                F.coalesce(F.col("_plbl"), prop["_lbl"]).alias("_lbl"),
                F.col("_lbl_old"),
            )
            .localCheckpoint(eager=False)
        )
        # one action: materializes the checkpoint AND counts changes
        changed = new_labels.filter(F.col("_lbl") != F.col("_lbl_old")).count()
        labels = new_labels.select(key_col, "_lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"min_label_components: no fixed point after {max_iter} rounds "
            "(component diameter > 2^max_iter is not possible — this "
            "indicates a label cycle bug, not slow convergence)"
        )
    return labels.select(
        F.col(key_col),
        F.col("_lbl").alias("rep"),
        (F.col(key_col) == F.col("_lbl")).cast("long").alias("keep"),
    )


def simhash_rows(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    key_cols: tuple = ("url", "doc_id"),
    num_bits: int = 16,
) -> DataFrame:
    """Per-row SimHash as explode + grouped conditional sums
    (round 6, guide §4.1): ``simhash64`` evaluates 16 interpreted
    ``aggregate()`` lambdas over a per-row shingle-hash array —
    ~num_bits x shingles interpreted closures per document (measured
    2.5s at sf0.1). This form explodes the shingle index, computes the
    md5-derived hash once per shingle in codegen, and takes the same
    +-1 bit sums as 16 HashAggregate long sums — bit-for-bit the same
    fingerprint (integer sums are order-free). ``key_cols`` must be a
    per-row unique key set (url alone is NOT unique across re-crawls).

    Returns (*key_cols, simhash).
    """
    ex = (
        df.select(*key_cols, F.col(text_col))
        .withColumn(
            "_i",
            F.explode_outer(
                F.expr(
                    f"sequence(1, greatest(length({text_col}) - {k - 1}, 1))"
                )
            ),
        )
        .select(
            *key_cols,
            F.expr(
                f"cast(conv(substring(md5(substring({text_col}, _i, {k})),"
                f" 1, 15), 16, 10) as bigint)"
            ).alias("_h"),
        )
    )
    sums = [
        F.sum(
            F.expr(
                f"case when (_h div {1 << j}) % 2 = 1 then 1 else -1 end"
            )
        ).alias(f"_b{j}")
        for j in range(num_bits)
    ]
    agg = ex.groupBy(*key_cols).agg(*sums)
    bits = " + ".join(
        f"(case when _b{j} > 0 then {1 << j}L else 0L end)"
        for j in range(num_bits)
    )
    return agg.select(
        *key_cols, F.expr(f"cast(({bits}) as bigint)").alias("simhash")
    )


def simhash64(col: str, k: int = 4):
    """64-bit SimHash from k-shingles via md5-derived bit drift.

    For each of 64 bit positions, sum +-1 across shingles according to
    bit j of the shingle's md5; sign of the sum is the fingerprint bit.
    Kept engine-portable: conv(substring(md5,...),16,10) & bit.
    """
    sh = f"transform(sequence(1, greatest(length({col}) - {k - 1}, 1)), i -> substring({col}, i, {k}))"
    # per shingle: first 16 hex chars of md5 as a BIGINT (cast through
    # unsigned decimal string)
    hashes = (
        f"transform({sh}, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
    )
    bits = ", ".join(
        f"case when aggregate({hashes}, 0L,"
        f" (acc, h) -> acc + (case when (h div {1 << j}) % 2 = 1 then 1 else -1 end)) > 0"
        f" then {1 << j}L else 0L end"
        for j in range(16)  # 16 sign bits keep the expression tree sane
    )
    return F.expr("aggregate(array(" + bits + "), 0L, (acc, v) -> acc + v)")


def ngram_jaccard(col_a: str, col_b: str, k: int = 8):
    """Exact n-gram Jaccard similarity between two text columns."""
    sa = f"array_distinct(transform(sequence(1, greatest(length({col_a}) - {k - 1}, 1)), i -> substring({col_a}, i, {k})))"
    sb = f"array_distinct(transform(sequence(1, greatest(length({col_b}) - {k - 1}, 1)), i -> substring({col_b}, i, {k})))"
    return F.expr(
        f"size(array_intersect({sa}, {sb})) / cast(size(array_union({sa}, {sb})) as double)"
    )


def doc_fingerprint(col: str = "text"):
    """Deterministic 64-bit-ish rolling fingerprint: first 15 hex chars
    of md5 as BIGINT (portable to DuckDB via from_hex)."""
    return F.expr(f"cast(conv(substring(md5({col}), 1, 15), 16, 10) as bigint)")


def lang_id_heuristic(df: DataFrame, col: str = "text") -> DataFrame:
    """Toy n-gram language ID: argmax of marker-token hit counts."""
    tokens = F.split(F.trim(F.col(col)), r"\s+")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(tokens, lambda t: t.isin(markers)))
        scores.append(F.struct(hits.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn("lang_pred", best["lang"]).withColumn("lang_score", best["score"])

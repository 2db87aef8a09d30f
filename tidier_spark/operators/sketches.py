"""Approximate sketches: HLL/theta distinct counts, GK/KLL quantiles, and
mergeable partial aggregation (build per batch, merge forever).

The reference has no sketch support (its `n_distinct` is exact,
`/root/reference/R/mutate.R:152` translation table) — but at 100 TB exact
distinct counts and exact quantiles are the two aggregations whose shuffle
width is O(distinct values), not O(groups).  Sketches fix the asymptotics:

* **HLL distinct** (`hll_sketch_agg`, Apache DataSketches HLL): fixed
  ~KB-per-group state regardless of cardinality; the map-side partial is
  the sketch itself, so the shuffle carries one small binary per
  (partition, group) instead of every distinct value.
* **Mergeability** is the load-bearing property: sketches built per day /
  per partition / per cluster are unioned (`hll_union_agg`) into the
  global answer WITHOUT re-reading data.  That is the 100 TB
  re-aggregation pattern — build once per ingest batch, merge forever.
  :func:`hll_partials` + :func:`hll_merge` express exactly that split.
* **Approximate quantiles** (`percentile_approx`, Greenwald-Khanna
  variant): rank error ≤ n/accuracy with O(accuracy) state — again a
  bounded map-side partial, vs exact percentile which sorts every value
  within the group.

Everything stays JVM-side (built-in aggregates, whole-stage codegen).
Estimates are deterministic for a given input (no RNG) but NOT portable
across engines — DuckDB's approx_count_distinct uses a different HLL — so
oracle entries verify the *accuracy contract* (estimate within rsd of the
exact value, computed on the Spark side) rather than the raw estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .literal import json_lit

__all__ = [
    "approx_n_distinct",
    "hll_partials",
    "hll_merge",
    "approx_quantiles",
    "kll_partials",
    "kll_merged_quantiles",
    "theta_partials",
    "theta_merge",
    "theta_overlap",
    "topk_partials",
    "topk_merged",
    "cms_build",
    "cms_query",
    "hll_trailing_distinct",
]


def _keys(by: object) -> list[str]:
    return [by] if isinstance(by, str) else list(by or [])


def _check_probs(fn: str, probs: list[float]) -> None:
    # out-of-range probabilities are NOT uniformly loud downstream:
    # percentile_approx raises, but the exact lowering's pos arithmetic
    # silently clamps into garbage — validate at the API boundary
    bad = [p for p in probs if not 0.0 <= p <= 1.0]
    if bad:
        raise ValueError(f"{fn}: probabilities must be in [0, 1], got {bad}")


def _check_lg_k(fn: str, lg_k: int) -> None:
    # mirror the DataSketches bound analysis-time (the engine error only
    # surfaces when a task runs, deep in a possibly-large job)
    if not 4 <= lg_k <= 21:
        raise ValueError(f"{fn}: lg_k must be in [4, 21], got {lg_k}")


def approx_n_distinct(
    df: DataFrame, col: str, *, by: object = None, rsd: float = 0.05
) -> DataFrame:
    """Per-group approximate distinct count (`approx_count_distinct`).

    One shuffle on the group keys; the shuffled payload per group is the
    HLL register array (KBs), independent of the true cardinality.
    """
    # rsd=0 does not merely error: Spark's HLL++ prepare path SIGSEGVs the
    # JVM (measured: UnsafeRow.getLong crash, whole session gone) — guard
    # BEFORE anything reaches the executor
    if not 0 < rsd < 1:
        raise ValueError(
            f"approx_n_distinct: rsd must be in (0, 1), got {rsd}"
        )
    keys = _keys(by)
    agg = F.approx_count_distinct(col, rsd).alias(f"approx_n_{col}")
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def hll_partials(
    df: DataFrame,
    col: str,
    *,
    by: object = None,
    part: object = None,
    lg_k: int = 12,
) -> DataFrame:
    """Build one HLL sketch per (group, partial) cell — the ingest-time
    half of sketch-based distinct counting.

    ``part`` is the partial dimension (e.g. an ingest-day column): at scale
    these cells are written once per batch and persisted; totals come from
    :func:`hll_merge` over any subset of cells, never from re-scanning.
    """
    _check_lg_k("hll_partials", lg_k)
    keys = _keys(by) + _keys(part)
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll_sketch")
    )


def hll_merge(
    df: DataFrame, *, by: object = None, sketch_col: str = "hll_sketch"
) -> DataFrame:
    """Union previously-built HLL sketches and estimate the distinct count.

    Input rows are (group, partial, sketch); output is one estimate per
    group.  The union is algebraic — associative and commutative — so
    Catalyst is free to partial-merge map-side.
    """
    keys = _keys(by)
    merged = F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(
        "approx_n_merged"
    )
    return df.groupBy(*keys).agg(merged) if keys else df.agg(merged)


def approx_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    *,
    by: object = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group approximate quantiles with rank error ≤ n/``accuracy``.

    Returns one array column ``approx_q`` (same order as ``probs``).  State
    per group is O(accuracy), vs a full sort for exact percentile — the
    difference between a bounded hash aggregate and a spill at 100 TB.
    """
    _check_probs("approx_quantiles", probs)
    keys = _keys(by)
    agg = F.percentile_approx(
        F.col(col), json_lit(probs, "array<double>"), F.lit(accuracy)
    ).alias("approx_q")
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def exact_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    *,
    by: object = None,
    coarse_groups: bool = False,
) -> DataFrame:
    """Per-group EXACT quantiles (continuous interpolation, the
    ``percentile``/``quantile_cont`` contract) computed distributively.

    The built-in exact ``percentile`` aggregate buffers EVERY group value
    in a per-task map and merges whole maps on the reduce side — a
    memory/straggler hazard once a group holds billions of rows.  This
    shape never does: aggregate to (group, value, count) — partial-agg
    friendly, cardinality-bounded by distinct values — then a cumulative
    count per group locates the interpolation neighbors ``floor(pos)`` /
    ``ceil(pos)`` at ``pos = p·(n−1)`` with one conditional aggregation
    per probability.  Interpolation uses Spark's exact formula
    ``v_lo·(ceil−pos) + v_hi·(pos−floor)`` (bit-identical to the
    built-in; see Percentile.getPercentile in Spark).

    Returns one ``q_<i>`` double column per probability, in ``probs``
    order.  NULLs are ignored, matching ``percentile``; a group whose
    values are all NULL has no surviving rows and is absent from the
    output (where the built-in would emit the group with NULL quantiles).

    Two parallelism regimes, same arithmetic (bit-identical results):

    * default (``coarse_groups=False``): the cumulative count is one
      window per group — parallelism scales with the NUMBER of groups,
      the right shape for high-cardinality keys (millions of groups);
    * ``coarse_groups=True``: value-range buckets spread each group's
      values over every core, and the cumulative count runs as the
      library's two-pass distributed prefix scan
      (:func:`tidier_spark.window._prefix_scan`: per-bucket prefix, then
      the earlier buckets' totals joined back as offsets, NULL-safe on
      the group keys) — the right shape when a FEW huge groups would
      otherwise serialize on one task per group.  The offset table is
      O(n_partitions × groups) rows, small in exactly the coarse-group
      regime.

    ``by=None`` computes GLOBAL quantiles (one output row): the default
    regime runs its cumulative count over the distinct values in a
    single task (bounded by distinct-value cardinality, not row count);
    ``coarse_groups=True`` is the scale path — the whole value range is
    bucketed across every core, and the offsets and the one total
    arrive in one broadcast join.

    ``coarse_groups=True`` runs eager work at call time: it
    materializes the cardinality-bounded (group, value, count) frame
    with ``localCheckpoint`` and collects percentile split points from
    it, so the value bucket id is a pure function of the row and every
    plan branch sees one ``__pid`` assignment under any re-execution.
    """
    from pyspark.sql import Window

    _check_probs("exact_quantiles", probs)
    keys = _keys(by)
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(*keys, col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if coarse_groups:
        from ..window import _det_bucket_id, _Partial, _prefix_scan

        # Bucketing on the VALUE alone spreads every group's range over
        # all buckets — exactly the coarse-group regime — and within a
        # group bucket order follows value order, which is all the prefix
        # scan requires.  The bucket id is a pure function of the row
        # (split points embedded as literals), so every branch of the
        # scan sees ONE assignment under any re-execution.  Materialize
        # the cardinality-bounded counts FIRST: the scan's branches would
        # otherwise each recompute its shuffle, and the split points then
        # come from a sub-second pass over the distinct cells.
        base = counts.localCheckpoint(eager=True)
        n = df.sparkSession.sparkContext.defaultParallelism
        pid = _det_bucket_id(base, F.col(col), n, desc=False, null_last=False)
        count = _Partial("__hi", F.sum("__c"), F.sum("__c"), F.sum, zero=0)
        cum, _ = _prefix_scan(
            base.withColumn("__pid", pid.cast("int")),
            [count], order=[F.col(col)], by=keys, grand="__n",
        )
        cum = cum.withColumn("__lo", F.col("__hi") - F.col("__c"))
    else:
        w = Window.partitionBy(*keys).orderBy(col)
        # same partition+order spec for both frames → one WindowExec pass
        w_all = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = (
            counts.withColumn("__hi", F.sum("__c").over(w))
            .withColumn("__lo", F.col("__hi") - F.col("__c"))
            .withColumn("__n", F.sum("__c").over(w_all))
        )
    aggs = [F.first("__n").alias("__n")]
    for i, p in enumerate(probs):
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        fpos = F.floor(pos)
        cpos = F.ceil(pos)
        # value v covers 0-based sorted indices [__lo, __hi - 1]
        aggs.append(
            F.max(
                F.when(
                    (fpos >= F.col("__lo")) & (fpos < F.col("__hi")), F.col(col)
                )
            ).alias(f"__vlo_{i}")
        )
        aggs.append(
            F.max(
                F.when(
                    (cpos >= F.col("__lo")) & (cpos < F.col("__hi")), F.col(col)
                )
            ).alias(f"__vhi_{i}")
        )
    res = cum.groupBy(*keys).agg(*aggs)
    outs = list(keys)
    for i, p in enumerate(probs):
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        fpos = F.floor(pos)
        cpos = F.ceil(pos)
        v_lo = F.col(f"__vlo_{i}").cast("double")
        v_hi = F.col(f"__vhi_{i}").cast("double")
        outs.append(
            # v_lo == v_hi: both neighbor indices fall inside ONE distinct
            # value's count range — the built-in's value->count buffer
            # short-circuits there without interpolating, and
            # v*(c-pos) + v*(pos-f) is NOT exactly v in IEEE (399 ->
            # 399.00000000000006; a divergence found by hypothesis)
            F.when((fpos == cpos) | (v_lo == v_hi), v_lo)
            .otherwise(
                v_lo * (cpos.cast("double") - pos)
                + v_hi * (pos - fpos.cast("double"))
            )
            .alias(f"q_{i}")
        )
    return res.select(*outs)


def kll_partials(
    df: DataFrame,
    col: str,
    *,
    by: object = None,
    part: object = None,
    k: int = 1600,
) -> DataFrame:
    """One KLL quantile sketch per (group, partial) cell over a BIGINT
    column — the quantile analog of :func:`hll_partials`.

    Unlike ``percentile_approx`` (whose GK summary exists only inside a
    single aggregation), KLL sketches are first-class VALUES: persist the
    per-batch cells, and any later slice's quantiles come from
    :func:`kll_merged_quantiles` without touching raw data.  Normalized
    rank error ~0.8% at the default k=1600.
    """
    if not 8 <= k <= 65535:
        raise ValueError(f"kll_partials: k must be in [8, 65535], got {k}")
    keys = _keys(by) + _keys(part)
    # NULL values contribute nothing to a quantile sketch; a cell with
    # ZERO non-NULL values would otherwise emit an empty sketch buffer
    # that kll_sketch_get_quantile rejects downstream (nullvals edge
    # axis) — SQL aggregate-drop-NULL semantics, cell disappears instead
    df = df.where(F.col(col).isNotNull())
    agg = F.kll_sketch_agg_bigint(F.col(col), F.lit(k)).alias("kll_sketch")
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def kll_merged_quantiles(
    df: DataFrame,
    probs: list[float],
    *,
    by: object = None,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge previously-built KLL sketches per group and read quantiles.

    Spark exposes KLL merge only as a 2-ary scalar
    (``kll_sketch_merge_bigint``), not an aggregate — so the group's
    sketches are collected and folded with a higher-order ``aggregate``.
    The collected list is one KB-sized sketch per PARTIAL (ingest batch),
    not per row: its size is the partial count, bounded and small by
    construction.  Output: ``approx_q`` array aligned with ``probs``.
    """
    _check_probs("kll_merged_quantiles", probs)
    keys = _keys(by)
    arr = ", ".join(f"{float(p)!r}D" for p in probs)
    fold = (
        f"kll_sketch_get_quantile_bigint("
        f"aggregate(slice(__ks, 2, size(__ks) - 1), __ks[0], "
        f"(acc, x) -> kll_sketch_merge_bigint(acc, x)), array({arr}))"
    )
    g = (
        df.groupBy(*keys).agg(F.collect_list(sketch_col).alias("__ks"))
        if keys
        else df.agg(F.collect_list(sketch_col).alias("__ks"))
    )
    # an UNGROUPED merge over zero partials yields one row with an empty
    # list — drop it (no sketches ⇒ no quantiles) instead of feeding
    # __ks[0] = NULL into the merge fold; grouped inputs never produce
    # empty lists, so this is a no-op there
    g = g.where(F.size("__ks") > 0)
    return g.select(*keys, F.expr(fold).alias("approx_q"))


def theta_partials(
    df: DataFrame,
    col: str,
    *,
    by: object = None,
    part: object = None,
    lg_k: int = 12,
) -> DataFrame:
    """One theta sketch per (group, partial) cell.

    Theta sketches estimate distinct counts like HLL but additionally
    support INTERSECTION and DIFFERENCE — the only way to answer "how
    many distinct users did both X and Y" over 100 TB without shuffling
    every raw id: per-segment KB-sized sketches combine in milliseconds.
    """
    _check_lg_k("theta_partials", lg_k)
    keys = _keys(by) + _keys(part)
    agg = F.theta_sketch_agg(F.col(col), F.lit(lg_k)).alias("theta_sketch")
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def theta_merge(
    df: DataFrame, *, by: object = None, sketch_col: str = "theta_sketch"
) -> DataFrame:
    """Union theta sketches per group (``theta_union_agg`` is a real
    aggregate — no fold needed) and estimate the distinct count."""
    keys = _keys(by)
    est = F.theta_sketch_estimate(
        F.theta_union_agg(F.col(sketch_col))
    ).alias("approx_n_merged")
    return df.groupBy(*keys).agg(est) if keys else df.agg(est)


def theta_overlap(
    df: DataFrame,
    col: str,
    seg_col: str,
    seg_a: object,
    seg_b: object,
) -> DataFrame:
    """Distinct-count overlap of two segments in ONE pass: ``(n_a, n_b,
    n_union, n_intersection)`` estimates from two filtered theta-sketch
    aggregates combined with ``theta_union`` / ``theta_intersection``.

    The exact equivalent is two count-distincts plus an INTERSECT — three
    full shuffles of the id column; this is one aggregation whose state
    is two KB-sized sketches.
    """
    a = F.theta_sketch_agg(
        F.when(F.col(seg_col) == seg_a, F.col(col))
    ).alias("__a")
    b = F.theta_sketch_agg(
        F.when(F.col(seg_col) == seg_b, F.col(col))
    ).alias("__b")
    return df.agg(a, b).select(
        F.theta_sketch_estimate("__a").alias("n_a"),
        F.theta_sketch_estimate("__b").alias("n_b"),
        F.theta_sketch_estimate(F.theta_union("__a", "__b")).alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection("__a", "__b")).alias(
            "n_intersection"
        ),
    )


def topk_partials(
    df: DataFrame,
    col: str,
    *,
    by: object = None,
    part: object = None,
    max_items_tracked: int = 10_000,
) -> DataFrame:
    """One heavy-hitters sketch per (group, partial) cell
    (``approx_top_k_accumulate``) — the frequent-items member of the
    mergeable-sketch family (HLL distincts, KLL quantiles, theta set
    algebra).  State per cell is O(max_items_tracked) regardless of row
    count; counts are EXACT whenever the cell's distinct cardinality
    stays within ``max_items_tracked`` (the sketch only approximates
    once it must evict).
    """
    keys = _keys(by) + _keys(part)
    agg = F.expr(
        f"approx_top_k_accumulate({col}, {int(max_items_tracked)})"
    ).alias("topk_sketch")
    return df.groupBy(*keys).agg(agg) if keys else df.agg(agg)


def topk_merged(
    df: DataFrame,
    k: int,
    *,
    by: object = None,
    sketch_col: str = "topk_sketch",
    max_items_tracked: int = 10_000,
) -> DataFrame:
    """Merge previously-built heavy-hitters sketches per group and emit
    the top ``k`` items as rows ``(item, est_freq, topk_rank)``.

    The merge is a DISTRIBUTED SUM over the sketches' own (item, count)
    contents: each partial is unpacked with ``approx_top_k_estimate``
    (its full tracked list), exploded to rows, and folded with one hash
    aggregate — map-side combined and shuffle-parallel, so partial
    sketches from any slicing (per day, per ingest batch, per shard)
    fold into the group answer without re-reading data, and no
    single-reducer sketch-buffer funnel exists at cluster scale.

    Spark's ``approx_top_k_combine`` is deliberately NOT used: when the
    total merged entry count is far above ``maxItemsTracked`` it
    silently loses even the heaviest items (measured, Spark 4.1: 84
    partials of ~65k tracked items each, combined at
    maxItemsTracked=100k → ``approx_top_k_estimate`` returns an EMPTY
    list; at 250k → 7 items).  Found by an sf-jump probe at 200k
    distinct parts, minimal repro in ``tests/test_sketches_scale.py``.
    Summing per-sketch counts is the standard frequent-items merge:
    EXACT whenever no partial evicted (each cell's distinct cardinality
    ≤ ``max_items_tracked`` — the documented exact contract), a
    lower-bound estimate otherwise.

    The final ranking is deterministic (freq desc, item asc) over the
    complete merged list (bounded by n_partials × max_items_tracked
    rows), so no pre-rank cut is applied.

    PRECONDITION (differs from the old combine path, which re-capped at
    merge time): ``max_items_tracked`` must be <= every partial's
    BUILD-time cap — Spark's ``approx_top_k_estimate(sketch, k)``
    requires a constant-literal ``k`` no larger than the sketch's own
    ``maxItemsTracked`` (raises
    APPROX_TOP_K_MAX_ITEMS_TRACKED_LESS_THAN_K otherwise, verified
    Spark 4.1), so a per-row clamp is not expressible and a pre-scan of
    the caps would re-execute the partials' whole lineage.  The
    precondition is validated IN-PLAN: a ``CASE WHEN assert_true(...)``
    gate (assert_true yields NULL on success, so the estimate branch
    runs) raises a named, actionable error before Spark's cryptic
    executor-side one.  Passing the exact build cap unpacks each
    partial's full tracked list; passing a smaller value is allowed
    only if it still covers every partial (same error otherwise).
    """
    from pyspark.sql import Window

    if k < 0:
        raise ValueError(f"topk_merged: k must be >= 0, got {k}")
    keys = _keys(by)
    mit = int(max_items_tracked)
    # NOTE: this string is spliced inside a single-quoted SQL literal —
    # Spark's default lexer escapes with backslash, NOT doubled quotes,
    # so keep it apostrophe-free (''s lexed as two adjacent
    # literals and rendered "sketchs").
    err = (
        f"topk_merged: max_items_tracked ({mit}) exceeds the build-time "
        "cap of a partial sketch (' || CAST("
        f"{sketch_col}.maxItemsTracked AS STRING) || '); pass "
        "max_items_tracked <= the cap the partials were built with, "
        "or rebuild the partials with a larger cap"
    )
    est = F.expr(
        f"CASE WHEN assert_true({sketch_col}.maxItemsTracked >= {mit}, "
        f"'{err}') IS NULL THEN "
        f"approx_top_k_estimate({sketch_col}, {mit}) END"
    )
    ex = (
        df.where(F.col(sketch_col).isNotNull())
        .select(*keys, F.explode(est).alias("__e"))
        .select(
            *keys,
            F.col("__e.item").alias("item"),
            F.col("__e.count").alias("__n"),
        )
    )
    g = ex.groupBy(*keys, "item").agg(F.sum("__n").alias("est_freq"))
    w = Window.partitionBy(*keys).orderBy(
        F.col("est_freq").desc(), F.col("item").asc()
    )
    return g.withColumn("topk_rank", F.row_number().over(w).cast("long")).where(
        F.col("topk_rank") <= k
    )


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch over the values of ``col`` — the frequency member
    of the mergeable-sketch family Spark's datasketches exprs lack.
    Returns the sketch AS A TABLE ``(j, bucket, n)``: row ``j`` of the
    d×w count matrix, bucket ``hash60(j # value) % width``, summed count.

    Mergeability is structural: sketches from any slicing (per shard, per
    day) fold by summing ``n`` on (j, bucket) — plain aggregation, which
    is exactly how this builds (one explode of ``depth`` rows per input
    row, ONE hash aggregate with map-side combine; state is bounded by
    d·w cells regardless of input size).  Point-query with
    :func:`cms_query`; the classic guarantee holds: the estimate NEVER
    undercounts, and overcounts by > 2N/width with probability ≤ 2^-depth.

    Row hashing is JVM ``xxhash64`` over the STRING form of the value,
    seeded per sketch row — whole-stage codegen, far cheaper than an
    md5-family hash on the hot explode; the string cast pins hashing to
    the value, not its storage type, so a sketch built over INT probes
    correctly from a BIGINT items frame.  Sketch tables merge across any Spark jobs that
    share (depth, width); cross-ENGINE bucket reproduction is not part of
    the contract (the guarantees are distributional, not value-level).
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(depth - 1)),
            lambda j: F.struct(
                j.cast("long").alias("j"),
                F.pmod(
                    F.xxhash64(j, F.col(col).cast("string")), F.lit(width)
                )
                .cast("long")
                .alias("bucket"),
            ),
        )
    )
    return (
        df.select(rows.alias("r"))
        .select(F.col("r.j").alias("j"), F.col("r.bucket").alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_query(
    cms: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
    out: str = "est_n",
) -> DataFrame:
    """Point-query a :func:`cms_build` table: per item, the MIN over the
    ``depth`` rows of the matching bucket counts.  The items frame fans
    out ``depth`` rows, equi-joins the (small, ≤ d·w rows) sketch —
    broadcast — and min-aggregates back on the item.  Estimates never
    undercount the true frequency.
    """
    fan = items.select(
        F.col(item_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.xxhash64(F.col("j").cast("int"), F.col(item_col).cast("string")),
            F.lit(width),
        ).cast("long"),
    ).withColumn("j", F.col("j").cast("long"))
    return (
        fan.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias(out))
    )


def hll_trailing_distinct(
    df: DataFrame,
    col: str,
    *,
    time_col: str,
    window_days: int = 7,
    by: object = None,
    lg_k: int = 12,
) -> DataFrame:
    """Trailing-N-day DISTINCT estimate per day from MERGED per-day HLL
    partials — the hypertable continuous-rollup reuse pattern: ingest
    writes one KB-sized sketch per (group, day), and ANY trailing window
    is a union of ≤ N sketches, never a rescan of raw events.  The exact
    equivalent (count(DISTINCT) OVER a range frame) is one of SQL's
    refused window aggregates and would need the full value set per
    (group, day) — this is the 100 TB lowering.

    Output: one row per (group, day): ``(keys..., day_us,
    approx_trailing)``.  Implementation: per-day partials
    (:func:`hll_partials` shape) → a ``collect_list`` over the trailing
    RANGE frame in DAY units (≤ ``window_days`` KB-sized sketches per
    row — bounded, group-count cardinality, not event cardinality) →
    a 2-ary ``hll_union`` fold + one estimate.  Estimates are
    deterministic but engine-specific, so oracle checks are accuracy
    contracts against the exact count (see the ``rolling_hll`` entry).
    """
    from pyspark.sql import Window

    if window_days < 1:
        raise ValueError(
            f"hll_trailing_distinct: window_days must be >= 1, got {window_days}"
        )
    _check_lg_k("hll_trailing_distinct", lg_k)
    keys = _keys(by)
    day_us = F.unix_micros(F.date_trunc("DAY", F.col(time_col)))
    parts = df.withColumn("__day_us", day_us).groupBy(*keys, "__day_us").agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("__sk")
    )
    day_num = (F.col("__day_us") / F.lit(86_400_000_000)).cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(day_num)
        .rangeBetween(-(window_days - 1), 0)
    )
    fold = (
        "hll_sketch_estimate("
        "aggregate(slice(__ks, 2, size(__ks) - 1), __ks[0], "
        "(acc, x) -> hll_union(acc, x)))"
    )
    return (
        parts.withColumn("__ks", F.collect_list("__sk").over(w))
        .select(
            *keys,
            F.col("__day_us").alias("day_us"),
            F.expr(fold).cast("long").alias("approx_trailing"),
        )
    )

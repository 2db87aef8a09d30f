"""Model-evaluation metrics over scored rows: exact ROC-AUC and
calibration bins — the quality-gate stage between classifier scoring
(``quality.classifier_score`` / ``perceptron_fit``) and threshold
selection in a training-data pipeline.

The reference has nothing here (``R/mutate.R`` is a window verb); these
are extension operators in the house style: integer-exact arithmetic so
every value is oracle-hashable, and aggregation shapes that survive
100 TB (no per-row global window — both metrics aggregate to the
DISTINCT-SCORE frame first, the ``exact_quantiles`` discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["auc_exact", "auc_exact_sql", "calibration_bins", "calibration_bins_sql"]


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    by: str | list[str] | None = None,
    split_points: list | None = None,
) -> DataFrame:
    """EXACT ROC-AUC via the rank-sum (Mann-Whitney U) identity, with the
    standard average-rank tie handling — as integers, so the value is
    bit-identical on any engine:

        2U = Σ_positives (2·minrank + ties − 1) − n_pos·(n_pos + 1)
        AUC = 2U / (2·n_pos·n_neg)

    Plan shape (the 100 TB story): rows aggregate to ONE row per
    DISTINCT score — ``(score, n, n_pos)`` with map-side combine — and
    the rank prefix runs over that cardinality-bounded frame, never over
    raw rows (the ``exact_quantiles`` discipline; a per-row global
    ``rank()`` window would be the classic single-task funnel).  NULL
    scores and NULL labels are excluded (they have no rank / no class).

    UNGROUPED, the prefix uses the two-pass distributed lowering
    (:func:`~tidier_spark.window.scale_safe_cumulative` — range-bucket
    on score, per-bucket local prefix, n-row offset broadcast): a
    CONTINUOUS double score makes distinct ≈ rows, and the naive
    ``OVER (ORDER BY score)`` over that frame is a single-task funnel.
    The distinct-score rows are tie-free by construction, so the
    exclusive prefix is the exact integer inclusive prefix minus the
    row's own count — bit-identical to the single-window plan (pinned
    in tests).  GROUPED, the window
    partitions on the keys — parallel across groups; a single skewed
    group has the same story as any grouped aggregate.

    Output: one row (per group): ``n_pos, n_neg, auc_num, auc_den``
    (BIGINT — ``auc_num = 2U``, ``auc_den = 2·n_pos·n_neg``) and
    ``auc = auc_num / auc_den`` (double; NULL when a class is empty —
    AUC is undefined with one class, and both engines agree via the
    NULL-on-zero-denominator guard).

    Exact-integer domain: the rank-sum ``2U`` grows as
    ~``n_pos · 2n``, so BIGINT holds it while ``2n² < 2^63`` — about
    **2.1e9 scored rows per group** (and ``auc_den = 2·n_pos·n_neg``
    overflows at the same order).  Past that, ANSI mode raises loudly
    rather than silently wrapping; an eval set that large should be
    sampled or sharded (``by=``) anyway.

    ``split_points`` (ungrouped only): static bucket boundaries for
    the distributed prefix, replacing the percentile pass over the raw
    rows.  ANY ascending literals in the score domain are CORRECT — the
    bucket id only drives the parallel decomposition, the integer prefix
    combine is exact regardless of balance — so a caller who knows the
    score's range (e.g. a ppm-scaled score in [0, 1e6]) skips one full
    scan of the eval set.  Results are bit-identical either way (pinned
    in tests).  Duplicate literals are dropped; passing ``split_points``
    with ``by=``, or an empty list, raises ``ValueError``.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    if split_points is not None:
        if keys:
            raise ValueError(
                "auc_exact: split_points applies to the ungrouped AUC only"
            )
        if not split_points:
            raise ValueError(
                "auc_exact: split_points is empty; omit it for the "
                "percentile pass"
            )
    base = df.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    per_score = base.groupBy(*keys, score_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.sum(
            F.when(F.col(label_col) != 0, 1).otherwise(0)
        ).cast("long").alias("__pos"),
    )
    if keys:
        w = (
            Window.partitionBy(*keys)
            .orderBy(score_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        ranked = per_score.withColumn(
            "__before",
            F.coalesce(F.sum("__c").over(w), F.lit(0)).cast("long"),
        )
    else:
        from ..window import _split_points, scale_safe_cumulative

        # bucket split points: caller-supplied literals when the score
        # domain is known (skips the data pass entirely), else a
        # percentile pass over the RAW rows, not over per_score: any
        # monotone literals are correct (only balance varies — and
        # row-weighted balance is what we want), and the raw scan is one
        # stage where the per_score pass would re-execute the whole
        # distinct-score shuffle (measured 10.7 s of a 74 s call at 60M
        # distinct)
        n_parts = df.sparkSession.sparkContext.defaultParallelism
        splits = None
        if split_points is not None:
            splits = sorted(set(split_points))
        elif n_parts >= 2:
            splits = sorted(set(_split_points(base, F.col(score_col), n_parts)))
        ranked = scale_safe_cumulative(
            per_score,
            "__c",
            order_by=[score_col],
            out="__cum",
            fn="sum",
            split_points=splits or None,
        ).withColumn(
            "__before", (F.col("__cum") - F.col("__c")).cast("long")
        ).drop("__cum")
    # Σ_pos (2·minrank + ties − 1) with minrank = __before + 1:
    #   per distinct score, each of its __pos positives contributes
    #   (2·(__before + 1) + __c − 1)
    grouped = ranked.groupBy(*keys).agg(
        F.sum(
            F.col("__pos") * (2 * (F.col("__before") + 1) + F.col("__c") - 1)
        ).cast("long").alias("__rank2"),
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum(F.col("__c") - F.col("__pos")).cast("long").alias("n_neg"),
    )
    num = F.col("__rank2") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = 2 * F.col("n_pos") * F.col("n_neg")
    return grouped.select(
        *keys,
        "n_pos",
        "n_neg",
        num.cast("long").alias("auc_num"),
        den.cast("long").alias("auc_den"),
        F.when(den > 0, num / den).alias("auc"),
    )


def auc_exact_sql(
    table: str,
    score_expr: str,
    label_expr: str,
    *,
    by: str | None = None,
) -> str:
    """DuckDB mirror of :func:`auc_exact` (same distinct-score prefix,
    same integer rank-sum)."""
    keys = f"{by}, " if by else ""
    keyg = f"{by}" if by else ""
    part = f"PARTITION BY {by} " if by else ""
    grp = f"GROUP BY {by}" if by else ""
    grp2 = f"GROUP BY {by}" if by else ""
    sel_keys = f"{by}, " if by else ""
    return f"""
        WITH base AS (
          SELECT {keys}{score_expr} AS s,
                 CASE WHEN {label_expr} <> 0 THEN 1 ELSE 0 END AS pos
          FROM {table}
          WHERE {score_expr} IS NOT NULL AND ({label_expr}) IS NOT NULL
        ),
        per_score AS (
          SELECT {keys}s, count(*)::BIGINT AS c, sum(pos)::BIGINT AS p
          FROM base GROUP BY {keyg + ", " if keyg else ""}s
        ),
        ranked AS (
          SELECT *,
                 coalesce(sum(c) OVER ({part}ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS before
          FROM per_score
        ),
        g AS (
          SELECT {sel_keys}
                 sum(p * (2 * (before + 1) + c - 1))::BIGINT AS rank2,
                 sum(p)::BIGINT AS n_pos,
                 sum(c - p)::BIGINT AS n_neg
          FROM ranked {grp}
        )
        SELECT {sel_keys}n_pos, n_neg,
               (rank2 - n_pos * (n_pos + 1))::BIGINT AS auc_num,
               (2 * n_pos * n_neg)::BIGINT AS auc_den,
               CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                 (rank2 - n_pos * (n_pos + 1))::DOUBLE
                   / (2 * n_pos * n_neg)
               END AS auc
        FROM g"""


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    score_scale: int = 1_000_000,
) -> DataFrame:
    """Reliability-diagram bins over an INTEGER score in
    ``[0, score_scale]``: fixed-width bins (engine-portable integer
    division — never ntile, whose row-split would depend on data
    order), per-bin support and empirical positive rate.

    Output per non-empty bin: ``bin`` (0-based), ``n``, ``n_pos``,
    ``mean_score_ppm`` (integer mean of scores, floor), ``pos_rate_ppm``
    (``n_pos·1e6 div n``).  All BIGINT — hash-stable.  Scores outside
    [0, scale] clamp into the edge bins (defensive; a calibrated score
    shouldn't produce them).  One hash aggregate, map-side combine.
    """
    if n_bins < 1:
        raise ValueError(f"calibration_bins: n_bins must be >= 1, got {n_bins}")
    if score_scale < 1:
        raise ValueError(
            f"calibration_bins: score_scale must be >= 1, got {score_scale}"
        )
    base = df.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    # integer division on both engines (scores are integer ppm; negatives
    # are clamped before div/floor semantics could differ)
    raw = F.expr(
        f"(greatest(0L, CAST({score_col} AS BIGINT)) * {n_bins})"
        f" div {score_scale}"
    )
    clamped = F.least(F.lit(n_bins - 1).cast("long"), raw.cast("long"))
    return (
        base.withColumn("__bin", clamped)
        .groupBy(F.col("__bin").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col(label_col) != 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.expr(f"sum({score_col}) div count(*)")
            .cast("long")
            .alias("mean_score_ppm"),
            F.expr(
                f"(sum(CASE WHEN {label_col} <> 0 THEN 1 ELSE 0 END)"
                f" * 1000000) div count(*)"
            )
            .cast("long")
            .alias("pos_rate_ppm"),
        )
    )


def calibration_bins_sql(
    table: str,
    score_expr: str,
    label_expr: str,
    *,
    n_bins: int = 10,
    score_scale: int = 1_000_000,
) -> str:
    """DuckDB mirror of :func:`calibration_bins`."""
    return f"""
        WITH base AS (
          SELECT {score_expr} AS s,
                 CASE WHEN {label_expr} <> 0 THEN 1 ELSE 0 END AS pos
          FROM {table}
          WHERE {score_expr} IS NOT NULL AND ({label_expr}) IS NOT NULL
        )
        SELECT least({n_bins - 1},
                 (greatest(0, s) * {n_bins}) // {score_scale})::BIGINT AS bin,
               count(*)::BIGINT AS n,
               sum(pos)::BIGINT AS n_pos,
               (sum(s) // count(*))::BIGINT AS mean_score_ppm,
               ((sum(pos) * 1000000) // count(*))::BIGINT AS pos_rate_ppm
        FROM base GROUP BY 1"""

"""The `mutate` verb — tidier's entire public surface, Spark-first.

Reference contract (talegari/tidier): ``mutate(x, ..., .by, .order_by,
.frame, .index, .complete)`` (`/root/reference/R/mutate.R:474-481`) and the
standard-eval twin ``mutate_`` with ``.desc`` (`R/mutate.R:120-128`).  Each
call dispatches into one of nine dataflow operators O1-O9 (SURVEY.md §2.1)
depending on which of by/frame/index are present; this module performs the
same dispatch but lowers every path to declarative Spark constructs so
Catalyst owns the physical plan:

* O1  plain projection            → ``withColumn`` (no shuffle)
* O2  ordering + per-key desc     → property of the WindowSpec
* O3  group-broadcast aggregate   → ``agg.over(Window.partitionBy(by))``
* O4/O6 rows frames               → ``rowsBetween``
* O5/O7 range/interval frames     → ``rangeBetween`` on epoch-cast index,
                                    or SQL ``RANGE BETWEEN INTERVAL`` (Tier B)
* O8  same-name replacement       → ``withColumn`` semantics (free)
* O9  SQL window translation      → Catalyst *is* the remote engine

Differences from the reference, decided deliberately (SURVEY.md §7.3):

* Spark DataFrames are unordered bags — order-sensitive computations
  (cumulatives, rows frames) *require* ``order_by`` and raise otherwise;
  the reference silently depends on incoming physical order.
* The reference's ``mutate_`` restores input row order (`R/mutate.R:291`)
  while ``mutate`` leaves data sorted (`:561` captures but never restores).
  Here neither sorts the output; pass ``restore_order=True`` to tag rows
  with ``monotonically_increasing_id`` and re-sort at the end (a global
  sort — avoid on 100 TB paths).

Expression language: Spark SQL strings (or Columns).  dplyr-flavoured
spellings are translated: ``mean(`` → ``avg(``, ``n()`` → ``count(*)``, and
top-level ``cumsum/cummean/cummax/cummin/cumcount`` rewrite to running
aggregates over ``(unboundedPreceding, currentRow)`` exactly as the
reference evaluates them post-sort (`tests_tidier.R:17,26,55`).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .expressions import rewrite_r_functions, windowize
from .frames import FrameSpec, Period, parse_frame
from .window import (
    WindowPlan,
    _index_order_key,
    compile_window,
    quote_ident,
    rmq_call,
    rmq_frame_value,
    scale_safe_cumulative,
    scale_safe_frame,
    subtractive_calls,
    subtractive_over,
)

__all__ = ["mutate", "mutate_"]

_ORDER_TOKEN = "__tidier_row_order__"

# dplyr spelling → Spark SQL spelling (string exprs only).
_FN_TRANSLATE = [
    (re.compile(r"\bmean\s*\("), "avg("),
    (re.compile(r"\bn\s*\(\s*\)"), "count(*)"),
    (re.compile(r"\bn_distinct\s*\("), "count(DISTINCT "),
]

_CUM_RE = re.compile(
    r"^\s*cum(sum|mean|max|min|count)\s*\((.*)\)\s*$", re.DOTALL
)
_CUM_MAP = {"sum": "sum", "mean": "avg", "max": "max", "min": "min", "count": "count"}

_RANKING_RE = re.compile(
    r"^\s*(row_number|rank|dense_rank|percent_rank|cume_dist|ntile|lag|lead|"
    r"nth_value|first_value|last_value)\s*\(",
)


def _translate(expr: str) -> str:
    expr = rewrite_r_functions(expr)  # r_mean/r_sum/... → null-guarded SQL
    for pat, repl in _FN_TRANSLATE:
        expr = pat.sub(repl, expr)
    return expr


def _normalize_keys(keys: object) -> list[object]:
    if keys is None:
        return []
    if isinstance(keys, (str, Column)) or hasattr(keys, "to_spark"):
        return [keys]
    return list(keys)


def _complete_guard(plan: WindowPlan, value: Column) -> Column:
    """``complete=True``: null out partial windows (`R/mutate.R:58-62`).

    Rows frames: full ⇔ ``count(*) over frame == before+after+1`` (only
    finite bounds constrain).  Range frames: full ⇔ the value interval
    ``[key+lo, key+hi]`` lies inside the partition's index range — the
    slider ``slide_index(.complete=TRUE)`` rule.  Calendar (Tier B) frames
    apply the same extent rule with INTERVAL arithmetic on the raw index
    (``R/mutate.R:98-100`` routes calendar Periods through the identical
    slider ``.complete`` machinery).
    """
    frame = plan.frame
    assert frame is not None
    if plan.is_sql:
        # complete ⇔ [idx - before, idx + after] ⊆ partition index extent,
        # with calendar-aware shifts: `idx - INTERVAL '1' MONTH` moves by a
        # true month, not a fixed second count.
        q = quote_ident(plan.index_name)
        over = f" OVER ({plan.sql_part})" if plan.sql_part else " OVER ()"
        conds: list[str] = []
        for v, sign, agg, cmp in (
            (frame.before, -1, "min", ">="),
            (frame.after, +1, "max", "<="),
        ):
            if v == math.inf:
                continue  # unbounded side never makes a window partial
            if isinstance(v, Period):
                shift = f"{q} + INTERVAL '{sign * v.n}' {v.unit.upper()}"
            elif int(v) == 0:
                shift = q
            else:  # parse_frame limits numeric sides of calendar frames to 0/inf
                raise ValueError("calendar frames only mix with 0/inf numeric bounds")
            conds.append(f"({shift} {cmp} {agg}({q}){over})")
        if not conds:
            return value
        return F.when(F.expr(" AND ".join(conds)), value)
    lo, hi = plan.bounds()
    if plan.row_frame:
        # Unbounded sides never make a window partial.
        if lo < -(2**31) or hi > 2**31:
            return value
        return F.when(plan.count_guard() == hi - lo + 1, value)
    # Range frame: compare against the partition-wide index extent.
    key = plan.order_cols[0]
    part = Window.partitionBy(*plan.partition_cols)
    kmin, kmax = F.min(key).over(part), F.max(key).over(part)
    cond = F.lit(True)
    if lo > -(2**62):
        cond = cond & (key + F.lit(lo) >= kmin)
    if hi < 2**62:
        cond = cond & (key + F.lit(hi) <= kmax)
    return F.when(cond, value)


def mutate(
    df: DataFrame,
    _exprs: dict[str, object] | None = None,
    *,
    by: object = None,
    order_by: object = None,
    frame: object = None,
    index: str | None = None,
    desc: bool | list[bool] = False,
    complete: bool = False,
    restore_order: bool = False,
    scale_safe: bool = False,
    **kw_exprs: object,
) -> DataFrame:
    """Spark-style window mutate (the reference's single verb).

    Parameters mirror `R/mutate.R:474-481` / `:120-128`:

    df        : input DataFrame.
    _exprs    : ordered ``{new_col: expr}`` mapping; exprs are Spark SQL
                strings or Columns.  Later exprs may reference earlier
                outputs (dplyr sequential-mutate semantics).  Same-name
                outputs replace input columns (O8, `R/mutate.R:748-766`).
    by        : grouping key name(s)/Column(s) → ``PARTITION BY``.
    order_by  : ordering key name(s)/Column(s); required for cumulatives,
                ranking functions, and rows frames.
    frame     : ``(before, after)`` — ints / ``math.inf`` / Periods
                (`README.md:36-38` sign convention: counted backward,
                forward; negative `after` excludes current row).
    index     : column whose *values* define range frames (O5/O7); must be
                date/timestamp/numeric.
    desc      : bool or per-key list, parallel to ``order_by``
                (`R/mutate.R:148-150`).
    complete  : only evaluate full windows; partial windows yield NULL
                (`R/mutate.R:58-62`).
    restore_order : re-sort output to input order (global sort; see module
                docstring).
    scale_safe: lower ordered exprs without a single-task window.
                UNGROUPED: cumulatives (cumsum/cummean/cummax/...) via the
                two-pass range-partitioned prefix aggregate
                (:func:`tidier_spark.window.scale_safe_cumulative`).
                BOUNDED frames, ungrouped and grouped, via the
                range-partition + halo exchange
                (:func:`tidier_spark.window.scale_safe_frame`, bit-identical
                results, hash-pinned); grouped frames partition by (key,
                bucket), so a HOT key's rows split across order-axis
                buckets instead of one straggler task (the skewkeys
                regime).  Calendar frames (months/years) take the same
                RANGE halo with envelope copy bounds; calendar +
                ``.complete`` falls back to the default lowering.  Opt-in
                because float prefix sums re-associate (integer/decimal
                results are identical) and the frame path costs one extra
                broadcast join.
    kw_exprs  : exprs as keyword args (``avg_x="avg(x)"``).
    """
    exprs: dict[str, object] = {}
    if _exprs:
        exprs.update(_exprs)
    exprs.update(kw_exprs)
    if not exprs:
        return df

    by_l = _normalize_keys(by)
    order_l = _normalize_keys(order_by)
    # Eager membership check for plain string keys (the reference asserts
    # key columns exist before planning, R/mutate.R:147,159,168) — a
    # ValueError here beats a deep AnalysisException at resolution time.
    cols = set(df.columns)
    for role, keys in (("by", by_l), ("order_by", order_l)):
        for k in keys:
            if isinstance(k, str) and k not in cols:
                raise ValueError(f".{role} column {k!r} not in DataFrame")
    if isinstance(index, str) and index not in cols:
        raise ValueError(f".index column {index!r} not in DataFrame")
    frame_spec = parse_frame(frame) if frame is not None else None
    if complete and frame_spec is None:
        raise ValueError(".complete requires a .frame")

    out = df
    if restore_order:
        out = out.withColumn(_ORDER_TOKEN, F.monotonically_increasing_id())

    for name, expr in exprs.items():
        out = _apply_one(
            out,
            name,
            expr,
            by_l=by_l,
            order_l=order_l,
            frame_spec=frame_spec,
            index=index,
            desc=desc,
            complete=complete,
            scale_safe=scale_safe,
        )

    if restore_order:
        out = out.orderBy(_ORDER_TOKEN).drop(_ORDER_TOKEN)
    return out


def _apply_one(
    df: DataFrame,
    name: str,
    expr: object,
    *,
    by_l: list[object],
    order_l: list[object],
    frame_spec: FrameSpec | None,
    index: str | None,
    desc: bool | list[bool],
    complete: bool,
    scale_safe: bool = False,
) -> DataFrame:
    if isinstance(expr, str):
        expr = _translate(expr)

    # --- frame present: per-window summarise context (R/mutate.R:204-229) ---
    if frame_spec is not None:
        safe = _apply_scale_safe_frame(
            df,
            name,
            expr,
            order_l=order_l,
            frame_spec=frame_spec,
            index=index,
            desc=desc,
            complete=complete,
            by_l=by_l,
        ) if scale_safe else None
        if safe is not None:
            return safe
        plan = compile_window(
            df, by=by_l, order_by=order_l, frame=frame_spec, index=index, desc=desc
        )
        from .pandas_tier import frame_apply

        if isinstance(expr, frame_apply):
            # Tier C: arbitrary Python reducer once per frame
            value = expr.lower(plan, df)
            if complete:
                value = _complete_guard(plan, value)
            return df.withColumn(name, value)
        if isinstance(expr, Column):
            value = plan.over(expr)
            if complete:
                value = _complete_guard(plan, value)
            return df.withColumn(name, value)
        outer, calls = windowize(expr)
        if not calls:
            if _RANKING_RE.match(expr):
                # ranking functions define their own frame — lower onto the
                # same partition/order WITHOUT the custom frame
                rank_plan = compile_window(df, by=by_l, order_by=order_l, desc=desc)
                return df.withColumn(name, rank_plan.over(expr))
            # summarise context with a frame-independent expression — a
            # constant per row; evaluate row-wise (dplyr would too).
            return df.withColumn(name, F.expr(expr))
        for ph, call in calls:
            df = df.withColumn(ph, plan.over(call))
        value = F.expr(outer)
        if complete:
            value = _complete_guard(plan, value)
        return df.withColumn(name, value).drop(*[ph for ph, _ in calls])

    if isinstance(expr, Column):
        # Columns with no frame are row-wise; users apply .over themselves
        # for exotic cases.
        return df.withColumn(name, expr)

    # --- cumulative rewrites (tests_tidier.R:17,26,55) ---
    m = _CUM_RE.match(expr)
    if m and _balanced(m.group(2)):
        fn, inner = _CUM_MAP[m.group(1)], m.group(2)
        if not order_l:
            raise ValueError(
                f"{name}: cumulative expressions require order_by "
                "(Spark has no physical row order)"
            )
        if scale_safe and not by_l:
            # ungrouped cumulative: avoid the single-partition global window
            try:
                return scale_safe_cumulative(
                    df, inner, order_by=order_l, out=name, fn=fn
                )
            except ValueError:
                # e.g. an unnamed or unbucketable leading order key
                # (numeric/date/timestamp/string are supported; anything
                # else raises) — fall back to the reference-faithful
                # single-partition lowering
                pass
        plan = compile_window(
            df,
            by=by_l,
            order_by=order_l,
            frame=parse_frame((math.inf, 0)),
            desc=desc,
        )
        return df.withColumn(name, plan.over(f"{fn}({inner})"))

    # --- ranking / analytic functions need an ordered window ---
    if _RANKING_RE.match(expr):
        if not order_l:
            raise ValueError(f"{name}: {expr!r} requires order_by")
        plan = compile_window(df, by=by_l, order_by=order_l, desc=desc)
        return df.withColumn(name, plan.over(expr))

    # --- aggregate w/o frame: group-broadcast (O3, R/mutate.R:236-239) ---
    outer, calls = windowize(expr)
    if calls:
        plan = compile_window(df, by=by_l)
        for ph, call in calls:
            df = df.withColumn(ph, plan.over(call))
        return df.withColumn(name, F.expr(outer)).drop(*[ph for ph, _ in calls])

    # --- plain row-wise projection (O1) ---
    return df.withColumn(name, F.expr(expr))


def _apply_scale_safe_frame(
    df: DataFrame,
    name: str,
    expr: object,
    *,
    order_l: list[object],
    frame_spec: FrameSpec,
    index: str | None,
    desc: bool | list[bool],
    complete: bool,
    by_l: list[object] | None = None,
) -> DataFrame | None:
    """Lower a bounded-frame mutate through the range-partition + halo
    exchange (:func:`tidier_spark.window.scale_safe_frame`) instead of
    the single-partition (ungrouped) or one-task-per-key (grouped
    hot-key) window.  Returns ``None`` when the combination isn't
    eligible (unbounded frames, Column/Tier-C expressions,
    frame-independent expressions, calendar + ``.complete``, non-string
    grouped keys) — the caller falls through to the reference-faithful
    default lowering.  Covers ungrouped and grouped ROWS and RANGE
    frames, with or without ``.complete``, and calendar frames through
    the RANGE halo with envelope copy bounds.  Results are bit-identical
    to the default plan (hash-pinned in tests/test_plans.py)."""
    if not isinstance(expr, str) or _RANKING_RE.match(expr):
        return None
    if complete and frame_spec.is_calendar:
        # the calendar .complete guard is Tier B partition-extent SQL
        # over the un-haloed frame
        return None
    if complete and by_l and index is not None and not all(
        isinstance(b, str) for b in by_l
    ):
        return None  # the per-key extent join below needs string key names
    outer, calls = windowize(expr)
    if not calls:
        return None
    try:
        aug, plan, home, helpers = scale_safe_frame(
            df, order_by=order_l or None, frame=frame_spec, index=index,
            desc=desc, by=by_l or None,
        )
    except ValueError:
        # unbounded frames, an unbucketable leading order key (numeric/
        # date/timestamp/string are supported), a calendar frame over a
        # non-timestamp index — fall back to the reference-faithful
        # single-partition lowering
        return None
    # Wide-frame floor, per call: sum/count/avg over exact-typed
    # operands (integer frame axis) lower as a difference of two
    # unbounded-preceding prefix windows (subtractive_over); min/max
    # over ROWS frames lower as the fixed-width block RMQ
    # (rmq_frame_value — exact for ANY orderable type, doubles
    # included).  Both are O(n) instead of Spark's O(n·w) per-row frame
    # re-aggregation and bit-pinned vs the direct plan
    # (tests/test_plans.py); they need a Tier A WindowSpec, and anything
    # else keeps the direct frame.
    spec = plan.spec  # None for a calendar (Tier B) plan: no fast path
    lo, hi = plan.bounds() if spec is not None else (None, None)
    sub_ok = spec is not None and (
        index is None or _subtractive_index_ok(df, index)
    )
    any_fast = False
    for ph, call in calls:
        if sub_ok and subtractive_calls(df, [(ph, call)]):
            aug = aug.withColumn(
                ph,
                subtractive_over(call, spec, lo, hi, row_frame=plan.row_frame),
            )
            any_fast = True
        elif plan.row_frame and rmq_call(df, call):
            part = [*(by_l or []), "__tpid"]  # ROWS mode: by are strings
            aug, value_c, hs = rmq_frame_value(aug, call, part, lo, hi, ph)
            aug = aug.withColumn(ph, value_c)
            helpers.extend(hs)
            any_fast = True
        else:
            aug = aug.withColumn(ph, plan.over(call))
    value = F.expr(outer)
    if complete:
        if plan.row_frame:
            # full ⇔ the frame holds exactly width rows; every frame row is
            # present in the target partition, so the per-partition count
            # equals the global one.  Materialized BEFORE the home filter —
            # a window evaluated after .where(home) would count only home
            # rows and mis-NULL partition-leading rows.
            aug = aug.withColumn(
                "__wcnt",
                subtractive_over("count(*)", spec, lo, hi, row_frame=True)
                if any_fast
                else F.count(F.lit(1)).over(spec),
            )
            helpers = [*helpers, "__wcnt"]
            value = F.when(F.col("__wcnt") == hi - lo + 1, value)
        elif by_l:
            # full ⇔ [k+lo, k+hi] inside the PER-KEY index extent — one
            # distributed partial agg + equi-join on the key (never a
            # per-key window: hot keys stay distributed; AQE picks
            # broadcast when the key table is small).  NULL-SAFE join:
            # window partitioning groups NULL keys into one partition,
            # a null-unsafe join would lose their extents (the nullkeys
            # edge-sweep axis).
            kc, _ = _index_order_key(df, index)
            extents = df.groupBy(*by_l).agg(
                F.min(kc).alias("__gmin"), F.max(kc).alias("__gmax")
            )
            rhs = extents.select(
                *[F.col(b).alias(f"__byk{i}") for i, b in enumerate(by_l)],
                "__gmin",
                "__gmax",
            )
            cond = F.lit(True)
            for i, b in enumerate(by_l):
                cond = cond & F.col(b).eqNullSafe(F.col(f"__byk{i}"))
            aug = aug.join(rhs, cond, "left").drop(
                *[f"__byk{i}" for i in range(len(by_l))]
            )
        else:
            # full ⇔ [k+lo, k+hi] inside the GLOBAL index extent (one tiny
            # agg row, broadcast — the ungrouped analog of the partition
            # extent rule)
            extent = aug.agg(
                F.min("__k").alias("__gmin"), F.max("__k").alias("__gmax")
            )
            aug = aug.crossJoin(F.broadcast(extent))
        if not plan.row_frame:
            helpers = [*helpers, "__gmin", "__gmax"]
            value = F.when(
                (F.col("__k") + F.lit(lo) >= F.col("__gmin"))
                & (F.col("__k") + F.lit(hi) <= F.col("__gmax")),
                value,
            )
    return (
        aug.where(home)
        .withColumn(name, value)
        .drop(*helpers, *[ph for ph, _ in calls])
    )


def _subtractive_index_ok(df: DataFrame, index: str) -> bool:
    """The prefix-difference identity needs a DISCRETE range axis:
    ``P(k+lo-1)`` stands in for ``P(< k+lo)`` only when index values are
    integers one apart at minimum.  Timestamps/dates epoch-cast to
    integer micros/days; numeric indexes must be integral (a fractional
    index would mis-place rows in ``(k+lo-1, k+lo)``)."""
    dtype = df.schema[index].dataType
    if isinstance(dtype, T.TimestampType | T.TimestampNTZType | T.DateType):
        return True
    return isinstance(
        dtype, T.ByteType | T.ShortType | T.IntegerType | T.LongType
    )


def _balanced(s: str) -> bool:
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


def mutate_(
    df: DataFrame,
    _exprs: dict[str, object] | None = None,
    *,
    by: object = None,
    order_by: object = None,
    frame: object = None,
    index: str | None = None,
    desc: bool | list[bool] = False,
    complete: bool = False,
    restore_order: bool = False,
    scale_safe: bool = False,
    **kw_exprs: object,
) -> DataFrame:
    """Standard-eval twin of :func:`mutate` (`R/mutate.R:120-128`).

    In Python both APIs take strings, so this adds the reference's stricter
    validation: ``by``/``order_by``/``index`` must be existing column *names*
    (`R/mutate.R:141-171`), and ``desc`` may be a vector recycled from
    length 1 (`:177-179`).
    """
    cols = set(df.columns)
    for role, keys in (("by", by), ("order_by", order_by), ("index", index)):
        for k in _normalize_keys(keys):
            if not isinstance(k, str):
                raise TypeError(f".{role} entries must be column-name strings")
            if k not in cols:
                raise ValueError(f".{role} column {k!r} not in DataFrame")
    return mutate(
        df,
        _exprs,
        by=by,
        order_by=order_by,
        frame=frame,
        index=index,
        desc=desc,
        complete=complete,
        restore_order=restore_order,
        scale_safe=scale_safe,
        **kw_exprs,
    )

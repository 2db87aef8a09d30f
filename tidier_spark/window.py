"""Compile (by, order_by, frame, index, desc) into Spark window machinery.

This is the engine core (SURVEY.md §7.1): the reference's lazy backend
(`/root/reference/R/mutate.R:293-351`) proves tidier's semantics are exactly
SQL window semantics — `OVER (PARTITION BY .by ORDER BY .order_by ROWS/RANGE
BETWEEN ...)` — so the compiler's job is to build the right
:class:`pyspark.sql.WindowSpec` (Tier A) or SQL OVER-clause string (Tier B,
calendar-interval frames) and let Catalyst pick the physical plan.

Scale notes (100 TB): a window with ``partitionBy`` hash-shuffles once on the
group keys and sorts within partitions — the same cost profile as the
reference's nest+`future_map` (`R/mutate.R:278-282`) but distributed by the
engine. A window *without* ``partitionBy`` funnels all rows through a single
partition (Spark warns `WindowExec: No Partition Defined`); the API allows it
for parity with ungrouped tidier calls but callers at scale should always
pass ``by``.
"""

from __future__ import annotations

import math
import operator
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .frames import FrameSpec

__all__ = [
    "WindowPlan",
    "compile_window",
    "quote_ident",
    "scale_safe_cumulative",
    "scale_safe_frame",
    "subtractive_calls",
    "subtractive_over",
]


def quote_ident(name: str) -> str:
    """Backtick-quote an identifier for SQL fragments."""
    return "`" + name.replace("`", "``") + "`"


def _as_col(c: object) -> Column:
    return F.col(c) if isinstance(c, str) else c  # type: ignore[arg-type]


@dataclass
class WindowPlan:
    """A compiled window: either a native WindowSpec or a SQL OVER clause.

    ``spec``      — Tier A: pass to ``Column.over``.
    ``sql_over``  — Tier B: f-string OVER clause body; the caller builds
                    ``F.expr(f"{agg_sql} OVER ({sql_over})")``.
    ``order_cols``— the effective ordering (for count-guards etc.).
    ``unit``      — what one step of a RANGE order key means (``"micros"``,
                    ``"days"`` or ``"native"``, see
                    :meth:`FrameSpec.range_bounds`); None for ROWS frames.
    """

    spec: WindowSpec | None = None
    sql_over: str | None = None
    partition_cols: list[Column] = field(default_factory=list)
    order_cols: list[Column] = field(default_factory=list)
    frame: FrameSpec | None = None
    row_frame: bool = False  # True when frame is ROWS (not RANGE)
    unit: str | None = None
    # Tier B bookkeeping (calendar frames): SQL fragments for rebuilding
    # auxiliary windows (e.g. the partition-extent guard of complete=True)
    sql_part: str = ""  # "PARTITION BY ..." or ""
    index_name: str | None = None

    @property
    def is_sql(self) -> bool:
        return self.sql_over is not None

    def bounds(self) -> tuple[int, int]:
        """The frame's ``(lo, hi)`` in the units of this plan's order key:
        row offsets for ROWS frames, ``unit`` steps for RANGE frames."""
        assert self.frame is not None
        if self.row_frame:
            return self.frame.row_bounds()
        return self.frame.range_bounds(self.unit)

    def over(self, agg: Column | str) -> Column:
        """Apply an aggregate to this window. ``agg`` must be a SQL string
        for Tier B windows."""
        if self.is_sql:
            if not isinstance(agg, str):
                raise TypeError(
                    "calendar-interval frames need string expressions "
                    "(they lower to SQL, SURVEY.md §7.1 Tier B)"
                )
            return F.expr(f"{agg} OVER ({self.sql_over})")
        col = F.expr(agg) if isinstance(agg, str) else agg
        assert self.spec is not None
        return col.over(self.spec)

    def count_guard(self) -> Column:
        """``count(*)`` over the same window — used for ``complete=True``."""
        return self.over("count(*)") if self.is_sql else F.count(F.lit(1)).over(self.spec)


def _index_order_key(df: DataFrame, index: str) -> tuple[Column, str]:
    """Return (order key column, unit) for a range index.

    TimestampType → epoch micros; TimestampNTZType → wall-clock micros
    since 1970-01-01 00:00; DateType → epoch days; numeric → native.
    Epoch math is timezone-independent (same underlying instant both in
    Spark and in the DuckDB oracle), unlike date_trunc-style bucketing.
    """
    dtype = df.schema[index].dataType
    q = quote_ident(index)
    # Epoch MICROseconds, not seconds — truncating to seconds would move
    # rows across frame boundaries relative to the full-precision
    # timestamps a SQL engine compares (4/1000 rows at sf0.001).
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(index)), "micros"
    if isinstance(dtype, T.TimestampNTZType):
        # unix_micros rejects NTZ, and timestampdiff or a cast to TIMESTAMP
        # go through the session timezone (under America/New_York the DST
        # gap maps 02:30 onto 03:30).  Date plus time-of-day fields of the
        # wall clock do not.
        return (
            F.expr(
                f"unix_date(CAST({q} AS DATE)) * 86400000000 + CAST(("
                f"hour({q}) * 3600 + minute({q}) * 60 + extract(SECOND FROM {q})"
                ") * 1000000 AS BIGINT)"
            ),
            "micros",
        )
    if isinstance(dtype, T.DateType):
        return F.datediff(F.col(index), F.lit("1970-01-01").cast("date")), "days"
    if isinstance(dtype, T.NumericType):
        return F.col(index), "native"
    raise ValueError(
        f"index column {index!r} must be date, timestamp, or numeric; "
        f"got {dtype.simpleString()}"
    )


def compile_window(
    df: DataFrame,
    *,
    by: list[object] | None = None,
    order_by: list[object] | None = None,
    frame: FrameSpec | None = None,
    index: str | None = None,
    desc: bool | list[bool] = False,
) -> WindowPlan:
    """Build the WindowPlan for one (by, order_by, frame, index, desc) combo.

    Dispatch mirrors the reference's operator matrix (SURVEY.md §2.1):
    O3 (by, no frame) → partition-only window; O4 (rows frame) →
    ``rowsBetween``; O5/O7 (index frame) → ``rangeBetween`` on the
    epoch-cast index; calendar Periods → Tier B SQL ``RANGE BETWEEN
    INTERVAL``.
    """
    by = list(by or [])
    order_by = list(order_by or [])
    # per-key desc (R/mutate.R:148-150, recycled :177-179)
    order_cols = _ordered_cols(order_by, desc)
    part_cols = [_as_col(c) for c in by]

    if frame is not None and index is not None:
        # Range/interval frame over the index values (O5/O7,
        # R/mutate.R:217-229).  The index defines the frame; order_by keys
        # are not part of a RANGE window's ordering (SQL allows exactly one
        # ORDER BY key with a value-based frame).
        if not isinstance(index, str):
            raise TypeError(".index must be a column name string")
        if frame.is_calendar:
            # Tier B: calendar intervals need SQL RANGE BETWEEN INTERVAL.
            parts = []
            sql_part = ""
            if by:
                names = [c if isinstance(c, str) else None for c in by]
                if any(n is None for n in names):
                    raise TypeError("calendar frames need string `by` names")
                sql_part = "PARTITION BY " + ", ".join(
                    quote_ident(n) for n in names  # type: ignore[arg-type]
                )
                parts.append(sql_part)
            parts.append(f"ORDER BY {quote_ident(index)}")
            parts.append(frame.sql_frame_clause())
            return WindowPlan(
                sql_over=" ".join(parts),
                partition_cols=part_cols,
                order_cols=[F.col(index)],
                frame=frame,
                sql_part=sql_part,
                index_name=index,
            )
        key, unit = _index_order_key(df, index)
        lo, hi = frame.range_bounds(unit)
        spec = Window.partitionBy(*part_cols).orderBy(key).rangeBetween(lo, hi)
        return WindowPlan(
            spec=spec,
            partition_cols=part_cols,
            order_cols=[key],
            frame=frame,
            unit=unit,
        )

    if frame is not None:
        # Rows frame (O4/O6, R/mutate.R:204-215).
        if not order_by:
            raise ValueError(
                ".frame without .index requires .order_by — Spark DataFrames "
                "have no physical row order to slide over"
            )
        lo, hi = frame.row_bounds()
        spec = Window.partitionBy(*part_cols).orderBy(*order_cols).rowsBetween(lo, hi)
        return WindowPlan(
            spec=spec,
            partition_cols=part_cols,
            order_cols=order_cols,
            frame=frame,
            row_frame=True,
        )

    if order_cols:
        # Ordered, no frame: ranking/analytic context (row_number, lag, ...)
        # and cumulative aggregates (which add their own rowsBetween).
        spec = Window.partitionBy(*part_cols).orderBy(*order_cols)
        return WindowPlan(spec=spec, partition_cols=part_cols, order_cols=order_cols)

    # Partition-only: group-broadcast aggregate (O3, R/mutate.R:236-239).
    spec = Window.partitionBy(*part_cols)
    return WindowPlan(spec=spec, partition_cols=part_cols)


# --- the two-pass distributed prefix scan ---------------------------------


class _Partial(NamedTuple):
    """One aggregate that :func:`_prefix_scan` carries through the buckets.

    ``running`` is evaluated inside each bucket in scan order and
    ``total`` once per bucket; ``merge`` folds the earlier buckets'
    totals into the row's exclusive offset, and ``combine(local,
    offset)`` is its prefix, written to ``out``.  ``zero`` is the offset
    of a key's first bucket; without one that offset stays NULL and a
    NULL side carries the other, so a bucket head whose operands are all
    NULL keeps the earlier buckets' offset, as the single-window prefix
    does.  ``cols`` names the local, bucket-total and offset helpers.
    """

    out: str
    running: Column
    total: Column
    merge: Callable[[Column], Column]
    combine: Callable[[Column, Column], Column] = operator.add
    zero: int | None = None
    cols: tuple[str, str, str] = ("__local", "__tot", "__off")


def _prefix_scan(
    ranged: DataFrame,
    partials: list[_Partial],
    *,
    order: list[Column],
    by: list[str] | None = None,
    pid: str = "__pid",
    grand: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Inclusive prefix aggregates over range buckets, with no
    single-partition window over the data.

    The classic two-pass distributed prefix scan (Blelloch, "Prefix Sums
    and Their Applications", CMU-CS-90-190), which every scale-safe
    lowering shares:

    1. each partial's running value inside its ``(by..., pid)`` bucket,
       ordered by ``order`` — n parallel tasks per key;
    2. one aggregate of the bucket totals, then per key an EXCLUSIVE
       merge of the earlier buckets' totals — a window over at most n
       rows per key (totals, not data);
    3. the offsets join back: a broadcast on ``pid`` when ``by`` is
       empty, else an equi-join on ``(by..., pid)`` that is NULL-safe on
       the keys (window partitioning keeps the NULL key's rows together,
       and a plain equi-join would silently drop them).

    ``ranged`` must carry the bucket id ``pid`` from
    :func:`_det_bucket_id`, whose buckets are contiguous ranges of the
    leading order key, so bucket order is scan order.  Returns
    ``(scanned, offsets)``: ``scanned`` is ``ranged`` plus each
    partial's ``out`` (and ``grand``); ``offsets`` is the per-bucket
    table ``(by..., pid, totals..., offsets...)``.  ``grand`` names the
    first partial's merged total over all of a key's buckets.
    """
    by = list(by or [])
    w_local = (
        Window.partitionBy(*by, pid)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy(*by)
        .orderBy(pid)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged
    for p in partials:
        local = local.withColumn(p.cols[0], p.running.over(w_local))
    offsets = ranged.groupBy(*by, pid).agg(
        *[p.total.alias(p.cols[1]) for p in partials]
    )
    for p in partials:
        off = p.merge(F.col(p.cols[1])).over(w_prev)
        if p.zero is not None:
            off = F.coalesce(off, F.lit(p.zero))
        offsets = offsets.withColumn(p.cols[2], off)
    carried = [p.cols[2] for p in partials]
    if grand:
        first = partials[0]
        w_all = w_prev.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        offsets = offsets.withColumn(grand, first.merge(F.col(first.cols[1])).over(w_all))
        carried.append(grand)
    if by:
        keys = [f"__byk{i}" for i in range(len(by))]
        rhs = offsets.select(
            *[F.col(b).alias(k) for b, k in zip(by, keys)],
            F.col(pid).alias(f"{pid}_r"),
            *carried,
        )
        cond = F.col(pid) == F.col(f"{pid}_r")
        for b, k in zip(by, keys):
            cond = cond & F.col(b).eqNullSafe(F.col(k))
        joined = local.join(rhs, cond).drop(f"{pid}_r", *keys)
    else:
        joined = local.join(F.broadcast(offsets.select(pid, *carried)), pid, "left")
    for p in partials:
        lc, oc = F.col(p.cols[0]), F.col(p.cols[2])
        value = p.combine(lc, oc)
        if p.zero is None:
            value = F.when(oc.isNull(), lc).when(lc.isNull(), oc).otherwise(value)
        joined = joined.withColumn(p.out, value)
    helpers = [c for p in partials for c in (p.cols[0], p.cols[2])]
    return joined.drop(*helpers), offsets


# --- scale-safe ungrouped cumulatives --------------------------------------

# fn → (partial aggregator, partial-total MERGE aggregator, row combiner,
# first-bucket offset); count merges by SUMMING partial counts — counting
# them would be wrong — and its prefix is never NULL.
_PREFIX_COMBINE = {
    "sum": (F.sum, F.sum, operator.add, None),
    "count": (F.count, F.sum, operator.add, 0),
    "max": (F.max, F.max, F.greatest, None),
    "min": (F.min, F.min, F.least, None),
}

# (local prefix, bucket total, bucket offset) helper names per partial;
# avg runs a sum and a count partial over the same buckets
_PREFIX_COLS = (("__local", "__tot", "__off"), ("__lcnt", "__tcnt", "__ocnt"))


def scale_safe_cumulative(
    df: DataFrame,
    expr: str,
    *,
    order_by: list[object],
    out: str,
    fn: str = "sum",
    n_partitions: int | None = None,
    split_points: list | None = None,
) -> DataFrame:
    """Ungrouped ordered cumulative WITHOUT the single-partition window.

    A global ``sum(x) OVER (ORDER BY k)`` funnels every row through one
    task — the classic scale cliff.  This lowering range-buckets the rows
    with a DETERMINISTIC bucket id ``__pid`` (percentile split points
    embedded as literals — equal keys share a bucket; see
    :func:`_det_bucket_id` for why ``repartitionByRange`` +
    ``spark_partition_id()`` is unsound when plan branches re-execute)
    and runs the two-pass prefix scan of :func:`_prefix_scan`: a
    per-bucket prefix in n parallel tasks, plus the earlier buckets'
    totals broadcast back as offsets.

    Exact for integer/decimal aggregates; for doubles the additions
    re-associate (same caveat any distributed sum has).  ``fn="avg"``
    (``cummean``) carries a sum and a count partial through the same
    buckets, totals and offsets join, and divides (Σ/Σ, never
    mean-of-means).  The leading order key must be
    numeric/date/timestamp/string — strings are bucketed by their
    first-8-UTF-8-bytes projection (see :func:`_bucket_order_key`;
    long-common-prefix populations collapse to one bucket — correct but
    single-task; static ``split_points`` for a string key must be derived
    via :func:`string_key_literal`).
    """
    if fn not in _PREFIX_COMBINE and fn != "avg":
        raise ValueError(
            "scale_safe cumulative supports "
            f"{sorted([*_PREFIX_COMBINE, 'avg'])}, got {fn!r}"
        )
    parts = ("sum", "count") if fn == "avg" else (fn,)
    outs = ("__psum", "__pcnt") if fn == "avg" else (out,)
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ocols = [_as_col(c) for c in order_by]
    lead = order_by[0]
    if not isinstance(lead, str):
        raise ValueError(
            "scale_safe_cumulative needs a NAMED leading order column"
        )
    lead_key = _bucket_order_key(df, lead)
    pid = _det_bucket_id(
        df, lead_key, n, desc=False, null_last=False, splits=split_points
    )
    ranged = df.withColumn("__pid", pid.cast("int"))
    value = F.expr(expr)
    partials = []
    for part, name, cols in zip(parts, outs, _PREFIX_COLS):
        agg, merge, combine, zero = _PREFIX_COMBINE[part]
        partials.append(
            _Partial(name, agg(value), agg(value), merge, combine, zero, cols)
        )
    scanned, _ = _prefix_scan(ranged, partials, order=ocols)
    if fn == "avg":
        scanned = scanned.withColumn(
            out, F.col("__psum") / F.col("__pcnt")
        ).drop("__psum", "__pcnt")
    return scanned.drop("__pid")


def _ordered_cols(order_by: list[object], desc: bool | list[bool]) -> list[Column]:
    """Order columns with per-key desc applied; ``desc`` is one flag or a
    list recycled from length 1."""
    if isinstance(desc, bool):
        descs = [desc] * len(order_by)
    else:
        descs = list(desc)
        if len(descs) == 1:
            descs = descs * len(order_by)
        if len(descs) != len(order_by):
            raise ValueError(".desc must be length 1 or match .order_by")
    cols = []
    for c, d in zip(order_by, descs):
        if hasattr(c, "to_spark"):  # verbs.desc marker
            cols.append(c.to_spark())
        else:
            cols.append(_as_col(c).desc() if d else _as_col(c).asc())
    return cols


def _bucket_order_key(df: DataFrame, col: str) -> Column:
    """Numeric ORDER-PRESERVING projection of a column for range
    bucketing: numeric/date/timestamp via the epoch cast
    (:func:`_index_order_key`); strings via their first-8-UTF-8-bytes
    value (byte-lexicographic UTF-8 order == code-point order, and
    right-zero-padding keeps prefix order), so equal-prefix ties simply
    share a bucket — coarseness is fine for bucketing, which only needs
    contiguity in the sort order, not injectivity.

    HAZARD — prefix collapse: a string population sharing one long
    common prefix (URLs, ``user_...`` ids) projects to ONE value, i.e.
    one bucket — silently restoring the single-partition window the
    scale_safe lowerings exist to avoid (results stay correct).  If the
    leading order key can look like that, prepend a dispersing key
    (a hash) or pass explicit ``split_points``.

    Callers supplying static ``split_points`` for a string key MUST
    derive them in THIS projected domain via
    :func:`string_key_literal` — raw-domain literals land every row in
    a handful of buckets (ASCII hex bytes occupy only
    0x30-0x39/0x61-0x66, so uniform cuts of [0, 16^15) miss the data).
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.StringType):
        hx = F.rpad(
            F.substring(F.upper(F.hex(F.encode(F.col(col), "UTF-8"))), 1, 15),
            15,
            "0",
        )
        return F.conv(hx, 16, 10).cast("long")
    key, _ = _index_order_key(df, col)
    return key


def string_key_literal(value: str) -> int:
    """Python-side twin of :func:`_bucket_order_key`'s string branch:
    the first 15 hex chars of the UTF-8 bytes, zero-right-padded, as an
    integer.  Callers deriving STATIC ``split_points`` for a string
    order key (e.g. :func:`~tidier_spark.operators.corpus.shuffle_rows`
    over uniform md5 hex keys) must map their raw-domain boundaries
    through this so the literals live in the same projected domain the
    runtime compares against — kept adjacent to the Column version so
    the two transforms can only change in lockstep."""
    hx = value.encode("utf-8").hex().upper()[:15].ljust(15, "0")
    return int(hx, 16)


def _split_points(df: DataFrame, key: Column, n: int) -> list:
    """The ``n - 1`` percentile boundaries that cut ``key``'s rows into
    ``n`` balanced ranges, ascending: one aggregate pass over ``df``
    collected to the driver (a model-sized artifact).  NULL boundaries
    (no non-NULL key) are dropped; ties can repeat a boundary."""
    probs = [(i + 1) / n for i in range(n - 1)]
    row = df.select(
        F.percentile_approx(
            key, F.array(*[F.lit(p) for p in probs]), F.lit(10_000)
        ).alias("s")
    ).collect()
    arr = row[0]["s"] if row else None
    return [v for v in (arr or []) if v is not None]


def _det_bucket_id(
    df: DataFrame,
    key: Column,
    n: int,
    *,
    desc: bool,
    null_last: bool,
    splits: list | None = None,
) -> Column:
    """Deterministic range-bucket id in [0, n): percentile split points
    collected ONCE (:func:`_split_points`) and embedded as literals, so
    the id is a PURE FUNCTION of the row.

    ``spark_partition_id()`` after ``repartitionByRange`` is NOT that:
    the range exchange samples per execution, and a plan whose branches
    (window, counts, broadcast builds) re-execute it can assign the same
    row different partition ids across jobs — measured at sf0.01 as
    silently dropped rows.  A pure-function id is consistent across any
    re-execution, retry, or exchange-reuse decision by construction.

    Ties equal to a split value land in the lower bucket together, so
    buckets are contiguous ranges of the key with ties unsplit.

    ``splits`` short-circuits the percentile pass with caller-supplied
    boundary values (ascending) — ANY monotone literals are CORRECT
    (only balance quality varies), so callers whose key distribution is
    known a priori (a uniform hash key, a dense id) can skip the data
    pass entirely.  That matters when ``df`` is an expensive derived
    frame: the percentile collect re-executes its whole upstream plan.
    """
    if n < 2:
        return F.lit(0)
    if splits is None:
        splits = _split_points(df, key, n)
    if not splits:
        return F.lit(0)
    if desc:
        splits = list(reversed(splits))
        cmps = [F.when(key < F.lit(s), 1).otherwise(0) for s in splits]
    else:
        cmps = [F.when(key > F.lit(s), 1).otherwise(0) for s in splits]
    bucket = cmps[0]
    for c in cmps[1:]:
        bucket = bucket + c
    null_pid = len(splits) if null_last else 0
    return F.when(key.isNull(), F.lit(null_pid)).otherwise(bucket)


def scale_safe_frame(
    df: DataFrame,
    *,
    order_by: list[object] | None = None,
    frame: FrameSpec,
    index: str | None = None,
    desc: bool | list[bool] = False,
    n_partitions: int | None = None,
    by: list[str] | None = None,
) -> tuple[DataFrame, WindowPlan, Column, list[str]]:
    """Ungrouped BOUNDED frame WITHOUT the single-partition window.

    The reference's ungrouped sliding frames (`R/mutate.R:204-229`) force a
    total order; Spark's direct lowering is ``OVER (ORDER BY ...)`` with no
    PARTITION BY — every row through one task, the last driver-side-of-the-
    cluster bottleneck in the engine.  Because the frame is FINITE, each
    row's frame touches only a bounded neighborhood, so the classic
    distributed shape applies — range-bucket + halo exchange:

    1. a DETERMINISTIC range-bucket id ``__pid`` (percentile split points
       embedded as literals — see :func:`_det_bucket_id` for why
       ``repartitionByRange`` + ``spark_partition_id()`` is unsound here);
    2. a tiny per-bucket bounds table (n rows: global-index extent for
       ROWS frames, min/max index value for RANGE frames);
    3. every row is broadcast-joined against the bounds and lands in each
       bucket whose HOME rows' frames can reach it (its own bucket plus a
       halo ``|lo|``/``|hi|`` deep — rows duplicate only across
       boundaries they straddle, ~(n·width)/N overhead);
    4. the original window runs per target bucket — n parallel tasks —
       and only home rows (``__tpid == __pid``) keep their value.

    Same row sets, same in-frame order as the single-partition plan, so
    results are bit-identical (hash-pinned in tests/test_plans.py).

    Returns ``(augmented_df, plan, home_predicate, helper_cols)`` — the
    caller computes aggregates with ``plan.over(call)``, filters on the
    predicate, and drops the helpers.  The plan is Tier A (a
    ``WindowSpec``) except for calendar frames, which are Tier B.  ROWS
    frames use a synthetic global row index (per-bucket ``row_number``
    plus the earlier buckets' row counts, one :func:`_prefix_scan`), so
    the window's ORDER BY is tie-free by construction; the leading order
    key must be numeric/date/timestamp/string (strings via the 8-byte
    UTF-8 prefix projection of :func:`_bucket_order_key`, with its
    prefix-collapse hazard; unsupported types raise, and mutate falls
    back to the reference-faithful lowering).  RANGE frames require a non-NULL
    index (checked JVM-side per row, loud error).

    CALENDAR frames (months/years over a timestamp index) take the same
    RANGE halo.  Calendar units have no fixed epoch width, so the exact
    frame stays a SQL ``RANGE BETWEEN INTERVAL`` window over
    ``PARTITION BY (key..., __tpid)``; only the copy bounds change, to
    :meth:`FrameSpec.micros_envelope` (month <= 32 days, year <= 367:
    one day of margin for DST session timezones).
    Every row a true frame reaches lies inside the envelope, so the copy
    set is a superset and per-row frames stay exact.  Calendar frames
    need string ``by`` names (they feed the SQL PARTITION BY).

    ``by``: GROUPED hot-key-safe lowering.  The default grouped plan
    partitions by the group key alone, so one key owning half the rows
    is one straggler task at scale (the skewkeys regime).  With ``by``,
    the window partitions by ``(key, __tpid)`` instead — a hot key's
    rows split across the order-axis buckets.

    RANGE: the bucket split points and halo-copy bounds stay GLOBAL over
    the order key: every same-key row within frame reach of a bucket's
    home extent is a fortiori within reach of the GLOBAL home extent, so
    the copy set is a superset of what each key needs and per-key frames
    stay exact (extra copies are non-home or out of the key's frame; the
    window's PARTITION BY key keeps other keys' rows out).

    ROWS: per-key ROW offsets don't map onto global buckets (a same-key
    row 3 positions back can be arbitrarily far on the order axis), so
    the lowering builds a PER-KEY dense row index: :func:`_prefix_scan`
    over ``(key, __opid)`` cells, ``__opid`` being the global order
    bucket (a hot key splits across buckets; at most n offset rows per
    key).  It then re-chunks each key's index into UNIFORM supercells of
    ``chunk = max(2*reach, ceil(nk/n))`` rows: a hot key splits into
    <= n supercells, a key smaller than two frame-widths stays whole
    with zero halo copies, and duplication stays <= reach/chunk <= 50%
    for any key-size distribution.  A row's targets are the closed-form
    ``sequence(floor((g-hi')/c), floor((g-lo')/c))`` — no array join.
    Each target supercell's copies are a CONTIGUOUS superset of its home
    rows' frames, so physical ROWS offsets inside ``(key, __tpid)``
    equal per-key index offsets and results match the default grouped
    plan bit-for-bit (hash-pinned in tests/test_plans.py).  Grouped ROWS
    needs string ``by`` names; non-string keys raise and mutate falls
    back to the default grouped lowering.
    """
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism

    if index is not None:
        # --- RANGE frame: halo by index value -----------------------------
        key, unit = _index_order_key(df, index)
        if frame.is_calendar:
            if unit != "micros":
                raise ValueError(
                    "scale_safe calendar frames need a timestamp index "
                    f"(epoch-µs bucketing); got {unit!r} steps"
                )
            if by and not all(isinstance(b, str) for b in by):
                raise ValueError(
                    "scale_safe calendar frames need string `by` names "
                    "(they feed the SQL PARTITION BY)"
                )
            lo, hi = frame.micros_envelope()  # raises on unbounded ends
        else:
            lo, hi = frame.range_bounds(unit)
            if lo <= -(2**62) or hi >= 2**62:
                raise ValueError(
                    "scale_safe_frame requires finite frame bounds; use "
                    "scale_safe_cumulative for (inf, 0) prefixes"
                )
        pid = _det_bucket_id(df, key, n, desc=False, null_last=False)
        guarded = F.when(
            F.assert_true(
                F.col(index).isNotNull(),
                F.lit(
                    f"scale_safe range frame: index column {index!r} has NULL "
                    "values — NULL index rows have no position on the range "
                    "axis; filter them or use the default lowering"
                ),
            ).isNull(),
            key,
        )
        ranged = df.withColumn("__k", guarded).withColumn(
            "__pid", pid.cast("int")
        )
        bounds = ranged.groupBy("__pid").agg(
            F.min("__k").alias("__minv"), F.max("__k").alias("__maxv")
        )
        bounds = bounds.select(
            F.col("__pid").alias("__tpid"), "__minv", "__maxv"
        )
        lo2, hi2 = min(lo, 0), max(hi, 0)
        copied = ranged.join(
            F.broadcast(bounds),
            (F.col("__k") >= F.col("__minv") + F.lit(lo2))
            & (F.col("__k") <= F.col("__maxv") + F.lit(hi2)),
        ).drop("__minv", "__maxv")
        if frame.is_calendar:
            parts = [quote_ident(b) for b in (by or [])] + [quote_ident("__tpid")]
            plan = WindowPlan(
                sql_over=(
                    f"PARTITION BY {', '.join(parts)} "
                    f"ORDER BY {quote_ident(index)} {frame.sql_frame_clause()}"
                ),
                frame=frame,
            )
        else:
            plan = WindowPlan(
                spec=(
                    Window.partitionBy(*(by or []), "__tpid")
                    .orderBy(F.col("__k"))
                    .rangeBetween(lo, hi)
                ),
                frame=frame,
                unit=unit,
            )
        home = F.col("__tpid") == F.col("__pid")
        return copied, plan, home, ["__pid", "__tpid", "__k"]

    # --- ROWS frame: halo by global row index -----------------------------
    if not order_by:
        raise ValueError("scale_safe_frame rows mode requires order_by")
    lo, hi = frame.row_bounds()
    if lo < -(2**31) or hi > 2**31:
        raise ValueError(
            "scale_safe_frame requires finite frame bounds; use "
            "scale_safe_cumulative for (inf, 0) prefixes"
        )
    ocols = _ordered_cols(list(order_by), desc)
    # bucket on the LEADING order key (ties unsplit, so buckets stay
    # contiguous in the total order); _index_order_key raises for
    # non-numeric leading keys — mutate falls back to the default plan
    lead = order_by[0]
    if hasattr(lead, "to_spark"):
        raise ValueError(
            "scale_safe_frame: desc() markers are carried via `desc`, not "
            "order_by entries"
        )
    if not isinstance(lead, str):
        raise ValueError(
            "scale_safe_frame rows mode needs a NAMED leading order column"
        )
    if by and not all(isinstance(b, str) for b in by):
        raise ValueError(
            "scale_safe_frame grouped rows mode needs string `by` "
            "names (they feed groupBy/join)"
        )
    lead_key = _bucket_order_key(df, lead)
    descs = desc if isinstance(desc, list) else [desc]
    lead_desc = bool(descs[0]) if descs else False
    pid = _det_bucket_id(
        df, lead_key, n, desc=lead_desc, null_last=lead_desc
    )

    # per-bucket row_number plus the earlier buckets' row counts: a dense
    # 0-based index in the (per-key) total order
    row_index = _Partial(
        "__gidx", F.row_number(), F.count(F.lit(1)), F.sum,
        lambda lrn, off: lrn - 1 + off, zero=0, cols=("__lrn", "__cnt", "__off"),
    )

    if by:
        # --- grouped ROWS: per-key dense index + uniform supercells -------
        ranged = df.withColumn("__opid", pid.cast("int"))
        gdf, _ = _prefix_scan(
            ranged, [row_index], order=ocols, by=by, pid="__opid", grand="__nk"
        )
        # uniform supercells of the per-key index (see the docstring);
        # per-key CELLS as targets would copy ~width/cell_size per small
        # key — measured 10x blowup when width >> nk/n
        lo2, hi2 = min(lo, 0), max(hi, 0)
        reach = hi2 - lo2
        chunk = F.greatest(
            F.lit(max(2 * reach, 1)),
            F.ceil(F.col("__nk") / F.lit(n)).cast("long"),
        )
        g = F.col("__gidx")
        last = F.floor((F.col("__nk") - 1) / chunk)
        t_min = F.greatest(F.lit(0), F.floor((g - F.lit(hi2)) / chunk))
        t_max = F.least(last, F.floor((g - F.lit(lo2)) / chunk))
        copied = (
            gdf.withColumn("__pid", F.floor(g / chunk).cast("int"))
            .withColumn(
                "__tpid",
                F.explode(F.sequence(t_min.cast("int"), t_max.cast("int"))),
            )
            .drop("__nk")
        )
        spec = (
            Window.partitionBy(*by, "__tpid")
            .orderBy("__gidx")
            .rowsBetween(lo, hi)
        )
        plan = WindowPlan(spec=spec, frame=frame, row_frame=True)
        home = F.col("__tpid") == F.col("__pid")
        return copied, plan, home, ["__opid", "__pid", "__tpid", "__gidx"]

    ranged = df.withColumn("__pid", pid.cast("int"))
    gdf, offs = _prefix_scan(ranged, [row_index], order=ocols)
    bounds = offs.select(
        F.col("__pid").alias("__tpid"),
        F.col("__off").alias("__start"),
        (F.col("__off") + F.col("__cnt") - 1).alias("__end"),
    )
    # copy row h into every target whose home frames reach it; widening to
    # [start+min(lo,0), end+max(hi,0)] keeps each bucket's global-index
    # set CONTIGUOUS (physical ROWS offsets stay exact even for shifted
    # frames like (2,5) over buckets narrower than the shift)
    lo2, hi2 = min(lo, 0), max(hi, 0)
    copied = gdf.join(
        F.broadcast(bounds),
        (F.col("__gidx") >= F.col("__start") + F.lit(lo2))
        & (F.col("__gidx") <= F.col("__end") + F.lit(hi2)),
    ).drop("__start", "__end")
    spec = (
        Window.partitionBy("__tpid").orderBy("__gidx").rowsBetween(lo, hi)
    )
    plan = WindowPlan(spec=spec, frame=frame, row_frame=True)
    home = F.col("__tpid") == F.col("__pid")
    return copied, plan, home, ["__pid", "__tpid", "__gidx"]


# --- subtractive lowering for very wide bounded frames ----------------------

_SUBTRACTIVE_RE = re.compile(r"^\s*(sum|count|avg)\s*\((.*)\)\s*$", re.I | re.S)

_EXACT_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.DecimalType,
)


def subtractive_calls(df: DataFrame, calls: list[tuple[str, str]]) -> bool:
    """True when EVERY windowized call can be lowered as a difference of
    two unbounded-preceding prefix windows — the O(n) escape from the
    frame-WIDTH cliff (docs/SCALE.md: Spark's bounded sliding frame
    re-aggregates the in-frame buffer per row, O(n·w); bucketing divides
    the n, never the w).

    ``sum(x) OVER (lo, hi)  ==  P(hi) - P(lo-1)`` where ``P(b)`` is the
    running aggregate ``OVER (unbounded preceding, b)`` — a frame Spark
    evaluates INCREMENTALLY (rows are only ever added), so two prefix
    windows cost O(n) total regardless of frame width.  The identity is
    exact only when the sum never rounds: operands must be integral or
    decimal (double/float subtraction re-associates and can
    catastrophically cancel — those fall back to the direct frame).
    ``count(*)``/``count(1)`` are always exact; DISTINCT operands are
    not subtractable (``selectExpr`` probe rejects them).  ``avg``
    decomposes to exact-sum / exact-count — note Spark's direct
    ``avg(long)`` accumulates its sum as DOUBLE, so the subtractive form
    is at least as accurate; both agree bit-for-bit while frame sums
    stay within 2^53 (pinned in tests/test_plans.py).
    """
    if not calls:
        return False
    for _ph, call in calls:
        m = _SUBTRACTIVE_RE.match(call)
        if not m:
            return False
        operand = m.group(2).strip()
        if m.group(1).lower() == "count" and operand in ("*", "1"):
            continue
        try:
            dt = df.selectExpr(operand).schema[0].dataType
        except Exception:
            return False  # DISTINCT / multi-arg / unresolvable operand
        if not isinstance(dt, _EXACT_TYPES):
            return False
    return True


def subtractive_over(
    call: str,
    spec: WindowSpec,
    lo: int,
    hi: int,
    *,
    row_frame: bool,
) -> Column:
    """Lower one sum/count/avg call over a bounded frame as a prefix
    difference on ``spec``'s partitioning and ordering (see
    :func:`subtractive_calls` for the identity and its exactness
    contract).  ``spec``'s own frame is REPLACED (``rowsBetween`` /
    ``rangeBetween`` on a WindowSpec substitutes the frame, keeping
    partition + order), so this composes with the scale-safe halo
    lowerings: inside a ``(key, __tpid)`` partition the prefix starts at
    the partition's halo head and the difference touches exactly the
    home rows' frame — the same contiguity argument as the direct plan.

    Frame-empty semantics match the direct plan: ``sum``/``avg`` over a
    frame with no (non-null) operand rows yield NULL via the count
    guard; ``count`` yields 0 (its difference is already 0).
    """
    m = _SUBTRACTIVE_RE.match(call)
    if m is None:
        raise ValueError(f"not a subtractable call: {call!r}")
    fn, operand = m.group(1).lower(), m.group(2).strip()
    if row_frame:
        w_hi = spec.rowsBetween(Window.unboundedPreceding, hi)
        w_lo = spec.rowsBetween(Window.unboundedPreceding, lo - 1)
    else:
        w_hi = spec.rangeBetween(Window.unboundedPreceding, hi)
        w_lo = spec.rangeBetween(Window.unboundedPreceding, lo - 1)
    cnt = F.expr(f"count({operand})")
    cd = cnt.over(w_hi) - cnt.over(w_lo)
    if fn == "count":
        return cd
    s = F.expr(f"sum({operand})")
    p_hi, p_lo = s.over(w_hi), s.over(w_lo)
    sd = F.when(p_lo.isNull(), p_hi).otherwise(p_hi - p_lo)
    if fn == "sum":
        return F.when(cd > 0, sd)
    return F.when(cd > 0, sd / cd)  # avg: exact-sum / exact-count


_RMQ_RE = re.compile(r"^\s*(min|max)\s*\((.*)\)\s*$", re.I | re.S)


def rmq_call(df: DataFrame, call: str) -> bool:
    """True when ``call`` is a single-operand min/max — liftable to the
    O(1)-per-row fixed-width sliding RMQ (:func:`rmq_frame_value`).
    min/max are exact SELECTIONS, so the lowering is bit-identical for
    ANY orderable operand type (doubles included — unlike the
    subtractive sum path, nothing is re-associated)."""
    m = _RMQ_RE.match(call)
    if m is None:
        return False
    operand = m.group(2).strip()
    if re.match(r"(?i)^\s*distinct\b", operand):
        return False  # min(DISTINCT x) == min(x), but keep the probe honest
    try:
        df.selectExpr(operand)
    except Exception:
        return False
    return True


def rmq_frame_value(
    aug: DataFrame,
    call: str,
    part: list[str],
    lo: int,
    hi: int,
    ph: str,
) -> tuple[DataFrame, Column, list[str]]:
    """Fixed-width sliding min/max in O(n) — the min/max leg of the
    frame-WIDTH floor (sum/count/avg take :func:`subtractive_over`).

    Classic block RMQ specialized to the constant ROWS width
    ``w = hi - lo + 1``: chunk the per-partition dense index into blocks
    of exactly w rows, materialize the running min/max from each block's
    START (``__pfx``) and from its END (``__sfx``) — both incremental
    window frames — then every width-w frame spans AT MOST two adjacent
    blocks, so its aggregate is ``least/greatest(sfx[frame_start],
    pfx[frame_end])`` fetched by constant-offset lag/lead.  Edge rules
    (derived in-line) handle partition-clipped frames: a frame clipped
    at the start lands fully in block 0 with its start ON the block
    boundary (→ pfx term alone); a frame clipped at the end makes the
    suffix cover exactly the remaining rows (→ sfx term alone, with the
    pfx term coalesced to the partition-last prefix when the span still
    crosses a block edge).

    Runs INSIDE the scale-safe halo partitions (``part`` =
    [by..., __tpid], ordered by the dense ``__gidx``): copies are a
    contiguous superset of every home frame, so positional lag/lead
    offsets equal index offsets and a NULL shift result means a TRUE
    partition edge, never a missing copy.  ``least``/``greatest`` skip
    NULLs (all-NULL or empty frames yield NULL, matching the direct
    plan).  Returns ``(aug_with_helpers, value, helper_cols)``; helper
    columns are namespaced by ``ph`` and dropped by the caller with the
    placeholders.
    """
    m = _RMQ_RE.match(call)
    if m is None:
        raise ValueError(f"not an rmq call: {call!r}")
    fn = m.group(1).lower()
    agg = F.min if fn == "min" else F.max
    pick = F.least if fn == "min" else F.greatest
    w = hi - lo + 1
    if w < 1:
        raise ValueError(f"rmq needs a non-empty frame, got ({lo}, {hi})")
    g = F.col("__gidx")
    bcol = F.floor(g / F.lit(w))
    x = F.expr(m.group(2).strip())
    pfx_w = (
        Window.partitionBy(*part, f"__rqb_{ph}")
        .orderBy("__gidx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sfx_w = (
        Window.partitionBy(*part, f"__rqb_{ph}")
        .orderBy(F.col("__gidx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = Window.partitionBy(*part).orderBy("__gidx")
    whole = Window.partitionBy(*part).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # last() needs the ORDERED whole-partition frame — an unordered
    # window would return an arbitrary row's prefix
    whole_ord = (
        Window.partitionBy(*part)
        .orderBy("__gidx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    aug = (
        aug.withColumn(f"__rqb_{ph}", bcol)
        .withColumn(f"__rqp_{ph}", agg(x).over(pfx_w))
        .withColumn(f"__rqs_{ph}", agg(x).over(sfx_w))
    )

    def shift(col: Column, off: int) -> Column:
        if off == 0:
            return col
        return (
            F.lead(col, off).over(base)
            if off > 0
            else F.lag(col, -off).over(base)
        )

    sfx_l = shift(F.col(f"__rqs_{ph}"), lo)   # suffix at frame start
    pfx_r = shift(F.col(f"__rqp_{ph}"), hi)   # prefix at frame end
    pfx_last = F.last(f"__rqp_{ph}").over(whole_ord)
    mxg = F.max("__gidx").over(whole)
    lg, rg = g + F.lit(lo), g + F.lit(hi)
    lc = F.greatest(lg, F.lit(0))
    rc = F.least(rg, mxg)
    bl, br = F.floor(lc / F.lit(w)), F.floor(rc / F.lit(w))
    # end-clip detection must be POSITIONAL (rg beyond the partition),
    # never a NULL-coalesce — a genuine all-NULL prefix value would be
    # wrongly replaced by the partition-last prefix
    pfx_rc = F.when(rg > mxg, pfx_last).otherwise(pfx_r)
    value = F.when((rg < 0) | (lg > mxg), F.lit(None)).otherwise(
        F.when(bl < br, pick(sfx_l, pfx_rc))
        .when(lc == bl * F.lit(w), pfx_rc)
        .otherwise(sfx_l)
    )
    helpers = [f"__rqb_{ph}", f"__rqp_{ph}", f"__rqs_{ph}"]
    return aug, value, helpers

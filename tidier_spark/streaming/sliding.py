"""Sliding/tumbling event-time aggregation and stateful trailing windows."""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..mutate import _translate

__all__ = [
    "stream_windowed_agg",
    "stream_trailing_agg",
    "stream_session_agg",
    "stream_dedup",
    "stream_interval_join",
    "run_stream",
]


def run_stream(
    stream: DataFrame,
    *,
    name: str,
    output_mode: str = "complete",
    timeout_seconds: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion over the data currently
    available (``Trigger.AvailableNow``) and return the final result.

    This is the bounded-replay execution mode: the source is consumed as a
    sequence of micro-batches through the REAL streaming engine (state
    store, watermarks, incremental aggregation), then the query stops.  At
    100 TB this is how a backfill runs — same code as the live stream,
    bounded micro-batches, no unbounded state.

    ``state_partitions`` sizes the stateful shuffle (pinned from the
    session conf at query START and thereafter by the checkpoint): a
    state-store instance exists per partition per stateful operator, so
    this is a capacity knob — total executor cores at cluster scale,
    small for bounded replays (32 stores on a laptop-sized input is
    measured 3× overhead).  Results are partition-count-invariant; the
    conf is scoped to this query and restored after.

    The memory sink is for results that fit the driver (aggregated output,
    not raw events) — production sinks are ``writeStream.format("parquet"
    | "kafka")``; swap the sink, keep the plan.

    ``SPARK_GRAFT_STREAM_TIMEOUT`` (env) can RAISE the liveness budget —
    replay wall time scales with micro-batch COUNT (each batch pays a
    fixed planning + state-store round, ~seconds for multi-operator
    plans like stream-stream joins), so a harness that forces
    one-file-per-batch replays (``SPARK_GRAFT_STREAM_MAX_FILES=1`` over
    a many-file fixture) legitimately needs a larger budget.  The env
    can only raise, never lower, the caller's ``timeout_seconds`` — the
    guard stays loud.
    """
    writer = stream.writeStream.format("memory").outputMode(output_mode)
    _replay(
        writer,
        stream.sparkSession,
        name=name,
        timeout_seconds=timeout_seconds,
        state_partitions=state_partitions,
        result="result table",
    )
    return stream.sparkSession.table(name)


def _replay(
    writer: DataStreamWriter,
    spark: SparkSession,
    *,
    name: str,
    timeout_seconds: float,
    state_partitions: int | None,
    result: str,
) -> None:
    """Run a configured ``writer`` as query ``name`` over the data available
    now (``Trigger.AvailableNow``) and wait for it to finish.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` to the
    query's start (see :func:`run_stream`); the old value comes back
    afterwards.  A replay that misses ``timeout_seconds`` is stopped and
    raises ``TimeoutError`` naming the partial ``result`` it refuses to
    return.  ``SPARK_GRAFT_STREAM_TIMEOUT`` can raise, never lower, the
    budget.
    """
    env_t = os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT")
    if env_t:
        timeout_seconds = max(timeout_seconds, int(env_t))
    saved = None
    if state_partitions is not None:
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.queryName(name).trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(timeout_seconds):
                raise TimeoutError(
                    f"stream {name!r} did not finish its AvailableNow replay "
                    f"within {timeout_seconds}s — refusing to return a "
                    f"partial {result}"
                )
        finally:
            q.stop()
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)


class LateEventError(ValueError):
    """A stateful operator received an event BEHIND its key's frontier —
    the cross-micro-batch in-order arrival contract was violated."""


def _frontier_guard(
    ts_us, tbs, frontier: tuple[int, int], op: str, late_policy: str,
    strict: bool = False,
):
    """Enforce the cross-batch in-order arrival contract for a per-key
    stateful fold.

    Spark does NOT filter late rows for arbitrary stateful operators
    (``applyInPandasWithState``) the way it does for windowed
    aggregations — late-data handling is explicitly the operator's
    responsibility.  Without this guard a row arriving a micro-batch
    after its key already folded a NEWER event is applied OUT OF
    event-time order and the per-row outputs silently diverge from the
    batch twin (the ``late`` edge axis showed wrong EWMA values and SCD2
    intervals with end < start).  The house rule (preepoch, nanvals) is
    that contract violations fail LOUDLY:

    * ``late_policy="error"`` (default): raise :class:`LateEventError`
      naming the operator, the event, and the frontier.
    * ``late_policy="drop"``: deterministically skip frontier-behind
      rows — the per-key analog of watermark late-row dropping.  The
      kept set is a pure function of (data, arrival batches), never of
      scheduling.

    ``ts_us``/``tbs`` are the batch's per-row (time, tiebreak) arrays in
    (time, tiebreak)-sorted order; ``frontier`` is the key's last folded
    (ts, tiebreak).  Returns ``(keep_mask_or_None, new_frontier)`` —
    mask is None when nothing is late (the hot path allocates nothing).

    **Re-delivery and ``strict``:** operators with a UNIQUE tiebreak
    pass ``strict=True``: the frontier advances strictly past the
    folded (ts, tb), so an at-least-once source that re-delivers the
    exact last-folded row in a later micro-batch hits the guard (loud
    error / deterministic drop) instead of silently double-folding
    state.  ewma and running_distinct require a tiebreak and are
    strict unless the caller passes ``strict=False``; trailing and
    funnel are strict IFF the caller supplies their optional
    ``tiebreak_col``.
    WITHOUT a tiebreak the guard runs tb=0 with ``strict=False`` —
    same-timestamp ties are legitimate and indistinguishable from
    re-delivery — and enforces ordering, not idempotence: a
    re-delivered equal-(ts, 0) row still folds twice.  In that mode,
    with at-least-once delivery, dedup upstream (``stream_dedup`` on a
    unique event id) or use an operator whose fold is idempotent
    (latest-wins upsert, scd2).  Equality WITHIN one micro-batch is
    never rejected (the mask compares against the incoming frontier
    only).

    **Checkpoint compatibility:** the ``f_ts``/``f_tb`` fields that end
    every guarded operator's GroupState schema are a one-way break for
    checkpoints written before the guard existed — Spark cannot evolve
    ``applyInPandasWithState`` state schemas, so restarting such a
    query requires a FRESH checkpoint directory (replay from the
    source).  Same applies to ``scd2_merge``'s widened ``last_seen_us``
    output column for fixed-schema sinks; only its snapshot INPUT side
    has a legacy fallback.
    """
    if late_policy not in ("error", "drop"):
        raise ValueError(
            f"{op}: late_policy must be 'error' or 'drop', got "
            f"{late_policy!r}"
        )
    f_ts, f_tb = frontier
    if len(ts_us) == 0:
        return None, frontier
    first = (int(ts_us[0]), int(tbs[0]))
    last = (int(ts_us[-1]), int(tbs[-1]))
    ok = (first > (f_ts, f_tb)) if strict else (first >= (f_ts, f_tb))
    if ok:
        return None, max(last, (f_ts, f_tb))
    if late_policy == "drop":
        past_tb = (tbs > f_tb) if strict else (tbs >= f_tb)
        mask = (ts_us > f_ts) | ((ts_us == f_ts) & past_tb)
        return mask, max(last, (f_ts, f_tb))
    where = (
        "AT its key's frontier — an exact re-delivery of the "
        "last-folded event (at-least-once source?)"
        if strict and first == (f_ts, f_tb)
        else "BEHIND its key's frontier"
    )
    raise LateEventError(
        f"{op}: event at (ts_us={first[0]}, tiebreak={first[1]}) arrived "
        f"{where} (ts_us={f_ts}, tiebreak={f_tb}) — "
        "late data across micro-batches cannot be folded into "
        "already-advanced per-key state.  Either drop late rows "
        "deterministically (late_policy='drop'), filter them upstream "
        "with a watermark, or recompute with the batch twin, which "
        "sorts globally by event time."
    )


# the frontier of a key that has folded nothing yet
_NO_FRONTIER = -(1 << 62)


def _keyed_fold(
    stream: DataFrame,
    *,
    op: str,
    key_col: str,
    time_col: str,
    tiebreak_col: str | None,
    cols: dict[str, object],
    out_schema: str,
    state_schema: str,
    init: tuple,
    fold: Callable,
    late_policy: str,
    strict: bool,
    timeout_minutes: int | None,
    derived: dict[str, F.Column] | None = None,
) -> DataFrame:
    """The in-order per-key fold behind every ``applyInPandasWithState``
    operator: group ``stream`` by ``key_col`` and fold each key's events
    in (time, tiebreak) order into its GroupState.

    It owns the scaffold: it expires a timed-out key, sorts the
    key's micro-batch once, converts the time to epoch micros, and
    applies the cross-batch frontier guard
    (:func:`_frontier_guard`, ``op`` names the operator in its errors).
    It stores the frontier ``(f_ts, f_tb)`` after the user fields and
    re-arms the processing-time timeout.  Without a ``tiebreak_col`` every
    tiebreak is 0.

    The operator supplies the rest:

    * ``cols`` maps each column the fold reads to the numpy dtype it is
      read as (``None``: pandas' own).  A column named in ``derived`` is
      computed by that expression and selected after the tiebreak;
    * ``state_schema`` is the GroupState DDL, user fields first and
      ``f_ts long, f_tb long`` last; ``init`` is a new key's user fields;
    * ``fold(fields, ts_us, tbs, *arrays)`` gets the user fields and the
      kept rows' ``cols`` arrays, and returns ``(fields, rows)``: the new
      user fields and a dict of the output columns other than ``key``.
      It must not mutate ``fields`` in place (``init`` is shared).
    """
    derived = derived or {}
    tb = [tiebreak_col] if tiebreak_col else []
    sort_cols = [time_col, *tb]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            *fields, f_ts, f_tb = state.get
        else:
            fields, f_ts, f_tb = init, _NO_FRONTIER, _NO_FRONTIER
        # the iterator yields Arrow-batch slices (maxRecordsPerBatch), so
        # a key's micro-batch is sorted ONCE across them — per-slice sorts
        # would interleave out-of-order events.  Stable mergesort: equal
        # sort keys keep arrival order.  No slices: a timeout-only call.
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            chunks = [pd.DataFrame(columns=[*sort_cols, *cols])]
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        ts_us = (pdf[time_col].astype("int64") // 1000).to_numpy()  # ns→µs
        tbs = (
            pdf[tiebreak_col].to_numpy()
            if tiebreak_col
            else np.zeros(len(ts_us), dtype=np.int64)
        )
        arrays = [pdf[c].to_numpy(dtype=d) for c, d in cols.items()]
        mask, (f_ts, f_tb) = _frontier_guard(
            ts_us, tbs, (f_ts, f_tb), op, late_policy, strict=strict
        )
        if mask is not None:
            ts_us, tbs = ts_us[mask], tbs[mask]
            arrays = [a[mask] for a in arrays]
        fields, rows = fold(fields, ts_us, tbs, *arrays)
        state.update((*fields, int(f_ts), int(f_tb)))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        n = len(next(iter(rows.values())))
        if n:
            yield pd.DataFrame({"key": [key[0]] * n, **rows})

    return (
        stream.select(
            F.col(key_col).alias("key"),
            F.col(time_col).alias(time_col),
            *[F.col(c).alias(c) for c in [*cols, *tb] if c not in derived],
            *[e.alias(c) for c, e in derived.items()],
        )
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if timeout_minutes is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


def stream_windowed_agg(
    stream: DataFrame,
    exprs: dict[str, str],
    *,
    time_col: str,
    window: str,
    slide: str | None = None,
    by: str | list[str] | None = None,
    watermark: str = "1 minute",
) -> DataFrame:
    """Watermarked sliding/tumbling window aggregation.

    ``exprs`` are aggregate SQL strings (dplyr spellings allowed).  Emits
    one row per (window, keys) with ``window_start``/``window_end``.
    Works identically on a batch DataFrame (the window bucketing functions
    are the same) — handy for backfill/replay parity.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    is_stream = stream.isStreaming
    src = stream.withWatermark(time_col, watermark) if is_stream else stream
    win = F.window(F.col(time_col), window, slide) if slide else F.window(
        F.col(time_col), window
    )
    aggs = [F.expr(_translate(e)).alias(n) for n, e in exprs.items()]
    out = src.groupBy(win.alias("w"), *keys).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        *[F.col(n) for n in exprs],
    )


def stream_trailing_agg(
    stream: DataFrame,
    *,
    key_col: str,
    time_col: str,
    value_col: str,
    trailing_seconds: int,
    timeout_minutes: int | None = 30,
    late_policy: str = "error",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key trailing-window mean over event time, exactly tidier's O5
    flagship frame (`README.md:25-54`) as a *streaming* stateful operator.

    Cross-batch late events violate the in-order arrival contract and
    fail LOUDLY by default; ``late_policy="drop"`` skips them
    deterministically instead — see :func:`_frontier_guard`.

    ``tiebreak_col`` (optional): a UNIQUE per-event id.  When provided,
    the frontier advances strictly past the folded (time, tiebreak), so
    an at-least-once source re-delivering the exact last-folded row hits
    the guard (loud / deterministic drop) instead of silently folding it
    into the trailing buffer twice.  Without it the operator cannot tell
    re-delivery from a legitimate same-timestamp tie and keeps
    equality-folding.

    For each arriving event, emits ``trail_avg`` = mean of that key's
    values in ``[t − trailing_seconds, t]`` (closed bounds — identical to
    the batch range frame ``(seconds(trailing_seconds), 0)``, so streaming
    and backfill agree exactly).  State per key = the event
    buffer inside the trailing span (bounded by frame width × event rate);
    idle keys expire after ``timeout_minutes`` of processing time.

    ``timeout_minutes=None`` disables state expiry (NoTimeout).  Use it
    for BOUNDED AvailableNow replays: a processing-time timeout keeps the
    streaming engine scheduling extra micro-batches to fire expirations,
    so a replay that should end with the data never terminates; expiry is
    a liveness feature for unbounded production streams only.

    Implementation: a row fold over :func:`_keyed_fold`, the
    ``applyInPandasWithState`` scaffold shared by the per-key folds.
    """
    span_us = trailing_seconds * 1_000_000

    def fold(fields, ts_us, tbs, vals):
        # parallel lists of (epoch_micros, value) inside the trailing span
        ts_list, val_list = map(list, fields)
        trail_avg = []
        for t, v in zip(ts_us, vals):
            ts_list.append(int(t))
            val_list.append(float(v))
            # evict events strictly older than the trailing span
            # (closed lower bound, matching the batch rangeBetween)
            cut = t - span_us
            start = 0
            while start < len(ts_list) and ts_list[start] < cut:
                start += 1
            if start:
                ts_list = ts_list[start:]
                val_list = val_list[start:]
            trail_avg.append(sum(val_list) / len(val_list))
        rows = {
            "ts": ts_us.astype("datetime64[us]"),
            "value": vals,
            "trail_avg": trail_avg,
        }
        return (ts_list, val_list), rows

    return _keyed_fold(
        stream,
        op="stream_trailing_agg",
        key_col=key_col,
        time_col=time_col,
        tiebreak_col=tiebreak_col,
        cols={value_col: None},
        out_schema="key long, ts timestamp, value double, trail_avg double",
        state_schema=(
            "ts_list array<long>, val_list array<double>, f_ts long, f_tb long"
        ),
        init=([], []),
        fold=fold,
        late_policy=late_policy,
        strict=tiebreak_col is not None,
        timeout_minutes=timeout_minutes,
    )


def _preepoch_guard(frame: DataFrame, col: str, fn_name: str) -> DataFrame:
    """Make the pre-epoch watermark trap LOUD instead of silent.

    Spark's global watermark initializes at epoch 0, so a
    watermark-eviction path fed pre-1970 event times silently drops
    them.  Rather than silently losing rows, rewrite ``col`` through a
    JVM-side ``assert_true`` so the FIRST pre-epoch row in any
    micro-batch fails the query with a message naming the
    ``epoch_offset_us`` fix — one codegen'd comparison per row, no
    extra pass, no Python.  NULL event times pass through (they take
    the engine's usual NULL-event-time path, not this guard's).
    """
    ok = F.coalesce(F.unix_micros(F.col(col)) >= 0, F.lit(True))
    msg = (
        f"{fn_name}: pre-epoch (before 1970-01-01) event time in "
        f"'{col}' would be silently dropped by Spark's watermark "
        "(global watermark initializes at epoch 0). Pass epoch_offset_us="
        "<microseconds clearing your earliest event> to shift times past "
        "the epoch for the watermark; outputs are shifted back."
    )
    return frame.withColumn(
        col,
        F.when(F.assert_true(ok, F.lit(msg)).isNull(), F.col(col)),
    )


def stream_session_agg(
    stream: DataFrame,
    *,
    key_col: str,
    time_col: str,
    gap_seconds: int,
    aggs: dict[str, F.Column] | None = None,
    watermark: str = "0 seconds",
    epoch_offset_us: int = 0,
) -> DataFrame:
    """Streaming gap-based session aggregation: ``session_window`` with a
    watermark, merging/extending open sessions incrementally in the state
    store.  Identical output schema to the batch
    :func:`~tidier_spark.operators.temporal.session_agg`, so
    backfill (batch) and live (stream) share one definition.

    Output-mode note: with ``complete`` the sink holds every closed AND
    open session (exact batch parity on bounded replay); with ``append``
    only sessions whose end precedes the watermark are emitted — the
    last open session per key stays in state, which is the correct live
    semantics but not replay-parity.

    ENGINE LIMIT — pre-epoch event times: Spark's global watermark
    initializes at epoch 0 ms, so rows whose event time is before
    1970-01-01 arrive "late" on their first batch and are DROPPED by
    every watermark-eviction path (session_window aggregation here, the
    stream-stream interval join in ``stream_interval_join``) — verified
    on Spark 4.1 by the pre-epoch edge sweep (zero output rows; the
    batch equivalents handle negative epochs exactly).  The
    applyInPandasWithState operators and foreachBatch sinks do not rely
    on watermark eviction and are unaffected.  The trap is LOUD: a
    per-row JVM assert errors the query on the first pre-epoch event
    (post-shift) instead of silently dropping rows — see
    :func:`_preepoch_guard`.  The supported workaround
    is ``epoch_offset_us``: event times are shifted forward by the
    offset BEFORE the watermark (so they land past epoch 0) and the
    emitted session bounds are shifted back — session membership is
    translation-invariant, so the result equals the batch sessionization
    of the original times (pytest-pinned on 1960s data).  Pick an offset
    that clears your earliest event time, e.g. ``100 * 365 * 86_400 *
    10**6`` for one century.
    """
    src = stream
    if epoch_offset_us:
        src = src.withColumn(
            time_col,
            F.timestamp_micros(
                F.unix_micros(F.col(time_col)) + F.lit(int(epoch_offset_us))
            ),
        )
    if src.isStreaming:
        # loud-by-design: a pre-epoch event time (post-shift) errors the
        # query instead of being silently evicted — see _preepoch_guard
        src = _preepoch_guard(src, time_col, "stream_session_agg")
    w = src.withWatermark(time_col, watermark) if src.isStreaming else src
    agg_exprs = [F.count(F.lit(1)).alias("n_events")]
    for name, col in (aggs or {}).items():
        agg_exprs.append(col.alias(name))
    gap = f"{gap_seconds} seconds"
    g = w.groupBy(
        F.col(key_col), F.session_window(F.col(time_col), gap).alias("__w")
    ).agg(*agg_exprs)
    back = int(epoch_offset_us)
    return g.select(
        key_col,
        (F.unix_micros(F.col("__w.start")) - F.lit(back)).alias(
            "session_start_us"
        ),
        (F.unix_micros(F.col("__w.end")) - F.lit(back)).alias(
            "session_end_us"
        ),
        "n_events",
        *list((aggs or {}).keys()),
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeated ``keys`` arrivals within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the ingestion
    guard against at-least-once sources (Kafka replays, retried batches).

    State is bounded by the watermark: a key's fingerprint is held only
    until the watermark passes it, unlike ``dropDuplicates`` on a stream
    which retains state forever.  On a batch frame this degrades to plain
    ``dropDuplicates(keys)`` — same semantics when all data is in hand.
    """
    if not stream.isStreaming:
        return stream.dropDuplicates(keys)
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    *,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "10 minutes",
    how: str = "inner",
    epoch_offset_us: int = 0,
) -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval:
    ``right_ts ∈ [left_ts + lower, left_ts + upper]`` (inclusive), equal
    ``key`` — e.g. "purchases within an hour of a view by the same user".

    Both sides carry watermarks and the join condition bounds event time
    in BOTH directions, so the state store provably discards a row once
    the other side's watermark passes its interval — bounded state, the
    requirement for an unbounded 100 TB stream (an unconstrained
    stream-stream join would buffer forever).  Works identically on
    batch frames (same condition, no watermark) for backfill parity.

    Columns are prefixed ``l_`` / ``r_`` (key and timestamps keep one
    copy each) to avoid ambiguity in the joined schema.

    ``epoch_offset_us``: the pre-epoch watermark workaround of
    :func:`stream_session_agg` — both sides' event times shift forward
    past epoch 0 before the watermarks and the joined rows' timestamps
    shift back; the interval condition is translation-invariant, so the
    result equals the batch join of the original times (pytest-pinned).
    """
    keys = [key] if isinstance(key, str) else list(key)
    lcols = [c for c in left.columns if c not in keys]
    rcols = [c for c in right.columns if c not in keys]
    lren = left.select(
        *keys, *[F.col(c).alias(f"l_{c}") for c in lcols]
    )
    rren = right.select(
        *keys, *[F.col(c).alias(f"r_{c}") for c in rcols]
    )
    lts, rts = f"l_{left_ts}", f"r_{right_ts}"
    if epoch_offset_us:
        off = F.lit(int(epoch_offset_us))
        lren = lren.withColumn(
            lts, F.timestamp_micros(F.unix_micros(F.col(lts)) + off)
        )
        rren = rren.withColumn(
            rts, F.timestamp_micros(F.unix_micros(F.col(rts)) + off)
        )
    if left.isStreaming or right.isStreaming:
        # loud-by-design pre-epoch guard on BOTH sides (see _preepoch_guard)
        lren = _preepoch_guard(lren, lts, "stream_interval_join")
        rren = _preepoch_guard(rren, rts, "stream_interval_join")
        lren = lren.withWatermark(lts, watermark)
        rren = rren.withWatermark(rts, watermark)
    cond = None
    for k in keys:
        c = lren[k] == rren[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (F.col(rts) >= F.col(lts) + F.expr(f"INTERVAL {lower}"))
        & (F.col(rts) <= F.col(lts) + F.expr(f"INTERVAL {upper}"))
    )
    joined = lren.join(rren, cond, how)

    def out(name: str) -> F.Column:
        if epoch_offset_us and name in (lts, rts):
            return F.timestamp_micros(
                F.unix_micros(F.col(name)) - F.lit(int(epoch_offset_us))
            ).alias(name)
        return F.col(name)

    # the equi-key columns appear once per side after a raw-condition
    # join: keep the left copy
    return joined.select(
        *[lren[k] for k in keys],
        *[out(f"l_{c}") for c in lcols],
        *[out(f"r_{c}") for c in rcols],
    )


def stream_funnel_advances(
    stream: DataFrame,
    *,
    key_col: str,
    time_col: str,
    step_col: str,
    steps: list[str],
    late_policy: str = "error",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Streaming ordered-funnel tracker: per key, maintain the earliest
    SEQUENTIAL completion time of each step (step i+1 must strictly
    follow the key's step-i time — identical to the batch
    :func:`~tidier_spark.operators.temporal.funnel` chain) and emit one
    append-mode row ``(key, step, t_us)`` each time the key ADVANCES a
    step.  The emitted rows reconstruct the batch funnel exactly: the
    final state per key is the batch (t1..tk) row, because greedy
    earliest-chain assignment over time-ordered events equals the batch
    min-chain (standard exchange argument).

    Ordering contract: events must arrive per key in event-time order
    across micro-batches (within a batch they are sorted here).  That is
    the same in-order replay contract as
    :func:`stream_trailing_agg`; for out-of-order production streams,
    front a watermarked sort or widen to a re-derivation window.
    ``tiebreak_col`` (optional): a unique per-event id — when
    provided the frontier advances STRICTLY, so an exact at-least-once
    re-delivery is loud/dropped instead of re-folded (the fold itself
    is tie-insensitive, so values are unchanged for in-order data).

    State per key: ``k`` BIGINT timestamps (-1 = not reached) — O(k),
    the smallest possible funnel state; no event history is retained.
    """
    idx = {s: i for i, s in enumerate(steps)}

    def fold(fields, ts_us, tbs, st):
        times = list(fields[0])
        rows = {"step": [], "t_us": []}
        for t, s in zip(ts_us, st):
            i = idx.get(s)
            if i is None:
                continue
            if times[i] != -1:
                continue
            if i == 0 or (times[i - 1] != -1 and int(t) > times[i - 1]):
                times[i] = int(t)
                rows["step"].append(i + 1)
                rows["t_us"].append(int(t))
        return (times,), rows

    return _keyed_fold(
        stream,
        op="stream_funnel_advances",
        key_col=key_col,
        time_col=time_col,
        tiebreak_col=tiebreak_col,
        cols={step_col: None},
        out_schema="key long, step long, t_us long",
        state_schema="times array<long>, f_ts long, f_tb long",
        init=([-1] * len(steps),),
        fold=fold,
        late_policy=late_policy,
        strict=tiebreak_col is not None,
        timeout_minutes=None,
    )


def stream_ewma(
    stream: DataFrame,
    *,
    key_col: str,
    time_col: str,
    value_col: str,
    tiebreak_col: str,
    lookback: int = 8,
    timeout_minutes: int | None = None,
    late_policy: str = "error",
    strict: bool = True,
) -> DataFrame:
    """Streaming per-key EWMA — the stateful replay of
    :func:`~tidier_spark.operators.temporal.ewma` (α=1/2 finite-lookback
    weights in exact BIGINT arithmetic), so live scoring and batch
    backfill share one bit-identical definition.

    State per key: the last ``lookback``+1 fixed-point values and their
    (time, tiebreak) keys — O(K), no full history.  Events are processed
    in (time, tiebreak) order within each batch; the in-order arrival
    contract across batches matches :func:`stream_trailing_agg`.

    ``tiebreak_col`` is assumed UNIQUE per key, so the frontier advances
    STRICTLY past the folded (ts, tiebreak): an at-least-once source
    re-delivering the exact last-folded row in a later micro-batch
    raises :class:`LateEventError` (or drops under
    ``late_policy="drop"``) instead of silently double-folding.  The
    strictness is not recorded in the state, so it applies to a restart
    on a checkpoint written by the older equality-folding frontier too.
    Callers whose tiebreak is legitimately NON-unique (equal (ts,
    tiebreak) events split across micro-batches must all fold) pass
    ``strict=False`` for the equality-folding frontier, accepting that
    exact re-delivery of the last-folded row then folds twice.

    Emits one append-mode row per event: ``(key, ts_us, tiebreak,
    ewma_num, ewma_den, ewma100)`` — identical schema and values to the
    batch operator (the driver-hashable three-way parity: stream ==
    batch == SQL).
    """
    k1 = lookback + 1

    def fold(fields, ts_us, tbs, raw, nulls_jvm):
        # NULL vs NaN: the Arrow crossing collapses both to nan in a
        # float column, so the JVM-side __vnull flag is the only truth.
        # NULL skips (the batch twin's lag-coalesce); true NaN RAISES,
        # matching the batch engine's ANSI penny cast (nanvals edge
        # axis — silently treating NaN as missing broke the
        # stream==batch parity contract).
        vals, isnull = map(list, fields)
        rows = {c: [] for c in ("ewma_num", "ewma_den", "ewma100")}
        for v, vn in zip(raw, nulls_jvm):
            if (v is not None) and v != v and not vn:
                raise ValueError(
                    "stream_ewma: NaN value is not representable in "
                    "penny fixed point (the batch engine raises "
                    "CAST_OVERFLOW; NULL is the missing-value spelling)"
                )
            if vn or v is None or v != v:
                vals.append(0)
                isnull.append(True)
            else:
                # round half away from zero, matching Spark F.round
                x = float(v) * 100
                vals.append(int(x + 0.5) if x >= 0 else -int(-x + 0.5))
                isnull.append(False)
            vals, isnull = vals[-k1:], isnull[-k1:]
            num = den = 0
            for j in range(len(vals)):
                w = 1 << (lookback - j)
                idx = len(vals) - 1 - j
                if not isnull[idx]:
                    num += vals[idx] * w
                    den += w
            rows["ewma_num"].append(num)
            rows["ewma_den"].append(den)
            rows["ewma100"].append(num / den if den > 0 else None)
        return (vals, isnull), {"ts_us": ts_us, "tb": tbs, **rows}

    return _keyed_fold(
        stream,
        op="stream_ewma",
        key_col=key_col,
        time_col=time_col,
        tiebreak_col=tiebreak_col,
        cols={value_col: object, "__vnull": bool},
        derived={"__vnull": F.col(value_col).isNull()},
        out_schema=(
            "key long, ts_us long, tb long, "
            "ewma_num long, ewma_den long, ewma100 double"
        ),
        state_schema=(
            "vals array<long>, nulls array<boolean>, f_ts long, f_tb long"
        ),
        init=([], []),
        fold=fold,
        late_policy=late_policy,
        strict=strict,
        timeout_minutes=timeout_minutes,
    )


def stream_running_distinct(
    stream: DataFrame,
    *,
    key_col: str,
    time_col: str,
    value_col: str,
    tiebreak_col: str,
    timeout_minutes: int | None = None,
    late_policy: str = "error",
    strict: bool = True,
) -> DataFrame:
    """Streaming per-key RUNNING DISTINCT COUNT — the stateful replay of
    :func:`~tidier_spark.operators.temporal.rolling_distinct`'s ``dcum``
    column, so live counting and batch backfill share one definition
    (the stream == batch == SQL three-way parity the session/EWMA/
    trailing operators established).

    Emits one append-mode row per event: ``(key, ts_us, tb, dcum)`` —
    the number of distinct non-NULL values the key has seen up to and
    including that event.  NULL values count nothing but still emit a
    row (matching the batch first-occurrence-flag lowering and SQL
    ``count(DISTINCT) OVER``).

    State per key = the set of values seen, stored as ``array<string>``
    — O(per-key value CARDINALITY), not O(events): bounded domains
    (event types, status codes, countries) stay tiny forever.  For
    unbounded domains (URLs, user agents) swap in a sketch
    (``approx_count_distinct`` over windowed aggregation) — exact
    running distinct over an unbounded domain fundamentally requires
    the set.  Events are processed in (time, tiebreak) order within
    each batch; the in-order arrival contract across batches matches
    :func:`stream_trailing_agg`.

    ``tiebreak_col`` is assumed UNIQUE per key: exact re-delivery of
    the last-folded (ts, tiebreak) raises a named error (or drops)
    instead of silently re-folding — see :func:`stream_ewma` for the
    full contract.  Pass ``strict=False`` for legitimately non-unique
    tiebreaks (the equality-folding frontier).
    """

    def fold(fields, ts_us, tbs, vals):
        seen = set(fields[0])
        dcum = []
        for v in vals:
            if v is not None and v == v:  # skip None/NaN
                seen.add(str(v))
            dcum.append(len(seen))
        return (sorted(seen),), {"ts_us": ts_us, "tb": tbs, "dcum": dcum}

    return _keyed_fold(
        stream,
        op="stream_running_distinct",
        key_col=key_col,
        time_col=time_col,
        tiebreak_col=tiebreak_col,
        cols={value_col: object},
        out_schema="key long, ts_us long, tb long, dcum long",
        state_schema="seen array<string>, f_ts long, f_tb long",
        init=([],),
        fold=fold,
        late_policy=late_policy,
        strict=strict,
        timeout_minutes=timeout_minutes,
    )

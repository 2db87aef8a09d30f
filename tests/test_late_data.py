"""Cross-micro-batch LATE-DATA contract tests (late edge axis, r10).

Spark leaves late-row filtering to the operator for arbitrary stateful
processing (``applyInPandasWithState``) and ``foreachBatch`` — without a
guard, a row arriving a micro-batch after its key already folded a NEWER
event is applied OUT OF event-time order and per-row outputs silently
diverge from the batch twin (measured: wrong EWMA values, SCD2 intervals
with valid_to BEFORE valid_from).  The operators now enforce the
in-order arrival contract per key (``_frontier_guard`` / scd2_merge's
last_seen guard): LOUD error by default, deterministic drop on request.
"""
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tidier_spark.streaming.sliding import (
    run_stream,
    stream_ewma,
    stream_funnel_advances,
    stream_running_distinct,
    stream_trailing_agg,
)


def _two_batches(tmp_path, rows1, rows2, schema_cols):
    """Two parquet files with forced mtimes: file order == batch order."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({c: [r[i] for r in rows1] for i, c in enumerate(schema_cols)}), src / "b1.parquet")
    pq.write_table(pa.table({c: [r[i] for r in rows2] for i, c in enumerate(schema_cols)}), src / "b2.parquet")
    now = time.time()
    os.utime(src / "b1.parquet", (now - 60, now - 60))
    os.utime(src / "b2.parquet", (now, now))
    return str(src)


def _events_stream(spark, src):
    return (
        spark.readStream.schema("user_id long, event_id long, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "user_id", "event_id",
            F.timestamp_micros("ts_us").alias("ts"), "value",
        )
    )


def test_stream_ewma_late_event_is_loud(spark, tmp_path):
    src = _two_batches(
        tmp_path,
        [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)],
        [(1, 10, 500_000, 9.0)],  # LATE: behind key 1's frontier
        ["user_id", "event_id", "ts_us", "value"],
    )
    r = stream_ewma(
        _events_stream(spark, src), key_col="user_id", time_col="ts",
        value_col="value", tiebreak_col="event_id",
    )
    with pytest.raises(Exception, match="BEHIND its key's frontier"):
        run_stream(r, name="t_late_ewma_err", output_mode="append")


def test_stream_ewma_late_drop_equals_ontime_replay(spark, tmp_path):
    rows1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)]
    late = [(1, 10, 500_000, 9.0), (2, 20, 3_000_000, 4.0)]
    src = _two_batches(tmp_path, rows1, late, ["user_id", "event_id", "ts_us", "value"])
    r = stream_ewma(
        _events_stream(spark, src), key_col="user_id", time_col="ts",
        value_col="value", tiebreak_col="event_id", late_policy="drop",
    )
    got = sorted(
        (r2["key"], r2["ts_us"], r2["ewma100"])
        for r2 in run_stream(r, name="t_late_ewma_drop", output_mode="append").collect()
    )
    # the late key-1 row is dropped; key 2's first row (new key) folds
    keys = [(k, t) for k, t, _ in got]
    assert keys == [(1, 1_000_000), (1, 2_000_000), (2, 3_000_000)], got
    # and the kept rows' values equal an in-order single-batch replay
    (tmp_path / "b").mkdir()
    src2 = _two_batches(
        tmp_path / "b", rows1, [(2, 20, 3_000_000, 4.0)],
        ["user_id", "event_id", "ts_us", "value"],
    )
    r2 = stream_ewma(
        _events_stream(spark, src2), key_col="user_id", time_col="ts",
        value_col="value", tiebreak_col="event_id",
    )
    want = sorted(
        (x["key"], x["ts_us"], x["ewma100"])
        for x in run_stream(r2, name="t_late_ewma_ref", output_mode="append").collect()
    )
    assert got == want


def test_stream_trailing_and_distinct_late_policies(spark, tmp_path):
    rows1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)]
    late = [(1, 10, 500_000, 9.0)]
    src = _two_batches(tmp_path, rows1, late, ["user_id", "event_id", "ts_us", "value"])
    tr = stream_trailing_agg(
        _events_stream(spark, src), key_col="user_id", time_col="ts",
        value_col="value", trailing_seconds=10, timeout_minutes=None,
    )
    with pytest.raises(Exception, match="stream_trailing_agg.*BEHIND"):
        run_stream(tr, name="t_late_trail_err", output_mode="append")
    dr = stream_running_distinct(
        _events_stream(spark, src).withColumn("value", F.col("value").cast("string")),
        key_col="user_id", time_col="ts", value_col="value",
        tiebreak_col="event_id", late_policy="drop",
    )
    got = sorted(
        (r2["key"], r2["ts_us"], r2["dcum"])
        for r2 in run_stream(dr, name="t_late_dist_drop", output_mode="append").collect()
    )
    assert got == [(1, 1_000_000, 1), (1, 2_000_000, 2)], got


def test_stream_funnel_late_event_is_loud(spark, tmp_path):
    src = _two_batches(
        tmp_path,
        [(1, 11, 1_000_000, 0.0), (1, 12, 2_000_000, 0.0)],
        [(1, 10, 500_000, 0.0)],
        ["user_id", "event_id", "ts_us", "value"],
    )
    stream = _events_stream(spark, src).withColumn(
        "step", F.when(F.col("event_id") == 11, "a").otherwise("b")
    )
    r = stream_funnel_advances(
        stream, key_col="user_id", time_col="ts", step_col="step",
        steps=["a", "b"],
    )
    with pytest.raises(Exception, match="stream_funnel_advances.*BEHIND"):
        run_stream(r, name="t_late_funnel_err", output_mode="append")


def test_scd2_merge_late_batch_is_loud_and_legacy_snapshot_guarded(spark):
    from tidier_spark.operators.merge import scd2, scd2_merge

    def mk(rows):
        return spark.createDataFrame(rows, ["k", "t_us", "attr", "tb"]).select(
            "k", F.timestamp_micros("t_us").alias("t"), "attr", "tb"
        )

    snap = scd2_merge(None, mk([(1, 100, "a", 1), (1, 200, "a", 2)]), "k", "t", "attr", "tb")
    assert "last_seen_us" in snap.columns
    with pytest.raises(Exception, match="append-only CDC contract"):
        scd2_merge(snap, mk([(1, 50, "b", 3)]), "k", "t", "attr", "tb").collect()
    # a LEGACY snapshot (public scd2 output, no last_seen_us) gets the
    # sound lower-bound frontier: behind-run-start batches still raise
    legacy = scd2(mk([(1, 100, "a", 1), (1, 200, "a", 2)]), "k", "t", "attr", "tb")
    with pytest.raises(Exception, match="append-only CDC contract"):
        scd2_merge(legacy, mk([(1, 50, "b", 3)]), "k", "t", "attr", "tb").collect()
    # in-order folding still works and is loud-free
    out = scd2_merge(snap, mk([(1, 300, "b", 3)]), "k", "t", "attr", "tb")
    rows = {(r["attr"], r["is_current"]): r for r in out.collect()}
    assert rows[("a", False)]["valid_to_us"] == 300
    assert rows[("b", True)]["last_seen_us"] == 300


def test_late_policy_validated(spark, tmp_path):
    src = _two_batches(
        tmp_path,
        [(1, 11, 1_000_000, 1.0)],
        [(1, 12, 2_000_000, 2.0)],
        ["user_id", "event_id", "ts_us", "value"],
    )
    r = stream_ewma(
        _events_stream(spark, src), key_col="user_id", time_col="ts",
        value_col="value", tiebreak_col="event_id", late_policy="dorp",
    )
    with pytest.raises(Exception, match="late_policy must be"):
        run_stream(r, name="t_late_policy_bad", output_mode="append")


def _n_batches(tmp_path, batches, schema_cols):
    """N parquet files with staggered mtimes: file order == batch order."""
    src = tmp_path / "src"
    src.mkdir(parents=True)
    now = time.time()
    for bi, rows in enumerate(batches):
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(schema_cols)}),
            src / f"b{bi}.parquet",
        )
        mt = now - 60 * (len(batches) - bi)
        os.utime(src / f"b{bi}.parquet", (mt, mt))
    return str(src)


# Three micro-batches; rows marked late are BEHIND their key's frontier
# when their batch folds (value 9.0 = poison: folding one shows up in
# the compared values, not just row counts).  Kept set replayed in pure
# Python below — the documented drop-mode contract is that this set is
# a function of (data, arrival batches) only.
_DROP_BATCHES = [
    [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0),
     (2, 21, 1_000_000, 3.0), (3, 31, 5_000_000, 4.0)],
    [(1, 10, 500_000, 9.0), (1, 13, 3_000_000, 5.0),
     (2, 22, 4_000_000, 6.0), (3, 30, 1_000_000, 9.0)],
    [(1, 135, 2_500_000, 9.0), (2, 20, 900_000, 9.0),
     (3, 32, 6_000_000, 7.0)],
]
_COLS = ["user_id", "event_id", "ts_us", "value"]


def _python_kept_set(batches, tiebreak, strict=False):
    """Replay _frontier_guard per key: keep rows past the key's frontier
    at their batch's fold time (>= normally, > under the unique-tiebreak
    strict rule); the frontier then advances to the batch max.
    ``tiebreak`` mirrors the operator: event_id for ewma/distinct, 0 for
    the tb-less trailing/funnel folds."""
    frontier: dict = {}
    kept = set()
    for rows in batches:
        per_key: dict = {}
        for k, eid, ts, v in rows:
            per_key.setdefault(k, []).append((ts, tiebreak(eid), eid))
        for k, krows in per_key.items():
            krows.sort()
            f = frontier.get(k, (-(1 << 62), -(1 << 62)))
            for ts, tb, eid in krows:
                if ((ts, tb) > f) if strict else ((ts, tb) >= f):
                    kept.add(eid)
            frontier[k] = max(f, krows[-1][:2])
    return kept


def _mk_ewma(stream, policy):
    return stream_ewma(
        stream, key_col="user_id", time_col="ts", value_col="value",
        tiebreak_col="event_id", late_policy=policy,
    )


def _mk_trailing(stream, policy):
    return stream_trailing_agg(
        stream, key_col="user_id", time_col="ts", value_col="value",
        trailing_seconds=10, timeout_minutes=None, late_policy=policy,
    )


def _mk_distinct(stream, policy):
    return stream_running_distinct(
        stream.withColumn("value", F.col("value").cast("string")),
        key_col="user_id", time_col="ts", value_col="value",
        tiebreak_col="event_id", late_policy=policy,
    )


_FUNNEL_STEP = {11: "s1", 12: "s2", 13: "s3", 10: "s3", 135: "s3",
                21: "s1", 22: "s2", 20: "s1", 31: "s1", 30: "s1", 32: "s2"}


def _mk_funnel(stream, policy):
    from pyspark.sql.types import StringType

    step_map = F.udf(lambda e: _FUNNEL_STEP[e], StringType())
    return stream_funnel_advances(
        stream.withColumn("step", step_map(F.col("event_id"))),
        key_col="user_id", time_col="ts", step_col="step",
        steps=["s1", "s2", "s3"], late_policy=policy,
    )


@pytest.mark.parametrize(
    "opname,mk,tb_of,strict",
    [
        ("ewma", _mk_ewma, lambda eid: eid, True),
        ("trailing", _mk_trailing, lambda eid: 0, False),
        ("distinct", _mk_distinct, lambda eid: eid, True),
        ("funnel", _mk_funnel, lambda eid: 0, False),
    ],
)
def test_drop_mode_equals_error_mode_on_kept_subset(
    spark, tmp_path, opname, mk, tb_of, strict
):
    """late_policy="drop" batch-twin parity (verdict r10 task #3): the
    kept set is a pure function of (data, arrival batches) — replayed
    here in pure Python — and the drop-mode OUTPUT over the late
    fixture is row-for-row identical to the default error-mode run over
    the same batch structure with the late rows removed.  Values, not
    just counts: late rows carry a 9.0 poison value, so folding even
    one corrupts the comparison.  (scd2_merge is excluded by design:
    the append-only CDC contract is error-only — silently dropping CDC
    observations is a data-loss hazard, not a policy.)"""
    kept = _python_kept_set(_DROP_BATCHES, tb_of, strict=strict)
    # the fixture is late-bearing by construction for BOTH tb rules
    all_ids = {r[1] for b in _DROP_BATCHES for r in b}
    assert kept != all_ids, "fixture has no late rows — test is vacuous"

    src_full = _n_batches(tmp_path / "full", _DROP_BATCHES, _COLS)
    pruned = [[r for r in b if r[1] in kept] for b in _DROP_BATCHES]
    src_kept = _n_batches(tmp_path / "kept", pruned, _COLS)

    got = sorted(
        tuple(r) for r in run_stream(
            mk(_events_stream(spark, src_full), "drop"),
            name=f"t_dropparity_{opname}_full", output_mode="append",
        ).collect()
    )
    want = sorted(
        tuple(r) for r in run_stream(
            mk(_events_stream(spark, src_kept), "error"),
            name=f"t_dropparity_{opname}_kept", output_mode="append",
        ).collect()
    )
    assert got == want and len(got) > 0, (opname, got, want)


def test_exact_redelivery_is_loud_for_unique_tiebreak_ops(spark, tmp_path):
    """At-least-once re-delivery (advice r10): for operators with a
    UNIQUE tiebreak the frontier advances STRICTLY past the folded
    (ts, tb), so an exact duplicate of the last-folded row arriving in a
    later micro-batch raises (default) or is dropped (drop policy) —
    never silently double-folded into EWMA / distinct state."""
    rows1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)]
    redeliver = [(1, 12, 2_000_000, 2.0)]  # exact copy of the last row
    src = _two_batches(tmp_path, rows1, redeliver, _COLS)
    r = stream_ewma(
        _events_stream(spark, src), key_col="user_id", time_col="ts",
        value_col="value", tiebreak_col="event_id",
    )
    with pytest.raises(Exception, match="exact re-delivery"):
        run_stream(r, name="t_redeliver_ewma_err", output_mode="append")

    # drop mode: the duplicate is skipped; output equals the clean replay
    (tmp_path / "d").mkdir()
    src_d = _two_batches(tmp_path / "d", rows1, redeliver, _COLS)
    got = sorted(
        tuple(r2) for r2 in run_stream(
            _mk_distinct(_events_stream(spark, src_d), "drop"),
            name="t_redeliver_dist_drop", output_mode="append",
        ).collect()
    )
    assert [g[:2] for g in got] == [(1, 1_000_000), (1, 2_000_000)], got

    # tb=0 operators CANNOT distinguish re-delivery from a legitimate
    # same-timestamp tie: the equal-frontier row still folds (documented
    # hazard, _frontier_guard docstring) — pinned so a behavior change
    # shows up here
    (tmp_path / "t").mkdir()
    src_t = _two_batches(tmp_path / "t", rows1, redeliver, _COLS)
    out = run_stream(
        _mk_trailing(_events_stream(spark, src_t), "error"),
        name="t_redeliver_trail_folds", output_mode="append",
    )
    assert out.count() == 3  # 2 on-time + the re-delivered row folded


def test_strict_false_restores_equality_folding_frontier(spark, tmp_path):
    """advice r11: the strict frontier is a breaking r11 change for
    callers whose tiebreak is legitimately NON-unique — equal (ts, tb)
    events split across micro-batches must all fold.  ``strict=False``
    on stream_ewma / stream_running_distinct restores the r10
    equality-folding frontier: the cross-batch equal row folds instead
    of raising (accepting the documented double-fold on true
    re-delivery)."""
    rows1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)]
    dup_tb = [(1, 12, 2_000_000, 3.0)]  # same (ts, tb), different value
    src = _two_batches(tmp_path, rows1, dup_tb, _COLS)
    out = run_stream(
        stream_ewma(
            _events_stream(spark, src), key_col="user_id", time_col="ts",
            value_col="value", tiebreak_col="event_id", strict=False,
        ),
        name="t_nonstrict_ewma_folds", output_mode="append",
    )
    assert out.count() == 3  # 2 on-time + the equal-frontier row folded

    (tmp_path / "d").mkdir()
    src_d = _two_batches(tmp_path / "d", rows1, dup_tb, _COLS)
    out_d = run_stream(
        stream_running_distinct(
            _events_stream(spark, src_d), key_col="user_id",
            time_col="ts", value_col="value", tiebreak_col="event_id",
            strict=False,
        ),
        name="t_nonstrict_dist_folds", output_mode="append",
    )
    got = sorted(tuple(r) for r in out_d.collect())
    assert len(got) == 3 and got[-1][-1] == 3, got  # 3 distinct values seen


def test_trailing_funnel_opt_in_tiebreak_makes_redelivery_loud(spark, tmp_path):
    """r11: trailing and funnel accept an optional unique tiebreak_col;
    when provided the frontier is STRICT, so exact re-delivery raises —
    and in-order values are unchanged vs the tb-less form."""
    rows1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)]
    redeliver = [(1, 12, 2_000_000, 2.0)]

    # trailing, strict: loud on the re-delivered duplicate
    src = _two_batches(tmp_path, rows1, redeliver, _COLS)
    tr = stream_trailing_agg(
        _events_stream(spark, src), key_col="user_id", time_col="ts",
        value_col="value", trailing_seconds=10, timeout_minutes=None,
        tiebreak_col="event_id",
    )
    with pytest.raises(Exception, match="exact re-delivery"):
        run_stream(tr, name="t_tb_trail_err", output_mode="append")

    # funnel, strict: loud on the re-delivered duplicate
    (tmp_path / "f").mkdir()
    src_f = _two_batches(tmp_path / "f", rows1, redeliver, _COLS)
    fu = stream_funnel_advances(
        _events_stream(spark, src_f).withColumn(
            "step", F.when(F.col("event_id") == 11, "a").otherwise("b")
        ),
        key_col="user_id", time_col="ts", step_col="step",
        steps=["a", "b"], tiebreak_col="event_id",
    )
    with pytest.raises(Exception, match="exact re-delivery"):
        run_stream(fu, name="t_tb_funnel_err", output_mode="append")

    # in-order data: strict and tb-less forms agree value-for-value
    (tmp_path / "c").mkdir()
    clean = [(1, 13, 3_000_000, 3.0), (2, 20, 1_000_000, 4.0)]
    src_c = _two_batches(tmp_path / "c", rows1, clean, _COLS)

    def trail(tb):
        return sorted(
            tuple(r) for r in run_stream(
                stream_trailing_agg(
                    _events_stream(spark, src_c), key_col="user_id",
                    time_col="ts", value_col="value", trailing_seconds=10,
                    timeout_minutes=None, tiebreak_col=tb,
                ),
                name=f"t_tb_trail_par_{tb}", output_mode="append",
            ).collect()
        )

    assert trail("event_id") == trail(None) and len(trail(None)) == 4


def test_stream_dedup_upstream_protects_tbless_fold_from_redelivery(
    spark, tmp_path
):
    """The documented mitigation for at-least-once delivery into a
    tb=0 fold (_frontier_guard docstring): stream_dedup on a unique
    event id upstream of stream_trailing_agg.  The re-delivered exact
    duplicate is dropped by dropDuplicatesWithinWatermark BEFORE the
    stateful fold, so the tb-less trailing mean equals the clean
    replay instead of double-folding."""
    rows1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0)]
    redeliver = [(1, 12, 2_000_000, 2.0), (1, 13, 3_000_000, 3.0)]
    src = _two_batches(tmp_path, rows1, redeliver, _COLS)

    from tidier_spark.streaming import stream_dedup

    def run(name, with_dedup):
        ev = _events_stream(spark, src)
        if with_dedup:
            ev = stream_dedup(ev, ["event_id"], "ts", watermark="1 hour")
        out = stream_trailing_agg(
            ev, key_col="user_id", time_col="ts", value_col="value",
            trailing_seconds=10, timeout_minutes=None,
        )
        return sorted(
            (r["key"], r["ts"], r["value"], r["trail_avg"])
            for r in run_stream(out, name=name, output_mode="append").collect()
        )

    protected = run("t_dedup_shield_on", True)
    # without the shield, the tb-less fold double-counts the duplicate
    unprotected = run("t_dedup_shield_off", False)
    assert len(protected) == 3 and len(unprotected) == 4
    # protected == the clean-fixture replay
    (tmp_path / "c").mkdir()
    src_c = _two_batches(
        tmp_path / "c", rows1, [(1, 13, 3_000_000, 3.0)], _COLS
    )
    clean = sorted(
        (r["key"], r["ts"], r["value"], r["trail_avg"])
        for r in run_stream(
            stream_trailing_agg(
                _events_stream(spark, src_c), key_col="user_id",
                time_col="ts", value_col="value", trailing_seconds=10,
                timeout_minutes=None,
            ),
            name="t_dedup_shield_clean", output_mode="append",
        ).collect()
    )
    assert protected == clean, (protected, clean)


@pytest.mark.parametrize(
    "mk",
    [_mk_ewma, _mk_trailing, _mk_distinct, _mk_funnel],
    ids=["ewma", "trailing", "distinct", "funnel"],
)
def test_checkpoint_restart_restores_state_and_frontier(spark, tmp_path, mk):
    """The one streaming property no edge axis exercises: a REAL
    checkpoint restart, for each stateful fold.  Phase 1 replays batch 1
    to a parquet sink with a checkpoint; phase 2 adds a second batch
    file and restarts a NEW query on the SAME checkpoint.  Three
    assertions:

    1. Exactly-once: the final sink equals a clean single-session
       replay value-for-value (the file source re-processes nothing).
    2. GroupState round-trip: the phase-2 rows continue the phase-1
       per-key state (covered by #1 — a reset state would change the
       EWMA, the trailing mean, the distinct count and the funnel
       advances).
    3. The frontier fields (f_ts/f_tb) RESTORE rather than reset: a row
       arriving after a further restart BEHIND the checkpointed frontier
       still raises LateEventError.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["user_id", "event_id", "ts_us", "value"]
    b1 = [(1, 11, 1_000_000, 1.0), (1, 12, 2_000_000, 2.0),
          (2, 21, 1_000_000, 3.0)]
    b2 = [(1, 13, 3_000_000, 4.0), (2, 22, 4_000_000, 5.0)]

    def write(src, rows, name, age):
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
            f"{src}/{name}",
        )
        now = time.time()
        os.utime(f"{src}/{name}", (now - age, now - age))

    def mk_query(src, sink, ck):
        ev = (
            spark.readStream
            .schema("user_id long, event_id long, ts_us long, value double")
            .option("maxFilesPerTrigger", 1).parquet(src)
            .select("user_id", "event_id",
                    F.timestamp_micros("ts_us").alias("ts"), "value")
        )
        out = mk(ev, "error")
        return (out.writeStream.format("parquet")
                .option("path", sink).option("checkpointLocation", ck)
                .outputMode("append").trigger(availableNow=True).start())

    src = str(tmp_path / "src"); os.makedirs(src)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    write(src, b1, "b1.parquet", 120)
    mk_query(src, sink, ck).awaitTermination(120)
    assert spark.read.parquet(sink).count() == 3
    write(src, b2, "b2.parquet", 1)
    mk_query(src, sink, ck).awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())

    # clean single-session replay
    src2 = str(tmp_path / "src2"); os.makedirs(src2)
    sink2, ck2 = str(tmp_path / "sink2"), str(tmp_path / "ck2")
    write(src2, b1, "b1.parquet", 120)
    write(src2, b2, "b2.parquet", 1)
    mk_query(src2, sink2, ck2).awaitTermination(120)
    want = sorted(tuple(r) for r in spark.read.parquet(sink2).collect())
    assert got == want and len(got) == 5, (got, want)

    # frontier survives the restart: a row arriving after one more
    # restart BEHIND key 1's checkpointed frontier must still raise
    write(src, [(1, 10, 500_000, 9.0)], "b3.parquet", 0)
    q = mk_query(src, sink, ck)
    with pytest.raises(Exception, match="BEHIND its key's frontier"):
        try:
            q.awaitTermination(120)
        finally:
            q.stop()


@pytest.mark.parametrize("strict", [True, False])
def test_frontier_drop_mask_equals_tuple_compare(strict):
    """The vectorized drop mask keeps exactly the rows whose (ts, tb)
    tuple is past the frontier (>= when not strict), and the frontier
    advances to the larger of itself and the batch's last row."""
    import numpy as np

    from tidier_spark.streaming.sliding import _frontier_guard

    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(1, 12))
        rows = sorted(
            zip(rng.integers(0, 4, n).tolist(), rng.integers(0, 3, n).tolist())
        )
        ts, tb = (np.array(c, dtype=np.int64) for c in zip(*rows))
        f = (int(rng.integers(0, 4)), int(rng.integers(0, 3)))
        mask, frontier = _frontier_guard(ts, tb, f, "op", "drop", strict=strict)
        got = [True] * n if mask is None else mask.tolist()
        assert got == [(r > f) if strict else (r >= f) for r in rows], (rows, f)
        assert frontier == max(rows[-1], f)

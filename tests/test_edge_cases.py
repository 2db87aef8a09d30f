"""Edge cases: empty inputs, empty text, single-row groups, NULL keys."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tidier_spark import days, mutate
from tidier_spark.operators import text


def test_mutate_on_empty_dataframe(tables):
    empty = tables["events"].limit(0)
    for kwargs in (
        dict(x="value * 2"),
        dict(x="avg(value)", by="user_id"),
        dict(x="row_number()", by="user_id", order_by=["ts"]),
        dict(x="avg(value)", by="user_id", order_by=["ts"], frame=(3, 0)),
        dict(x="avg(value)", by="user_id", index="ts", frame=(days(7), days(0))),
        dict(x="cumsum(value)", order_by=["ts"]),
    ):
        r = mutate(empty, **kwargs)
        assert r.count() == 0
        assert "x" in r.columns


def test_text_metrics_on_empty_and_punct_only_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "!!! ..."), (3, "one two three")], ["doc_id", "text"]
    )
    r = text.analyze_documents(df).collect()
    by_id = {row["doc_id"]: row for row in r}
    # token-free docs: counts 0, ratios NULL (0/0), never an exception
    assert by_id[1]["n_tokens"] == 0 and by_id[2]["n_tokens"] == 0
    assert by_id[1]["avg_token_len"] is None
    assert by_id[3]["n_tokens"] == 3
    # fingerprint of token-free docs is the empty-string md5 — stable
    assert by_id[1]["fingerprint"] == by_id[2]["fingerprint"]


def test_bpe_and_rolling_on_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, "ab7!")], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text.token_count_bpe("text").alias("bpe"),
            text.rolling_fingerprint("text").alias("rfp"),
        ).collect()
    }
    assert rows[1]["bpe"] == 0
    assert rows[1]["rfp"] == 7  # seed survives the empty fold
    assert rows[2]["bpe"] == 3  # 'ab' → 1, '7' → 1, '!' → 1


def test_window_with_null_group_keys(spark, sf_dir):
    from helpers import assert_matches_oracle

    from tidier_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events").withColumn(
        "grp", F.when(F.col("user_id") % 4 == 0, None).otherwise(F.col("user_id"))
    )
    # NULL keys form one partition in both engines (SQL window semantics)
    r = mutate(
        ev,
        s="sum(round(value * 100)) / 100",
        by="grp",
        order_by=["ts", "event_id"],
        frame=(math.inf, 0),
    ).select("event_id", "s")
    assert_matches_oracle(
        r,
        """SELECT event_id,
                  sum(round(value * 100)) OVER (
                    PARTITION BY CASE WHEN user_id % 4 = 0 THEN NULL
                                      ELSE user_id END
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100 AS s
           FROM events""",
        sf_dir,
    )


def test_single_row_groups(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (2, 2, 20.0), (3, 3, 30.0)], ["id", "grp", "v"]
    )
    r = mutate(
        df, m="avg(v)", sd="stddev_samp(v)", by="grp", order_by=["id"], frame=(5, 0)
    ).collect()
    assert all(row["m"] == row["v"] for row in r)
    assert all(row["sd"] is None for row in r)  # n=1 → sample stddev NULL

# ---------------------------------------------------------------------------
# Cardinality-edge differentials (verdict r04 task #3): empty tables,
# single-row groups, and all-rows-one-group for the newest operator
# families, each checked on BOTH engines.  The reference pins partial-
# window behavior exactly at these edges (`/root/reference/R/mutate.R:58-62`,
# README row-1 NaN), and the star fixtures never produce them.
# ---------------------------------------------------------------------------


def _duck(sql: str, setup: list[str] | None = None):
    import duckdb

    con = duckdb.connect()
    try:
        for s in setup or []:
            con.execute(s)
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_exact_quantiles_degenerate_cardinalities(spark):
    from tidier_spark.operators.sketches import exact_quantiles

    # empty input -> zero groups on both engines (both parallelism regimes)
    empty = spark.createDataFrame([], "g string, v double")
    assert exact_quantiles(empty, "v", [0.5], by="g").count() == 0
    assert (
        exact_quantiles(empty, "v", [0.5], by="g", coarse_groups=True).count()
        == 0
    )
    assert (
        _duck(
            "SELECT g, quantile_cont(v, 0.5) FROM "
            "(SELECT NULL::VARCHAR g, NULL::DOUBLE v WHERE false) GROUP BY g"
        )
        == []
    )

    # single-row groups: every probability returns the value, both engines
    one = spark.createDataFrame([("a", 1.5), ("b", -2.25)], "g string, v double")
    got = {
        r["g"]: (r["q_0"], r["q_1"], r["q_2"])
        for r in exact_quantiles(one, "v", [0.0, 0.37, 1.0], by="g").collect()
    }
    want_duck = {
        g: (q0, q1, q2)
        for g, q0, q1, q2 in _duck(
            "SELECT g, quantile_cont(v, 0.0), quantile_cont(v, 0.37),"
            " quantile_cont(v, 1.0)"
            " FROM (VALUES ('a', 1.5), ('b', -2.25)) t(g, v) GROUP BY g"
        )
    }
    assert got == want_duck == {"a": (1.5, 1.5, 1.5), "b": (-2.25, -2.25, -2.25)}

    # all rows in ONE group: interpolated quantiles match quantile_cont
    # (dyadic probabilities -> pos and both interpolation formulas are
    # exact in binary, so the engines must agree bit-for-bit)
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0]
    allone = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    probs = [0.0, 0.25, 0.5, 0.75, 1.0]
    got_row = exact_quantiles(allone, "v", probs, by="g").collect()[0]
    got_t = tuple(got_row[f"q_{i}"] for i in range(len(probs)))
    vv = ", ".join(f"(CAST({v!r} AS DOUBLE))" for v in vals)
    qq = ", ".join(f"quantile_cont(v, {p!r})" for p in probs)
    want_t = _duck(f"SELECT {qq} FROM (VALUES {vv}) t(v)")[0]
    assert got_t == want_t == (1.0, 1.5, 3.0, 4.5, 9.0)

    # NULL group keys form one group, as in GROUP BY: the coarse regime
    # must not drop it in its offsets join
    nullkeys = spark.createDataFrame(
        [(None if i % 3 == 0 else str(i % 2), float(i)) for i in range(60)],
        "g string, v double",
    )
    assert exact_quantiles(nullkeys, "v", [0.5], by="g").count() == 3

    # the coarse_groups (range-bucketed two-pass prefix) regime is
    # bit-equal to the window regime on every case above
    for frame in (one, allone, nullkeys):
        a = sorted(
            (
                tuple(r)
                for r in exact_quantiles(frame, "v", probs, by="g").collect()
            ),
            key=str,
        )
        b = sorted(
            (
                tuple(r)
                for r in exact_quantiles(
                    frame, "v", probs, by="g", coarse_groups=True
                ).collect()
            ),
            key=str,
        )
        assert a == b


def test_gapfill_interp_degenerate_cardinalities(spark):
    from tidier_spark.operators.temporal import (
        time_bucket_gapfill,
        time_bucket_gapfill_sql,
    )

    day_us = 86_400_000_000
    schema = "user_id long, us long, value double"
    sql = time_bucket_gapfill_sql(
        "events", "user_id", "ts", "value", 86400, "linear"
    )

    def run_both(rows):
        df = spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "timestamp_micros(us) AS ts", "value"
        )
        got = sorted(
            tuple(r)
            for r in time_bucket_gapfill(
                df, "user_id", "ts", "value", bucket_seconds=86400, fill="linear"
            ).collect()
        )
        if rows:
            vals = ", ".join(
                f"({u}, make_timestamp({us}), {v!r})" for u, us, v in rows
            )
            setup = [f"CREATE TABLE events AS SELECT * FROM (VALUES {vals})"
                     " t(user_id, ts, value)"]
        else:
            setup = ["CREATE TABLE events (user_id BIGINT, ts TIMESTAMP,"
                     " value DOUBLE)"]
        want = sorted(tuple(r) for r in _duck(sql, setup))
        assert got == want
        return got

    # empty input -> empty grid on both engines
    assert run_both([]) == []

    # one observation per key: a 1-bucket grid, nothing filled
    got = run_both([(1, 0, 1.25), (2, 5 * day_us + 7, -3.5)])
    assert got == [(1, 0, 1, 125, False), (2, 5 * day_us, 1, -350, False)]

    # all rows in ONE bucket of ONE key: single aggregated row, no gaps
    got = run_both([(7, 100, 1.0), (7, 200, 2.0), (7, day_us - 1, 3.0)])
    assert got == [(7, 0, 3, 600, False)]

    # two observed buckets with a gap between: row 1/row N are anchors
    # (partial-window edge: the interpolated bucket has BOTH neighbors
    # by construction; first/last buckets are never filled)
    got = run_both([(3, 0, 1.0), (3, 2 * day_us, 2.0)])
    assert got == [
        (3, 0, 1, 100, False),
        (3, day_us, 0, 150, True),
        (3, 2 * day_us, 1, 200, False),
    ]


def test_attribution_linear_degenerate_cardinalities(spark):
    from tidier_spark.operators.temporal import (
        linear_attribution,
        linear_attribution_sql,
    )

    schema = "user_id long, event_id long, us long, event_type string, value double"
    sql = linear_attribution_sql(
        "events", "user_id", "event_type = 'view'",
        "event_type = 'purchase'", "ts", "event_id", "value",
        86_400_000_000,
    )

    def run_both(rows):
        df = spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "event_id", "timestamp_micros(us) AS ts",
            "event_type", "value"
        )
        got = sorted(
            tuple(r)
            for r in linear_attribution(
                df.where("event_type = 'view'"),
                df.where("event_type = 'purchase'"),
                "user_id", "ts", "ts", "event_id", "event_id", "value",
                lookback_us=86_400_000_000,
            )
            .selectExpr("event_id AS touch_id", "touched_cents", "n_convs",
                        "credit_fp")
            .collect()
        )
        if rows:
            vals = ", ".join(
                f"({u}, {e}, make_timestamp({us}), '{t}', {v!r})"
                for u, e, us, t, v in rows
            )
            setup = [
                "CREATE TABLE events AS SELECT * FROM (VALUES "
                f"{vals}) t(user_id, event_id, ts, event_type, value)"
            ]
        else:
            setup = [
                "CREATE TABLE events (user_id BIGINT, event_id BIGINT,"
                " ts TIMESTAMP, event_type VARCHAR, value DOUBLE)"
            ]
        want = sorted(tuple(r) for r in _duck(sql, setup))
        assert got == want
        return got

    # empty table -> no credit rows on either engine
    assert run_both([]) == []

    # conversions but ZERO touches -> inner join drops everything
    assert run_both([(1, 10, 1000, "purchase", 9.99)]) == []

    # touches but ZERO conversions -> empty too
    assert run_both([(1, 11, 1000, "view", 0.0)]) == []

    # single touch, two conversions, one user: full credit each time
    got = run_both([
        (1, 11, 1_000_000, "view", 0.0),
        (1, 20, 2_000_000, "purchase", 10.0),
        (1, 21, 3_000_000, "purchase", 2.5),
    ])
    assert got == [(11, 1250, 2, 1_250_000_000)]

    # all touches in one conversion's window: equal split incl. the
    # truncate-toward-zero remainder (1000/3 cents*1e6 each)
    got = run_both([
        (5, 31, 1_000_000, "view", 0.0),
        (5, 32, 2_000_000, "view", 0.0),
        (5, 33, 3_000_000, "view", 0.0),
        (5, 40, 4_000_000, "purchase", 10.0),
    ])
    assert got == [
        (31, 1000, 1, 333_333_333),
        (32, 1000, 1, 333_333_333),
        (33, 1000, 1, 333_333_333),
    ]


def test_scd2_merge_degenerate_cardinalities(spark):
    from tidier_spark.operators.merge import scd2, scd2_merge, scd2_sql

    schema = "user_id long, us long, event_id long, attr string"

    def mk(rows):
        return spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "timestamp_micros(us) AS ts", "event_id", "attr"
        )

    def duck_scd2(rows):
        if rows:
            vals = ", ".join(
                "({}, make_timestamp({}), {}, {})".format(
                    u, us, e, "NULL" if a is None else f"'{a}'"
                )
                for u, us, e, a in rows
            )
            setup = ["CREATE TABLE hist AS SELECT * FROM (VALUES "
                     f"{vals}) t(user_id, ts, event_id, attr)"]
        else:
            setup = ["CREATE TABLE hist (user_id BIGINT, ts TIMESTAMP,"
                     " event_id BIGINT, attr VARCHAR)"]
        return sorted(
            tuple(r)
            for r in _duck(
                scd2_sql("hist", "user_id", "ts", "attr", "event_id"), setup
            )
        )

    cols = ["user_id", "attr", "valid_from_us", "valid_to_us",
            "is_current", "n_obs"]

    def canon(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    # empty change log -> empty history on both engines
    assert canon(scd2(mk([]), "user_id", "ts", "attr", "event_id")) == []
    assert duck_scd2([]) == []

    # single-row log -> one open run, identical across engines and via
    # the incremental fold from a None snapshot
    one = [(1, 1_000_000, 10, "A")]
    full = canon(scd2(mk(one), "user_id", "ts", "attr", "event_id"))
    inc = canon(
        scd2_merge(None, mk(one), "user_id", "ts", "attr", "event_id")
    )
    assert full == inc == duck_scd2(one) == [(1, "A", 1_000_000, None, True, 1)]

    # empty BATCH folded onto a snapshot -> exact passthrough
    hist = scd2(mk(one), "user_id", "ts", "attr", "event_id")
    after = scd2_merge(hist, mk([]), "user_id", "ts", "attr", "event_id")
    assert canon(after) == full

    # ALL rows one key (alternating runs): full == incremental == DuckDB
    rows = [(2, i * 1_000_000, 100 + i, a) for i, a in enumerate("AABBA")]
    full = canon(scd2(mk(rows), "user_id", "ts", "attr", "event_id"))
    snap = scd2(mk(rows[:2]), "user_id", "ts", "attr", "event_id")
    inc = canon(
        scd2_merge(snap, mk(rows[2:]), "user_id", "ts", "attr", "event_id")
    )
    assert full == inc == duck_scd2(rows)


def test_winsorize_constant_and_single_row_groups(spark):
    """Degenerate spreads: a constant column's lower and upper quantiles
    coincide at the value (nothing clamps, bounds equal), and a
    single-row group is its own pair of quantiles."""
    from tidier_spark.operators.quality import winsorize

    df = spark.createDataFrame(
        [(i, "g", 4.25) for i in range(6)] + [(9, "h", -1.0)],
        "id long, grp string, v double",
    )
    rows = winsorize(
        df, "v", by="grp", lower=0.05, upper=0.95, id_cols=["id"]
    ).collect()
    assert rows and all(not r["clamped"] for r in rows)
    assert all(r["vc_winsor"] == r["vc"] for r in rows)
    h = [r for r in rows if r["grp"] == "h"][0]
    assert h["q_lo"] == h["q_hi"] == -100.0


def test_ewma_single_row_per_key_matches_duckdb(spark):
    """One observation per key: the finite-lookback EWMA must return the
    value itself (num = 2^L·x, den = 2^L) on both engines."""
    from tidier_spark.operators.temporal import ewma, ewma_sql

    rows = [(1, 1_000_000, 10, 2.5), (2, 5_000_000, 11, -0.25)]
    df = spark.createDataFrame(
        rows, "k long, us long, eid long, v double"
    ).selectExpr("k", "timestamp_micros(us) AS ts", "eid", "v")
    got = sorted(
        tuple(r)
        for r in ewma(df, "k", "ts", "v", "eid").select(
            "k", "ts_us", "eid", "ewma100"
        ).collect()
    )
    vals = ", ".join(f"({k}, make_timestamp({us}), {e}, {v!r})" for k, us, e, v in rows)
    want = sorted(
        tuple(r)
        for r in _duck(
            "SELECT k, ts_us, eid, ewma100 FROM ("
            + ewma_sql("evs", "k", "ts", "v", "eid")
            + ") t",
            [f"CREATE TABLE evs AS SELECT * FROM (VALUES {vals})"
             " t(k, ts, eid, v)"],
        )
    )
    assert got == want == [(1, 1_000_000, 10, 250.0), (2, 5_000_000, 11, -25.0)]


def test_grouping_sets_empty_input_known_divergence(spark):
    """PINNED ENGINE DIVERGENCE: grouping sets / rollup over an EMPTY
    table emit zero rows on Spark (Expand-based lowering: the expand of
    nothing aggregates to no groups) but one global row (keys NULL,
    count 0) on DuckDB, which follows the SQL standard.  Documented in
    summarise's docstring; this pin fails if either engine changes."""
    from tidier_spark.verbs import summarise

    empty = spark.createDataFrame([], "a string, v long")
    assert summarise(empty, n="count(*)", by="a", rollup=True).count() == 0
    assert (
        summarise(empty, n="count(*)", grouping_sets=[["a"], []]).count()
        == 0
    )
    assert _duck(
        "SELECT a, count(*) FROM (SELECT NULL::VARCHAR a WHERE false)"
        " GROUP BY ROLLUP(a)"
    ) == [(None, 0)]


def test_stream_sinks_on_empty_stream_return_empty_snapshot(spark, tmp_path):
    """An AvailableNow replay of a source directory with ZERO files
    commits no snapshot — the sinks must return an EMPTY frame with the
    right schema, not die with 'no committed snapshot'."""
    from tidier_spark.streaming import stream_merge_parquet, stream_scd2_parquet

    src = tmp_path / "empty_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_id long, attr string"

    s1 = spark.readStream.schema(schema).parquet(str(src))
    hist = stream_scd2_parquet(
        s1, str(tmp_path / "t_scd2"), "user_id", "ts", "attr", "event_id",
        name="t_scd2_empty",
    )
    assert hist.count() == 0
    assert {"user_id", "attr", "valid_from_us", "valid_to_us",
            "is_current", "n_obs"} <= set(hist.columns)

    s2 = spark.readStream.schema(schema).parquet(str(src))
    merged = stream_merge_parquet(
        s2, str(tmp_path / "t_merge"), "user_id", ["ts", "event_id"],
        name="t_merge_empty",
    )
    assert merged.count() == 0
    assert merged.columns == ["user_id", "ts", "event_id", "attr"]


def test_ann_and_dedup_empty_corpus_behavior(spark):
    """Empty-corpus contract for the embedding family: pure SEARCHES are
    well-defined and return zero rows; index TRAINERS raise the loud
    named error (not numpy's 'need at least one array to concatenate')."""
    import pytest

    from tidier_spark.operators import dedup as D
    from tidier_spark.operators import similarity as S

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert S.cosine_topk(empty, k=3).count() == 0
    assert D.embedding_near_dup(empty, threshold=0.4).count() == 0
    assert D.semantic_dedup_pairs(empty).count() == 0
    with pytest.raises(ValueError, match="empty corpus"):
        S.train_quantizer(empty, "vec_id", "embedding", n_lists=4)


@pytest.mark.parametrize("shortlist", [None, 1000])
def test_pq_topk_empty_corpus_returns_zero_rows(spark, shortlist):
    """pq_topk is a search: over no vectors (the one-row edge axis after
    the board entry's filter) it returns zero rows, not the trainer's
    empty-corpus error."""
    from tidier_spark.operators import similarity as S

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = S.pq_topk(empty, k=3, shortlist=shortlist)
    score = "cos_sim" if shortlist else "pq_sim"
    assert out.columns == ["query_id", "neighbor_id", score, "rank"]
    assert out.count() == 0


def test_sketch_merges_over_zero_partials(spark):
    """Ungrouped sketch merges over zero partial sketches must yield
    zero rows (no sketches -> no estimate), not a null-buffer crash."""
    from tidier_spark.operators.sketches import (
        kll_merged_quantiles,
        topk_merged,
        topk_partials,
    )

    empty_items = spark.createDataFrame([], "item long, part long")
    parts = topk_partials(empty_items, "item", part="part")
    assert topk_merged(parts, 5).count() == 0

    empty_kll = spark.createDataFrame([], "kll_sketch binary")
    assert kll_merged_quantiles(empty_kll, [0.5]).count() == 0


def test_ivf_probe_clamp_on_tiny_corpus(spark):
    """A corpus smaller than n_lists trains fewer centroids than asked;
    probing must clamp to the real list count instead of misaligning the
    per-query fan-out arrays (single-row-sweep regression)."""
    from tidier_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, k=1, n_lists=16, n_probe=8).collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_pivot_wider_values_fill_absent_cells(spark):
    """An absent (id, name) cell under values_fn='count' means ZERO rows
    — values_fill=0 makes the pivot agree with SQL's count(CASE ...)
    mirror (single-row-sweep regression: unfilled NULL diverged)."""
    from tidier_spark.verbs import pivot_wider

    df = spark.createDataFrame(
        [(1, "a", 5.0), (1, "a", 6.0), (2, "b", 7.0)],
        "uid long, name string, v double",
    )
    rows = {
        r["uid"]: (r["a"], r["b"])
        for r in pivot_wider(
            df, id_cols="uid", names_from="name", values_from="v",
            values_fn="count", names=["a", "b"], values_fill=0,
        ).collect()
    }
    assert rows == {1: (2, 0), 2: (0, 1)}
    # tidyr parity (ADVICE r05 #3): a cell whose rows EXIST but whose
    # aggregate is genuinely NULL must stay NULL — values_fill touches
    # only structurally-absent cells.
    df2 = spark.createDataFrame(
        [(1, "a", None), (2, "b", 7.0)], "uid long, name string, v double"
    )
    rows2 = {
        r["uid"]: (r["a"], r["b"])
        for r in pivot_wider(
            df2, id_cols="uid", names_from="name", values_from="v",
            values_fn="first", names=["a", "b"], values_fill=-1.0,
        ).collect()
    }
    assert rows2 == {1: (None, -1.0), 2: (-1.0, 7.0)}


def test_frame_apply_multi_column_null_alignment(spark):
    """NULLs in ONE frame column must not shift the pairing of the
    others: the multi-column frame collects as a struct (alignment
    survives; NULL fields arrive as nan).  Per-column collect_lists
    would pair v=30 with w=2 here (60 instead of nan) — the silent
    misalignment the null-keys sweep caught."""
    from tidier_spark import mutate
    from tidier_spark.pandas_tier import frame_apply

    rows = [(1, 10.0, 1.0), (2, None, 2.0), (3, 30.0, None)]
    df = spark.createDataFrame(rows, "id long, v double, w double")

    def paired_nansum(f):
        import numpy as np

        return float(np.nansum(np.asarray(f.v) * np.asarray(f.w)))

    out = {
        r["id"]: r["s"]
        for r in mutate(
            df,
            s=frame_apply(paired_nansum, ["v", "w"]),
            order_by=["id"],
            frame=(2, 0),
        ).collect()
    }
    # row 3's frame = rows 1..3: valid pairs are only (10, 1)
    assert out[3] == 10.0
    assert out[1] == 10.0 and out[2] == 10.0


def test_frame_apply_vectorized_matches_scalar_on_nulls(spark):
    """The vectorized frame reducer (one fn call per Arrow batch over
    flat columns + offsets) must agree with the per-row scalar reducer
    on crafted NULL-laden frames — including all-NULL frames (NULL out)
    and NULLs in only one column (alignment preserved)."""
    import numpy as np

    from tidier_spark import mutate
    from tidier_spark.pandas_tier import frame_apply

    rows = [
        (1, 10.0, 1.0),
        (2, None, 2.0),
        (3, 30.0, None),
        (4, None, None),
        (5, 50.0, 5.0),
    ]
    df = spark.createDataFrame(rows, "id long, v double, w double")

    def scalar_wsum(f):
        pair = np.asarray(f.v, dtype=float) * np.asarray(f.w, dtype=float)
        if not (pair == pair).any():
            return None
        return float(np.nansum(pair))

    def vec_wsum(f, offs):
        pair = np.asarray(f.v, dtype=float) * np.asarray(f.w, dtype=float)
        mask = ~np.isnan(pair)
        c = np.zeros(len(pair) + 1)
        np.cumsum(np.where(mask, pair, 0.0), out=c[1:])
        cm = np.zeros(len(mask) + 1)
        np.cumsum(mask, out=cm[1:])
        res = c[offs[1:]] - c[offs[:-1]]
        res[(cm[offs[1:]] - cm[offs[:-1]]) == 0] = np.nan
        return res

    def run(reducer, vec):
        return {
            r["id"]: r["s"]
            for r in mutate(
                df,
                s=frame_apply(reducer, ["v", "w"], vectorized=vec),
                order_by=["id"],
                frame=(1, 0),
            ).collect()
        }

    got_s, got_v = run(scalar_wsum, False), run(vec_wsum, True)
    assert got_s == got_v, (got_s, got_v)
    # frame of rows 3-4 has no valid pair at row 4 -> NULL
    assert got_v[4] is None
    assert got_v[1] == 10.0 and got_v[2] == 10.0 and got_v[5] == 250.0


def test_streaming_watermark_drops_preepoch_events_engine_pin(spark, tmp_path):
    """LOUD-BY-DESIGN PIN (verdict r05 task #6): Spark's global watermark
    initializes at epoch 0, so pre-1970 event times are born late and
    watermark-eviction paths would silently drop them.  Both paths now
    carry a per-row JVM assert: feeding pre-epoch events WITHOUT
    epoch_offset_us errors the query with a message naming the knob —
    while the SAME operator on a batch frame sessionizes them fine, and
    the knob restores exact batch parity."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    from tidier_spark.streaming import run_stream, stream_session_agg

    src = tmp_path / "pre_src"
    src.mkdir()
    us_1960 = -315_619_200_000_000  # 1960-01-01 UTC in epoch-µs
    t = pa.table({
        "user_id": [1, 1, 2],
        "ts": pa.array(
            [us_1960, us_1960 + 60_000_000, us_1960], type=pa.timestamp("us")
        ),
        "value": [1.0, 2.0, 3.0],
    })
    pq.write_table(t, src / "b0.parquet")

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(src))
    g = stream_session_agg(
        stream, key_col="user_id", time_col="ts", gap_seconds=3600,
        aggs={"sum_v": F.sum("value")},
    )
    with pytest.raises(Exception, match="epoch_offset_us"):
        run_stream(g, name="t_preepoch_sessions", output_mode="complete")

    batch = spark.read.schema("user_id long, ts timestamp, value double").parquet(
        str(src)
    )
    b = stream_session_agg(
        batch, key_col="user_id", time_col="ts", gap_seconds=3600,
        aggs={"sum_v": F.sum("value")},
    )
    assert b.count() == 2  # batch path sessionizes negative epochs fine

    # the SUPPORTED workaround: epoch_offset_us shifts event times past
    # epoch 0 for the watermark and shifts the emitted bounds back —
    # stream output on 1960s data must now equal the batch sessionization
    century_us = 100 * 365 * 86_400 * 1_000_000
    s2 = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(src))
    g2 = stream_session_agg(
        s2, key_col="user_id", time_col="ts", gap_seconds=3600,
        aggs={"sum_v": F.sum("value")}, epoch_offset_us=century_us,
    )
    out2 = run_stream(g2, name="t_preepoch_offset", output_mode="complete")
    got = sorted(tuple(r) for r in out2.collect())
    want = sorted(tuple(r) for r in b.collect())
    assert got == want and len(got) == 2


def test_stream_interval_join_epoch_offset_on_preepoch(spark, tmp_path):
    """The epoch_offset_us workaround on the stream-stream interval
    join: 1960s event times (which the watermark would otherwise drop)
    must join identically to the batch evaluation of the original
    times."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.streaming import run_stream, stream_interval_join

    us_1960 = -315_619_200_000_000
    views = [(1, us_1960), (1, us_1960 + 7_200_000_000), (2, us_1960)]
    buys = [(1, us_1960 + 1_800_000_000), (2, us_1960 + 90_000_000_000)]
    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    for src, rows, col in ((lsrc, views, "vts"), (rsrc, buys, "bts")):
        src.mkdir()
        pq.write_table(
            pa.table({
                "user_id": [r[0] for r in rows],
                col: pa.array([r[1] for r in rows], type=pa.timestamp("us")),
            }),
            src / "b0.parquet",
        )
    century_us = 100 * 365 * 86_400 * 1_000_000

    def mk(reader):
        ls = reader.schema("user_id long, vts timestamp").parquet(str(lsrc))
        rs = reader.schema("user_id long, bts timestamp").parquet(str(rsrc))
        return ls, rs

    ls, rs = mk(spark.readStream)
    j = stream_interval_join(
        ls, rs, "user_id", left_ts="vts", right_ts="bts",
        lower="0 seconds", upper="1 hour", epoch_offset_us=century_us,
    )
    got = sorted(
        tuple(r)
        for r in run_stream(
            j, name="t_preepoch_ij", output_mode="append"
        ).collect()
    )
    lb, rb = mk(spark.read)
    want = sorted(
        tuple(r)
        for r in stream_interval_join(
            lb, rb, "user_id", left_ts="vts", right_ts="bts",
            lower="0 seconds", upper="1 hour",
        ).collect()
    )
    # only user 1's purchase is within the hour of a view
    assert got == want and len(got) == 1

    # loud-by-design (verdict r05 task #6): the SAME pre-epoch streams
    # WITHOUT epoch_offset_us must error naming the knob, not silently
    # join nothing
    import pytest

    ls2, rs2 = mk(spark.readStream)
    j2 = stream_interval_join(
        ls2, rs2, "user_id", left_ts="vts", right_ts="bts",
        lower="0 seconds", upper="1 hour",
    )
    with pytest.raises(Exception, match="epoch_offset_us"):
        run_stream(j2, name="t_preepoch_ij_loud", output_mode="append")


def test_frame_apply_accepts_expression_and_case_variant_cols(spark):
    """frame_apply's ``col`` rides inside ``collect_list(<col>)``, so
    Spark's resolver accepts SQL expressions and case-variant spellings.
    The decimal pre-cast probe (r10) must not regress those to a
    KeyError: a non-plain-name col simply skips the cast (advice r10)."""
    from tidier_spark import mutate
    from tidier_spark.pandas_tier import frame_apply

    rows = [(1, 10.0), (2, 20.0), (3, 30.0)]
    df = spark.createDataFrame(rows, "id long, v double")

    def total(arr):
        import numpy as np

        return float(np.nansum(arr))

    out = mutate(
        df,
        s_expr=frame_apply(total, "v * 2"),      # SQL expression
        s_case=frame_apply(total, "V"),          # case-variant name
        order_by=["id"],
        frame=(1, 0),
    )
    got = {r["id"]: (r["s_expr"], r["s_case"]) for r in out.collect()}
    assert got == {1: (20.0, 10.0), 2: (60.0, 30.0), 3: (100.0, 50.0)}, got


def test_complete_range_frame_ignores_index_name(spark):
    """A numeric index's frame bounds count in its own units whatever the
    column is called: the plan carries the unit, so a name that contains
    "unix_micros" no longer scales the bounds by 1e6."""
    rows = [(i, float(i)) for i in range(1, 11)]
    got = {}
    for name in ("idx", "unix_micros_idx"):
        df = spark.createDataFrame(rows, f"{name} long, v double")
        out = mutate(df, m="sum(v)", index=name, frame=(2, 0), complete=True)
        got[name] = sorted((r[name], r["m"]) for r in out.collect())
    assert got["idx"][:4] == [(1, None), (2, None), (3, 6.0), (4, 9.0)]
    assert got["unix_micros_idx"] == got["idx"]


def test_timestamp_ntz_frames_are_wall_clock(spark):
    """RANGE frames and scale-safe ROWS frames over a TIMESTAMP_NTZ column
    order by its wall clock: the result is the same under a UTC and a DST
    session timezone, and equals the TIMESTAMP result under UTC.  The
    data crosses 2024-03-10 02:00, the America/New_York DST gap."""
    import datetime as dt

    from tidier_spark import hours, months

    t0 = dt.datetime(2024, 3, 1, 2, 30)
    rows = [(i, t0 + dt.timedelta(hours=3 * i), i % 11) for i in range(300)]
    ntz = spark.createDataFrame(rows, "id long, ts timestamp_ntz, v long")
    cases = [
        dict(m="sum(v)", index="ts", frame=(hours(7), 0)),
        dict(m="sum(v)", index="ts", frame=(hours(7), 0), scale_safe=True),
        dict(m="avg(v)", index="ts", frame=(months(1), 0), scale_safe=True),
        dict(m="sum(v)", order_by=["ts"], frame=(3, 1), scale_safe=True),
    ]

    def run(df, tz, kw):
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            return sorted((r["id"], r["m"]) for r in mutate(df, **kw).collect())
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)

    ltz = ntz.withColumn("ts", F.col("ts").cast("timestamp"))
    for kw in cases:
        utc = run(ntz, "UTC", kw)
        assert run(ntz, "America/New_York", kw) == utc, kw
        assert run(ltz, "UTC", kw) == utc, kw


def test_scale_safe_cumulative_carries_offset_over_null_bucket_head(spark):
    """A bucket whose head rows have only NULL operands still carries the
    earlier buckets' sum: the prefix over k=5..7 (v NULL there, bucket
    split at 4) is 1+2+3+4, as in the single-window plan, and the running
    mean is 10/4."""
    from pyspark.sql import Window

    from tidier_spark.window import scale_safe_cumulative

    rows = [(k, None if k in (5, 6, 7) else float(k)) for k in range(1, 11)]
    df = spark.createDataFrame(rows, "k long, v double")

    def run(fn):
        out = scale_safe_cumulative(
            df, "v", order_by=["k"], out="c", fn=fn, split_points=[4]
        )
        return {r["k"]: r["c"] for r in out.collect()}

    prefix = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    window = {
        r["k"]: r["c"]
        for r in df.withColumn("c", F.sum("v").over(prefix)).collect()
    }
    assert run("sum") == window
    assert [window[k] for k in (5, 6, 7)] == [10.0] * 3
    assert [run("avg")[k] for k in (5, 6, 7)] == [2.5] * 3


# One adversarial frame for every caller of the two-pass prefix scan
# (window._prefix_scan): NULL group keys on every third row, k tied at 4
# (a split value), NULL operands on k=5,6 (the head of the bucket after
# that split), and split points that leave the first, a middle and the
# last bucket empty.
_SCAN_SPLITS = [-100.0, 4.0, 4.5, 1000.0]


def _scan_frame(spark):
    ks = [1, 2, 3, 4, 4, 4, 5, 6, 7, 8, 9, 10, 11, 12]
    rows = [
        (
            i,
            k,
            None if i % 3 == 0 else "ab"[i % 2],
            None if k in (5, 6) else float(k),
            i % 2,
        )
        for i, k in enumerate(ks)
    ]
    return spark.createDataFrame(rows, "t long, k long, g string, v double, y int")


def _rows(df, *cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda r: tuple((x is None, x) for x in r),
    )


@pytest.mark.parametrize(
    "caller",
    ["cumulative", "rows_frame", "grouped_rows_frame", "quantiles", "auc"],
)
def test_prefix_scan_callers_match_single_window(spark, monkeypatch, caller):
    """Every scale-safe lowering built on the shared prefix scan equals
    its single-window form on the adversarial frame; the percentile pass
    is replaced by the static splits, so all callers see the same empty
    and tied buckets."""
    from pyspark.sql import Window

    from tidier_spark import window
    from tidier_spark.operators.evalmetrics import auc_exact
    from tidier_spark.operators.sketches import exact_quantiles

    df = _scan_frame(spark)
    monkeypatch.setattr(window, "_split_points", lambda *a: list(_SCAN_SPLITS))
    if caller == "cumulative":
        prefix = Window.orderBy("k", "t").rowsBetween(Window.unboundedPreceding, 0)
        for fn in ("sum", "count", "min", "max", "avg"):
            got = window.scale_safe_cumulative(
                df, "v", order_by=["k", "t"], out="c", fn=fn,
                split_points=_SCAN_SPLITS,
            )
            want = df.withColumn("c", getattr(F, fn)("v").over(prefix))
            assert _rows(got, "t", "c") == _rows(want, "t", "c"), fn
    elif caller in ("rows_frame", "grouped_rows_frame"):
        kw = dict(
            s="sum(v)", lo="min(v)", order_by=["k", "t"], frame=(2, 1),
            by="g" if caller == "grouped_rows_frame" else None,
        )
        got = mutate(df, scale_safe=True, **kw)
        assert "__gidx" in got._jdf.queryExecution().analyzed().toString()
        want = mutate(df, **kw)
        assert _rows(got, "t", "s", "lo") == _rows(want, "t", "s", "lo")
    elif caller == "quantiles":
        for by in ("g", None):
            probs = [0.0, 0.5, 0.9, 1.0]
            cols = ([by] if by else []) + [f"q_{i}" for i in range(len(probs))]
            got = exact_quantiles(df, "v", probs, by=by, coarse_groups=True)
            want = exact_quantiles(df, "v", probs, by=by)
            assert _rows(got, *cols) == _rows(want, *cols), by
            assert got.count() == (3 if by else 1)
    else:
        cols = ("n_pos", "n_neg", "auc_num", "auc_den")
        frame = df.withColumn("s", F.col("k").cast("double"))
        got = auc_exact(frame, "s", "y", split_points=_SCAN_SPLITS)
        monkeypatch.undo()
        want = auc_exact(frame, "s", "y")
        assert _rows(got, *cols) == _rows(want, *cols)


def test_scale_safe_calendar_halo_covers_dst_month(spark):
    """Under a DST session timezone a month of real time can be 31 days
    + 1 hour, so the scale-safe calendar halo must copy more than 31 days:
    its result equals the default plan's on data that crosses the
    November DST end of America/New_York."""
    import datetime as dt

    from tidier_spark import months

    t0 = dt.datetime(2024, 9, 20)
    rows = [(i, t0 + dt.timedelta(minutes=20 * i), 1) for i in range(6000)]
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(rows, "id long, ts timestamp, v long")
        kw = dict(m="sum(v)", index="ts", frame=(months(1), 0))
        plain = sorted((r["id"], r["m"]) for r in mutate(df, **kw).collect())
        safe = sorted(
            (r["id"], r["m"])
            for r in mutate(df, scale_safe=True, **kw).collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert len(safe) == len(plain) == 6000
    short = [(a, b) for a, b in zip(plain, safe) if a != b]
    assert not short, short[:5]


@pytest.mark.parametrize("caller", ["run_stream", "merge", "dedup", "scd2"])
def test_stream_replay_timeout_is_loud_and_scoped(
    spark, tmp_path, monkeypatch, caller
):
    """Every AvailableNow replay goes through one runner: a replay that
    misses its budget raises TimeoutError, the scoped shuffle-partition
    conf comes back, and no streaming query stays active."""
    from tidier_spark import streaming

    monkeypatch.delenv("SPARK_GRAFT_STREAM_TIMEOUT", raising=False)
    schema = (
        "doc_id long, user_id long, ts timestamp, event_id long, "
        "attr string, text string"
    )
    rows = [
        (i, i % 3, None, i, f"a{i % 2}", f"doc {i} about topic {i % 4}")
        for i in range(20)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).withColumn(
        "ts", F.timestamp_seconds(F.col("event_id"))
    ).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    path = str(tmp_path / "sink")
    kw = dict(
        name=f"t_replay_timeout_{caller}",
        timeout_seconds=0.001,
        state_partitions=3,
    )
    calls = {
        "run_stream": lambda: streaming.run_stream(
            stream.groupBy("user_id").count(), **kw
        ),
        "merge": lambda: streaming.stream_merge_parquet(
            stream, path, "user_id", ["ts", "event_id"], **kw
        ),
        "dedup": lambda: streaming.stream_dedup_against(
            stream, spark.createDataFrame(rows, schema), path, **kw
        ),
        "scd2": lambda: streaming.stream_scd2_parquet(
            stream, path, "user_id", "ts", "attr", "event_id", **kw
        ),
    }
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(TimeoutError, match="refusing to return a partial"):
        calls[caller]()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.streams.active == []


@pytest.mark.parametrize("n", [1, 3])
def test_shingles_of_short_documents_match_sql(spark, n):
    # a document shorter than n tokens has no shingle: Spark's sequence(1, 0)
    # descends, so without the guard these raised INVALID_PARAMETER_VALUE
    docs = ["", "a b", "a b c d"]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, text string")
    got = [
        list(r["sh"])
        for r in df.orderBy("i").select(text.shingles("text", n).alias("sh")).collect()
    ]
    values = ", ".join(f"({i}, '{d}')" for i, d in enumerate(docs))
    want = [
        list(r[0])
        for r in _duck(
            f"SELECT {text.shingles_sql('text', n)} FROM (VALUES {values}) t(i, text) "
            "ORDER BY i"
        )
    ]
    assert got == want, (got, want)
    assert got[0] == [] and len(got[2]) == 5 - n

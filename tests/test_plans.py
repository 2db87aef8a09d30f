"""Plan-hygiene assertions: pushdown, pruning, shuffle counts, codegen.

These encode the 100 TB design contract (brief: "a scan that reads all
columns for a 2-column projection is wrong") as regression tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tidier_spark import mutate, days, summarise
from tidier_spark.plans import (
    codegen_stage_count,
    count_exchanges,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema,
)


def test_filter_pushdown_reaches_scan(tables):
    r = mutate(tables["lineitem"], rev="l_extendedprice * (1 - l_discount)").where(
        "l_quantity > 30"
    ).select("l_orderkey", "rev")
    pf = pushed_filters(r)
    assert any("l_quantity" in p for p in pf), f"no pushdown: {pf}"


def test_column_pruning_projection(tables):
    r = mutate(tables["lineitem"], rev="l_extendedprice * (1 - l_discount)").select(
        "l_orderkey", "rev"
    )
    cols = read_schema(r)
    assert set(cols) == {"l_orderkey", "l_extendedprice", "l_discount"}, cols


def test_column_pruning_through_window(tables):
    r = mutate(
        tables["events"],
        avg_7d="avg(value)",
        by="user_id",
        index="ts",
        frame=(days(7), days(-1)),
    ).select("event_id", "avg_7d")
    cols = read_schema(r)
    # must NOT read props/event_type: the window needs only ts/user_id/value
    assert set(cols) == {"event_id", "ts", "user_id", "value"}, cols


def test_single_shuffle_for_grouped_window(tables):
    r = mutate(
        tables["lineitem"],
        run="avg(l_quantity)",
        by="l_suppkey",
        order_by=["l_shipdate", "l_orderkey", "l_linenumber"],
        frame=(5, 0),
    ).select("l_orderkey", "run")
    # one hash-partitioning exchange on the group key — no more
    assert count_exchanges(r) == 1, explain_str(r, "simple")


def test_multi_expr_one_window_one_shuffle(tables):
    # several aggregates over the SAME window spec must share one
    # shuffle+sort (the reference sorts once and reuses, R/mutate.R:174-189)
    r = mutate(
        tables["events"],
        a="avg(value)",
        b="min(value)",
        c="max(value)",
        by="user_id",
        order_by=["ts", "event_id"],
        frame=(3, 0),
    ).select("event_id", "a", "b", "c")
    assert count_exchanges(r) == 1, explain_str(r, "simple")
    assert explain_str(r, "simple").count("Window") == 1


def test_summarise_partial_aggregation(tables):
    r = summarise(tables["lineitem"], s="sum(l_quantity)", by="l_returnflag")
    plan = explain_str(r, "simple")
    # partial (map-side) + final aggregate around a single exchange
    assert plan.count("HashAggregate") == 2
    assert count_exchanges(r) == 1


def test_broadcast_join_small_dim(tables):
    joined = tables["orders"].join(
        F.broadcast(tables["customer"]),
        tables["orders"].o_custkey == tables["customer"].c_custkey,
    )
    assert has_broadcast_join(joined)


def test_projection_stays_in_codegen(tables):
    r = mutate(tables["lineitem"], rev="l_extendedprice * (1 - l_discount)").select(
        "l_orderkey", "rev"
    )
    assert codegen_stage_count(r) >= 1


def test_asof_join_single_shuffle(tables):
    from tidier_spark.operators.temporal import asof_join

    ev = tables["events"]
    trades = ev.where("event_type = 'click'").select("event_id", "user_id", "ts")
    quotes = ev.where("event_type = 'purchase'").select("user_id", "ts", "value")
    r = asof_join(trades, quotes, on="user_id", time_col="ts", value_cols=["value"])
    # union + window: exactly one exchange (on user_id), no join node at all
    plan = explain_str(r, "simple")
    assert count_exchanges(r) == 1, plan
    assert "Join" not in plan, plan


def test_sessionize_single_shuffle(tables):
    from tidier_spark.operators.temporal import sessionize

    r = sessionize(tables["events"], "user_id", "ts", 3600)
    assert count_exchanges(r) == 1


def test_minhash_no_cartesian(tables):
    from tidier_spark.operators import dedup

    r = dedup.minhash_candidate_pairs(tables["documents"])
    plan = explain_str(r, "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_salted_agg_two_exchanges(tables):
    from tidier_spark.skew import salted_agg

    r = salted_agg(tables["lineitem"], "l_returnflag", {"s": "sum(l_quantity)"})
    # two small shuffles replace one skewed shuffle — by design
    assert count_exchanges(r) == 2


def test_skew_join_hot_leg_is_broadcast(tables):
    # the hot mass must meet its right rows WITHOUT shuffling: the split
    # semi/anti classifiers and the hot-leg join are all broadcast joins
    from tidier_spark.skew import skew_join

    li = tables["lineitem"].select("l_partkey", "l_quantity")
    p = tables["part"].select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plan = explain_str(skew_join(li, p, on="l_partkey", n_hot=8), "simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "Union" in plan, plan


def test_scale_safe_cumsum_multi_task(tables):
    # the two-pass prefix lowering must NOT funnel rows through a single
    # partition: the local-prefix stage runs on the range partitioner's
    # task count, and results equal the global-window path exactly on
    # integer data
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", (F.round(F.col("value") * 100)).cast("long").alias("v100")
    )  # event_id is UNIQUE — duplicate order keys would make any global
    # cumulative tie-ambiguous between lowerings
    safe = mutate(ev, c="cumsum(v100)", order_by=["event_id"], scale_safe=True)
    # >1 task in the heavy stage: the ranged frame keeps the range
    # partitioner's partition count (defaultParallelism), not 1
    n_parts = ev.repartitionByRange(
        ev.sparkSession.sparkContext.defaultParallelism, "event_id"
    ).rdd.getNumPartitions()
    assert n_parts > 1
    plan = explain_str(safe, "simple")
    assert "__pid" in plan  # per-partition prefix stage present
    naive = mutate(ev, c="cumsum(v100)", order_by=["event_id"])
    key = lambda r: (r["event_id"], r["c"])  # noqa: E731
    assert sorted(map(key, safe.collect())) == sorted(map(key, naive.collect()))


def test_scale_safe_cummean_and_max(tables):
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", (F.round(F.col("value") * 100)).cast("long").alias("v100")
    )
    for expr in ("cummax(v100)", "cummean(v100)", "cumcount(v100)"):
        safe = mutate(ev, c=expr, order_by=["event_id"], scale_safe=True)
        naive = mutate(ev, c=expr, order_by=["event_id"])
        key = lambda r: (r["event_id"], r["c"])  # noqa: E731
        assert sorted(map(key, safe.collect())) == sorted(map(key, naive.collect())), expr


def test_scale_safe_cummean_builds_with_cumsums_jobs(spark):
    """cummean under scale_safe carries its sum and count through ONE
    prefix pass, so building it collects split points once, like cumsum
    (two passes re-ran the first pass inside the second's collect)."""
    from tidier_spark import mutate

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(300)], "k long, v long"
    )
    sc = spark.sparkContext

    def build_jobs(expr: str) -> int:
        group = f"build_jobs_{expr.split('(')[0]}"
        sc.setJobGroup(group, group)
        try:
            mutate(df, c=expr, order_by=["k"], scale_safe=True)
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    cumsum_jobs = build_jobs("cumsum(v)")
    assert cumsum_jobs >= 1  # the split-point collect runs at build time
    assert build_jobs("cummean(v)") <= cumsum_jobs


def test_scale_safe_rows_frame_matches_single_partition(tables):
    # verdict r06 task #3: ungrouped BOUNDED rows frame through the
    # range-partition + halo exchange — bit-identical to the global
    # window, and the heavy stage keeps the range partitioner's task
    # count (no single-partition funnel).
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", (F.round(F.col("value") * 100)).cast("long").alias("v100")
    )
    safe = mutate(
        ev, m="r_mean(v100)", order_by=["event_id"],
        frame=(3, 2), scale_safe=True,
    )
    plan = explain_str(safe, "simple")
    assert "__tpid" in plan  # halo-exchange stage present
    # the bucket id must be a PURE FUNCTION of the row — never
    # spark_partition_id() over a sampled range exchange, whose per-job
    # re-execution assigned rows inconsistent ids across plan branches
    # (measured as silently dropped rows at sf0.01, round 7)
    assert "SPARK_PARTITION_ID" not in plan.upper(), plan
    naive = mutate(ev, m="r_mean(v100)", order_by=["event_id"], frame=(3, 2))
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    assert sorted(map(key, safe.collect())) == sorted(map(key, naive.collect()))
    assert sorted(safe.columns) == sorted(naive.columns)


def test_scale_safe_rows_frame_complete_and_shifted(tables):
    # complete=True must NULL the clipped global edges identically, and a
    # SHIFTED frame (both bounds following) must survive partitions
    # narrower than the shift (the contiguity-widening rule).
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", (F.round(F.col("value") * 100)).cast("long").alias("v100")
    )
    for frame in ((4, 0), (-2, 5)):
        for complete in (False, True):
            safe = mutate(
                ev, m="sum(v100)", order_by=["event_id"], frame=frame,
                complete=complete, scale_safe=True,
            )
            naive = mutate(
                ev, m="sum(v100)", order_by=["event_id"], frame=frame,
                complete=complete,
            )
            key = lambda r: (r["event_id"], r["m"])  # noqa: E731
            assert sorted(map(key, safe.collect())) == sorted(
                map(key, naive.collect())
            ), (frame, complete)


def test_scale_safe_range_frame_matches_single_partition(tables):
    # value-based (index) frames: halo by index value, rangeBetween per
    # target partition; ties on the index (events share timestamps at
    # second granularity? no — event_id ties don't exist; value ties DO)
    # are frame-set-deterministic because RANGE frames include all peers.
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", "ts",
        (F.round(F.col("value") * 100)).cast("long").alias("v100"),
    )
    from tidier_spark.frames import seconds

    kw = dict(
        m="r_mean(v100)", index="ts", frame=(seconds(600), seconds(0)),
    )
    safe = mutate(ev, scale_safe=True, **kw)
    naive = mutate(ev, **kw)
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    assert sorted(map(key, safe.collect())) == sorted(map(key, naive.collect()))
    # complete=True: global-extent rule
    kwc = dict(kw, complete=True)
    safe_c = mutate(ev, scale_safe=True, **kwc)
    naive_c = mutate(ev, **kwc)
    assert sorted(map(key, safe_c.collect())) == sorted(
        map(key, naive_c.collect())
    )


def test_scale_safe_range_frame_null_index_is_loud(spark):
    import pyspark.errors

    from tidier_spark import mutate
    from tidier_spark.frames import seconds

    df = spark.createDataFrame(
        [(1, 10.0, 1.0), (2, None, 2.0)], "id long, t double, v double"
    )
    out = mutate(
        df, m="sum(v)", index="t", frame=(5, 5), scale_safe=True
    )
    try:
        out.collect()
        raise AssertionError("NULL index must fail loudly")
    except Exception as e:  # noqa: BLE001 — Spark wraps in PySparkRuntimeError
        assert "NULL" in str(e) or "scale_safe" in str(e), e


def test_lsh_rerank_is_bucket_local(tables):
    # The ANN scoring must stay distributed: no driver collect of the
    # vector table (the round-1 scale-killer), no cartesian pair space.
    # The bucket-local shape scores inside groupBy(tbl, sig) →
    # applyInPandas (FlatMapGroupsInPandas in the plan); building the
    # plan triggers no Spark job at all (a driver collect would).
    from tidier_spark.operators import similarity

    emb = tables["embeddings"].limit(100)
    tracker = emb.sparkSession.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    r = similarity.lsh_topk(emb, k=2, n_planes=3, n_tables=4)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after == jobs_before, "plan construction ran a Spark job (driver collect?)"
    plan = explain_str(r, "simple")
    assert "InPandas" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_embedding_near_dup_lsh_no_cartesian(tables):
    from tidier_spark.operators import dedup

    r = dedup.embedding_near_dup_lsh(tables["embeddings"].limit(100), threshold=0.4)
    plan = explain_str(r, "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_bucketed_join_no_shuffle(spark, tables, tmp_path):
    # The co-located join demo: both sides written bucketed on the join key
    # (sources.write_parquet bucket_by) → sort-merge join with ZERO
    # exchanges.  At 100 TB this is the difference between an 8-byte
    # metadata lookup and shuffling both fact tables across the cluster.
    from tidier_spark.plans import count_exchanges, explain_str
    from tidier_spark.sources import write_parquet

    o = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    c = tables["customer"].select("c_custkey", "c_name")
    write_parquet(
        o, str(tmp_path / "orders_b"), bucket_by=(8, ["o_custkey"]),
        table="t_orders_bucketed",
    )
    write_parquet(
        c, str(tmp_path / "cust_b"), bucket_by=(8, ["c_custkey"]),
        table="t_cust_bucketed",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("t_orders_bucketed")
        b = spark.table("t_cust_bucketed")
        j = a.join(b, a.o_custkey == b.c_custkey)
        assert count_exchanges(j) == 0, explain_str(j, "simple")
        expect = (
            tables["orders"]
            .join(tables["customer"],
                  tables["orders"].o_custkey == tables["customer"].c_custkey)
            .count()
        )
        assert j.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_cust_bucketed")


def test_tpch_semi_anti_lowering(spark, sf_dir):
    """EXISTS/NOT EXISTS demonstrators must lower to semi/anti joins with
    filters still reaching the scans — not to count-based outer joins."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    q4 = qs["tpch_q4"](spark, sf_dir)
    s4 = explain_str(q4, "simple")
    assert "LeftSemi" in s4
    assert any("o_orderdate" in p for p in pushed_filters(q4)), pushed_filters(q4)

    q21 = qs["tpch_q21"](spark, sf_dir)
    s21 = explain_str(q21, "simple")
    assert "LeftSemi" in s21 and "LeftAnti" in s21

    q22 = qs["tpch_q22"](spark, sf_dir)
    assert "LeftAnti" in explain_str(q22, "simple")


def test_tpch_q6_scan_minimal(spark, sf_dir):
    """Q6 is the pushdown benchmark: every predicate at the scan, only the
    four referenced columns read."""
    import __spark_entry__ as entrymod

    q6 = entrymod.queries()["tpch_q6"](spark, sf_dir)
    cols = set(read_schema(q6))
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
    pushed = " ".join(pushed_filters(q6))
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_chunk_documents_no_shuffle(tables):
    """Chunking is map-only: explode fan-out, zero exchanges."""
    from tidier_spark.operators.corpus import chunk_documents

    c = chunk_documents(tables["documents"], chunk_tokens=32, stride=24)
    assert count_exchanges(c) == 0, explain_str(c, "simple")


def test_shuffle_rows_multi_task(tables):
    """The permutation rank must NOT collapse to a single-partition global
    window: the scale-safe lowering buckets on the hash key (round 7: a
    deterministic percentile-literal bucket id hashed across tasks — the
    former physical rangepartitioning exchange is gone by design, and
    spark_partition_id() with it; see window._det_bucket_id)."""
    from tidier_spark.operators.corpus import shuffle_rows

    s = shuffle_rows(tables["documents"])
    txt = explain_str(s, "simple")
    assert "hashpartitioning(__pid" in txt, txt
    assert "SPARK_PARTITION_ID" not in txt.upper(), txt


def test_repeated_spans_broadcast_anti_probe(tables):
    # the bad-span (heavy-hitter) set must reach the span rows as a
    # BROADCAST left-anti probe — a shuffled anti-join of the full span
    # fan-out would be the 100 TB bottleneck
    from tidier_spark.operators.corpus import remove_repeated_spans

    r = remove_repeated_spans(tables["documents"], span_tokens=3, min_docs=3)
    plan = explain_str(r, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_classifier_score_is_map_only(tables):
    # linear classifier inference must not shuffle: one codegen projection
    from tidier_spark.operators.quality import classifier_score

    r = classifier_score(tables["documents"])
    assert count_exchanges(r) == 0, explain_str(r, "simple")
    cols = read_schema(r)
    assert set(cols) == {"doc_id", "text"}, cols


def test_quantile_prune_approx_no_pergroup_sort(tables):
    # the scale path must gate via a broadcast threshold join, not a
    # per-group global sort (ntile's Sort+Window over few huge partitions)
    from tidier_spark.operators.quality import quantile_prune

    r = quantile_prune(
        tables["documents"].select("doc_id", "source", "n_chars"),
        "n_chars", by="source", tiles=4, keep=1, exact=False,
    )
    plan = explain_str(r, "simple")
    assert "Window" not in plan, plan
    assert has_broadcast_join(r), plan


def test_srp_embedding_zero_shuffles(tables):
    from tidier_spark.operators.quality import srp_embedding

    r = srp_embedding(tables["documents"], dim=8)
    assert count_exchanges(r) == 0, explain_str(r, "simple")


def test_cms_query_broadcasts_sketch(tables):
    from tidier_spark.operators.sketches import cms_build, cms_query
    from tidier_spark.operators.text import tokens

    toks = tables["documents"].select(F.explode(tokens("text")).alias("tok"))
    cms = cms_build(toks, "tok", depth=4, width=64)
    items = toks.select("tok").distinct()
    r = cms_query(cms, items, "tok", depth=4, width=64)
    assert has_broadcast_join(r), explain_str(r, "simple")


def test_exact_quantiles_partial_agg_single_window(tables):
    """exact_quantiles' scale contract: the (value,count) aggregate is
    partial (map-side combine before the exchange) and both cumulative
    frames ride ONE WindowExec pass — no whole-group value buffering
    anywhere in the plan."""
    from tidier_spark.operators.sketches import exact_quantiles

    li = tables["lineitem"].withColumn("p100", F.round(F.col("l_extendedprice") * 100))
    r = exact_quantiles(li, "p100", [0.5, 0.9], by="l_returnflag")
    import re

    plan = explain_str(r, "formatted")
    # exactly one Window OPERATOR node (both sum frames share it; don't
    # count windowspecdefinition expression text)
    assert len(re.findall(r"[+:]- Window ", plan)) == 1, plan
    # the value-count aggregate partial-aggregates before its exchange
    assert "partial_count" in plan or "Partial" in plan, plan
    # and the builtin whole-group-buffer percentile is nowhere in it
    assert "percentile(" not in plan, plan


def test_bucketed_join_consumes_disk_layout_no_join_exchange(spark, sf_dir):
    """Both sides bucketed+sorted on the join key into the same bucket
    count: the SortMergeJoin must consume the on-disk hash layout — no
    Exchange on either join input (the only allowed shuffle is the
    final groupBy agg).  This is the no-reshuffle-after-ingest lever
    at 100 TB."""
    import __spark_entry__ as entrymod
    from tidier_spark.plans import count_exchanges, explain_str

    # at fixture scale Catalyst (rightly) broadcasts the small side;
    # disable broadcast to expose the plan the 100 TB regime would use —
    # the bucketed layout must then carry the join with NO exchange
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = entrymod._q_bucketed_join(spark, sf_dir)
        # one exchange total: the o_orderpriority aggregate; zero for
        # the join (both scans read Bucketed: true, 8/8 buckets)
        assert count_exchanges(df) == 1
        plan = explain_str(df, mode="simple")
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2  # both scans bucket-aware
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_scale_safe_grouped_range_frame_matches_default(tables, spark):
    """r11 hot-key lowering: a GROUPED index-RANGE frame under
    scale_safe partitions by (key, order-bucket) instead of the key
    alone — results must be bit-identical to the default grouped plan,
    on the shipped fixture AND on a crafted hot-key skew (one key
    owning half the rows, the skewkeys regime)."""
    from tidier_spark import mutate
    from tidier_spark.frames import seconds

    ev = tables["events"].select(
        "event_id", "user_id", "ts",
        (F.round(F.col("value") * 100)).cast("long").alias("v100"),
    )
    kw = dict(
        m="r_mean(v100)", by="user_id", index="ts",
        frame=(seconds(3600), seconds(0)),
    )
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    safe = mutate(ev, scale_safe=True, **kw)
    naive = mutate(ev, **kw)
    assert sorted(map(key, safe.collect())) == sorted(map(key, naive.collect()))
    # the grouped plan must actually partition by (key, bucket)
    plan = safe._jdf.queryExecution().executedPlan().toString()
    assert "__tpid" in plan

    # hot-key skew: every even event_id collapses onto user 1
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    safe_h = mutate(hot, scale_safe=True, **kw)
    naive_h = mutate(hot, **kw)
    assert sorted(map(key, safe_h.collect())) == sorted(
        map(key, naive_h.collect())
    )

    # grouped RANGE .complete still falls back (needs per-key extents)
    comp_kw = dict(kw, complete=True)
    safe_c = mutate(ev, scale_safe=True, **comp_kw)
    naive_c = mutate(ev, **comp_kw)
    assert sorted(map(key, safe_c.collect())) == sorted(
        map(key, naive_c.collect())
    )


def test_scale_safe_grouped_rows_frame_matches_default(tables, spark):
    """r12 hot-key lowering: a GROUPED ROWS frame under scale_safe
    builds a per-key dense row index over (key, order-bucket) cells and
    partitions the window by (key, __tpid) — results must be
    bit-identical to the default grouped plan on the shipped fixture
    AND on a crafted hot-key skew (one key owning half the rows, the
    skewkeys regime), across trailing, shifted, .complete, and
    desc-leading frames."""
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", "user_id", "ts",
        (F.round(F.col("value") * 100)).cast("long").alias("v100"),
    )
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    kw = dict(m="r_mean(v100)", by="user_id",
              order_by=["ts", "event_id"], frame=(3, 0))
    safe = mutate(ev, scale_safe=True, **kw)
    naive = mutate(ev, **kw)
    assert sorted(map(key, safe.collect())) == sorted(map(key, naive.collect()))
    # the grouped plan must actually partition by (key, bucket)
    plan = safe._jdf.queryExecution().executedPlan().toString()
    assert "__tpid" in plan

    # hot-key skew: every even event_id collapses onto user 1
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    for kw_i in (
        kw,                                                       # trailing
        dict(kw, m="r_sum(v100)", frame=(2, 5)),                  # shifted
        dict(kw, complete=True),                                  # .complete
        dict(kw, m="r_sum(v100)", frame=(2, 0), desc=[True, False]),
    ):
        safe_h = mutate(hot, scale_safe=True, **kw_i)
        naive_h = mutate(hot, **kw_i)
        assert sorted(map(key, safe_h.collect())) == sorted(
            map(key, naive_h.collect())
        ), kw_i

    # NULL group keys: SQL window partitioning groups them into ONE
    # partition; the per-key-index join must be null-safe (nullkeys
    # axis, r12 — a null-unsafe equi-join silently dropped these rows)
    nullk = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(
            F.col("user_id")
        ),
    )
    for kw_n in (kw, dict(kw, complete=True)):
        safe_n = mutate(nullk, scale_safe=True, **kw_n)
        naive_n = mutate(nullk, **kw_n)
        assert sorted(map(key, safe_n.collect())) == sorted(
            map(key, naive_n.collect())
        ), kw_n


def test_subtractive_wide_frame_matches_direct_and_engages(tables, spark):
    """r12 frame-WIDTH floor: plain sum/count/avg over exact-typed
    operands under scale_safe lower as a difference of two
    unbounded-preceding prefix windows — O(n) instead of O(n·w).  The
    optimized plan must contain NO bounded sliding frame (engagement
    proof), and results must equal the direct plan bit-for-bit across
    nulls, empty frames, shifted frames, grouped ROWS and RANGE.
    r_sum/r_mean deliberately do NOT engage: their R-faithful
    double-cast accumulation makes prefix subtraction inexact."""
    from tidier_spark import mutate
    from tidier_spark.frames import seconds

    ev = tables["events"].select(
        "event_id", "user_id", "ts",
        (F.round(F.col("value") * 100)).cast("long").alias("v100"),
    ).withColumn(
        "v100",
        F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("v100")),
    )
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    cases = [
        dict(m="sum(v100)", by="user_id", order_by=["ts", "event_id"],
             frame=(50, 0)),
        dict(m="avg(v100)", by="user_id", order_by=["ts", "event_id"],
             frame=(10, 10)),
        dict(m="count(v100)", by="user_id", order_by=["ts", "event_id"],
             frame=(-2, 5)),            # shifted: empty frames at key end
        dict(m="sum(v100)", by="user_id", order_by=["ts", "event_id"],
             frame=(3, 0), complete=True),
        dict(m="sum(v100)", by="user_id", index="ts",
             frame=(seconds(3600), seconds(0))),
        dict(m="avg(v100)", order_by=["ts", "event_id"], frame=(25, 25)),
    ]
    for kw in cases:
        safe = mutate(ev, scale_safe=True, **kw)
        naive = mutate(ev, **kw)
        assert sorted(map(key, safe.select("event_id", "m").collect())) == sorted(
            map(key, naive.select("event_id", "m").collect())
        ), kw
    # engagement: no bounded sliding frame survives in the plan
    out = mutate(ev, m="sum(v100)", by="user_id",
                 order_by=["ts", "event_id"], frame=(599, 0),
                 scale_safe=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "specifiedwindowframe(RowFrame, -599" not in plan
    assert "unboundedpreceding" in plan
    # r_sum keeps the direct (double-accumulating) frame — by design
    out_r = mutate(ev, m="r_sum(v100)", by="user_id",
                   order_by=["ts", "event_id"], frame=(599, 0),
                   scale_safe=True)
    plan_r = out_r._jdf.queryExecution().optimizedPlan().toString()
    assert "specifiedwindowframe(RowFrame, -599" in plan_r


def test_scale_safe_calendar_and_grouped_range_complete(tables, spark):
    """r12: (a) CALENDAR interval frames under scale_safe run the exact
    Tier B SQL INTERVAL window per (key, order-bucket), with halo copies
    from the conservative micros envelope (month <= 31 d) — previously
    a one-task-per-key fallback; (b) grouped index-RANGE + .complete
    gets per-key extents via a partial agg + equi-join.  Both must be
    bit-identical to the default plans, incl. a 50%-hot key."""
    from tidier_spark import mutate
    from tidier_spark.frames import months, seconds

    ev = tables["events"].select(
        "event_id", "user_id", "ts",
        (F.round(F.col("value") * 100)).cast("long").alias("v100"),
    )
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    cases = [
        dict(m="avg(v100)", by="user_id", index="ts",
             frame=(months(1), months(0))),          # grouped calendar
        dict(m="sum(v100)", index="ts",
             frame=(months(2), months(0))),          # ungrouped calendar
        dict(m="avg(v100)", by="user_id", index="ts",
             frame=(seconds(3600), seconds(0)), complete=True),
    ]
    for kw in cases:
        safe = mutate(hot, scale_safe=True, **kw)
        naive = mutate(hot, **kw)
        assert sorted(map(key, safe.select("event_id", "m").collect())) == sorted(
            map(key, naive.select("event_id", "m").collect())
        ), kw
    # both new lowerings actually partition by (.., __tpid)
    for kw in (cases[0], cases[2]):
        out = mutate(hot, scale_safe=True, **kw)
        assert "__tpid" in out._jdf.queryExecution().executedPlan().toString(), kw
    # calendar + .complete still falls back to the default grouped plan
    out3 = mutate(
        hot, m="avg(v100)", by="user_id", index="ts",
        frame=(months(1), months(0)), complete=True, scale_safe=True,
    )
    assert "__tpid" not in out3._jdf.queryExecution().executedPlan().toString()
    # grouped RANGE + .complete with NULL keys: the per-key extent join
    # must be null-safe (nullkeys axis, r12)
    nullk = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(
            F.col("user_id")
        ),
    )
    kw_n = dict(m="avg(v100)", by="user_id", index="ts",
                frame=(seconds(3600), seconds(0)), complete=True)
    safe_n = mutate(nullk, scale_safe=True, **kw_n)
    naive_n = mutate(nullk, **kw_n)
    assert sorted(map(key, safe_n.select("event_id", "m").collect())) == sorted(
        map(key, naive_n.select("event_id", "m").collect())
    )


def test_micros_envelope_bounds():
    """The halo envelope must CONTAIN every possible calendar frame:
    month uses 32 days on the preceding side (superset) and year 367 —
    the calendar extremes plus one day, because under a DST session
    timezone a month of real time can be 31 days + 1 hour."""
    import math

    import pytest as _pytest

    from tidier_spark.frames import days, months, parse_frame, years

    d = 86400 * 1_000_000
    assert parse_frame((months(1), months(0))).micros_envelope() == (-32 * d, 0)
    assert parse_frame((years(1), days(0))).micros_envelope() == (-367 * d, 0)
    assert parse_frame((months(0), months(2))).micros_envelope() == (0, 64 * d)
    assert parse_frame((days(7), days(-1))).micros_envelope() == (-7 * d, -d)
    assert parse_frame((5, 5)).micros_envelope() == (-5_000_000, 5_000_000)
    with _pytest.raises(ValueError):
        parse_frame((math.inf, 0)).micros_envelope()


def test_rmq_wide_frame_min_max_matches_direct(tables, spark):
    """r12 frame-WIDTH floor, min/max leg: fixed-width ROWS frames under
    scale_safe lower as the block RMQ (per-chunk prefix/suffix minima +
    constant-offset lag/lead) — O(n) regardless of width, exact for ANY
    orderable operand (doubles included: min/max select, never
    re-associate).  Bit-identical to the direct plan across trailing,
    centered, shifted (both directions), width-1, .complete, NULL
    values, NULL keys, hot keys, grouped and ungrouped."""
    from tidier_spark import mutate

    ev = tables["events"].select(
        "event_id", "user_id", "ts", "value"
    ).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value")),
    )
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    nullk = hot.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(
            F.col("user_id")
        ),
    )
    key = lambda r: (r["event_id"], r["m"])  # noqa: E731
    ob = ["ts", "event_id"]
    cases = [
        (hot, dict(m="min(value)", by="user_id", order_by=ob, frame=(10, 0))),
        (hot, dict(m="max(value)", by="user_id", order_by=ob, frame=(7, 7))),
        (hot, dict(m="min(value)", order_by=ob, frame=(25, 0))),   # ungrouped
        (hot, dict(m="max(value)", by="user_id", order_by=ob, frame=(-2, 5))),
        (hot, dict(m="min(value)", by="user_id", order_by=ob, frame=(8, -3))),
        (hot, dict(m="min(value)", by="user_id", order_by=ob, frame=(0, 0))),
        (hot, dict(m="max(value)", by="user_id", order_by=ob, frame=(4, 0),
                   complete=True)),
        (hot, dict(m="max(value) - min(value)", by="user_id", order_by=ob,
                   frame=(6, 0))),
        (nullk, dict(m="min(value)", by="user_id", order_by=ob, frame=(5, 0))),
    ]
    for df, kw in cases:
        safe = mutate(df, scale_safe=True, **kw)
        naive = mutate(df, **kw)
        assert sorted(map(key, safe.select("event_id", "m").collect())) == sorted(
            map(key, naive.select("event_id", "m").collect())
        ), kw
    # engagement: no bounded sliding AGGREGATE frame (lag/lead offset
    # frames like (RowFrame, -400, -400) are fine — O(1) per row)
    out = mutate(hot, m="min(value)", by="user_id", order_by=ob,
                 frame=(400, 0), scale_safe=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "specifiedwindowframe(RowFrame, -400, currentrow" not in plan

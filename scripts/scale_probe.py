"""Measured scaling probe: run scale-critical operators at 1x and 10x
synthetic row counts on local[32] and print a wall-time table.

Synthetic inputs (spark.range + hash-derived values) are used so the
probe can exceed the shipped sf0.1 fixtures; correctness at these sizes
is separately pinned by tests (e.g. the 5M-row prefix-sum equivalence
test).  Usage: python scripts/scale_probe.py
"""
import sys
import time

sys.path.insert(0, ".")
from pyspark.sql import functions as F  # noqa: E402

from tidier_spark.session import session  # noqa: E402


def _probe_session(driver_memory="16g", extra=None):
    """The probes' local[32] session on the library config, JVM warmed."""
    spark = session(
        cpus=32,
        extra_conf={
            "spark.driver.memory": driver_memory,
            "spark.ui.enabled": "false",
            **(extra or {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def main():
    spark = _probe_session()

    def _warm(it):
        yield from it

    spark.range(64, numPartitions=32).mapInPandas(_warm, "id long").count()

    # r10 (verdict r9 task #6): every probe callable REBUILDS its full
    # plan — operator construction included — inside each timed rep.
    # The pre-r9 shape pre-built the Dataset outside the lambda, so a
    # min-of-N rep 2 silently reused Spark's shuffle map outputs
    # (measured r9: eval_auc 63.8 s fresh vs 0.14 s on the second
    # collect of one plan) and construction-time eager jobs (index
    # training, split-point collects) were excluded from reps=1 rows.
    def timeit(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    rows = []

    # 1. distributed prefix sum (two-pass range-partitioned)
    from tidier_spark.window import scale_safe_cumulative

    def cumsum(n):
        def run():
            df = spark.range(n).select(
                F.col("id").alias("k"), (F.xxhash64("id") % 1000).alias("v")
            )
            out = scale_safe_cumulative(
                df, "v", order_by=["k"], out="cum", fn="sum"
            )
            out.agg(F.sum("cum")).collect()

        return run

    rows.append(("scale_safe_cumsum", "6M rows", timeit(cumsum(6_000_000))))
    rows.append(("scale_safe_cumsum", "60M rows", timeit(cumsum(60_000_000))))

    # 1b. bounded ungrouped rows frame via range-partition + halo
    # exchange (scale_safe_frame) — the round-7 lowering that replaces
    # the single-partition global window for o4_rows_frame shapes
    from tidier_spark import mutate

    def bframe(n, scale_safe=True):
        def run():
            df = spark.range(n).select(
                F.col("id").alias("k"), (F.xxhash64("id") % 1000).alias("v")
            )
            out = mutate(
                df, m="r_mean(v)", order_by=["k"], frame=(10, 10),
                scale_safe=scale_safe,
            )
            out.agg(F.sum("m")).collect()

        return run

    rows.append(("scale_safe_frame", "6M rows", timeit(bframe(6_000_000))))
    rows.append(("scale_safe_frame", "60M rows", timeit(bframe(60_000_000))))
    rows.append(
        ("single_part_frame", "6M rows", timeit(bframe(6_000_000, False)))
    )

    # 1c. RANGE-mode ungrouped frame (value-halo exchange on a timestamp
    # index — o5_range_scale's shape; r8: only ROWS mode had probe rows)
    def rframe(n, scale_safe=True):
        from tidier_spark.frames import seconds

        def run():
            df = spark.range(n).select(
                F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
                (F.xxhash64("id") % 1000).alias("v"),
            )
            out = mutate(
                df, m="r_mean(v)", index="ts",
                frame=(seconds(30), seconds(0)), scale_safe=scale_safe,
            )
            out.agg(F.sum("m")).collect()

        return run

    rows.append(("scale_safe_range", "6M rows", timeit(rframe(6_000_000))))
    rows.append(("scale_safe_range", "60M rows", timeit(rframe(60_000_000))))
    rows.append(
        ("single_part_range", "6M rows", timeit(rframe(6_000_000, False)))
    )

    # 1d. stream_hll's BATCH TWIN (windowed approx-distinct, the shape the
    # stream replays): state per window is one HLL register set — the
    # probe pins that wall scales with row count, not distinct count
    def whll(n):
        def run():
            df = spark.range(n).select(
                F.timestamp_micros(F.col("id") * 1_000).alias("ts"),
                (F.xxhash64("id") % 100_000).alias("user_id"),
            )
            out = df.groupBy(F.window("ts", "1 day")).agg(
                F.approx_count_distinct("user_id", 0.01).alias("n")
            )
            out.agg(F.sum("n")).collect()

        return run

    rows.append(("windowed_hll_batch", "6M rows", timeit(whll(6_000_000))))
    rows.append(("windowed_hll_batch", "60M rows", timeit(whll(60_000_000))))

    # 2. exact dedup (hash-agg fingerprints), ~50% duplicate rate
    from tidier_spark.operators.dedup import exact_dedup

    def dedup(n):
        def run():
            df = spark.range(n).select(
                F.md5(
                    F.concat_ws(":", (F.col("id") % (n // 2)).cast("string"))
                ).alias("fp"),
                F.col("id"),
            )
            exact_dedup(df, ["fp"]).agg(F.count(F.lit(1))).collect()

        return run

    rows.append(("exact_dedup", "1M rows", timeit(dedup(1_000_000))))
    rows.append(("exact_dedup", "10M rows", timeit(dedup(10_000_000))))

    # 3. distributed exact quantiles
    from tidier_spark.operators.sketches import exact_quantiles

    def quant(n):
        def run():
            df = spark.range(n).select(
                (F.col("id") % 7).cast("string").alias("g"),
                (F.xxhash64("id") % 100_000).cast("double").alias("v"),
            )
            exact_quantiles(df, "v", [0.5, 0.9], by="g").collect()

        return run

    rows.append(("exact_quantiles", "6M rows", timeit(quant(6_000_000))))
    rows.append(("exact_quantiles", "60M rows", timeit(quant(60_000_000))))

    # 3b. GLOBAL exact quantiles via the coarse (range-partitioned
    # two-pass prefix) regime — the one-giant-group shape where the
    # default regime would serialize on a single window task
    def quantc(n):
        df = spark.range(n).select(
            (F.xxhash64("id") % 100_000).cast("double").alias("v")
        )
        # build INSIDE the timed lambda: the coarse path eagerly
        # materializes its range-partitioned counts (localCheckpoint)
        # at call time, so plan construction is part of the cost
        return lambda: exact_quantiles(
            df, "v", [0.5, 0.9], coarse_groups=True
        ).collect()

    rows.append(("exact_quantiles_coarse_global", "6M rows", timeit(quantc(6_000_000))))
    rows.append(("exact_quantiles_coarse_global", "60M rows", timeit(quantc(60_000_000))))

    # 4. minhash near-dup pairs on synthetic token docs
    from tidier_spark.operators.dedup import near_dup_pairs

    def ndp(n):
        def run():
            df = spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(sequence(1, 30), i -> "
                        "concat('t', pmod(xxhash64(id * 31 + i), 500)))"
                    ),
                ).alias("text"),
            )
            near_dup_pairs(df, k=8, bands=4, threshold=0.3).agg(
                F.count(F.lit(1))
            ).collect()

        return run

    rows.append(("near_dup_pairs", "5k docs", timeit(ndp(5_000), reps=1)))
    rows.append(("near_dup_pairs", "50k docs", timeit(ndp(50_000), reps=1)))

    # 5. IVF-PQ ANN on synthetic embeddings: approximate path scaling
    from tidier_spark.operators.similarity import ivfpq_topk

    def ivfpq(n):
        def run():
            df = spark.range(n).select(
                F.col("id").alias("vec_id"),
                F.expr(
                    "transform(sequence(1, 64), i -> "
                    "cast(pmod(xxhash64(id * 64 + i), 1000) as double)"
                    " / 500.0 - 1.0)"
                ).alias("embedding"),
            )
            ivfpq_topk(df, k=3, n_lists=32, n_probe=8).agg(
                F.count(F.lit(1))
            ).collect()

        return run

    rows.append(("ivfpq_topk", "2k vecs", timeit(ivfpq(2_000), reps=1)))
    rows.append(("ivfpq_topk", "20k vecs", timeit(ivfpq(20_000), reps=1)))

    # 6. distributed Lloyd k-means (fixed-point, transform-argmin
    # assignment): per-round work is one (cluster, dim) aggregate
    from tidier_spark.operators.similarity import kmeans_fit

    def km(n):
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64), i -> "
                "cast(pmod(xxhash64(id * 64 + i), 1000) as double)"
                " / 500.0 - 1.0)"
            ).alias("embedding"),
        )
        return lambda: kmeans_fit(df, k=4, iters=2).agg(
            F.count(F.lit(1))
        ).collect()

    rows.append(("kmeans_fit", "20k vecs", timeit(km(20_000), reps=1)))
    rows.append(("kmeans_fit", "200k vecs", timeit(km(200_000), reps=1)))

    # 7. connected components over a dup-shaped graph (4-node stars:
    # diameter 2, the typical near-dup cluster shape)
    from tidier_spark.operators.graph import connected_components

    def cc(n):
        nodes = spark.range(n).select(F.col("id"))
        edges = (
            spark.range(n)
            .where("id % 4 != 0")
            .select(
                (F.col("id") - F.col("id") % 4).alias("id_a"),
                F.col("id").alias("id_b"),
            )
        )
        return lambda: connected_components(edges, nodes).agg(
            F.countDistinct("cluster_id")
        ).collect()

    rows.append(("connected_components", "1M nodes", timeit(cc(1_000_000), reps=1)))
    rows.append(("connected_components", "10M nodes", timeit(cc(10_000_000), reps=1)))

    # 8. large-star/small-star CC on a PATH graph — diameter n-1, the
    # regime where min-label's O(diameter) rounds are impossible and
    # star's O(log n) rounds are the point
    from tidier_spark.operators.graph import connected_components_star

    def ccs(n):
        nodes = spark.range(n).select(F.col("id"))
        chain = spark.range(n - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        return lambda: connected_components_star(chain, nodes).agg(
            F.countDistinct("cluster_id")
        ).collect()

    rows.append(("star_cc_path", "100k chain", timeit(ccs(100_000), reps=1)))
    rows.append(("star_cc_path", "1M chain", timeit(ccs(1_000_000), reps=1)))

    # 9. fixed-point PageRank: 3 unrolled rounds, each an (edges ⋈ ranks)
    # equi-join + dst hash-aggregate — timing includes the eager n count
    from tidier_spark.operators.graph import pagerank

    def pr(n):
        nodes = spark.range(n).select(F.col("id"))
        edges = spark.range(2 * n).select(
            (F.col("id") % n).alias("id_a"),
            F.when(
                F.col("id") < n, (F.col("id") * 7 + 1) % n
            ).otherwise((F.col("id") * 13 + 5) % n).alias("id_b"),
        )
        return lambda: pagerank(
            edges, nodes, src="id_a", dst="id_b", id_col="id", iters=3
        ).agg(F.sum("pr_fp")).collect()

    rows.append(("pagerank_3it", "1M n/2M e", timeit(pr(1_000_000), reps=1)))
    rows.append(("pagerank_3it", "10M n/20M e", timeit(pr(10_000_000), reps=1)))

    # 13. triangle counting (compact-forward, canonical edges): sparse
    # synthetic graph, avg degree 4, triangles planted by construction
    from tidier_spark.operators.graph import triangle_count

    def tric(n):
        # chain (i, i+1) plus a chord (i, i+2) at every even i: exactly
        # n/2 planted triangles (i, i+1, i+2), canonical order for free
        expected = 3 * ((n - 2) // 2)  # each triangle counts at 3 nodes

        def run():
            chain = spark.range(n - 1).select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
            )
            chords = spark.range((n - 2) // 2).select(
                (F.col("id") * 2).alias("id_a"),
                (F.col("id") * 2 + 2).alias("id_b"),
            )
            out = triangle_count(chain.unionAll(chords))
            got = out.agg(F.sum("n_tri")).collect()[0][0]
            assert got == expected, (got, expected)

        return run

    rows.append(("triangle_count", "1.3M edges", timeit(tric(1_000_000), reps=1)))
    rows.append(("triangle_count", "13M edges", timeit(tric(10_000_000), reps=1)))

    # 11. interval merge (cummax flag + running sum + hash agg): 1k keys,
    # ~25% of consecutive spans overlap — the union-of-ranges shape
    from tidier_spark.operators.temporal import interval_merge

    def imerge(n):
        def run():
            df = spark.range(n).select(
                (F.col("id") % 1000).alias("k"),
                F.timestamp_micros(
                    (F.col("id") / 1000).cast("long") * 1_000_000
                ).alias("s"),
                F.timestamp_micros(
                    (F.col("id") / 1000).cast("long") * 1_000_000
                    + (F.xxhash64("id") % 2_000_000 + 2_000_000)
                ).alias("e"),
            )
            interval_merge(df, "s", "e", by="k").agg(
                F.sum("n_intervals"), F.count(F.lit(1))
            ).collect()

        return run

    rows.append(("interval_merge", "6M rows", timeit(imerge(6_000_000))))
    rows.append(("interval_merge", "60M rows", timeit(imerge(60_000_000))))

    # 12. running distinct (first-occurrence flag + cumsum — the
    # set-free lowering); 1k keys, 1k distinct values per key
    from tidier_spark.operators.temporal import rolling_distinct

    def rdist(n):
        def run():
            df = spark.range(n).select(
                (F.col("id") % 1000).alias("k"),
                F.col("id").alias("i"),
                (F.xxhash64("id") % 1000).cast("string").alias("v"),
            )
            rolling_distinct(
                df, "v", by="k", order_by=["i"], frame_rows=20
            ).agg(F.sum("dcum"), F.sum("droll")).collect()

        return run

    rows.append(("running_distinct", "6M rows", timeit(rdist(6_000_000))))
    rows.append(("running_distinct", "60M rows", timeit(rdist(60_000_000))))

    print(f"{'operator':<20} {'size':>10} {'sec':>8}")
    for op, size, sec in rows:
        print(f"{op:<20} {size:>10} {sec:>8.2f}")


if __name__ == "__main__":
    main()


def skew_section():
    """Skew probe: one key owning half of 20M rows.  Compares plain
    groupBy vs salted_agg and plain join vs skew_join wall time.
    Run: python -c "import sys; sys.path.insert(0,'.'); sys.argv=['x']; \
         from scripts.scale_probe import skew_section; skew_section()"
    """
    import time

    from pyspark.sql import functions as F

    from tidier_spark.skew import salted_agg, skew_join

    # isolate the salting effect from AQE's own skew mitigation
    spark = _probe_session(
        extra={"spark.sql.adaptive.skewJoin.enabled": "false"}
    )

    n = 20_000_000
    # key 0 owns ~50% of rows; remainder spreads over 10k keys
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.pmod(F.xxhash64("id"), 10_000))
        .alias("k"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("v"),
    )

    def timeit(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    plain = timeit(lambda: df.groupBy("k").agg(F.avg("v").alias("a")).count())
    salted = timeit(
        lambda: salted_agg(df, "k", {"a": "avg(v)"}).count()
    )
    print(f"groupBy-avg 20M skewed: plain {plain:.2f}s  salted {salted:.2f}s")

    dim = spark.range(10_000).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pj = timeit(lambda: df.join(dim, "k").count(), reps=1)
        sj = timeit(lambda: skew_join(df, dim, "k").count(), reps=1)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    print(f"join 20M skewed x 10k dim (no broadcast, no AQE-skew): "
          f"plain {pj:.2f}s  skew_join {sj:.2f}s")


def r9_section():
    """Round-9 probes for the round-8 additions (verdict r08 task #4):
    decimal money aggregation, temperature_mix, eval_auc (continuous
    scores -> distinct ~= rows, the regime the r9 two-pass prefix
    lowering exists for, vs the naive global-window plan), and
    calibration_bins.

    HARNESS NOTE (r9 find): re-collecting the SAME Dataset object lets
    Spark reuse its shuffle map outputs, so a min-of-2 over one plan
    undercounts every pre-shuffle stage (measured: eval_auc at 60M
    distinct, 63.8 s fresh vs 0.14 s on the second collect).  Every
    probe here REBUILDS the full plan inside the timed function —
    operator construction (including any eager split-point collects)
    is part of the reported cost.  Run:
    python -c "import sys; sys.path.insert(0,'.'); \
         from scripts.scale_probe import r9_section; r9_section()"
    """
    import time

    from pyspark.sql import functions as F, Window

    spark = _probe_session()

    def timeit(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    rows = []

    # 13. DECIMAL(38,2) money aggregation (pricing_decimal's shape) vs
    # the default double-penny path — both one hash agg; the decimal
    # pays 128-bit accumulation for exactness.  3e9-scale values: each
    # row's pennies are double-exact, but the per-group SUM (~1e17
    # pennies at 60M rows) is past the 2^53 cliff — the regime the
    # decimal hatch exists for — while staying inside BIGINT output.
    from tidier_spark.money import money_sum_pennies

    def money(n, decimal=True):
        def run():
            df = spark.range(n).select(
                (F.col("id") % 16).alias("g"),
                (
                    F.lit(3.0e9)
                    + (F.xxhash64("id") % 100_000_000).cast("double") / 100.0
                ).alias("v"),
            )
            if decimal:
                agg = F.expr(money_sum_pennies("v")).alias("s")
            else:
                agg = F.sum(F.round(F.col("v") * 100)).cast("long").alias("s")
            df.groupBy("g").agg(agg).collect()

        return run

    rows.append(("money_decimal_sum", "6M rows", timeit(money(6_000_000))))
    rows.append(("money_decimal_sum", "60M rows", timeit(money(60_000_000))))
    rows.append(("money_double_sum", "60M rows", timeit(money(60_000_000, False))))

    # 14. temperature_mix: one bounded per-source agg + broadcast gate
    from tidier_spark.operators.corpus import temperature_mix

    def tmix(n):
        def run():
            df = spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.concat(F.lit("s"), (F.col("id") % 32)).alias("source"),
                (100 + F.xxhash64("id") % 1000).alias("n_tokens"),
            )
            temperature_mix(df, n * 50).count()

        return run

    rows.append(("temperature_mix", "6M docs", timeit(tmix(6_000_000))))
    rows.append(("temperature_mix", "60M docs", timeit(tmix(60_000_000))))

    # 15. eval_auc with CONTINUOUS scores (distinct ~= rows): the r9
    # two-pass prefix vs the naive single-task global window
    from tidier_spark.operators.evalmetrics import auc_exact

    def aucdf(n):
        return spark.range(n).select(
            (F.xxhash64("id").cast("double") / 9.3e18).alias("s"),
            (F.col("id") % 2).cast("int").alias("y"),
        )

    def auc(n):
        def run():
            auc_exact(aucdf(n), "s", "y").collect()

        return run

    def auc_naive(n):
        def run():
            df = aucdf(n)
            per = df.groupBy("s").agg(
                F.count(F.lit(1)).cast("long").alias("c"),
                F.sum(F.when(F.col("y") != 0, 1).otherwise(0))
                .cast("long")
                .alias("p"),
            )
            w = Window.orderBy("s").rowsBetween(
                Window.unboundedPreceding, -1
            )
            r = per.withColumn(
                "b", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long")
            )
            r.agg(
                F.sum(
                    F.col("p") * (2 * (F.col("b") + 1) + F.col("c") - 1)
                ).alias("r2"),
                F.sum("p").alias("np"),
                F.sum(F.col("c") - F.col("p")).alias("nn"),
            ).collect()

        return run

    rows.append(("eval_auc_2pass", "6M distinct", timeit(auc(6_000_000))))
    rows.append(("eval_auc_2pass", "60M distinct", timeit(auc(60_000_000))))
    rows.append(
        ("eval_auc_naive_window", "6M distinct", timeit(auc_naive(6_000_000), reps=1))
    )
    rows.append(
        ("eval_auc_naive_window", "60M distinct", timeit(auc_naive(60_000_000), reps=1))
    )

    # 16. calibration_bins: one hash aggregate
    from tidier_spark.operators.evalmetrics import calibration_bins

    def calib(n):
        def run():
            df = spark.range(n).select(
                F.pmod(F.xxhash64("id"), F.lit(1_000_001)).alias("s"),
                (F.col("id") % 2).cast("int").alias("y"),
            )
            calibration_bins(df, "s", "y").collect()

        return run

    rows.append(("calibration_bins", "6M rows", timeit(calib(6_000_000))))
    rows.append(("calibration_bins", "60M rows", timeit(calib(60_000_000))))

    print(f"{'operator':<24} {'size':>12} {'sec':>8}")
    for op, size, sec in rows:
        print(f"{op:<24} {size:>12} {sec:>8.2f}")


def r10_section():
    """Round-10 probe: the rewritten ``topk_merged`` (explode+sum merge)
    at the partial counts that broke ``approx_top_k_combine`` (verdict
    r9 task #4).  The merge's input is bounded by
    n_partials x max_items_tracked exploded rows — this section
    measures where that product stops being "skinny" relative to a raw
    re-aggregation of the corpus, and verifies exactness (no eviction
    at these caps) at every size.

    Partials are WRITTEN TO PARQUET first and the timed merge plan
    reads them back — the documented use case (partials from any
    slicing, folded without re-reading data), and the honest lineage
    boundary for the rebuilt-plan harness.  Usage:
      python -c "import sys; sys.path.insert(0, '.'); \
         from scripts.scale_probe import r10_section; r10_section()"
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    spark = _probe_session("24g")

    from tidier_spark.operators.sketches import topk_merged, topk_partials

    def timeit(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    rows = []
    tmp = tempfile.mkdtemp(prefix="topk_probe_")
    try:
        for n_partials, per_cell in ((100, 10_000), (1_000, 10_000), (10_000, 10_000)):
            # per_cell distinct items per partial cell, one planted
            # global heavy hitter (item -1, n_partials*100 occurrences);
            # cap == per-cell distinct cardinality -> no eviction ->
            # merge must be EXACT for the planted item
            n = n_partials * per_cell
            path = f"{tmp}/p{n_partials}"
            df = spark.range(n).select(
                (F.col("id") % n_partials).alias("p"),
                F.when(F.col("id") % per_cell < 100, F.lit(-1))
                .otherwise(F.xxhash64("id"))
                .alias("item"),
            )
            cap = per_cell + 1  # distinct/cell <= per_cell noise + planted
            topk_partials(df, "item", part="p", max_items_tracked=cap).write.mode(
                "overwrite"
            ).parquet(path)

            def merge(path=path, cap=cap, want=n_partials * 100):
                def run():
                    parts = spark.read.parquet(path)
                    got = topk_merged(parts, 3, max_items_tracked=cap).collect()
                    top = {r["item"]: r["est_freq"] for r in got}
                    assert top.get(-1) == want, (top, want)

                return run

            # exploded merge input = n_partials x cap rows
            rows.append(
                (
                    "topk_merged",
                    f"{n_partials}x{per_cell} cells",
                    timeit(merge()),
                )
            )
            # baseline: re-aggregating the raw corpus from scratch (what
            # the partials exist to avoid) at the same scale
            def raw(n=n, n_partials=n_partials, per_cell=per_cell):
                def run():
                    df = spark.range(n).select(
                        F.when(F.col("id") % per_cell < 100, F.lit(-1))
                        .otherwise(F.xxhash64("id"))
                        .alias("item"),
                    )
                    df.groupBy("item").agg(
                        F.count(F.lit(1)).alias("n")
                    ).orderBy(F.desc("n")).limit(3).collect()

                return run

            rows.append(("raw_topk_rescan", f"{n} rows", timeit(raw(), reps=1)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"{'operator':<18} {'size':>18} {'sec':>8}")
    for op, size, sec in rows:
        print(f"{op:<18} {size:>18} {sec:>8.2f}")

"""Property-based differential testing: random window specs vs DuckDB.

The reference has no property tests (SURVEY §5 — a weakness not to
replicate).  Here hypothesis draws (aggregate, keys, ordering, frame
bounds, desc flags) combinations; each is compiled by our engine AND
rendered as the equivalent window SQL for DuckDB, then value-compared.
This covers the dispatch matrix far beyond the hand-written cases.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from helpers import assert_matches_oracle
from tidier_spark import mutate

# penny-exact aggregates over events.value (determinism policy)
AGGS = {
    "avg": ("avg(round(value * 100)) / 100", "avg(round(value * 100)) OVER w / 100"),
    "sum": ("sum(round(value * 100)) / 100", "sum(round(value * 100)) OVER w / 100"),
    "min": ("min(value)", "min(value) OVER w"),
    "max": ("max(value)", "max(value) OVER w"),
    "count": ("count(*)", "count(*) OVER w"),
}

spec_st = st.fixed_dictionaries(
    {
        "agg": st.sampled_from(sorted(AGGS)),
        "by": st.sampled_from([None, "user_id", "event_type", ("user_id", "event_type")]),
        "before": st.one_of(st.integers(0, 12), st.just(None)),  # None → Inf
        "after": st.integers(-2, 12),
        "desc_first": st.booleans(),
        "complete": st.booleans(),
    }
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=spec_st)
def test_random_rows_frame_matches_duckdb(spec, tables, sf_dir):
    import math

    before = math.inf if spec["before"] is None else spec["before"]
    after = spec["after"]
    if before != math.inf and -after > before:
        after = -before  # keep the frame non-inverted
    frame = (before, after)

    by = spec["by"]
    by_l = list(by) if isinstance(by, tuple) else ([by] if by else [])
    desc = [spec["desc_first"], False]

    spark_expr, sql_tpl = AGGS[spec["agg"]]
    r = mutate(
        tables["events"],
        {"out": spark_expr},
        by=by_l or None,
        order_by=["ts", "event_id"],
        desc=desc,
        frame=frame,
        complete=spec["complete"],
    ).select("event_id", "out")

    part = f"PARTITION BY {', '.join(by_l)}" if by_l else ""
    o1 = "ts DESC" if spec["desc_first"] else "ts"
    lo = "UNBOUNDED PRECEDING" if before == math.inf else (
        f"{before} PRECEDING" if before > 0 else "CURRENT ROW"
    )
    hi = (
        "CURRENT ROW"
        if after == 0
        else (f"{after} FOLLOWING" if after > 0 else f"{-after} PRECEDING")
    )
    frame_sql = f"ROWS BETWEEN {lo} AND {hi}"
    val = sql_tpl
    if spec["complete"]:
        width = None if before == math.inf else before + after + 1
        if width is not None:
            val = f"CASE WHEN count(*) OVER w = {width} THEN {sql_tpl} END"
    sql = f"""
        SELECT event_id, {val} AS out
        FROM events
        WINDOW w AS ({part} ORDER BY {o1}, event_id {frame_sql})"""
    assert_matches_oracle(r, sql, sf_dir)


range_spec_st = st.fixed_dictionaries(
    {
        "agg": st.sampled_from(sorted(AGGS)),
        "by": st.sampled_from([None, "user_id", "event_type"]),
        "before_h": st.integers(1, 200),  # hours
        "after_h": st.integers(-48, 48),
    }
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=range_spec_st)
def test_random_range_frame_matches_duckdb(spec, tables, sf_dir):
    from tidier_spark import hours

    before_h, after_h = spec["before_h"], spec["after_h"]
    if -after_h > before_h:
        after_h = -before_h
    by = spec["by"]

    spark_expr, sql_tpl = AGGS[spec["agg"]]
    r = mutate(
        tables["events"],
        {"out": spark_expr},
        by=by,
        index="ts",
        frame=(hours(before_h), hours(after_h)),
    ).select("event_id", "out")

    part = f"PARTITION BY {by}" if by else ""
    lo = f"INTERVAL {before_h} HOURS PRECEDING"
    hi = (
        "CURRENT ROW"
        if after_h == 0
        else (
            f"INTERVAL {after_h} HOURS FOLLOWING"
            if after_h > 0
            else f"INTERVAL {-after_h} HOURS PRECEDING"
        )
    )
    sql = f"""
        SELECT event_id, {sql_tpl} AS out
        FROM events
        WINDOW w AS ({part} ORDER BY ts RANGE BETWEEN {lo} AND {hi})"""
    assert_matches_oracle(r, sql, sf_dir)


# --- round-3 operators -----------------------------------------------------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    names=st.lists(
        st.text(alphabet="ab#0", min_size=0, max_size=6),
        min_size=2,
        max_size=8,
        unique=True,
    )
)
def test_fuzzy_join_complete_on_random_strings(names, spark):
    # the deletion-neighborhood candidate filter must find EXACTLY the
    # Levenshtein<=1 pairs on arbitrary strings (tiny alphabet maximizes
    # collisions, empty strings included)
    from itertools import combinations

    from tidier_spark.operators.fuzzy import fuzzy_self_join

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_self_join(df, "id", "s").collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (i, j): lev(names[i], names[j])
        for i, j in combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 1
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=30,
    ),
    split=st.integers(0, 4),
)
def test_update_rollup_any_split_matches_full(rows, split, spark):
    # folding any 2-way split of the rows must equal the one-shot
    # aggregate — the mergeability property update_rollup rests on
    from tidier_spark.operators.merge import update_rollup

    df = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(rows)], "k long, i long, v long"
    )
    measures = {
        "n": ("count", "i"),
        "s": ("sum", "v"),
        "mn": ("min", "v"),
        "mx": ("max", "v"),
    }
    full = update_rollup(None, df, "k", measures)
    a = df.where(df.i % 5 < split)
    b = df.where(df.i % 5 >= split)
    inc = update_rollup(update_rollup(None, a, "k", measures), b, "k", measures)
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in inc.collect()}
    want = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in full.collect()}
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6), min_size=3, max_size=15
    ),
    n_merges=st.integers(1, 3),
)
def test_bpe_train_matches_python_reference(words, n_merges, spark, bpe_route):
    # independent pure-Python greedy BPE (Sennrich): pair counts weighted
    # by word frequency, (count desc, pair asc) argmax, left-to-right
    # greedy merge — the wrapped-string replace lowering must match it
    # exactly on arbitrary corpora
    from collections import Counter

    from tidier_spark.operators.bpe import bpe_train

    def greedy(s, a, b):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    wc = Counter(words)
    seqs = {w: list(w) for w in wc}
    expected = []
    for r in range(n_merges):
        pc = Counter()
        for w, n in wc.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((r + 1, a, b, a + b, n))
        seqs = {w: greedy(s, a, b) for w, s in seqs.items()}

    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    got = [
        (r.rank, r.left_sym, r.right_sym, r.merged, r.pair_n)
        for r in bpe_train(df, n_merges=n_merges).collect()
    ]
    assert got == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),            # key
            st.integers(0, 20),           # day index
            st.integers(-500, 500),       # value in pennies
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_gapfill_matches_python_reference(events, spark):
    # independent dense-grid reference: bucket, aggregate, fill LOCF
    from collections import defaultdict

    from tidier_spark.operators.temporal import time_bucket_gapfill

    DAY_US = 86_400_000_000
    rows = [
        (k, d * 86_400.0, p / 100.0) for k, d, p in events
    ]
    df = spark.createDataFrame(rows, "k long, tsec double, value double")
    df = df.select(
        "k", F.timestamp_micros((F.col("tsec") * 1_000_000).cast("long")).alias("ts"),
        "value",
    )
    got = {
        (r.k, r.bucket_us): (r.n, r.v100, r.filled)
        for r in time_bucket_gapfill(df, "k", "ts", "value",
                                     bucket_seconds=86400, fill="locf").collect()
    }

    agg = defaultdict(lambda: [0, 0])
    for k, d, p in events:
        cell = agg[(k, d * DAY_US)]
        cell[0] += 1
        cell[1] += p
    want = {}
    for k in {k for k, _, _ in events}:
        buckets = sorted(b for (kk, b) in agg if kk == k)
        last = None
        for b in range(buckets[0] // DAY_US, buckets[-1] // DAY_US + 1):
            bus = b * DAY_US
            if (k, bus) in agg:
                n, v = agg[(k, bus)]
                last = v
                want[(k, bus)] = (n, v, False)
            else:
                want[(k, bus)] = (0, last, True)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    L=st.integers(2, 3),
    m=st.integers(2, 3),
)
def test_excise_regions_matches_python_reference(docs, L, m, spark):
    from collections import Counter

    from tidier_spark.operators.dedup import excise_duplicate_regions

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_covered, r.clean_text)
        for r in excise_duplicate_regions(
            df, gram_tokens=L, min_count=m
        ).collect()
    }

    toks = {i: d.split() for i, d in enumerate(docs)}
    counts = Counter()
    for t in toks.values():
        for i in range(len(t) - L + 1):
            counts[tuple(t[i : i + L])] += 1
    dup = {g for g, c in counts.items() if c >= m}
    for i, t in toks.items():
        covered = set()
        for p in range(len(t) - L + 1):
            if tuple(t[p : p + L]) in dup:
                covered.update(range(p, p + L))
        clean = " ".join(tok for j, tok in enumerate(t) if j not in covered)
        assert got[i] == (len(t), len(covered), clean)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(1, 3),
)
def test_bpe_encode_matches_python_reference(texts, n_merges, spark, bpe_route):
    # full train→encode differential: Spark's map-literal id sequences
    # must equal an independent pure-Python pipeline (greedy leftmost
    # merge per rank, sorted-chars-then-ranks vocabulary)
    import re

    from tidier_spark.operators.bpe import bpe_encode, bpe_train, corpus_chars

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(df, n_merges=n_merges).collect()
    ]
    chars = corpus_chars(df)
    got = {
        r["doc_id"]: (r["n_subwords"], r["ids_csv"])
        for r in bpe_encode(df, merges, chars).collect()
    }

    def greedy(s, a, b):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    vocab = {}
    for i, c in enumerate(sorted(chars)):
        vocab.setdefault(c, i + 1)
    for r, (a, b) in enumerate(merges, start=1):
        vocab.setdefault(a + b, len(chars) + r)
    for i, t in enumerate(texts):
        ids = []
        for w in [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]:
            s = list(w)
            for a, b in merges:
                s = greedy(s, a, b)
            ids.extend(vocab[sym] for sym in s)
        assert got[i] == (len(ids), ",".join(map(str, ids))), (t, merges)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),          # user
            st.integers(0, 20),         # minute offset
            st.sampled_from("ABC"),     # attr
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_scd2_matches_python_reference(rows, spark):
    # gaps-and-islands SCD2 vs an independent per-user Python loop
    from tidier_spark.operators.merge import scd2

    data = [
        (u, f"2024-01-01 00:{m:02d}:00", u * 100 + m, a) for u, m, a in rows
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts string, event_id long, attr string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        (r["user_id"], r["attr"], r["valid_from_us"], r["valid_to_us"],
         r["is_current"], r["n_obs"])
        for r in scd2(df, "user_id", "ts", "attr", "event_id").collect()
    )
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    byu = {}
    for u, m, a in sorted(rows, key=lambda r: (r[0], r[1])):
        byu.setdefault(u, []).append((base_us + m * 60_000_000, a))
    want = []
    for u, seq in byu.items():
        runs = []
        for t, a in seq:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, t, 1])
        for i, (a, t, n) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            want.append((u, a, t, nxt, nxt is None, n))
    assert got == sorted(want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(parts=st.integers(1, 7))
def test_ewma_layout_independent(parts, spark):
    # the EWMA result must not depend on the input partitioning — the
    # distributed-correctness property every window op rests on
    from tidier_spark.operators.temporal import ewma

    rows = [
        (i % 3, f"2024-01-01 00:{i:02d}:00", i, float(i * 7 % 50))
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    a = sorted(
        tuple(r) for r in ewma(df, "user_id", "ts", "value", "event_id").collect()
    )
    b = sorted(
        tuple(r)
        for r in ewma(
            df.repartition(parts, "event_id"), "user_id", "ts", "value", "event_id"
        ).collect()
    )
    assert a == b


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lspans=st.lists(
        st.tuples(st.integers(0, 48), st.integers(0, 10)),  # start-hr, len-hr
        min_size=1, max_size=10,
    ),
    rspans=st.lists(
        st.tuples(st.integers(0, 48), st.integers(0, 10)),
        min_size=1, max_size=10,
    ),
    bucket_hours=st.integers(1, 6),
)
def test_overlap_join_matches_naive_on_random_intervals(
    lspans, rspans, bucket_hours, spark
):
    from tidier_spark.operators.temporal import overlap_join

    def mk(spans, pre):
        return spark.createDataFrame(
            [
                (i, f"2024-01-0{1 + s // 24} {s % 24:02d}:00:00",
                 f"2024-01-0{1 + (s + l) // 24} {(s + l) % 24:02d}:00:00")
                for i, (s, l) in enumerate(spans)
            ],
            f"{pre}id long, {pre}s string, {pre}e string",
        ).selectExpr(
            f"{pre}id",
            f"CAST({pre}s AS TIMESTAMP) AS {pre}s",
            f"CAST({pre}e AS TIMESTAMP) AS {pre}e",
        )

    left, right = mk(lspans, "l"), mk(rspans, "r")
    got = sorted(
        (r["lid"], r["rid"])
        for r in overlap_join(
            left.withColumnRenamed("ls", "l_s").withColumnRenamed("le", "l_e"),
            right.withColumnRenamed("rs", "r_s").withColumnRenamed("re", "r_e"),
            left_start="l_s", left_end="l_e",
            right_start="r_s", right_end="r_e",
            bucket_seconds=bucket_hours * 3600,
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (s1, l1) in enumerate(lspans)
        for j, (s2, l2) in enumerate(rspans)
        if l1 > 0 and l2 > 0 and s1 < s2 + l2 and s2 < s1 + l1
    )
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 2880), st.integers(0, 50000)),
        min_size=1, max_size=20, unique_by=lambda r: (r[0], r[1]),
    )
)
def test_time_weighted_avg_matches_python_reference(rows, spark):
    from tidier_spark.operators.temporal import time_weighted_avg

    data = [
        (u, m, u * 10_000 + m, c / 100.0) for u, m, c in rows
    ]
    df = spark.createDataFrame(
        [(u, f"2024-01-0{1 + m // 1440} {(m % 1440) // 60:02d}:{m % 60:02d}:00", e, v)
         for u, m, e, v in data],
        "user_id long, ts string, event_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["user_id"], r["bucket_us"]): (r["twa_num"], r["twa_den"])
        for r in time_weighted_avg(
            df, "user_id", "ts", "value", "event_id", bucket_seconds=86400
        ).collect()
    }
    base = 1_704_067_200_000_000
    day = 86_400_000_000
    want = {}
    byu = {}
    for u, m, e, v in sorted(data, key=lambda r: (r[0], r[1], r[2])):
        byu.setdefault(u, []).append((base + m * 60_000_000, round(v * 100)))
    for u, seq in byu.items():
        for i, (t, vc) in enumerate(seq):
            b = (t // day) * day
            nxt = seq[i + 1][0] if i + 1 < len(seq) else None
            end = b + day
            dur = min(nxt if nxt is not None else end, end) - t
            kkey = (u, b)
            n0, d0 = want.get(kkey, (0, 0))
            want[kkey] = (n0 + vc * dur, d0 + dur)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    obs=st.lists(
        st.tuples(st.integers(0, 14), st.integers(-40000, 40000)),
        min_size=2, max_size=8, unique_by=lambda r: r[0],
    )
)
def test_gapfill_linear_matches_python_reference(obs, spark):
    from tidier_spark.operators.temporal import time_bucket_gapfill

    rows = [(1, f"2024-01-{d + 1:02d} 03:00:00", c / 100.0) for d, c in obs]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["bucket_us"]: (r["n"], r["v100"], r["filled"])
        for r in time_bucket_gapfill(
            df, "user_id", "ts", "value", bucket_seconds=86400, fill="linear"
        ).collect()
    }
    day = 86_400_000_000
    base = 1_704_067_200_000_000  # 2024-01-01 UTC
    pts = sorted((base + d * day, c) for d, c in obs)
    lo_d, hi_d = pts[0][0], pts[-1][0]
    observed = dict(pts)
    want = {}
    for b in range(lo_d, hi_d + 1, day):
        if b in observed:
            want[b] = (1, observed[b], False)
        else:
            pt = max(t for t, _ in pts if t < b)
            nt = min(t for t, _ in pts if t > b)
            pv, nv = observed[pt], observed[nt]
            num = (nv - pv) * (b - pt)
            interp = pv + (abs(num) // (nt - pt)) * (1 if num >= 0 else -1)
            want[b] = (0, interp, True)
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),                      # user
            st.integers(0, 30),                     # minute
            st.integers(0, 9),                      # tiebreak within minute
            st.sampled_from(["A", "B", "C", None]),  # attr incl. NULL
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda r: (r[0], r[1], r[2]),
    ),
    cut=st.integers(0, 30),
)
def test_scd2_merge_any_time_split_equals_full(rows, cut, spark):
    # incremental SCD2 over any time-ordered split must equal the full
    # recompute — the streaming-maintenance contract
    from tidier_spark.operators.merge import scd2, scd2_merge

    def mk(rs):
        # equal timestamps with distinct tiebreaks exercise same-instant
        # run boundaries; None attrs exercise NULL-as-value semantics
        return spark.createDataFrame(
            [
                (u, f"2024-01-01 00:{m:02d}:00", u * 1000 + m * 10 + tb, a)
                for u, m, tb, a in rs
            ],
            "user_id long, ts string, event_id long, attr string",
        ).withColumn("ts", F.to_timestamp("ts"))

    early = [r for r in rows if r[1] < cut]
    late = [r for r in rows if r[1] >= cut]

    def canon(df):
        # compare the PUBLIC scd2 columns; scd2_merge additionally
        # carries last_seen_us (its cross-batch in-order frontier, r10)
        pub = [c for c in df.columns if c != "last_seen_us"]
        return sorted(
            (tuple(r) for r in df.select(*pub).collect()),
            key=lambda t: (t[0], t[2], t[1] is None, t[1]
                           if t[1] is not None else ""),
        )

    full = canon(scd2(mk(rows), "user_id", "ts", "attr", "event_id"))
    if not early or not late:
        snap = None if not early else scd2(
            mk(early), "user_id", "ts", "attr", "event_id")
        inc = scd2_merge(
            snap, mk(late or early), "user_id", "ts", "attr", "event_id"
        ) if late else snap
        assert canon(inc) == full
        return
    snap = scd2(mk(early), "user_id", "ts", "attr", "event_id")
    inc = scd2_merge(snap, mk(late), "user_id", "ts", "attr", "event_id")
    assert canon(inc) == full


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ns=st.lists(
        st.integers(min_value=-(10**15), max_value=10**15),
        min_size=1, max_size=8, unique=True,
    ),
    d=st.integers(min_value=1, max_value=10**9),
)
def test_floordiv_helpers_match_python_floor(ns, d, spark):
    """_floordiv (Spark `div` + sign fix) and _floordiv_duck (DuckDB `//`
    + sign fix) must both equal Python's true floor division for any
    sign — the pre-epoch bucketing bug class (both engines' native
    integer division truncates toward zero)."""
    import duckdb

    from tidier_spark.operators.temporal import _floordiv, _floordiv_duck

    want = {n: n // d for n in ns}
    got_spark = {
        r["n"]: r["q"]
        for r in spark.createDataFrame([(n,) for n in ns], "n long")
        .selectExpr("n", f"{_floordiv('n', d)} AS q")
        .collect()
    }
    assert got_spark == want

    con = duckdb.connect()
    try:
        vals = ", ".join(f"({n})" for n in ns)
        got_duck = {
            r[0]: r[1]
            for r in con.execute(
                f"SELECT n, {_floordiv_duck('n', d)}"
                f" FROM (VALUES {vals}) t(n)"
            ).fetchall()
        }
    finally:
        con.close()
    assert got_duck == want


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),
            st.one_of(
                st.none(),
                st.integers(-1000, 1000).map(float),
            ),
        ),
        min_size=1,
        max_size=60,
    ),
    probs=st.lists(
        st.floats(0.0, 1.0, allow_nan=False).map(lambda p: round(p, 3)),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_exact_quantiles_property_matches_builtin(rows, probs, spark):
    """Any group sizes, duplicates, NULLs, and probabilities: the
    distributed exact_quantiles shape must be bit-equal to the built-in
    exact percentile aggregate (same interpolation arithmetic)."""
    from tidier_spark.operators.sketches import exact_quantiles

    df = spark.createDataFrame(rows, "g string, v double")
    agg = [
        F.expr(f"percentile(v, {p!r})").alias(f"p_{i}")
        for i, p in enumerate(probs)
    ]
    ref = {
        r["g"]: tuple(r[f"p_{i}"] for i in range(len(probs)))
        for r in df.groupBy("g").agg(*agg).collect()
        # groups whose values are all NULL: builtin emits NULLs,
        # exact_quantiles drops the group (documented divergence)
        if r["p_0"] is not None
    }
    mine = {
        r["g"]: tuple(r[f"q_{i}"] for i in range(len(probs)))
        for r in exact_quantiles(df, "v", probs, by="g").collect()
    }
    assert mine == ref
    # the coarse_groups regime (range-partitioned two-pass prefix,
    # parallel WITHIN groups) must be bit-equal too
    coarse = {
        r["g"]: tuple(r[f"q_{i}"] for i in range(len(probs)))
        for r in exact_quantiles(
            df, "v", probs, by="g", coarse_groups=True
        ).collect()
    }
    assert coarse == ref


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=40,
    )
)
def test_star_cc_property_matches_minlabel(edges, spark):
    """connected_components_star (large-star/small-star) and min-label
    propagation must agree on ANY multigraph — duplicate edges, both
    orientations, self-loops, isolated nodes, empty edge lists."""
    from tidier_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    n = 25
    nodes = spark.range(n).select(F.col("id"))
    e = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        e = e.limit(0)
    a = {
        r["id"]: r["cluster_id"]
        for r in connected_components(e, nodes).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(e, nodes).collect()
    }
    assert a == b


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),            # user
            st.integers(0, 50),           # second offset
            st.booleans(),                # is conversion
            st.integers(-500, 500),       # value in cents/100
        ),
        min_size=1,
        max_size=25,
    ),
    lookback_s=st.integers(1, 20),
)
def test_linear_attribution_matches_python_reference(rows, lookback_s, spark):
    """Random touch/conversion interleavings and lookback widths: per-pair
    fixed-point credit, touch counts, and window membership must match a
    direct python evaluation (window is (conv_t - lookback, conv_t])."""
    from tidier_spark.operators.temporal import linear_attribution

    data = [
        (u, i, s * 1_000_000, "purchase" if conv else "view", c / 100.0)
        for i, (u, s, conv, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_id long, us long, event_type string, value double"
    ).selectExpr(
        "user_id", "event_id", "timestamp_micros(us) AS ts",
        "event_type", "value"
    )
    lb_us = lookback_s * 1_000_000
    got = {
        r["event_id"]: (r["touched_cents"], r["n_convs"], r["credit_fp"])
        for r in linear_attribution(
            df.where("event_type = 'view'"),
            df.where("event_type = 'purchase'"),
            "user_id", "ts", "ts", "event_id", "event_id", "value",
            lookback_us=lb_us,
        ).collect()
    }

    touches = [(u, i, t, v) for (u, i, t, ty, v) in data if ty == "view"]
    convs = [(u, i, t, v) for (u, i, t, ty, v) in data if ty == "purchase"]
    want: dict = {}
    for cu, ci, ct, cv in convs:
        cents = round(cv * 100)
        hit = [
            ti
            for (tu, ti, tt, _) in touches
            if tu == cu and ct - lb_us < tt <= ct
        ]
        n = len(hit)
        for ti in hit:
            # truncate-toward-zero div, matching Spark div / DuckDB //
            q = abs(cents * 1_000_000) // n * (1 if cents >= 0 else -1)
            tc, nc, cf = want.get(ti, (0, 0, 0))
            want[ti] = (tc + cents, nc + 1, cf + q)
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=25,
    ),
    iters=st.integers(1, 4),
)
def test_pagerank_property_matches_python(edges, iters, spark):
    """graph.pagerank on arbitrary small directed multigraphs (self-loops
    and duplicate edges included — they legitimately raise out-degree)
    must equal a pure-Python integer power iteration with the same
    fixed-point rules."""
    from tidier_spark.operators.graph import pagerank

    nodes = list(range(10))
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = (
        spark.createDataFrame(edges, "id_a long, id_b long")
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    scale = 1_000_000_000
    got = {
        r["id"]: r["pr_fp"]
        for r in pagerank(edf, ndf, iters=iters, scale=scale).collect()
    }

    init = scale // len(nodes)
    base = (15 * init) // 100
    outdeg: dict = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {u: init for u in nodes}
    for _ in range(iters):
        recv = {u: 0 for u in nodes}
        for u, v in edges:
            recv[v] += pr[u] // outdeg[u]
        pr = {u: base + (85 * recv[u]) // 100 for u in nodes}
    assert got == pr


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lists=st.lists(
        st.lists(st.integers(0, 19), unique=True, min_size=1, max_size=8),
        min_size=1,
        max_size=3,
    ),
    k_const=st.integers(1, 90),
)
def test_rrf_fuse_property_matches_python(lists, k_const, spark):
    """rrf_fuse over arbitrary ranked id lists == the Python reference:
    sum of scale//(k_const+rank) per list containing the id, ordered by
    (total desc, id asc)."""
    from tidier_spark.operators.quality import rrf_fuse

    scale = 1_000_000
    rankings = [
        spark.createDataFrame(
            [(r + 1, d) for r, d in enumerate(ids)], "rank long, doc_id long"
        )
        for ids in lists
    ]
    got = [
        (r["rank"], r["doc_id"], r["rrf_fp"])
        for r in rrf_fuse(rankings, k_const=k_const, k=100, scale=scale).collect()
    ]

    total: dict = {}
    for ids in lists:
        for r, d in enumerate(ids):
            total[d] = total.get(d, 0) + scale // (k_const + r + 1)
    want = [
        (i + 1, d, total[d])
        for i, d in enumerate(sorted(total, key=lambda d: (-total[d], d)))
    ]
    assert got == want


# --- round-8 additions -------------------------------------------------------


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.text(min_size=0, max_size=24),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_string_key_literal_lockstep_property(vals, spark):
    """string_key_literal (Python) == _bucket_order_key string branch
    (Column) for ARBITRARY unicode — the static-split contract: a
    divergence silently re-introduces the ADVICE-r7 one-bucket skew.
    Batched: one createDataFrame per example, all values compared."""
    from tidier_spark.window import _bucket_order_key, string_key_literal

    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {
        r.s: r.k
        for r in df.select("s", _bucket_order_key(df, "s").alias("k")).collect()
    }
    for v in vals:
        assert got[v] == string_key_literal(v), repr(v)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ns=st.lists(
        st.integers(min_value=0, max_value=2**52),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_isqrt_sql_matches_math_isqrt_property(ns, spark):
    """_isqrt_sql == math.isqrt over [0, 2^52] — temperature_mix's
    cross-engine weight arithmetic rests on this being EXACT."""
    import math

    from pyspark.sql import functions as F

    from tidier_spark.operators.corpus import _isqrt_sql

    df = spark.createDataFrame([(n,) for n in ns], ["n"])
    got = {r.n: r.s for r in df.select("n", F.expr(_isqrt_sql("n")).alias("s")).collect()}
    for n in ns:
        assert got[n] == math.isqrt(n), n


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(
            min_value=0.0,
            max_value=9.0e13,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=50,
    )
)
def test_money_decimal_sum_cross_engine_property(vals, spark):
    """money_sum_pennies (Spark DECIMAL(38,2)) == the DuckDB mirror (with
    its shortest-repr VARCHAR hop) for arbitrary non-negative doubles up
    to 9e13 — spanning both sides of the 2^53-penny cliff where the
    default penny path stops being exact."""
    import duckdb
    import pandas as pd

    from pyspark.sql import functions as F

    from tidier_spark.money import money_sum_pennies, money_sum_pennies_sql

    pdf = pd.DataFrame({"v": vals})
    got = (
        spark.createDataFrame(pdf)
        .agg(F.expr(money_sum_pennies("v")).alias("s"))
        .collect()[0]
        .s
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        f"SELECT {money_sum_pennies_sql('v')} AS s FROM t"
    ).fetchone()[0]
    con.close()
    assert got == want, (got, want)

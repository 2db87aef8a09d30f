"""API-contract axis (verdict r07 task #5): degenerate / negative / zero
parameters across the public operator surface.

Contract: a meaningless parameter fails LOUDLY with a NAMED error (the
message names the function or the parameter and its valid range) at call
time — never a JVM arithmetic error deep inside a running job, a numpy
stack trace, silent garbage, or (the worst found) a JVM SIGSEGV
(``approx_count_distinct(rsd=0)`` crashes the whole session inside
HLL++'s prepare path).  Parameters with a SENSIBLE degenerate meaning are
documented passthroughs and pinned here instead:

* top-k ``k=0`` → empty result (generated pipelines produce k=0)
* ``n_per_group=0`` sampling → selects nothing
* ``frame=(0, 0)`` → the current row alone (a real 1-row frame)
* ``chunk_documents(stride > chunk_tokens)`` → gap sampling (documented)
* ``n_probe > n_lists`` → clamps to full probe (== exact)
* ``sessionize(gap_seconds=0)`` → ties share a session, any positive gap
  starts one

Probed empirically 2026-08-15 (round 8); every RAISE case below was a
crash, a misleading internal error, or silent garbage before the named
validation landed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F




@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (i, f"the quick brown fox {i} jumps over lazy dogs", "web", 7)
            for i in range(6)
        ],
        ["doc_id", "text", "source", "n_tokens"],
    )


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)], i % 2) for i in range(6)],
        ["vec_id", "embedding", "label"],
    )


@pytest.fixture(scope="module")
def ev(spark):
    return spark.createDataFrame(
        [(i, i % 2, float(i), "view") for i in range(6)],
        ["event_id", "user_id", "value", "event_type"],
    ).withColumn(
        "ts",
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("event_id") * 1_000_000
        ),
    )


# --- loud-and-named cases ---------------------------------------------------
# (case_id, module, build(df-kind) -> thunk, match regex)

RAISES = [
    # sketches — rsd=0 SIGSEGVed the JVM before the guard
    ("rsd_zero", "ev", lambda m, d: m.approx_n_distinct(d, "user_id", rsd=0.0),
     r"rsd must be in \(0, 1\)"),
    ("rsd_one", "ev", lambda m, d: m.approx_n_distinct(d, "user_id", rsd=1.0),
     r"rsd must be in \(0, 1\)"),
    ("hll_lgk", "ev", lambda m, d: m.hll_partials(d, "user_id", lg_k=3),
     r"lg_k must be in \[4, 21\]"),
    ("theta_lgk", "ev", lambda m, d: m.theta_partials(d, "user_id", lg_k=0),
     r"lg_k must be in \[4, 21\]"),
    ("kll_k", "ev", lambda m, d: m.kll_partials(d, "value", k=0),
     r"k must be in \[8, 65535\]"),
    ("exact_q_prob", "ev", lambda m, d: m.exact_quantiles(d, "value", [-0.5]),
     r"probabilities must be in \[0, 1\]"),
    ("approx_q_prob", "ev", lambda m, d: m.approx_quantiles(d, "value", [1.5]),
     r"probabilities must be in \[0, 1\]"),
    ("topk_k_neg", "ev",
     lambda m, d: m.topk_merged(m.topk_partials(d, "event_type"), k=-1),
     r"k must be >= 0"),
    ("topk_overfetch", "ev",
     lambda m, d: m.topk_merged(m.topk_partials(d, "event_type"), k=2, overfetch=0),
     r"overfetch must be >= 1"),
    ("hll_trail_days", "ev",
     lambda m, d: m.hll_trailing_distinct(d, "user_id", time_col="ts", window_days=0),
     r"window_days must be >= 1"),
    # dedup
    ("minhash_k0", "docs", lambda m, d: m.minhash_signatures(d, k=0),
     r"k must be >= 1"),
    ("minhash_bands0", "docs", lambda m, d: m.minhash_candidate_pairs(d, bands=0),
     r"bands must be >= 1"),
    ("minhash_bands_nodiv", "docs",
     lambda m, d: m.minhash_candidate_pairs(d, k=8, bands=3),
     r"must divide k"),
    ("shingle_n0", "docs", lambda m, d: m.near_dup_pairs(d, shingle_n=0),
     r"shingle_n must be >= 1"),
    ("ngram_shingle0", "docs", lambda m, d: m.ngram_jaccard_pairs(d, shingle_n=0),
     r"shingle_n must be >= 1"),
    ("emb_chunk0", "vecs", lambda m, d: m.embedding_near_dup(d, chunk_size=0),
     r"chunk_size must be >= 1"),
    ("emb_lsh_planes0", "vecs",
     lambda m, d: m.embedding_near_dup_lsh(d, n_planes=0),
     r"n_planes must be >= 1"),
    ("semantic_clusters0", "vecs",
     lambda m, d: m.semantic_dedup_pairs(d, n_clusters=0),
     r"semantic_dedup_pairs: n_clusters must be >= 1"),
    ("semantic_sample0", "vecs",
     lambda m, d: m.semantic_dedup_pairs(d, sample_size=0),
     r"semantic_dedup_pairs: sample_size must be >= 1"),
    ("simhash_block0", "docs",
     lambda m, d: m.simhash_candidate_pairs(d, block_bits=0),
     r"block_bits must be in"),
    ("simhash_hamming_neg", "docs",
     lambda m, d: m.simhash_candidate_pairs(d, max_hamming=-1),
     r"max_hamming must be >= 0"),
    # similarity
    ("cosine_k_neg", "vecs", lambda m, d: m.cosine_topk(d, k=-1),
     r"k must be >= 0"),
    ("lsh_planes0", "vecs", lambda m, d: m.lsh_topk(d, n_planes=0),
     r"n_planes must be >= 1"),
    ("ivf_lists0", "vecs", lambda m, d: m.ivf_topk(d, n_lists=0),
     r"n_lists must be >= 1"),
    ("ivf_probe0", "vecs", lambda m, d: m.ivf_topk(d, n_probe=0),
     r"n_probe must be >= 1"),
    ("pq_codes0", "vecs", lambda m, d: m.pq_topk(d, m=2, n_codes=0),
     r"n_codes must be >= 1"),
    ("kmeans_k0", "vecs", lambda m, d: m.kmeans_fit(d, k=0),
     r"n_clusters must be >= 1"),
    # corpus
    ("pack_budget0", "docs", lambda m, d: m.pack_sequences(d, budget=0),
     r"budget must be >= 1"),
    ("pack_budget_neg", "docs", lambda m, d: m.pack_sequences(d, budget=-5),
     r"budget must be >= 1"),
    ("hash_split_buckets0", "docs", lambda m, d: m.hash_split(d, buckets=0),
     r"buckets must be >= 1"),
    ("det_sample_neg", "docs",
     lambda m, d: m.deterministic_sample(d, -3, by="source"),
     r"n_per_group must be >= 0"),
    ("weighted_sample_neg", "docs",
     lambda m, d: m.weighted_sample(d, -1, weight_col="n_tokens"),
     r"n_per_group must be >= 0"),
    ("length_buckets_n0", "docs", lambda m, d: m.length_buckets(d, n_buckets=0),
     r"n_buckets must be >= 1"),
    ("length_buckets_batch0", "docs",
     lambda m, d: m.length_buckets(d, batch_size=0),
     r"batch_size must be >= 1"),
    # quality
    ("winsorize_inverted", "ev",
     lambda m, d: m.winsorize(d, "value", lower=0.9, upper=0.1),
     r"0 <= lower <= upper <= 1"),
    ("winsorize_lo_neg", "ev", lambda m, d: m.winsorize(d, "value", lower=-0.5),
     r"0 <= lower <= upper <= 1"),
    ("robust_k_neg", "ev", lambda m, d: m.robust_outliers(d, "value", k=-1.0),
     r"k must be >= 0"),
    ("hashed_dim0", "docs", lambda m, d: m.hashed_features(d, dim=0),
     r"dim must be >= 1"),
    ("bm25_k_neg", "docs", lambda m, d: m.bm25_topk(d, ["fox"], k=-1),
     r"k must be >= 0"),
    ("rrf_kconst0", "docs", lambda m, d: m.rrf_fuse([d], k_const=0),
     r"k_const must be >= 1"),
    # temporal
    ("sessionize_gap_neg", "ev",
     lambda m, d: m.sessionize(d, "user_id", "ts", -5),
     r"gap_seconds must be >= 0"),
    ("gapfill_bucket0", "ev",
     lambda m, d: m.time_bucket_gapfill(d, "user_id", "ts", "value", bucket_seconds=0),
     r"bucket_seconds must be >= 1"),
    ("twa_bucket0", "ev",
     lambda m, d: m.time_weighted_avg(d, "user_id", "ts", "value", "event_id", bucket_seconds=0),
     r"bucket_seconds must be >= 1"),
    ("ewma_lookback0", "ev",
     lambda m, d: m.ewma(d, "user_id", "ts", "value", "event_id", lookback=0),
     r"lookback must be >= 1"),
    ("funnel_steps_empty", "ev",
     lambda m, d: m.funnel(d, "user_id", "ts", "event_type", []),
     r"steps must be non-empty"),
    ("asof_tol_neg", "ev",
     lambda m, d: m.asof_join(
         d, d.select("ts", F.col("value").alias("v2"), "user_id"),
         on="user_id", time_col="ts", value_cols=["v2"], tolerance_us=-5),
     r"tolerance_us must be >= 0"),
    # text
    ("shingles_n0", "docs",
     lambda m, d: d.select(m.shingles("text", n=0)),
     r"n must be >= 1"),
]

MODS = {
    "ev": "tidier_spark.operators.sketches",
    "docs": "tidier_spark.operators.dedup",
    "vecs": "tidier_spark.operators.similarity",
}


def _mod_for(case_id: str):
    import tidier_spark.operators.corpus as cp
    import tidier_spark.operators.dedup as dd
    import tidier_spark.operators.graph as gr
    import tidier_spark.operators.quality as q
    import tidier_spark.operators.similarity as sim
    import tidier_spark.operators.sketches as sk
    import tidier_spark.operators.temporal as tp
    import tidier_spark.operators.text as tx

    # the longest matching prefix wins: "shingles_n0" is text.shingles,
    # not the dedup "shingle" family
    prefixes = (
        ("rsd", sk), ("hll", sk), ("theta", sk), ("kll", sk),
        ("exact_q", sk), ("approx_q", sk), ("topk", sk),
        ("minhash", dd), ("shingle", dd), ("ngram", dd), ("emb", dd),
        ("simhash", dd), ("semantic", dd),
        ("cosine", sim), ("lsh", sim), ("ivf", sim), ("pq", sim),
        ("kmeans", sim),
        ("pack", cp), ("hash_split", cp), ("det_sample", cp),
        ("weighted_sample", cp), ("length_buckets", cp),
        ("winsorize", q), ("robust", q), ("hashed", q), ("bm25", q),
        ("rrf", q),
        ("sessionize", tp), ("gapfill", tp), ("twa", tp), ("ewma", tp),
        ("funnel", tp), ("asof", tp),
        ("shingles", tx),
        ("pagerank", gr), ("cc_", gr),
    )
    hits = [(len(p), mod) for p, mod in prefixes if case_id.startswith(p)]
    if not hits:
        raise KeyError(case_id)
    return max(hits, key=lambda h: h[0])[1]


@pytest.mark.parametrize(
    "case_id,kind,thunk,match", RAISES, ids=[c[0] for c in RAISES]
)
def test_degenerate_param_raises_named(case_id, kind, thunk, match, request):
    frame = request.getfixturevalue(kind)
    mod = _mod_for(case_id)
    with pytest.raises(ValueError, match=match):
        # validation must fire at CALL time, before any job runs — the
        # thunk result is not even collected
        thunk(mod, frame)


def test_graph_iter_params_raise_named(spark):
    import tidier_spark.operators.graph as gr

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    with pytest.raises(ValueError, match=r"max_iter must be >= 1"):
        gr.connected_components(edges, nodes, max_iter=0)
    with pytest.raises(ValueError, match=r"iters must be >= 1"):
        gr.pagerank(edges, nodes, iters=0)


# --- documented passthroughs -------------------------------------------------


def test_topk_k0_is_empty(vecs, docs):
    from tidier_spark.operators.quality import bm25_topk
    from tidier_spark.operators.similarity import cosine_topk

    assert cosine_topk(vecs, k=0).count() == 0
    assert bm25_topk(docs, ["fox"], k=0).count() == 0


def test_sample_n0_selects_nothing(docs):
    from tidier_spark.operators.corpus import (
        deterministic_sample,
        weighted_sample,
    )

    assert deterministic_sample(docs, 0, by="source").count() == 0
    assert weighted_sample(docs, 0, weight_col="n_tokens").count() == 0


def test_frame_00_is_current_row(ev):
    from tidier_spark.mutate import mutate

    rows = (
        mutate(ev, m="avg(value)", order_by=["ts"], frame=(0, 0))
        .select("value", "m")
        .collect()
    )
    assert rows and all(r.m == r.value for r in rows)


def test_frame_reversed_raises_loud(ev):
    # lo > hi is not a frame; Spark names the bad comparison at analysis
    from pyspark.sql.utils import AnalysisException

    from tidier_spark.mutate import mutate

    with pytest.raises(AnalysisException):
        mutate(ev, m="avg(value)", order_by=["ts"], frame=(-3, -5)).collect()


def test_ivf_probe_clamps_to_full(vecs):
    from tidier_spark.operators.similarity import ivf_topk

    full = ivf_topk(vecs, k=2, n_lists=2, n_probe=2)
    over = ivf_topk(vecs, k=2, n_lists=2, n_probe=99)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, over.collect()))


def test_sessionize_gap0_ties_share_session(spark):
    from pyspark.sql import functions as F

    from tidier_spark.operators.temporal import sessionize

    df = spark.createDataFrame(
        [(1, 1_000_000), (2, 1_000_000), (3, 2_000_000)],
        ["event_id", "us"],
    ).select(
        "event_id",
        F.lit(1).alias("user_id"),
        F.timestamp_micros(F.col("us")).alias("ts"),
    )
    out = sessionize(df, "user_id", "ts", 0, tiebreak_cols=["event_id"])
    sess = {r.event_id: r.session_id for r in out.collect()}
    assert sess[1] == sess[2] != sess[3]


# --- temperature_mix (round 8) ----------------------------------------------


def test_isqrt_sql_exact_at_square_boundaries(spark):
    """floor(sqrt(double)) alone rounds UP across perfect squares; the
    fix-up must give exact integer sqrt at k^2-1 / k^2 / k^2+1 — including
    magnitudes where double ulp of n exceeds 1 but sqrt stays < 2^26."""
    from pyspark.sql import functions as F

    from tidier_spark.operators.corpus import _isqrt_sql

    cases = []
    for k in (1, 2, 3, 10, 1_000, 94_906_265):  # last: isqrt(2^53)-ish
        for n in (k * k - 1, k * k, k * k + 1):
            if n >= 0:
                cases.append(n)
    df = spark.createDataFrame([(n,) for n in cases], ["n"])
    got = {
        r.n: r.s
        for r in df.select("n", F.expr(_isqrt_sql("n")).alias("s")).collect()
    }
    import math

    for n in cases:
        assert got[n] == math.isqrt(n), (n, got[n], math.isqrt(n))


def test_temperature_mix_upweights_low_resource(spark):
    """alpha=0.5 must give the low-resource source a HIGHER keep rate
    than proportional mixing; alpha=1.0 must equal budget_mix with the
    sources' token totals as weights (proportional)."""
    from tidier_spark.operators.corpus import budget_mix, temperature_mix

    rows = [(i, "big", 100) for i in range(90)] + [
        (i + 1000, "small", 100) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])

    def thr(out):
        return {
            r.source: r.thr_ppm for r in out.select("source", "thr_ppm").distinct().collect()
        }

    t_sqrt = thr(temperature_mix(df, 5000, alpha=0.5))
    t_prop = thr(temperature_mix(df, 5000, alpha=1.0))
    # proportional: both sources keep the same fraction of their tokens
    assert t_prop["big"] == t_prop["small"]
    # temperature: the small source's keep rate strictly exceeds the big's
    assert t_sqrt["small"] > t_sqrt["big"]
    # alpha=1 == budget_mix with totals as weights
    bm = thr(budget_mix(df, 5000, {"big": 9000, "small": 1000}))
    assert bm == t_prop


def test_temperature_mix_trillion_token_totals(spark):
    """ADVICE r8: with alpha=1.0 the weight IS the per-source token
    total, so budget·w overflows BIGINT exactly at the trillion-token
    design scale — the products must route through 128-bit
    (DECIMAL(38,0) / HUGEINT).  Thresholds checked against exact
    Python integers; the keep-all regime (budget >= available, where
    even target·1e6 overflows) must clamp to 1e6, not raise."""
    from tidier_spark.operators.corpus import temperature_mix

    n_big, n_small = 3_000_000_000_000, 1_000_000_000_000  # 3T + 1T
    # 200 docs per source (the op returns KEPT rows only — enough docs
    # that every surviving threshold is observable)
    rows = [(i, "big", n_big // 200) for i in range(200)] + [
        (1000 + i, "small", n_small // 200) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")

    budget = 2_000_000_000_000  # 2T of 4T available
    got = {
        r.source: r.thr_ppm
        for r in temperature_mix(df, budget, alpha=1.0)
        .select("source", "thr_ppm")
        .distinct()
        .collect()
    }
    tw = n_big + n_small
    want = {
        s: min(10**6, (budget * n) // tw * 10**6 // n)
        for s, n in (("big", n_big), ("small", n_small))
    }
    assert got == want, (got, want)

    # keep-all regime: budget far past available -> thr = 1e6 everywhere
    # (pre-fix this path raised on target·1e6 > 2^63 before the clamp)
    keep_all = {
        r.thr_ppm
        for r in temperature_mix(df, 4_000_000_000_000_000, alpha=1.0)
        .select("thr_ppm")
        .distinct()
        .collect()
    }
    assert keep_all == {1_000_000}


def test_temperature_mix_trillion_matches_duckdb_mirror(spark):
    """The HUGEINT mirror reproduces the DECIMAL(38,0) thresholds
    bit-exactly at overflow-regime magnitudes."""
    import duckdb

    from tidier_spark.operators.corpus import temperature_mix, temperature_mix_sql

    rows = [(i, "big" if i < 30 else "small", 100_000_000_000)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    budget = 1_500_000_000_000
    got = sorted(
        (r.doc_id, r.source, r.thr_ppm)
        for r in temperature_mix(df, budget, alpha=1.0).collect()
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{s}', {n})" for i, s, n in rows)
            + ") t(doc_id, source, n_tokens)"
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                temperature_mix_sql(
                    "documents", budget, alpha=1.0, tokens_expr="n_tokens"
                )
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want, (got[:3], want[:3])


def test_temperature_mix_alpha_grid_enforced(spark):
    import pytest as _pytest

    from tidier_spark.operators.corpus import temperature_mix

    df = spark.createDataFrame([(1, "a", 10)], ["doc_id", "source", "n_tokens"])
    with _pytest.raises(ValueError, match="alpha must be 1.0, 0.5 or 0.25"):
        temperature_mix(df, 100, alpha=0.3)
    with _pytest.raises(ValueError, match="budget_tokens must be >= 0"):
        temperature_mix(df, -1)


# --- eval metrics (round 8) ---------------------------------------------------


def test_auc_exact_hand_computed_with_ties(spark):
    """Hand-checkable AUC: scores [1,2,2,3], labels [0,0,1,1].
    Pairs (pos, neg): (2a,1)=win, (2a,2b-neg? no 2 neg is score2) ...
    ranks (avg): 1->1, 2->2.5, 2->2.5, 3->4.  U = (2.5+4) - 2*3/2 = 3.5;
    AUC = 3.5/(2*2) = 0.875."""
    from tidier_spark.operators.evalmetrics import auc_exact

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (2, 1), (3, 1)], ["s", "y"]
    )
    r = auc_exact(df, "s", "y").collect()[0]
    assert (r.n_pos, r.n_neg) == (2, 2)
    assert r.auc_num == 7 and r.auc_den == 8  # 2U = 7
    assert abs(r.auc - 0.875) < 1e-12


def test_auc_exact_perfect_and_inverted(spark):
    from tidier_spark.operators.evalmetrics import auc_exact

    perfect = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], ["s", "y"]
    )
    inverted = spark.createDataFrame(
        [(4, 0), (3, 0), (2, 1), (1, 1)], ["s", "y"]
    )
    assert auc_exact(perfect, "s", "y").collect()[0].auc == 1.0
    assert auc_exact(inverted, "s", "y").collect()[0].auc == 0.0


def test_auc_exact_single_class_is_null(spark):
    from tidier_spark.operators.evalmetrics import auc_exact

    df = spark.createDataFrame([(1, 1), (2, 1)], ["s", "y"])
    r = auc_exact(df, "s", "y").collect()[0]
    assert r.n_neg == 0 and r.auc is None


def test_auc_exact_matches_sklearn_formula_random(spark):
    """Differential vs a plain-Python rank-sum on random data with heavy
    ties — including NULL scores/labels which must be excluded."""
    import random

    from tidier_spark.operators.evalmetrics import auc_exact

    rng = random.Random(8)
    rows = [
        (
            rng.choice([None, *range(10)]),
            rng.choice([None, 0, 1]),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "s int, y int")
    r = auc_exact(df, "s", "y").collect()[0]
    clean = [(s, y) for s, y in rows if s is not None and y is not None]
    pos = sorted(s for s, y in clean if y)
    neg = sorted(s for s, y in clean if not y)
    wins = sum(
        (1.0 if p > n_ else 0.5 if p == n_ else 0.0)
        for p in pos
        for n_ in neg
    )
    want = wins / (len(pos) * len(neg))
    assert abs(r.auc - want) < 1e-12, (r.auc, want)
    assert r.auc_num == int(round(2 * wins))


def test_auc_exact_ungrouped_uses_distributed_prefix(spark):
    """Verdict r08 task #2: a CONTINUOUS score makes distinct ~= rows,
    so the ungrouped rank prefix must be the two-pass bucketed lowering
    (scale_safe_cumulative), not a global single-task window.  The plan
    carries the per-bucket prefix stage (__pid), and the result is
    bit-identical to the hand rank-sum (exact integer prefix)."""
    import random

    from tidier_spark.operators.evalmetrics import auc_exact
    from tidier_spark.plans import explain_str

    rng = random.Random(9)
    # continuous-ish scores: 400 rows, ~all distinct
    rows = [(rng.random(), rng.choice([0, 1])) for _ in range(400)]
    df = spark.createDataFrame(rows, "s double, y int").repartition(8)
    out = auc_exact(df, "s", "y")
    assert "__pid" in explain_str(out, "simple")
    r = out.collect()[0]
    pos = sorted(s for s, y in rows if y)
    neg = sorted(s for s, y in rows if not y)
    wins = sum(
        (1.0 if p > n_ else 0.5 if p == n_ else 0.0)
        for p in pos
        for n_ in neg
    )
    assert r.auc_num == int(round(2 * wins))
    assert r.auc_den == 2 * len(pos) * len(neg)


def test_auc_exact_static_splits_bit_identical(spark):
    """r13: caller-supplied ``split_points`` replace the percentile scan
    over the raw eval rows (one less full pass; the eval_auc entry uses
    uniform ppm cuts).  ANY monotone literals must give the bit-identical
    integer result — balanced cuts, lopsided cuts, cuts entirely outside
    the score range (everything lands in one bucket), and singleton
    lists all agree with the percentile-derived path."""
    import random

    from tidier_spark.operators.evalmetrics import auc_exact

    rng = random.Random(13)
    rows = [
        (rng.choice([None, *range(200)]), rng.choice([None, 0, 1]))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "s int, y int").repartition(8)
    want = auc_exact(df, "s", "y").collect()[0]
    for splits in (
        [50, 100, 150],          # balanced
        [1, 2, 3, 198],          # lopsided
        [-500, -400],            # entirely below the data: one bucket
        [10_000],                # entirely above
        [100],                   # singleton
    ):
        got = auc_exact(df, "s", "y", split_points=splits).collect()[0]
        assert (got.n_pos, got.n_neg, got.auc_num, got.auc_den) == (
            want.n_pos, want.n_neg, want.auc_num, want.auc_den,
        ), splits


def test_auc_exact_split_points_rejected_with_by(spark):
    """Static splits drive only the ungrouped prefix; with ``by=`` they
    would be silently ignored, so the combination is an error."""
    from tidier_spark.operators.evalmetrics import auc_exact

    df = spark.createDataFrame([(1, 1, "a"), (2, 0, "a")], "s int, y int, g string")
    with pytest.raises(ValueError, match="ungrouped"):
        auc_exact(df, "s", "y", by="g", split_points=[1])


def test_auc_exact_empty_split_points_rejected(spark):
    """An empty list is not "no splits": it must not fall back to the
    percentile pass the caller asked to skip."""
    from tidier_spark.operators.evalmetrics import auc_exact

    df = spark.createDataFrame([(1, 1), (2, 0)], "s int, y int")
    with pytest.raises(ValueError, match="empty"):
        auc_exact(df, "s", "y", split_points=[])


def test_auc_exact_split_points_deduplicated(spark):
    """Repeated caller cuts add no bucket comparisons to the plan."""
    from tidier_spark.operators.evalmetrics import auc_exact
    from tidier_spark.plans import explain_str

    df = spark.createDataFrame([(1, 1), (2, 0), (200, 1)], "s int, y int")

    def n_cases(splits):
        out = auc_exact(df, "s", "y", split_points=splits)
        return explain_str(out, "extended").count("CASE WHEN")

    assert n_cases([100, 50, 100, 50]) == n_cases([50, 100])


def test_calibration_bins_arithmetic(spark):
    from tidier_spark.operators.evalmetrics import calibration_bins

    df = spark.createDataFrame(
        [
            (50_000, 0), (150_000, 1),     # bins 0, 1
            (999_999, 1), (1_000_000, 1),  # bin 9 (top edge clamps)
            (-5, 0), (2_000_000, 1),       # clamp low -> 0, high -> 9
        ],
        ["s", "y"],
    )
    got = {
        r.bin: (r.n, r.n_pos, r.pos_rate_ppm)
        for r in calibration_bins(df, "s", "y", n_bins=10).collect()
    }
    assert got[0] == (2, 0, 0)       # 50_000 and the clamped -5
    assert got[1] == (1, 1, 1_000_000)
    assert got[9] == (3, 3, 1_000_000)


def test_calibration_bins_params_validated(spark):
    import pytest as _pytest

    from tidier_spark.operators.evalmetrics import calibration_bins

    df = spark.createDataFrame([(1, 0)], ["s", "y"])
    with _pytest.raises(ValueError, match="n_bins must be >= 1"):
        calibration_bins(df, "s", "y", n_bins=0)
    with _pytest.raises(ValueError, match="score_scale must be >= 1"):
        calibration_bins(df, "s", "y", score_scale=0)


# --- NaN contract (round 8, nanvals axis) -------------------------------------


def test_complete_fill_preserves_nan_in_present_rows(spark):
    """fill targets only the left-join NULLs of ABSENT combinations —
    Spark's df.fillna would also rewrite a genuine NaN aggregate in
    present rows (silent corruption; nanvals axis)."""
    import math

    from tidier_spark.verbs import complete

    df = spark.createDataFrame(
        [(1, "a", float("nan")), (2, "b", 5.0)], ["k", "g", "v"]
    )
    out = {(r.k, r.g): r.v for r in complete(df, "k", "g", fill={"v": 0.0}).collect()}
    assert math.isnan(out[(1, "a")])          # present NaN survives
    assert out[(2, "b")] == 5.0
    assert out[(1, "b")] == 0.0 and out[(2, "a")] == 0.0  # absent filled


def test_complete_fill_type_mismatch_skipped_like_fillna(spark):
    """ADVICE r8: the NULL-only fill must keep fillna's type guard — a
    mismatched fill value is SKIPPED, never coerced through
    when/otherwise's common type (fill={'s': 0} on a string column must
    NOT rewrite NULL -> '0'); and pre-existing explicit NULLs in
    present rows ARE fill targets (same as fillna)."""
    from tidier_spark.verbs import complete

    df = spark.createDataFrame(
        [(1, "a", None, None), (2, "b", "x", 5.0)],
        "k int, g string, s string, v double",
    )
    out = {
        (r.k, r.g): (r.s, r.v)
        for r in complete(df, "k", "g", fill={"s": 0, "v": 0.0}).collect()
    }
    # int fill on a string column: skipped — present-row NULL stays NULL
    assert out[(1, "a")] == (None, 0.0)  # v's explicit NULL IS filled
    assert out[(2, "b")] == ("x", 5.0)
    assert out[(1, "b")] == (None, 0.0)  # absent row: s skipped, v filled
    # bool fill on a double column is also a mismatch (fillna rule)
    out2 = {
        (r.k, r.g): r.v
        for r in complete(df, "k", "g", fill={"v": True}).collect()
    }
    assert out2[(1, "b")] is None


def test_validate_between_counts_nan_both_engines(spark):
    """A NaN measure is a RANGE VIOLATION: Spark side via the
    order-robust NOT(lo <= v AND v <= hi); the DuckDB mirror needs an
    explicit isnan disjunct because its vectorized column comparators
    return NaN >= lo AND NaN <= hi both TRUE (measured, v1.0)."""
    import duckdb
    import pandas as pd

    from tidier_spark.operators.expectations import validate, validate_sql

    rules = {"v": [("between", -10, 10)]}
    # build the Spark frame row-wise: the pandas path would collapse the
    # NULL into NaN (float columns can't hold None) — exactly the
    # distinction under test
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (99.0,), (None,)], "v double"
    )
    got = {r.rule: r.n_violations for r in validate(df, rules).collect()}
    assert got["between_-10_10"] == 2  # NaN + 99; NULL passes
    con = duckdb.connect()
    # VALUES, not a registered pandas frame: DuckDB's pandas scan
    # converts NaN to NULL on ingestion, which would hide the case
    con.execute(
        "CREATE VIEW t AS SELECT * FROM (VALUES (1.0::DOUBLE),"
        " ('nan'::DOUBLE), (99.0::DOUBLE), (NULL::DOUBLE)) AS x(v)"
    )
    want = con.execute(validate_sql("t", rules)).df()
    con.close()
    assert int(want.loc[0, "n_violations"]) == 2


def test_stream_ewma_nan_raises_named_null_skips(spark, tmp_path):
    """True NaN raises the named fixed-point error (matching the batch
    engine's ANSI penny cast); NULL still skips — the JVM-side isNull
    flag is what separates them across the Arrow crossing."""
    import pyspark
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tidier_spark.streaming import run_stream, stream_ewma

    def make_stream(vals):
        import pyarrow as pa
        import pyarrow.parquet as pq_

        d = tmp_path / f"ewma_{'n' if any(v != v for v in vals if v is not None) else 'x'}"
        d.mkdir()
        pq_.write_table(
            pa.table(
                {
                    "user_id": [1] * len(vals),
                    "ts": pa.array(
                        [1_700_000_000_000_000 + i * 1_000_000 for i in range(len(vals))],
                        type=pa.timestamp("us"),
                    ),
                    "event_id": list(range(len(vals))),
                    "value": pa.array(vals, type=pa.float64()),
                }
            ),
            str(d / "part-0.parquet"),
        )
        sch = spark.read.parquet(str(d)).schema
        return spark.readStream.schema(sch).parquet(str(d))

    # NULL skips: runs clean, den reflects only the non-NULL lag
    ok = stream_ewma(
        make_stream([1.0, None, 3.0]),
        key_col="user_id", time_col="ts", value_col="value",
        tiebreak_col="event_id", lookback=2,
    )
    rows = run_stream(ok, name="ewma_nan_ok", output_mode="append").collect()
    assert len(rows) == 3
    # NaN raises the named error through the streaming engine
    bad = stream_ewma(
        make_stream([1.0, float("nan")]),
        key_col="user_id", time_col="ts", value_col="value",
        tiebreak_col="event_id", lookback=2,
    )
    with _pytest.raises(Exception, match="penny fixed point"):
        run_stream(bad, name="ewma_nan_bad", output_mode="append").collect()

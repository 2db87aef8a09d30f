"""Board-wide cardinality-edge sweep: run EVERY queries() entry, and its
DuckDB oracle, against (a) empty tables and (b) single-row tables.

The shipped fixtures never exercise these sizes, so every entry's
empty/1-row path is fixture-blind by construction.  The sweep classifies
each entry per fixture:

* ``match``        — Spark and oracle agree (rows + sorted-column values)
* ``both_empty``   — both produced zero rows
* ``loud_both``    — both engines raised (acceptable: loud fail)
* ``spark_err``    — Spark raised, oracle did not (or vice versa:
  ``oracle_err``) — POTENTIAL DIVERGENCE, listed for triage
* ``mismatch``     — both ran, different results — REAL DIVERGENCE

Usage: python scripts/edge_sweep.py
       [empty|one|onegroup|nullkeys|preepoch|unitext|magnitude|dupids|ordties|constval|zerovec|alldup|longdoc|clockskew|nullvals|manyfiles|emptystr|tz|negvals|nanvals|decvals|sfjump|late|dupdocs|redeliver|skewkeys|manybatches]
       [q ...]
(``onegroup`` = all rows share one grouping key / join key per table —
the single-giant-group and hot-key regime; ``nullkeys`` = the same key
columns rewritten to ALL NULL — SQL's NULLs-form-one-window-partition
vs NULL-never-equi-joins split, board-wide; ``preepoch`` = every
timestamp/date column shifted 60 years into the past — all epoch
arithmetic goes negative, board-wide; ``magnitude`` = events.value
scaled by 1e13 so the penny fixed-point (round(value*100) BIGINT)
lands near BIGINT max — any multi-row sum overflows: Spark ANSI raises
where DuckDB silently promotes to HUGEINT.  The PINNED contract: a
Spark-side ARITHMETIC_OVERFLOW on a fixed-point family entry is the
DESIRED loud behavior at 100 TB (silent wraparound is the failure
mode); such entries classify ``pinned`` via MAGNITUDE_PINS below;
``dupids`` = every primary id collapsed by ``id // 2``, applied at the
PK *and* every FK site of the same key so referential structure stays
coherent — each id now names ~2 rows, so upsert/SCD2/as-of tie
handling, rank ties, and m:n join fan-out all activate board-wide;
``ordties`` = ``events.ts`` floored to the hour — the one fine-grained
ORDER BY column on the board gains heavy tie groups, so any window /
ranking / as-of / sessionize path whose tie-break is not a total order
goes nondeterministic and diverges from the oracle.  On the shipped
fixtures ``ts`` is unique, so a tie-break fix is hash-preserving by
construction; ``clockskew`` = every table's PHYSICAL row order
deterministically shuffled — arrival order no longer correlates with
any timestamp or id, so any implicit reliance on file order (batch
first()/limit without sort, streaming in-order-arrival assumptions
inside a micro-batch) diverges; both engines read the same shuffled
files, so order-independent entries still match; ``nullvals`` = every
MEASURE/content column rewritten to ALL NULL (events.value, lineitem
amounts, o_totalprice, documents.text, embeddings.embedding) — the
value-side complement of ``nullkeys``: R na.rm vs SQL NULL aggregate
identities, fixed-point rounding of NULL, text/vector operators over
fully-NULL content, trainers over an effectively empty corpus;
``manyfiles`` = every table written as ~40 single-row-group parquet
slices in SHUFFLED slice order — stresses source-level file-order
independence, AQE partition coalescing over tiny splits, and any
one-file assumption; ``emptystr`` = text/content columns rewritten to
'' (the OTHER no-content spelling vs nullvals' NULL) — the tokenless
convention must hold for empty strings too; ``tz`` = the DATA is
unchanged but the whole HOST moves to Asia/Kolkata (UTC+05:30 — a
half-hour offset catches date-boundary bugs a whole-hour zone never
will): the Spark session is created with session+JVM timezone
Kolkata, the Python process TZ is Kolkata, and DuckDB's TimeZone is
Kolkata.  The engine contract is that results are HOST-TZ-INDEPENDENT
— read_table pins spark.sql.session.timeZone=UTC at every scan
(sources/__init__.py) and the oracles are naive-timestamp arithmetic
— so every entry must still hash-match the same UTC oracle; any flag
is a real tz leak (a pre-pin literal, a JVM-default-tz legacy path, a
Python-side local-time conversion, a tz-sensitive DuckDB function);
``negvals`` = every measure/money column SIGN-FLIPPED (events.value,
lineitem amounts, o_totalprice) — the negative-operand regime no
fixture reaches: the axis CONFIRMS both engines' negative integer
``div``/``%`` semantics agree (measured: Spark ``div`` and DuckDB
``//`` both truncate toward zero, -7//2 = -3 — they do NOT split
truncate-vs-floor), and exercises penny rounding of negative halves,
winsorize/quantile bounds below zero, EWMA/regression sign handling;
``decvals`` = money columns retyped DECIMAL(15,2) — the TPC-H spec's
own type (see DECVAL_COLS) — so the board runs on the real decimal
money schema: decimal scans, decimal arithmetic/aggregation scale
rules, and the decimal→pandas crossing (Spark emits exact Decimal
objects where DuckDB's pandas conversion emits float64).  Mismatches
classify ``pinned`` via the CHECKED half-ULP-of-emitted-scale rule
(_decvals_half_ulp_ok): representational drift passes, value drift
like the pre-fix quantile_cont midpoint quantization still flags;
``sfjump`` = the sf-JUMP probe (verdict r8 task #7b): a ~sf1 dataset
built by replicating the sf0.1 fixtures SFJUMP_REPLICAS (default 10)
times with FK-coherent key offsets — the same key domain offsets at
its PK and every FK site, nation/region held fixed like TPC-H's own
sf scaling, timestamps unchanged so event density rises 10x — then
the FULL board runs strict Spark-vs-oracle on it.  The point is
size-dependent plan cliffs the fixed 3-sf gate cannot see: AQE
broadcast-threshold flips, sampled-boundary drift, sort-merge vs
broadcast join switches, overflow at 10x sums.  Uses local[32] /
32 shuffle partitions (the bench profile) instead of the 8/8 the
small axes use, and records per-entry spark/oracle wall seconds in
the output JSON so stragglers are visible, not silently capped.)
Writes /tmp/edge_sweep_<kind>.json with the full classification.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SRC = os.environ.get("EDGE_SWEEP_SRC", "/root/testdata/sf0.001")


# onegroup: collapse the usual grouping keys to ONE value per table —
# every per-group operator sees a single giant group, every equi-join a
# single hot key (both engines read the same rewritten files, so the
# oracle differential stays valid)
ONEGROUP_CONSTS = {
    "events": {"user_id": 1, "event_type": "view"},
    "lineitem": {"l_returnflag": "A", "l_linestatus": "O"},
    "orders": {"o_orderpriority": "1-URGENT", "o_orderstatus": "O"},
    "customer": {"c_mktsegment": "BUILDING", "c_nationkey": 1},
    "supplier": {"s_nationkey": 1},
    "documents": {"lang": "en", "source": "web"},
    "embeddings": {"label": 0},
}


# dupids: id columns collapsed by ``id // 2`` per table.  The SAME key
# collapses at its PK and FK sites (o_orderkey and l_orderkey both
# halve), so joins stay referentially coherent but become m:n — and
# every "unique id" assumption (upsert keys, SCD2 entity ids, as-of
# series ids, rank tie-breaks) faces a 2-row id.
DUPID_COLS = {
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


# negvals: measure/money columns sign-flipped per table
NEGVAL_COLS = {
    "events": ("value",),
    "lineitem": ("l_quantity", "l_extendedprice", "l_tax"),
    "orders": ("o_totalprice",),
}


# decvals: money columns retyped DECIMAL(15,2) — the TPC-H spec's own
# type for them (the shipped fixture uses double).  The axis runs the
# board on the "real 100 TB money schema" (money.py's phrase): decimal
# scans, decimal arithmetic/aggregation, decimal->pandas crossing —
# engine divergences here are exactly what a decimal-schema user hits.
# Values are quantized HALF_UP at 2dp before retyping (fixture money
# columns already carry <= 2dp, so this is a representation change,
# not a value change) and BOTH engines read the same rewritten files.
DECVAL_COLS = {
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
    # r10 (verdict r9 task #5): events.value rides the axis too, so the
    # 13 STREAMING entries (and every batch entry over events) cross
    # decimal through watermarked aggs, stream-stream joins, and the
    # applyInPandasWithState Arrow boundary — the r8 nanvals lesson says
    # the pandas-tier crossing is where a type breaks silently.  The
    # fixture's value column is exactly 2dp (verified 3 sfs), so this
    # stays a representation change.
    "events": ("value",),
}


# nullvals: measure/content columns nulled per table (the value-side
# complement of nullkeys' key columns)
NULLVAL_COLS = {
    "events": ("value",),
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "documents": ("text",),
    "embeddings": ("embedding",),
}


# sfjump: every int64 key column, grouped by the DOMAIN it draws from —
# replica i adds i*stride(domain) at the PK and every FK site of the
# same domain, so referential structure is exactly 10 disjoint copies
# of the sf0.1 universe sharing one nation/region dimension (TPC-H
# itself holds nation/region fixed across sf).  Strides are computed
# from the base data (next power of 10 above the domain's max), so
# replica key ranges can never collide.
SFJUMP_KEY_COLS = {
    "customer": {"c_custkey": "custkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    # user_id is an FK into customer.c_custkey (fk_orphans, stream
    # enrich, oracle joins) — it must ride the custkey domain's stride
    # or replicas 1..N-1's events reference no customer (ADVICE r9).
    "events": {"event_id": "event_id", "user_id": "custkey"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
# domain -> (owning table, PK column) for stride derivation
SFJUMP_DOMAIN_PK = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "event_id": ("events", "event_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
SFJUMP_REPLICAS = int(os.environ.get("SFJUMP_REPLICAS", "10"))
# embeddings jumps 2x, not 10x: the exact-cosine families (cosine_topk,
# knn_join, dedup_embedding, semantic_dedup and their oracles) are
# all-pairs BY DOCUMENTED DESIGN (the exact-oracle forms), so cost is
# quadratic in the vector count — 10x vectors = 100x pairs (400M x 64d
# at 20k, hours in either engine).  2x vectors still quadruples the
# pair count (16M), which is enough to move AQE/broadcast boundaries,
# while the scale path for vectors is the LSH/IVF/PQ families, which
# DO ride the full jump via their bounded structures.
SFJUMP_TABLE_REPLICAS = {"embeddings": min(2, SFJUMP_REPLICAS)}
SFJUMP_SRC = os.environ.get("SFJUMP_SRC", "/root/testdata/sf0.1")

# sfjump: entries whose OUTPUT is quadratic in the replication factor —
# they emit candidate PAIRS, and 10 exact copies of every document turn
# each base near-pair into ~100 pairs (simhash_pairs measured >300M rows
# at 10x docs).  Materializing that driver-side to compare is a harness
# failure mode, not an engine one (the engine never collects it), so
# these entries compare IN-ENGINE: exact row count plus an
# order-insensitive polynomial checksum over the (all-integer) output
# columns, built from the SAME SQL text in Spark and DuckDB
# (P = 2^31-1 keeps the per-row hash < 2^31 and every intermediate
# within BIGINT; the checksum SUM stays < 2^63 up to ~4e9 rows).  A
# dropped row, fabricated row, or any drifted integer cell moves the
# sum.  entry -> ordered integer output columns.
SFJUMP_INT_AGG = {
    "simhash_pairs": ["id_a", "id_b", "hamming"],
    # fuzzy_names: replicated customers carry IDENTICAL name strings, so
    # every base near-pair fans out ~100x across replica combinations
    # plus C(10,2) distance-0 pairs per distinct name (~20M+ rows at the
    # jump) — the r10 full-board run spent >15 min inside the
    # driver-side canon of this one entry before the in-engine checksum
    # was adopted for it
    "fuzzy_names": ["id_a", "id_b", "dist"],
}

# sfjump: the four approximate-ANN guarantee entries pin their
# recall_decile oracle cell per KNOWN fixture corpus size (CASE 500 →
# measured, 2000 → measured) because the approx structure itself is
# not SQL-mirrorable; at the jump size (4000 vectors) the CASE has no
# arm and yields NULL.  The pin below is CHECKED, not blanket: it
# accepts ONLY a single-row result where metric, n_exact (the LIVE
# exact-vs-approx differential) and recall_ok (the declared recall
# bound, which must be 'True') agree cell-exactly and the oracle's
# recall_decile is NULL while Spark's is a real value — any drift in
# the verified cells still flags as mismatch.
SFJUMP_DECILE_PIN = {"lsh_topk", "ivf_topk", "pq_topk", "ivfpq_topk"}


def _sfjump_decile_pin_ok(s_rows: list, o_rows: list, cols: list) -> bool:
    if len(s_rows) != 1 or len(o_rows) != 1 or len(cols) != 4:
        return False
    # canon sorts columns by name: metric, n_exact, recall_decile, recall_ok
    if sorted(cols) != ["metric", "n_exact", "recall_decile", "recall_ok"]:
        return False
    s, o = s_rows[0], o_rows[0]
    return (
        s[0] == o[0]
        and s[1] == o[1]
        and s[3] == o[3] == "True"
        and o[2] == "<NA>"
        and s[2] != "<NA>"
    )


# sfjump: oracle REWRITES for entries whose shipped oracle is a
# documented brute-force quadratic scan — "fine at check scale, never
# the Spark plan" stops holding at 150k customers (22.5e9 levenshtein
# pairs).  The override is still an EXACT oracle: FastSS
# deletion-neighborhood candidates are provably complete for
# levenshtein distance <= 1 (equal strings share the 0-deletion
# variant; a substitution deletes the differing position on both
# sides; an insertion/deletion matches the shorter's 0-deletion to the
# longer's 1-deletion), and the final levenshtein verify removes false
# candidates.  Verified row-identical to the brute-force oracle at
# sf0.01 (19,500 pairs) before adoption.  The driver's own gate keeps
# the independent brute-force oracle at its scales.
SFJUMP_ORACLE_OVERRIDE = {
    "fuzzy_names": """
WITH names AS (SELECT c_custkey AS id, c_name AS name FROM customer),
dels AS (
  SELECT id, name,
         substr(name, 1, CAST(i AS INT) - 1)
           || substr(name, CAST(i AS INT) + 1) AS variant
  FROM (SELECT id, name, unnest(range(1, len(name) + 1)) AS i FROM names)
),
vars AS (
  SELECT id, name, name AS variant FROM names
  UNION ALL SELECT id, name, variant FROM dels
),
cand AS (
  SELECT DISTINCT a.id AS id_a, a.name AS name_a,
                  b.id AS id_b, b.name AS name_b
  FROM vars a JOIN vars b USING (variant)
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 1
""",
}


def _int_checksum_exprs(cols: list) -> list[str]:
    p = 2_147_483_647  # 2^31 - 1
    acc = "CAST(0 AS BIGINT)"
    for c in cols:
        # coalesce BEFORE the fold: a NULL cell would otherwise null the
        # whole row's hash and silently drop it from the SUM (ADVICE r9).
        # The sentinel's residue ((p - p//2) after normalization) sits
        # far from the small-integer range real columns occupy, so a
        # NULL<->value drift moves the checksum with the same
        # hash-collision odds as any other drifted cell.
        acc = (
            f"(({acc} * 31 + ((coalesce(CAST({c} AS BIGINT), {-(p // 2)})"
            f" % {p}) + {p}) % {p}) % {p})"
        )
    return [
        "CAST(count(*) AS BIGINT) AS n_rows",
        f"CAST(coalesce(sum({acc}), 0) AS BIGINT) AS checksum",
    ]


# nanvals axis: oracle-side crashes that are DuckDB ENGINE LIMITS, not
# repo defects — Spark's side completes with deterministic IEEE
# propagation (corr/stddev over a NaN window -> NaN output) or its
# documented NaN-largest ordering; DuckDB 1.0 throws from inside its
# aggregate kernels.  entry -> regex the ORACLE error must match.
NANVALS_ORACLE_ERR_PINS = {
    "rolling_corr": "Out of Range Error: STDDEV",
    "median_frame": "std::exception",
    "frame_apply_median": "std::exception",
}

# nanvals axis: the pandas tier (Tier C) receives SQL NULL and NaN as
# the SAME nan in float Arrow columns — a representational limit, so
# Tier C's documented convention is NaN == missing (the R na.rm
# analog).  The SQL oracle instead propagates NaN.  Pin is CHECKED:
# every oracle row whose cells are all defined must appear in Spark's
# rows (only NaN-poisoned cells may differ), same row count.
NANVALS_DEFINED_SUBSET = {"frame_apply_wmean"}

# late axis: the five stateful operators enforce the cross-batch
# in-order arrival contract LOUDLY (r10 — _frontier_guard / the
# scd2_merge last_seen guard; Spark leaves late-row filtering to the
# operator for applyInPandasWithState and foreachBatch).  A spark_err
# whose message is the NAMED contract error is the pinned contract;
# any other error still flags.
LATE_ERR_PINS = {
    "stream_ewma": r"LateEventError.*stream_ewma|stream_ewma: event .* BEHIND",
    "stream_trailing": r"stream_trailing_agg: event .* BEHIND",
    "stream_distinct": r"stream_running_distinct: event .* BEHIND",
    "stream_funnel": r"stream_funnel_advances: event .* BEHIND",
    "stream_scd2": r"scd2_merge: batch observation .* BEHIND",
}

# late axis: the watermark-EVICTION aggregation path (session_window)
# drops beyond-watermark rows on arrival — Spark's documented late-data
# contract for windowed aggregations.  CHECKED pin: Spark's output must
# equal the batch oracle over the ON-TIME rows only
# (events_ontime.parquet, written by the fixture builder) — a value
# drift among the survivors still flags.
LATE_ONTIME_PINS = {"stream_sessions"}

# redeliver axis (r11): the four strict-guarded stateful folds must
# raise their NAMED exact-re-delivery error when the last-folded row
# arrives again in a later micro-batch; anything else still flags.
REDELIVER_ERR_PINS = {
    "stream_ewma": r"stream_ewma: event .* exact re-delivery",
    "stream_trailing": r"stream_trailing_agg: event .* exact re-delivery",
    "stream_distinct": r"stream_running_distinct: event .* exact re-delivery",
    "stream_funnel": r"stream_funnel_advances: event .* exact re-delivery",
}


def _late_ontime_oracle_match(sql: str, sf_dir: str, s_rows: list) -> bool:
    con = duckdb.connect()
    try:
        for t in TABLES:
            src = (
                f"{sf_dir}/events_ontime.parquet"
                if t == "events"
                else f"{sf_dir}/{t}.parquet"
            )
            if os.path.isdir(src):
                src = f"{src}/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        return canon(con.execute(sql).df()) == s_rows
    except Exception:
        return False
    finally:
        con.close()


# magnitude axis: entries whose Spark-side error on near-BIGINT penny
# fixed point is the PINNED loud contract (ANSI overflow raising beats
# DuckDB's silent HUGEINT promotion at 100 TB — an engine that quietly
# returns wrapped/complete sums over overflowed accumulators is the
# failure mode).  entry -> regex the Spark error must match; anything
# not listed (or not matching) still flags for triage.
MAGNITUDE_PINS: dict[str, str] = {}

# magnitude axis: entries where BOTH engines complete but the values sit
# outside the exact fixed-point domain (penny ints are exact only below
# 2^53; above it double ulp > 1, so sums are association-order-dependent
# and integer casts split on binary-exact vs shortest-decimal repr —
# verified cell-wise 2026-08-15: max rel diff 1.3e-14, max int drift 8
# at 1.5e17 where double ulp is 32).  The pin is CHECKED, not blanket:
# classification flips to ``pinned`` only if every cell matches exactly,
# or numerically within rel 1e-9 / abs 64 — a genuine wraparound or
# dropped-row defect still flags as mismatch.
MAGNITUDE_FLOAT_PINS = {
    "gapfill_rollup",
    "incremental_rollup",
    "frame_apply_wmean",
    "stream_trailing",
    # r6: OLS moments at value*1e13 — both engines complete; measured
    # rel drift <= 5.8e-11 (abs drift is large only because the values
    # themselves are ~1e13; the checked rel-1e-9 tolerance governs)
    "regr_by_key",
}


# dupids axis: entries whose semantics are keyed on a primary id — the
# id IS the row's identity (the document/vector/entity named X).  Unique
# primary ids are a DECLARED INPUT INVARIANT for these (the provided
# guard is expectations.validate(df, {id: [("unique",)]})); under
# duplicate ids "the row named X" is ambiguous and the engines resolve
# it differently (per-row vs per-id-merged, pair dedup by id, candidate
# pick).  Each pin still runs the STRONGEST machine-checkable residual
# guarantee (triaged cell-by-cell 2026-08-15) so dropped-id /
# fabricated-row defects cannot hide behind the pin:
#   subset_onekey:<k> — spark ⊆ oracle candidate multiset, exactly one
#                       spark row per key, key sets equal (upsert picks
#                       a valid per-key winner from the same candidates)
#   distinct_eq       — set(spark) == set(oracle); only row
#                       multiplicities diverge (duplicate-id join fan-out)
#   subset            — spark rows ⊆ oracle rows (spark's pair dedup by
#                       id emits no row the oracle would not)
#   id_set:<col>      — distinct <col> values equal (identity-ambiguity
#                       family: values diverge, the id universe may not)
#   declared          — no machine check beyond the declared invariant
#                       (per-row vs per-id signatures share no structure)
DUPID_PINS = {
    "merge_upsert": "subset_onekey:o_orderkey",
    "snapshot_diff": "distinct_eq",
    "semantic_dedup": "distinct_eq",
    "corpus_clean": "subset",
    "fuzzy_names": "subset",
    "cosine_topk": "id_set:query_id",
    "knn_join": "id_set:query_id",
    "pq_topk_full": "id_set:query_id",
    "kmeans_clusters": "id_set:vec_id",
    "pagerank_dups": "id_set:doc_id",
    "bpe_subwords": "id_set:doc_id",
    "bpe_encode": "id_set:doc_id",
    "lm_bigram": "id_set:doc_id",
    "dedup_simhash": "id_set:doc_id",
    "repeated_spans": "id_set:doc_id",
    "pipeline_e2e": "id_set:doc_id",
    "lsh_topk": "id_set:metric",
    "ivf_topk": "id_set:metric",
    "ivfpq_topk": "id_set:metric",
    "pq_topk": "id_set:metric",
    "simhash_pairs": "declared",
}


def _dupid_pin_ok(check: str, s_rows: list, o_rows: list, cols: list) -> bool:
    ss, os_ = set(s_rows), set(o_rows)
    if check == "declared":
        return True
    if check == "distinct_eq":
        return ss == os_
    if check == "subset":
        return ss <= os_
    if check.startswith("subset_onekey:"):
        ki = cols.index(check.split(":", 1)[1])
        keys_s = {r[ki] for r in s_rows}
        keys_o = {r[ki] for r in o_rows}
        return ss <= os_ and keys_s == keys_o and len(s_rows) == len(keys_s)
    if check.startswith("id_set:"):
        ci = cols.index(check.split(":", 1)[1])
        return {r[ci] for r in s_rows} == {r[ci] for r in o_rows}
    raise ValueError(check)


def _decvals_half_ulp_ok(s_rows: list, o_rows: list) -> bool:
    """decvals checked pin: the Spark side emits DECIMAL cells (exact,
    rounded HALF_UP at the result type's scale and PADDED with
    trailing zeros past it — avg(DECIMAL(15,2)) renders '0.05010000'
    for a rounding actually done at scale 6) where DuckDB's pandas
    crossing emits float64.  Values agree, representations differ.
    Cell rule, column-wise (cell drift perturbs row sort order):

    * string-equal — pass;
    * both float-parseable and within 4 double-ulps — pass (last-bit
      conversion-order drift on double outputs);
    * DuckDB's value quantized HALF_UP/HALF_EVEN at the NORMALIZED
      scale of Spark's decimal (trailing zeros stripped) equals it —
      pass (Spark's documented decimal rounding at the result scale).

    Tight enough that a genuine value divergence still flags: the
    pre-fix quantile_cont midpoint quantization (x.5 vs x.0 — a 0.5
    gap against a 0.05 quantize unit) fails all three clauses."""
    import decimal as _dec
    import math as _math

    if len(s_rows) != len(o_rows):
        return False
    if not s_rows:
        return True
    for ci in range(len(s_rows[0])):
        sc = [r[ci] for r in s_rows]
        oc = [r[ci] for r in o_rows]
        if sc.count("<NA>") != oc.count("<NA>"):
            return False
        sv = [v for v in sc if v != "<NA>"]
        ov = [v for v in oc if v != "<NA>"]
        try:
            sd = sorted((_dec.Decimal(v) for v in sv), key=float)
            od = sorted((_dec.Decimal(v) for v in ov), key=float)
        except (ValueError, _dec.InvalidOperation, ArithmeticError):
            if sorted(sv) != sorted(ov):
                return False
            continue
        for da, db in zip(sd, od):
            if da == db:
                continue
            fa, fb = float(da), float(db)
            if abs(fa - fb) <= 4 * _math.ulp(max(abs(fa), abs(fb))):
                continue
            nda = da.normalize()
            k = max(0, -nda.as_tuple().exponent)
            q = _dec.Decimal(1).scaleb(-k)
            try:
                if db.quantize(
                    q, rounding=_dec.ROUND_HALF_UP
                ) == nda or db.quantize(
                    q, rounding=_dec.ROUND_HALF_EVEN
                ) == nda:
                    continue
            except _dec.InvalidOperation:
                pass
            return False
    return True


def _float_close(s_rows: list, o_rows: list) -> bool:
    # column-wise (each column independently sorted): ulp-level value
    # differences perturb the row sort order, so row-aligned comparison
    # would spuriously fail on neighboring rows — and the per-column
    # multiset is still a real guard against wraparound / dropped rows.
    if len(s_rows) != len(o_rows):
        return False
    if not s_rows:
        return True
    for ci in range(len(s_rows[0])):
        sc = [r[ci] for r in s_rows]
        oc = [r[ci] for r in o_rows]
        try:
            sf_ = sorted(float(v) for v in sc)
            of_ = sorted(float(v) for v in oc)
        except ValueError:
            if sorted(sc) != sorted(oc):
                return False
            continue
        for fa, fb in zip(sf_, of_):
            if fa != fa and fb != fb:  # both nan (sort puts nans last)
                continue
            if fa == fb or abs(fa - fb) <= 64:
                continue
            denom = max(abs(fa), abs(fb))
            if denom == 0 or abs(fa - fb) / denom > 1e-9:
                return False
    return True


def build_fixture(kind: str) -> str:
    import pyarrow as pa

    out = f"/tmp/edge_fixture_{kind}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if kind == "sfjump":
        import pyarrow.compute as pc

        strides = {}
        for dom, (t, col) in SFJUMP_DOMAIN_PK.items():
            mx = pc.max(
                pq.read_table(f"{SFJUMP_SRC}/{t}.parquet", columns=[col])
                .column(col)
            ).as_py()
            stride = 10
            while stride <= mx:
                stride *= 10
            strides[dom] = stride
        for t in TABLES:
            tbl = pq.read_table(f"{SFJUMP_SRC}/{t}.parquet")
            key_cols = SFJUMP_KEY_COLS.get(t)
            if not key_cols:  # nation / region: one shared dimension
                pq.write_table(tbl, f"{out}/{t}.parquet")
                continue
            replicas = [tbl]
            for i in range(1, SFJUMP_TABLE_REPLICAS.get(t, SFJUMP_REPLICAS)):
                rep = tbl
                for col, dom in key_cols.items():
                    j = rep.schema.get_field_index(col)
                    rep = rep.set_column(
                        j,
                        rep.schema.field(j),
                        pc.add(
                            rep.column(j),
                            pa.scalar(i * strides[dom], pa.int64()),
                        ),
                    )
                replicas.append(rep)
            pq.write_table(pa.concat_tables(replicas), f"{out}/{t}.parquet")
        return out
    for t in TABLES:
        tbl = pq.read_table(f"{SRC}/{t}.parquet")
        if kind == "unitext" and t == "documents":
            # append a deterministic multilingual tail to every document:
            # expanding case maps (İ, ß), combining marks, CJK, astral
            # symbols — the content the ASCII fixtures never exercise
            tails = [
                " İstanbul ẞtraße",
                " 東京都 渋谷区",
                " naïve résumé",
                " \U0001d518nicode \U0001f642 test",
                " Ωμέγα ϴ KK",
            ]
            texts = [
                (v + tails[i % len(tails)]) if v is not None else v
                for i, v in enumerate(tbl.column("text").to_pylist())
            ]
            i = tbl.schema.get_field_index("text")
            tbl = tbl.set_column(
                i, tbl.schema.field(i), pa.array(texts, type=pa.string())
            )
        elif kind == "preepoch":
            # shift every temporal column 60 years into the past so all
            # epoch-µs values go NEGATIVE — floor-vs-truncate division,
            # bucket alignment, and calendar math all change sign
            import pyarrow.compute as pc

            for i, fld in enumerate(tbl.schema):
                if pa.types.is_timestamp(fld.type):
                    shifted = pc.add(
                        tbl.column(i),
                        pa.scalar(-60 * 365 * 86_400 * 1_000_000, pa.duration("us")),
                    )
                    tbl = tbl.set_column(i, fld, shifted.cast(fld.type))
                elif pa.types.is_date(fld.type):
                    days = pc.add(
                        tbl.column(i).cast(pa.int32()), pa.scalar(-60 * 365)
                    )
                    tbl = tbl.set_column(i, fld, days.cast(fld.type))
        elif kind in ("onegroup", "nullkeys"):
            for col, const in ONEGROUP_CONSTS.get(t, {}).items():
                i = tbl.schema.get_field_index(col)
                typ = tbl.schema.field(i).type
                arr = (
                    pa.nulls(tbl.num_rows, type=typ)
                    if kind == "nullkeys"
                    else pa.array([const] * tbl.num_rows, type=typ)
                )
                fld = pa.field(col, typ, nullable=True)
                tbl = tbl.set_column(i, fld, arr)
        elif kind == "magnitude" and t == "events":
            # extreme-magnitude regime (SURVEY 7.7.4): value*1e13 puts
            # the penny fixed point (round(value*100) as BIGINT, up to
            # ~3.3e17 per row) within ~28 rows of BIGINT overflow in any
            # sum — Spark ANSI raises, DuckDB promotes to HUGEINT
            import pyarrow.compute as pc

            i = tbl.schema.get_field_index("value")
            tbl = tbl.set_column(
                i,
                tbl.schema.field(i),
                pc.multiply(tbl.column(i), pa.scalar(1e13)),
            )
        elif kind == "skewkeys" and t == "events":
            # HOT-KEY skew (axis 27, r11): every even event_id is
            # rewritten to user_id=1 (in the custkey domain, so FK
            # structure holds) — ONE key owns ~50% of events while the
            # rest keep their long tail.  The intermediate regime
            # between the base fixture (uniform) and onegroup (all one
            # key): one ballooned per-key state in the stateful folds,
            # one giant window partition (the scale_safe lowerings'
            # skew case), one hot equi-join key under AQE, one
            # mega-session chain — while normal keys coexist in the
            # same shuffle.
            import pyarrow.compute as pc

            i = tbl.schema.get_field_index("user_id")
            hot = pc.if_else(
                pc.equal(
                    pc.bit_wise_and(tbl.column("event_id"), pa.scalar(1, pa.int64())),
                    pa.scalar(0, pa.int64()),
                ),
                pa.scalar(1, pa.int64()),
                tbl.column(i),
            )
            tbl = tbl.set_column(i, tbl.schema.field(i), hot)
        elif kind == "constval" and t == "events":
            # zero-variance value column: std = 0 (scale_features),
            # MAD = 0 (robust_outliers), q_lo == q_hi (winsorize),
            # single-point histogram range, degenerate quantiles —
            # every "divide by spread" path goes 0/0 at once
            i = tbl.schema.get_field_index("value")
            tbl = tbl.set_column(
                i,
                tbl.schema.field(i),
                pa.array([7.0] * tbl.num_rows, type=pa.float64()),
            )
        elif kind == "dupdocs" and t == "documents":
            # dedup-clustering stress WITHOUT the FK machinery (survey
            # 7.15.4a): replicate ONLY documents, 5x, fresh doc_ids
            # (sfjump-style power-of-10 stride).  Replicas 1-2 keep the
            # text IDENTICAL (exact-dup clusters of size >= 3 per text);
            # replicas 3-4 append a short suffix (NEAR-dup mass for the
            # minhash/simhash/jaccard threshold paths, which sfjump's
            # identical replication never exercised).  n_chars is
            # recomputed for modified texts so the length-derived
            # entries stay coherent.  Other tables stay base size, so
            # doc_id<->embeddings joins drop replicas identically on
            # both engines.
            import pyarrow.compute as pc

            mx = pc.max(tbl.column("doc_id")).as_py() or 0
            stride = 10
            while stride <= mx:
                stride *= 10
            texts = tbl.column("text").to_pylist()
            replicas = [tbl]
            for i in range(1, 5):
                rep = tbl
                j = rep.schema.get_field_index("doc_id")
                rep = rep.set_column(
                    j,
                    rep.schema.field(j),
                    pc.add(rep.column(j), pa.scalar(i * stride, pa.int64())),
                )
                if i >= 3:
                    new_texts = [
                        (v + f" dupv{i}") if v is not None else None
                        for v in texts
                    ]
                    jt = rep.schema.get_field_index("text")
                    rep = rep.set_column(
                        jt,
                        rep.schema.field(jt),
                        pa.array(new_texts, type=pa.string()),
                    )
                    jn = rep.schema.get_field_index("n_chars")
                    rep = rep.set_column(
                        jn,
                        rep.schema.field(jn),
                        pa.array(
                            [
                                len(v) if v is not None else None
                                for v in new_texts
                            ],
                            type=pa.int64(),
                        ),
                    )
                replicas.append(rep)
            tbl = pa.concat_tables(replicas)
        elif kind == "alldup" and t == "documents":
            # every document becomes ONE identical text: the dedup
            # degenerate — all minhash/simhash signatures equal, every
            # band bucket maximally hot, one giant duplicate cluster,
            # n-gram vocabularies collapse to one document's grams
            col = tbl.column("text").to_pylist()
            const = next((v for v in col if v), "the quick brown fox")
            i = tbl.schema.get_field_index("text")
            tbl = tbl.set_column(
                i,
                tbl.schema.field(i),
                pa.array(
                    [const if v is not None else None for v in col],
                    type=pa.string(),
                ),
            )
        elif kind == "longdoc" and t == "documents":
            # ONE document becomes ~200x longer than every other (its
            # own text repeated): per-row skew for tokenizers, shingle
            # explosion, minhash, BPE counting, length stats — the
            # one-giant-row regime no fixture produces
            col = tbl.column("text").to_pylist()
            first = next(
                (j for j, v in enumerate(col) if v), None
            )
            if first is not None:
                col[first] = (col[first] + " ") * 200
                i = tbl.schema.get_field_index("text")
                tbl = tbl.set_column(
                    i,
                    tbl.schema.field(i),
                    pa.array(col, type=pa.string()),
                )
        elif kind == "zerovec" and t == "embeddings":
            # every embedding becomes the ZERO vector: cosine = 0/0,
            # all pairwise distances 0 (k-means/IVF/PQ train on one
            # point), hyperplane projections sign(0) — the degenerate
            # geometry no fixture row exercises
            col = tbl.column("embedding")
            dim = len(col.slice(0, 1).to_pylist()[0] or [])
            i = tbl.schema.get_field_index("embedding")
            zeros = pa.array(
                [[0.0] * dim] * tbl.num_rows, type=col.type
            )
            tbl = tbl.set_column(i, tbl.schema.field(i), zeros)
        elif kind == "ordties" and t == "events":
            # floor ts to the hour: every ordering/as-of/sessionize path
            # over events now sees ~hour-sized tie groups
            import pyarrow.compute as pc

            i = tbl.schema.get_field_index("ts")
            typ = tbl.schema.field(i).type
            us = tbl.column(i).cast(pa.int64())
            floored = pc.multiply(
                pc.divide(us, pa.scalar(3_600_000_000, pa.int64())),
                pa.scalar(3_600_000_000, pa.int64()),
            )
            tbl = tbl.set_column(i, tbl.schema.field(i), floored.cast(typ))
        elif kind == "dupids":
            import pyarrow.compute as pc

            for col in DUPID_COLS.get(t, ()):
                i = tbl.schema.get_field_index(col)
                typ = tbl.schema.field(i).type
                halved = pc.divide(
                    tbl.column(i).cast(pa.int64()), pa.scalar(2, pa.int64())
                )
                tbl = tbl.set_column(i, tbl.schema.field(i), halved.cast(typ))
        elif kind == "clockskew":
            # deterministic physical-order shuffle (md5 of row ordinal):
            # arrival order decorrelates from every timestamp/id column
            import hashlib as _hl

            import pyarrow as _pa

            n = tbl.num_rows
            perm = sorted(
                range(n),
                key=lambda j: _hl.md5(f"{t}:{j}".encode()).hexdigest(),
            )
            tbl = tbl.take(_pa.array(perm, type=_pa.int64()))
        elif kind == "nanvals" and t == "events":
            import pyarrow.compute as pc

            i = tbl.schema.get_field_index("value")
            vals = tbl.column("value").to_pylist()
            vals = [
                float("nan") if (j % 7 == 0 and v is not None) else v
                for j, v in enumerate(vals)
            ]
            tbl = tbl.set_column(
                i, tbl.schema.field(i), pa.array(vals, type=pa.float64())
            )
        elif kind == "negvals":
            import pyarrow.compute as pc

            for col in NEGVAL_COLS.get(t, ()):
                i = tbl.schema.get_field_index(col)
                tbl = tbl.set_column(
                    i,
                    tbl.schema.field(i),
                    pc.multiply(tbl.column(i), pa.scalar(-1.0)).cast(
                        tbl.schema.field(i).type
                    ),
                )
        elif kind == "decvals":
            import decimal as _dec

            for col in DECVAL_COLS.get(t, ()):
                i = tbl.schema.get_field_index(col)
                fld = tbl.schema.field(i)
                vals = [
                    None
                    if v is None
                    else _dec.Decimal(str(v)).quantize(
                        _dec.Decimal("0.01"), rounding=_dec.ROUND_HALF_UP
                    )
                    for v in tbl.column(i).to_pylist()
                ]
                tbl = tbl.set_column(
                    i,
                    pa.field(col, pa.decimal128(15, 2), nullable=fld.nullable),
                    pa.array(vals, type=pa.decimal128(15, 2)),
                )
        elif kind == "nullvals":
            for col in NULLVAL_COLS.get(t, ()):
                i = tbl.schema.get_field_index(col)
                typ = tbl.schema.field(i).type
                tbl = tbl.set_column(
                    i,
                    pa.field(col, typ, nullable=True),
                    pa.nulls(tbl.num_rows, type=typ),
                )
        elif kind == "emptystr":
            # text/content columns to '' — the non-NULL no-content
            # spelling; tokenize('') must behave like tokenize(NULL)
            # under the house tokenless convention
            for col_name in ("text",) if t == "documents" else ():
                i = tbl.schema.get_field_index(col_name)
                import pyarrow as _pa

                vals = tbl.column(i).to_pylist()
                tbl = tbl.set_column(
                    i,
                    tbl.schema.field(i),
                    _pa.array(
                        ["" if v is not None else v for v in vals],
                        type=_pa.string(),
                    ),
                )
        elif kind in ("empty", "one"):
            tbl = tbl.slice(0, 0 if kind == "empty" else 1)
        # any other (kind, table) combination: copy unchanged
        if kind == "redeliver" and t == "events":
            # AT-LEAST-ONCE RE-DELIVERY fixture (axis 26, r11): arrival
            # order = event-time order in three micro-batch files, then
            # a FOURTH batch re-delivers an EXACT COPY of the globally
            # newest row (max (ts, event_id)).  That one row (a) is the
            # last-folded frontier of its key in every strict-guarded
            # stateful fold -> the guard must raise its named
            # re-delivery error (REDELIVER_ERR_PINS); (b) survives
            # every watermark filter (ts == max event time seen, >= any
            # max-delay watermark) -> watermark aggregations count it
            # twice on BOTH engines (the oracle reads the duplicated
            # multiset too) and must still match; (c) is idempotent for
            # latest-wins/dedup/scd2-absorb folds.  Batch entries see a
            # plain +1 duplicate row on both engines.
            import time as _time

            import pyarrow.compute as pc

            idx = pc.sort_indices(
                tbl,
                sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
            )
            tbl_s = tbl.take(idx)
            n = tbl_s.num_rows
            dup = tbl_s.slice(n - 1, 1)  # the global max (ts, event_id)
            base = pa.concat_tables([tbl_s, dup])
            d = f"{out}/{t}.parquet"
            os.makedirs(d)
            bounds = [(i * n) // 3 for i in range(4)]
            for i in range(3):
                part = tbl_s.slice(bounds[i], bounds[i + 1] - bounds[i])
                pq.write_table(part, f"{d}/part-{i:03d}.parquet")
                _time.sleep(1.05)
            pq.write_table(dup, f"{d}/part-003.parquet")
            # sanity: the directory multiset equals base (oracle reads
            # the same glob, so both engines see the +1 duplicate)
            assert base.num_rows == n + 1
            continue
        if kind == "late" and t == "events":
            # LATE-DATA replay fixture (axis 24): arrival order = event-
            # time order in four micro-batch files (distinct mtimes; the
            # file stream source orders by (modTime, path)), EXCEPT a
            # deterministic 2% of the OLDEST quartile's rows is moved to
            # the END of the last file — they arrive ~3 quartiles of
            # event time late, far beyond every entry's watermark.  The
            # row MULTISET is unchanged, so batch entries and every
            # DuckDB oracle are unaffected; only arrival order moves.
            # main() sets SPARK_GRAFT_STREAM_MAX_FILES=1 so the replay
            # is genuinely four micro-batches (watermark advances
            # between them) instead of one.
            import time as _time

            import pyarrow.compute as pc

            idx = pc.sort_indices(
                tbl,
                sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
            )
            tbl_s = tbl.take(idx)
            n = tbl_s.num_rows
            q1 = n // 4
            late_set = set(range(0, q1, 50))
            ontime = tbl_s.take(
                pa.array(
                    [j for j in range(n) if j not in late_set],
                    type=pa.int64(),
                )
            )
            late = tbl_s.take(pa.array(sorted(late_set), type=pa.int64()))
            d = f"{out}/{t}.parquet"
            os.makedirs(d)
            m = ontime.num_rows
            bounds = [(i * m) // 4 for i in range(5)]
            for i in range(4):
                part = ontime.slice(bounds[i], bounds[i + 1] - bounds[i])
                if i == 3:
                    part = pa.concat_tables([part, late])
                pq.write_table(part, f"{d}/part-{i:03d}.parquet")
                _time.sleep(1.05)  # distinct mtimes -> deterministic order
            # the ON-TIME-only variant backs the checked watermark pin
            # (LATE_ONTIME_PINS): Spark's drop-late output must EQUAL
            # the batch oracle over exactly these rows
            pq.write_table(ontime, f"{out}/events_ontime.parquet")
            continue
        if kind == "manybatches" and t == "events":
            # LONG-REPLAY fixture (axis 28, r12): arrival order = event-
            # time order in FIFTY micro-batch files (explicit increasing
            # mtimes via os.utime — the file source orders by (modTime,
            # path)); main() sets SPARK_GRAFT_STREAM_MAX_FILES=1 so every
            # stateful streaming entry replays 50+ genuine micro-batches
            # (the multi-batch tests use a handful).  The row MULTISET is
            # unchanged — batch entries and every DuckDB oracle are
            # unaffected — so any stream-entry divergence is frontier /
            # GroupState growth, per-batch watermark advancement, or
            # state-store checkpoint compaction over a long replay.
            import pyarrow.compute as pc

            idx = pc.sort_indices(
                tbl,
                sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
            )
            tbl_s = tbl.take(idx)
            n = tbl_s.num_rows
            n_files = 50
            d = f"{out}/{t}.parquet"
            os.makedirs(d)
            bounds = [(i * n) // n_files for i in range(n_files + 1)]
            base_mtime = 1_600_000_000
            for i in range(n_files):
                part = tbl_s.slice(bounds[i], bounds[i + 1] - bounds[i])
                p = f"{d}/part-{i:03d}.parquet"
                pq.write_table(part, p)
                os.utime(p, (base_mtime + i, base_mtime + i))
            continue
        if kind == "manyfiles":
            # ~40 single-row-group slices per table, written under the
            # table path in SHUFFLED slice order (file name order no
            # longer matches row order) — Spark reads the directory,
            # DuckDB the glob (see main())
            import hashlib as _hl

            d = f"{out}/{t}.parquet"
            os.makedirs(d)
            n = tbl.num_rows
            k = min(40, max(1, n))
            order = sorted(
                range(k),
                key=lambda j: _hl.md5(f"{t}:{j}".encode()).hexdigest(),
            )
            bounds = [(i * n) // k for i in range(k + 1)]
            for slot, j in enumerate(order):
                pq.write_table(
                    tbl.slice(bounds[j], bounds[j + 1] - bounds[j]),
                    f"{d}/part-{slot:03d}.parquet",
                )
        else:
            pq.write_table(tbl, f"{out}/{t}.parquet")
    return out


def sample_rows(rows: list) -> tuple[int, list]:
    """Deterministic 1%-by-content subset for over-cap results.

    sfjump can produce results with tens of millions of rows (pair
    entries are quadratic in the replication factor); comparing the
    full canon lists is minutes of pure Python per side.  Above
    EDGE_SWEEP_SAMPLE_ROWS the compare switches LOUDLY (class suffix +
    "sampled" in the JSON) to: exact row-COUNT equality plus value
    equality on the subset of rows whose md5(row content) lands in a
    fixed 1% slice.  Sampling keys on the stringified row, so both
    engines select the same rows independent of order — a dropped or
    drifted row still flags with P=1 on count and ~1% per-row on
    values.
    """
    import hashlib as _hl

    n = len(rows)
    sampled = [
        r
        for r in rows
        if int(_hl.md5("\x1f".join(r).encode()).hexdigest()[:8], 16) % 100 == 0
    ]
    return n, sampled


SAMPLE_CAP = int(os.environ.get("EDGE_SWEEP_SAMPLE_ROWS", "5000000"))


def canon(df) -> list:
    import pandas as pd  # noqa: F401

    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        # normalize NULL spellings: a NULL in an object column surfaces
        # as None from Spark's toPandas but NaN from DuckDB's .df() —
        # same value, different str() (found by the nullvals axis, where
        # all-NULL boolean columns flagged spuriously).  The guard stays
        # scalar-safe (no pd.isna — it vectorizes over list cells).
        rows.append(
            tuple(
                "<NA>"
                if v is None or (isinstance(v, float) and v != v)
                else str(v)
                for v in tup
            )
        )
    return sorted(rows)


def main() -> int:
    kind = sys.argv[1] if len(sys.argv) > 1 else "empty"
    only = set(sys.argv[2:])
    if kind == "tz":
        # move the whole HOST to Kolkata before any engine starts: the
        # Python process (pandas/Arrow local-time paths), the JVM default
        # zone (legacy datetime paths), the Spark session default (the
        # read_table UTC pin must override it), and DuckDB (below)
        import time as _time

        os.environ["TZ"] = "Asia/Kolkata"
        _time.tzset()
    if kind in ("late", "redeliver", "manybatches"):
        # one file per micro-batch: these axes only bite when the
        # replay is genuinely multi-batch
        os.environ["SPARK_GRAFT_STREAM_MAX_FILES"] = "1"
    if kind == "manybatches":
        # 50 micro-batches pay 50x the per-batch fixed cost (planning +
        # state-store rounds — a stream-stream join measured ~6 s/batch
        # of pure engine overhead at sf0.001), so the 300 s liveness
        # guard legitimately needs a proportional budget; the env can
        # only RAISE the guard, never lower it
        os.environ["SPARK_GRAFT_STREAM_TIMEOUT"] = "900"
    sf_dir = build_fixture(kind)

    from tidier_spark.session import session

    # sfjump runs the bench profile (local[32]) — the whole point is
    # the plan at realistic parallelism and data size; the small axes
    # keep 8 cores so 22 sweeps stay cheap
    cores, mem = (32, "24g") if kind == "sfjump" else (8, "8g")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": mem,
        # the sweep COLLECTS full results to compare them — at sfjump
        # size a per-row entry's toPandas legitimately exceeds the 1g
        # default (a harness need, not a product path: the engine
        # itself never collects O(n) results)
        "spark.driver.maxResultSize": "8g",
    }
    if kind == "tz":
        conf.update({
            "spark.sql.session.timeZone": "Asia/Kolkata",
            "spark.driver.extraJavaOptions": "-Duser.timezone=Asia/Kolkata",
            "spark.executor.extraJavaOptions": "-Duser.timezone=Asia/Kolkata",
        })
    spark = session(cpus=cores, app_name="edge-sweep", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if kind == "tz":
        # getOrCreate may have reused a live UTC session (same-process
        # reruns) — re-assert the session zone; read_table must still win
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    # subset runs (explicit entry args) write to a separate file so a
    # quick one-entry smoke can never clobber a full-board artifact —
    # the per-entry flush below rewrites the WHOLE dict each time
    out = (
        f"/tmp/edge_sweep_{kind}_subset.json"
        if only
        else f"/tmp/edge_sweep_{kind}.json"
    )
    # EDGE_SWEEP_RESUME=1: preload a previous partial run's output and
    # skip entries already classified clean — restarts after a straggler
    # kill re-run only the tail (results are flushed per entry below)
    if os.environ.get("EDGE_SWEEP_RESUME") == "1" and os.path.exists(out):
        with open(out) as fh:
            prior = json.load(fh)
        results.update(
            (n, r)
            for n, r in prior.items()
            if r["class"] in ("match", "pinned", "both_empty", "loud_both")
        )
        print(f"resumed: {len(results)} entries carried over", flush=True)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in results:
            continue
        s_err = o_err = None
        s_rows = o_rows = None
        s_cols: list = []
        import time as _t

        _t0 = _t.perf_counter()
        agg_cols = SFJUMP_INT_AGG.get(name) if kind == "sfjump" else None
        try:
            df = fn(spark, sf_dir)
            if agg_cols:
                df = df.selectExpr(*_int_checksum_exprs(agg_cols))
            pdf = df.toPandas()
            s_cols = sorted(pdf.columns)
            s_rows = canon(pdf)
        except Exception as e:
            _lines = str(e).splitlines() or [""]
            # streaming queries wrap the real error several lines deep
            # ([STREAM_FAILED] on line 0); surface the named contract
            # error so pins can see it
            _named = next(
                (
                    ln.strip()
                    for ln in _lines
                    # the rendered message line, not the worker
                    # traceback's `raise LateEventError(` source line
                    if "LateEventError:" in ln
                    or "USER_RAISED_EXCEPTION" in ln
                    or " BEHIND " in ln
                ),
                _lines[0],
            )
            s_err = f"{type(e).__name__}: {_named[:200]}"
        _t_spark = _t.perf_counter() - _t0
        _t0 = _t.perf_counter()
        sql = oracles.get(name)
        if kind == "sfjump" and name in SFJUMP_ORACLE_OVERRIDE:
            sql = SFJUMP_ORACLE_OVERRIDE[name]
        if sql is not None and agg_cols:
            sql = f"SELECT {', '.join(_int_checksum_exprs(agg_cols))} FROM ({sql})"
        if sql is not None:
            con = duckdb.connect()
            try:
                if kind == "tz":
                    con.execute("SET TimeZone='Asia/Kolkata'")
                for t in TABLES:
                    src = f"{sf_dir}/{t}.parquet"
                    if os.path.isdir(src):  # manyfiles: glob the slices
                        src = f"{src}/*.parquet"
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{src}'"
                    )
                o_rows = canon(con.execute(sql).df())
            except Exception as e:
                o_err = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            finally:
                con.close()
        # oracle timing stops HERE — before sampling/compare/pins, so
        # multi-million-row pure-Python compare time is not attributed
        # to the oracle (ADVICE r9)
        _t_oracle = _t.perf_counter() - _t0
        sampled = False
        if (
            s_rows is not None
            and o_rows is not None
            and max(len(s_rows), len(o_rows)) > SAMPLE_CAP
        ):
            sampled = True
            s_n, s_rows = sample_rows(s_rows)
            o_n, o_rows = sample_rows(o_rows)
        if s_err and o_err:
            cls = "loud_both"
        elif s_err:
            cls = "spark_err"
        elif o_err:
            cls = "oracle_err"
        elif sampled:
            cls = "match" if (s_n == o_n and s_rows == o_rows) else "mismatch"
        elif s_rows == o_rows:
            cls = "both_empty" if not s_rows else "match"
        else:
            cls = "mismatch"
        # empty/zerovec/nullvals: index/model training is undefined on an
        # empty/zero/all-NULL corpus and fails with a NAMED error (never a
        # numpy stack trace) — the documented loud-by-design contract
        # (docs/EDGE_SWEEP.md)
        if (
            kind in ("empty", "zerovec", "nullvals")
            and cls == "spark_err"
            and (
                "cannot train on an empty corpus" in (s_err or "")
                or "input DataFrame is empty" in (s_err or "")
            )
        ):
            cls = "pinned"
        # preepoch: the two watermark-eviction paths now fail LOUDLY on
        # pre-1970 event times (r6 verdict task #6: a JVM assert_true
        # naming the epoch_offset_us knob raises USER_RAISED_EXCEPTION
        # instead of Spark silently dropping the rows) — that loud
        # failure IS the pinned contract
        if (
            kind == "preepoch"
            and cls == "spark_err"
            and name in ("stream_sessions", "stream_attribution")
            and "USER_RAISED_EXCEPTIO" in (s_err or "")
        ):
            cls = "pinned"
        # documented engine divergence (EDGE_SWEEP.md): grouping sets /
        # rollup over an EMPTY table — Spark's Expand lowering emits
        # zero rows where the SQL standard (and DuckDB) emit one global
        # row; pinned by test_grouping_sets_empty_input_known_divergence
        if (
            kind == "empty"
            and cls == "mismatch"
            and name in ("grouping_sets", "rollup_agg", "cube_agg")
            and not (s_rows or [])
        ):
            cls = "pinned"
        if (
            kind == "nanvals"
            and cls == "oracle_err"
            and name in NANVALS_ORACLE_ERR_PINS
        ):
            import re as _re

            if _re.search(NANVALS_ORACLE_ERR_PINS[name], o_err or ""):
                cls = "pinned"
        if (
            kind == "nanvals"
            and cls == "mismatch"
            and name in NANVALS_DEFINED_SUBSET
            and s_rows is not None
            and o_rows is not None
            and len(s_rows) == len(o_rows)
        ):
            defined = [r for r in o_rows if "<NA>" not in r]
            if set(defined) <= set(s_rows):
                cls = "pinned"
        if (
            kind == "magnitude"
            and cls in ("spark_err", "loud_both")
            and name in MAGNITUDE_PINS
        ):
            import re as _re

            if _re.search(MAGNITUDE_PINS[name], s_err or ""):
                cls = "pinned"
        if (
            kind == "magnitude"
            and cls == "mismatch"
            and name in MAGNITUDE_FLOAT_PINS
            and _float_close(s_rows, o_rows)
        ):
            cls = "pinned"
        if (
            kind == "decvals"
            and cls == "mismatch"
            and _decvals_half_ulp_ok(s_rows, o_rows)
        ):
            cls = "pinned"
        if (
            kind == "sfjump"
            and cls == "mismatch"
            and name in SFJUMP_DECILE_PIN
            and _sfjump_decile_pin_ok(s_rows, o_rows, s_cols)
        ):
            cls = "pinned"
        if kind == "late" and cls == "spark_err" and name in LATE_ERR_PINS:
            import re as _re

            if _re.search(LATE_ERR_PINS[name], s_err or ""):
                cls = "pinned"
        if (
            kind == "redeliver"
            and cls == "spark_err"
            and name in REDELIVER_ERR_PINS
        ):
            import re as _re

            if _re.search(REDELIVER_ERR_PINS[name], s_err or ""):
                cls = "pinned"
        if (
            kind == "late"
            and cls == "mismatch"
            and name in LATE_ONTIME_PINS
            and s_rows is not None
            and not sampled
            and _late_ontime_oracle_match(sql, sf_dir, s_rows)
        ):
            cls = "pinned"
        pin_check = None
        if kind == "dupids" and cls == "mismatch" and name in DUPID_PINS:
            pin_check = DUPID_PINS[name]
            if _dupid_pin_ok(pin_check, s_rows, o_rows, s_cols):
                cls = "pinned"
            else:
                pin_check = f"FAILED:{pin_check}"
        results[name] = {
            "class": cls,
            **({"pin_check": pin_check} if pin_check else {}),
            **(
                {"sampled": True, "sample_rows": len(s_rows or [])}
                if sampled
                else {}
            ),
            "spark_rows": (s_n if sampled else None if s_rows is None else len(s_rows)),
            "oracle_rows": (o_n if sampled else None if o_rows is None else len(o_rows)),
            "spark_err": s_err,
            "oracle_err": o_err,
            "spark_s": round(_t_spark, 2),
            "oracle_s": round(_t_oracle, 2),
        }
        flag = "" if cls in ("match", "both_empty", "loud_both", "pinned") else "  <<<"
        print(
            f"{cls:11s} {name}  [{_t_spark:.1f}s/{_t_oracle:.1f}s]"
            f"{'  (sampled compare)' if sampled else ''}{flag}",
            flush=True,
        )
        with open(out, "w") as fh:  # flush per entry: straggler-kill safe
            json.dump(results, fh, indent=1)

    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    from collections import Counter

    print(dict(Counter(r["class"] for r in results.values())))
    bad = [n for n, r in results.items() if r["class"] in ("mismatch",)]
    print("mismatches:", bad)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

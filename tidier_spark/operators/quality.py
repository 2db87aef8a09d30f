"""Corpus quality signals: repetition metrics and salient-term extraction.

The repetition family follows the published Gopher/MassiveText filtering
rules (Rae et al. 2021, §A.1.1): documents dominated by a few repeated
n-grams are boilerplate/spam and get filtered before pretraining.  The
reference engine has no corpus operators (SURVEY.md §2.3 "North-star
extensions"); these are the Spark-first additions.

Everything is integer-valued on purpose: counts and histogram maxima hash
identically across engines, where ratio doubles would hit cross-engine
rounding ties (see the float-determinism notes in ``__spark_entry__``).
Callers derive ratios downstream when they need them.

Scale notes (100 TB):
* the histogram is explode → (id, gram) count → per-id max/sum — two
  shuffles, both with map-side partial aggregation, both keyed by doc id
  (uniform, no hot keys because the first key is (id, gram));
* nothing is collected; the left join back to the doc frame is a same-key
  sort-merge join that AQE converts to broadcast when the agg side is
  small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .literal import json_lit

__all__ = [
    "repetition_signals",
    "salient_terms",
    "hashed_features",
    "hashed_features_sql",
    "scale_features",
    "classifier_score",
    "classifier_score_sql",
    "quantile_prune",
    "srp_embedding",
    "srp_embedding_sql",
    "bm25_topk",
    "term_overlap_topk",
    "term_overlap_topk_sql",
    "rrf_fuse",
    "bm25_topk_sql",
    "robust_outliers",
    "robust_outliers_sql",
    "perceptron_fit",
    "perceptron_fit_sql",
    "winsorize",
    "winsorize_sql",
]


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition statistics (Gopher-style).

    Returns ``(id, n_grams, n_distinct, top_gram_n, dup_gram_n)``:
    total n-gram occurrences, distinct n-grams, the occurrence count of
    the most repeated n-gram, and the number of surplus (duplicate)
    occurrences.  Downstream filters threshold e.g.
    ``top_gram_n / n_grams`` (top-2-gram fraction) or
    ``dup_gram_n / n_grams`` (duplicate-n-gram fraction).

    Plan: tokens materialized once → explode the full shingle bag →
    count per (id, gram) → max/sum per id → left join back so token-free
    documents keep zero rows instead of disappearing.
    """
    from .text import _ngrams, tokens

    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    # ALL n-gram occurrences, not distinct: repetition needs the bag
    sh = toks.select(
        F.col(id_col), F.explode(_ngrams(F.col("__toks"), n)).alias("__g")
    )
    hist = (
        sh.groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("__c").alias("top_gram_n"),
        )
    )
    z = F.lit(0).cast("long")
    return (
        df.select(id_col)
        .join(hist, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", z).alias("n_grams"),
            F.coalesce("n_distinct", z).alias("n_distinct"),
            F.coalesce("top_gram_n", z).alias("top_gram_n"),
            F.coalesce(F.col("n_grams") - F.col("n_distinct"), z).alias(
                "dup_gram_n"
            ),
        )
    )


def repetition_signals_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> str:
    """DuckDB mirror of :func:`repetition_signals` (differential oracle)."""
    from .text import shingles_sql

    return f"""
        WITH sh AS (
          SELECT {id_col}, unnest({shingles_sql(text_col, n)}) AS g
          FROM {table}
        ),
        h AS (
          SELECT {id_col}, g, count(*) AS c FROM sh GROUP BY 1, 2
        ),
        a AS (
          SELECT {id_col},
                 sum(c)::BIGINT AS n_grams,
                 count(*)::BIGINT AS n_distinct,
                 max(c)::BIGINT AS top_gram_n
          FROM h GROUP BY 1
        )
        SELECT d.{id_col},
               coalesce(a.n_grams, 0) AS n_grams,
               coalesce(a.n_distinct, 0) AS n_distinct,
               coalesce(a.top_gram_n, 0) AS top_gram_n,
               coalesce(a.n_grams - a.n_distinct, 0) AS dup_gram_n
        FROM {table} d LEFT JOIN a USING ({id_col})"""


def salient_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` most salient terms per document: highest term frequency,
    ties broken toward corpus-rare terms then lexicographically — the
    integer-ranked analog of tf-idf (float idf would make the ranking
    engine-dependent at the ulp level; (tf desc, df asc, term asc) is
    total and deterministic).

    Returns ``(id, term, tf, df_docs, rank)``.

    Plan: one explode → (id, term) count (tf, one shuffle with partial
    agg) → document frequency from the tf frame itself (second agg keyed
    by term) → join tf ⋈ df on term → per-doc top-k window.  The df side
    is |vocabulary| rows — AQE broadcasts it when small; at 100 TB it is
    a sort-merge join on term, skew-bounded because stopword-heavy hot
    terms are still one row each on the df side.
    """
    if k < 0:
        raise ValueError(f"salient_terms: k must be >= 0, got {k}")
    from .text import tokens

    from pyspark import StorageLevel

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # tf feeds the document-frequency fold AND the scoring join; lazy,
    # both copies re-run the corpus tokenize.  Persist the aggregated
    # (doc, term) frame — far smaller than the raw token stream, reused
    # twice, spills gracefully (r12, guide §5 caching rule).
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df_docs", F.col("rank").cast("long"))
    )


def salient_terms_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> str:
    from .text import tokens_sql

    return f"""
        WITH toks AS (
          SELECT {id_col}, unnest({tokens_sql(text_col)}) AS term FROM {table}
        ),
        tf AS (
          SELECT {id_col}, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
        ),
        dfreq AS (
          SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY 1
        )
        SELECT {id_col}, term, tf, df_docs, rank FROM (
          SELECT tf.{id_col}, tf.term, tf.tf, dfreq.df_docs,
                 row_number() OVER (PARTITION BY tf.{id_col}
                   ORDER BY tf.tf DESC, dfreq.df_docs ASC, tf.term ASC)::BIGINT
                   AS rank
          FROM tf JOIN dfreq USING (term)
        ) WHERE rank <= {k}"""


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 128,
) -> DataFrame:
    """Hashing-trick featurizer: token counts bucketed by
    ``hash60(token) % dim`` — the model-free text→vector stage that feeds
    ANN / clustering / dedup when no embedding model is in the loop
    (sklearn's HashingVectorizer semantics, md5-hashed so any engine
    reproduces the same buckets).

    Emits the SPARSE form ``(id, bucket, n)`` — empty buckets carry no
    rows, so shuffle volume is Σ distinct-buckets-per-doc ≤ min(dim,
    n_tokens) per document, and the output joins directly onto bucketed
    similarity pipelines.  Densify per consumer with a 1-row-per-bucket
    pivot or ``map_from_entries`` when a fixed-width array is genuinely
    needed.

    Plan: tokenize → explode → one groupBy on (id, bucket) with map-side
    partial counts.  One shuffle, keys led by the doc id (no hot keys).
    """
    if dim < 1:
        raise ValueError(f"hashed_features: dim must be >= 1, got {dim}")
    from .dedup import _fan_out
    from .text import hash60, tokens

    fanned = _fan_out(df)
    tok = fanned.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    return (
        tok.withColumn("bucket", F.pmod(hash60(F.col("__tok")), F.lit(dim)))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col(id_col),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
        )
    )


def scale_features(
    df: DataFrame,
    cols: list[str],
    method: str | list[str] = "zscore",
    by: object = None,
    suffix: str = "_scaled",
) -> DataFrame:
    """Per-column feature scaling — the metadata-normalization stage of a
    training pipeline (quality scores, lengths, embedding norms → one
    comparable scale before mixing/weighting).

    ONE bounded aggregation computes the per-group stats for EVERY
    requested method; the stats frame (a row per group — bytes)
    broadcasts back, and scaling itself is a row-local projection: no
    second shuffle, no window over the data.  ``method`` may be a list —
    all methods still share the single stats pass; output columns are
    then named ``{col}_{method}`` (a single method uses ``suffix``).

    Methods, over integer-valued columns (quantize floats first — the
    repo-wide determinism rule):

    * ``zscore`` — (x − μ) / σ with σ from EXACT decimal(38) sums
      (``sqrt((n·Σx² − (Σx)²) / (n(n−1)))``): every operand is exact, so
      the double division/sqrt is correctly rounded and engine-portable —
      unlike ``stddev`` built-ins, whose streaming-vs-two-pass float
      paths differ across engines.
    * ``minmax`` — (x − min) / (max − min), NULL for constant columns.
    * ``robust`` — (x − median) / IQR, exact linear-interpolated
      quantiles (half-integer operands — still exact doubles).
    """
    methods = [method] if isinstance(method, str) else list(method)
    bad = set(methods) - {"zscore", "minmax", "robust"}
    if bad:
        raise ValueError(f"unknown method(s) {sorted(bad)!r}")
    keys = [by] if isinstance(by, str) else list(by or [])
    aggs: list = []
    for c in cols:
        x = F.col(c)
        if "zscore" in methods:
            aggs += [
                F.count(x).alias(f"__n_{c}"),
                F.sum(x.cast("decimal(38,0)")).alias(f"__s_{c}"),
                # cast BEFORE squaring: int×int squares in the native
                # integer type and overflows past ~3e9 (long) before the
                # decimal cast ever sees it; decimal(19)² widens exactly.
                F.sum(
                    x.cast("decimal(19,0)") * x.cast("decimal(19,0)")
                ).alias(f"__ss_{c}"),
            ]
        if "minmax" in methods:
            aggs += [F.min(x).alias(f"__mn_{c}"), F.max(x).alias(f"__mx_{c}")]
        if "robust" in methods:
            aggs.append(
                F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(f"__q_{c}")
            )
    stats = df.groupBy(*keys).agg(*aggs)
    if keys:
        # null-SAFE equality: groupBy treats NULL as its own group, so the
        # stats join-back must too — a plain equi-join would silently drop
        # every row whose group key is NULL.
        st = stats
        for k in keys:
            st = st.withColumnRenamed(k, f"__k_{k}")
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(st), cond).drop(*[f"__k_{k}" for k in keys])
    else:
        joined = df.crossJoin(F.broadcast(stats))
    out = joined
    drop: list[str] = []
    for c in cols:
        x = F.col(c).cast("double")
        for m in methods:
            if m == "zscore":
                n = F.col(f"__n_{c}").cast("double")
                s = F.col(f"__s_{c}").cast("double")
                # exact-operand arithmetic: n·Σx² and (Σx)² are exact in
                # decimal; the cast to double then one subtraction/
                # division/sqrt chain is correctly rounded — mirror the
                # same op order in any SQL mirror.  nullif guards (ANSI
                # mode): n=1 → no sample variance; constant column →
                # σ=0 → NULL, matching minmax/robust
                var = (
                    (F.col(f"__n_{c}").cast("decimal(38,0)") * F.col(f"__ss_{c}"))
                    - (F.col(f"__s_{c}") * F.col(f"__s_{c}"))
                ).cast("double") / F.nullif(n * (n - F.lit(1.0)), F.lit(0.0))
                scaled = (x - s / n) / F.nullif(F.sqrt(var), F.lit(0.0))
            elif m == "minmax":
                mn = F.col(f"__mn_{c}").cast("double")
                mx = F.col(f"__mx_{c}").cast("double")
                scaled = (x - mn) / F.nullif(mx - mn, F.lit(0.0))
            else:  # robust
                q = F.col(f"__q_{c}")
                scaled = (x - q[1]) / F.nullif(q[2] - q[0], F.lit(0.0))
            name = f"{c}{suffix}" if len(methods) == 1 else f"{c}_{m}"
            out = out.withColumn(name, scaled)
        if "zscore" in methods:
            drop += [f"__n_{c}", f"__s_{c}", f"__ss_{c}"]
        if "minmax" in methods:
            drop += [f"__mn_{c}", f"__mx_{c}"]
        if "robust" in methods:
            drop.append(f"__q_{c}")
    return out.drop(*drop)


def hashed_features_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 128,
) -> str:
    """DuckDB mirror of :func:`hashed_features` (same md5-bucket math)."""
    from .text import hash60_sql, tokens_sql

    return f"""
        SELECT {id_col},
               (({hash60_sql('tok')}) % {dim})::BIGINT AS bucket,
               count(*)::BIGINT AS n
        FROM (
          SELECT {id_col}, unnest({tokens_sql(text_col)}) AS tok
          FROM {table}
        )
        GROUP BY 1, 2"""


def classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "score_milli",
) -> DataFrame:
    """Linear bag-of-tokens classifier INFERENCE (the fastText-style
    quality-classifier stage of a pretraining pipeline): each token carries
    a weight from a hash-derived table, the document score is the sum over
    token occurrences, and ``label`` is the sign.

    The weight table is ``hash60(token) % 2001 − 1000`` — milli-units in
    [−1000, 1000], so the score is an EXACT BIGINT (`score_milli`; divide
    by 1000·n_tokens downstream for a mean-weight score).  Swapping in real
    trained weights means replacing the hash expression with a broadcast
    ``map_from_entries`` lookup over the model's vocabulary — the plan
    shape (map-only projection, no shuffle, no UDF) is identical; the
    hash-derived table keeps the operator self-contained and
    engine-portable for differential testing.

    Scale: one whole-stage-codegen projection over the scan.  Nothing
    shuffles; a 100 TB corpus scores at scan throughput.
    """
    from .text import hash60, tokens

    score = F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, x: acc + (hash60(x) % 2001 - F.lit(1000)),
    )
    # NULL text → NULL token array → NULL aggregate; a no-content doc
    # scores the empty-sum 0 (label false), matching the SQL mirror's
    # coalesced sum (nullvals edge axis)
    score = F.coalesce(score, F.lit(0).cast("long"))
    return df.select(F.col(id_col), score.alias(out)).withColumn(
        "label", F.col(out) > 0
    )


def classifier_score_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "score_milli",
) -> str:
    """DuckDB mirror of :func:`classifier_score` (same hash-weight table;
    CAST collapses DuckDB's HUGEINT list_sum to BIGINT — the driver-hash
    drift rule)."""
    from .text import hash60_sql, tokens_sql

    w = f"({hash60_sql('x')} % 2001 - 1000)"
    return f"""
        SELECT {id_col},
               CAST(coalesce(list_sum(list_transform(
                 {tokens_sql(text_col)}, x -> {w})), 0) AS BIGINT) AS {out},
               CAST(coalesce(list_sum(list_transform(
                 {tokens_sql(text_col)}, x -> {w})), 0) AS BIGINT) > 0 AS label
        FROM {table}"""


def quantile_prune(
    df: DataFrame,
    order_col: str,
    by: str | list[str] | None = None,
    tiles: int = 4,
    keep: int = 1,
    tiebreak: str | None = None,
    exact: bool = True,
    out: str = "tile",
) -> DataFrame:
    """Per-group quantile gate: keep the rows in the top ``keep`` of
    ``tiles`` quantile buckets of ``order_col`` (descending) within each
    ``by`` group — "keep the top quality quartile per language", the
    standard corpus-pruning stage between scoring and mixing.

    ``exact=True`` ranks with ``ntile`` over a per-group sort (descending
    ``order_col``, then ``tiebreak`` ascending for a total, deterministic
    order) — integer-exact and oracle-matchable, but the per-group sort is
    a full exchange of the group's rows; with few distinct groups (e.g.
    languages) the partitions are FEW AND HUGE, so this path is for
    fixture-scale parity checks and high-cardinality groups only.

    ``exact=False`` is the 100 TB path: ONE bounded aggregation computes
    the per-group ``1 − keep/tiles`` quantile threshold
    (``approx_percentile``), the tiny stats frame broadcasts back, and the
    gate is a row-local ``>=`` filter — no per-group sort, no skew, two
    narrow passes over the data.  Boundary rows may differ from the exact
    path by the sketch's rank error; ``out`` is NULL (no tile number is
    computed).
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    if not 1 <= keep <= tiles:
        raise ValueError("need 1 <= keep <= tiles")
    if exact:
        order = [F.col(order_col).desc()]
        if tiebreak:
            order.append(F.col(tiebreak).asc())
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn(out, F.ntile(tiles).over(w).cast("long"))
            .where(F.col(out) <= keep)
        )
    q = 1.0 - keep / tiles
    stats = df.groupBy(*keys).agg(
        F.expr(f"approx_percentile({order_col}, {q})").alias("__thr")
    )
    if keys:
        cond = None
        for k in keys:
            c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
            cond = c if cond is None else (cond & c)
        gated = (
            df.alias("l")
            .join(F.broadcast(stats.alias("r")), cond)
            .where(F.col(order_col) >= F.col("__thr"))
            .select([F.col(f"l.{c}") for c in df.columns])
        )
    else:
        gated = (
            df.join(F.broadcast(stats))
            .where(F.col(order_col) >= F.col("__thr"))
            .select(df.columns)
        )
    return gated.withColumn(out, F.lit(None).cast("long"))


def srp_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 8,
) -> DataFrame:
    """Signed-random-projection document embedding (Charikar 2002 SimHash
    family, kept UNquantized): dimension ``j`` is the sum over token
    occurrences of a hash-derived ±1 sign — a sparse random projection of
    the bag-of-tokens vector.  The model-free text→dense-vector stage:
    cosine similarity of these integer vectors approximates token-profile
    similarity, so the output feeds the ANN/near-dup layer
    (``cosine_topk``, ``embedding_near_dup``) when no model embedding
    exists — closing the text → features → embedding → search loop inside
    the engine.

    Components are EXACT integers (±1 sums), so results hash identically
    across engines.  Emitted long-form ``(id, dim, value)`` — array
    columns stringify differently across pandas bridges, and the long
    form joins directly onto bucketed similarity pipelines.

    Dimension ``j``'s sign for a token is BIT ``j`` of the token's single
    60-bit md5 hash — one md5 per token occurrence for ALL dimensions
    (≤ 60), not one per (token, dim); the md5 is the dominant cost and
    its bits are independent, which is exactly what SRP needs.

    Scale: the per-document dim-vector is computed in ONE codegen
    projection over the scan (one hash + ``dim`` bit-tests per token, no
    shuffle, no UDF); the long-form fan-out is a map-only posexplode of
    ``dim`` rows per document.
    """
    from .text import hash60, tokens

    if not 1 <= dim <= 60:
        raise ValueError("dim must be in [1, 60] (signs are hash60 bits)")
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda w: hash60(w)).alias("__hs"),
    )
    def bit_sum(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 0, F.lit(1)
        ).otherwise(F.lit(-1))

    # NULL text → NULL token array → NULL fold; a no-content doc projects
    # to the zero vector (empty sum), matching the SQL mirror's coalesced
    # sum (nullvals edge axis)
    comps = [
        F.coalesce(
            F.aggregate(F.col("__hs"), F.lit(0).cast("long"), bit_sum(j)),
            F.lit(0).cast("long"),
        )
        for j in range(dim)
    ]
    return hashed.select(
        F.col(id_col), F.posexplode(F.array(*comps)).alias("dim", "value")
    ).select(F.col(id_col), F.col("dim").cast("long"), F.col("value").cast("long"))


def srp_embedding_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 8,
) -> str:
    """DuckDB mirror of :func:`srp_embedding` (same single-hash-per-token
    bit signs; CAST collapses HUGEINT list_sum)."""
    from .text import hash60_sql, tokens_sql

    sign = f"CASE WHEN (({hash60_sql('w')} >> j) & 1) = 0 THEN 1 ELSE -1 END"
    return f"""
        SELECT {id_col}, j::BIGINT AS dim,
               CAST(coalesce(list_sum(list_transform(
                 {tokens_sql(text_col)}, w -> {sign})), 0) AS BIGINT) AS value
        FROM {table}, (SELECT unnest(range(0, {dim})) AS j)"""


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> DataFrame:
    """BM25 retrieval scoring of every document against a bag of query
    terms, with the top-``k`` ranked result — the classic quality-
    retrieval stage (relevance search over a corpus, "find docs like this
    query" for curriculum selection or eval-set mining).

    Engine-portable exactness: BM25 normally needs ``ln`` for idf, and
    float ``ln`` is NOT bit-reproducible across engines (see
    :func:`~tidier_spark.operators.text.unigram_surprisal`).  Here idf is
    the *pre-log* Robertson ratio ``(N − df + 0.5)/(df + 0.5)`` — the
    same docs order the same way for single-term weighting, and every op
    in the per-(doc,term) contribution is an exactly-rounded IEEE double
    op (+,−,×,÷) over integer-derived operands in a FIXED parenthesized
    order, then ``floor(scale·x)`` snaps it to a BIGINT.  Per-doc scores
    are sums of BIGINTs — order-independent, so the distributed aggregate
    is bit-stable vs any oracle.

    Plan: ONE corpus tokenization — the (doc, term) term-frequency frame
    is built once and everything derives from it: doc lengths are its
    per-doc tf sums (co-partitioned groupBy — no second corpus pass),
    query tf is a filter (map-only), df-per-term is |query| rows (AQE
    broadcasts it), corpus stats (N, Σdl) are a 1-row broadcast cross
    join.  Per-doc BIGINT sum → global top-k via TakeOrdered (orderBy +
    limit lowers to a per-partition partial top-k + driver merge of k
    rows — no single-partition sort), rank assigned over the k survivors
    only.  Docs with zero tokens contribute nothing to N/Σdl in either
    engine (they also can't match a term), keeping the mirrors aligned.
    """
    if k < 0:
        raise ValueError(f"bm25_topk: k must be >= 0, got {k}")
    from .text import tokens

    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    terms = sorted(set(query_terms))
    tf_all = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__term"))
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # doclen fans out to the stats fold AND the scoring join, tf to the
    # df-per-term fold AND the join — un-materialized each copy re-runs
    # the full corpus tokenize (measured 8 corpus scans in the physical
    # plan, vs the "built once" the docstring promises).  Materialize the
    # two BOUNDED frames (doclen O(n_docs), tf O(n_docs·|query|)) so the
    # tokenize truly runs once per frame (r12, guide §3.3); the
    # token-level tf_all stays lazy.  Lazy persist, not eager
    # localCheckpoint — the eager barrier measured slower than the
    # scans it saved (bm25_topk 1.10 lazy / 1.38 eager / 0.92 s
    # persist min-of-3 at sf0.1).
    doclen = tf_all.groupBy(id_col).agg(
        F.sum("__tf").alias("__dl")
    ).persist()
    stats = doclen.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__sumdl")
    )
    tf = tf_all.where(F.col("__term").isin(terms)).persist()
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    j = (
        tf.join(F.broadcast(dfreq), "__term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
    )
    # fixed parenthesization — the oracle mirrors it token for token
    idf = (F.col("__n") - F.col("__df") + F.lit(0.5)) / (
        F.col("__df") + F.lit(0.5)
    )
    avgdl = F.col("__sumdl") / F.col("__n")
    sat = (F.col("__tf") * F.lit(k1 + 1.0)) / (
        F.col("__tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("__dl") / avgdl))
    )
    contrib = F.floor(F.lit(float(scale)) * (idf * sat)).cast("bigint")
    scored = (
        j.select(F.col(id_col), contrib.alias("__c"))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("score_fp"))
        .orderBy(F.col("score_fp").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score_fp").desc(), F.col(id_col).asc())
    return scored.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col(id_col),
        F.col("score_fp"),
    )


def bm25_topk_sql(
    table: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> str:
    """DuckDB mirror of :func:`bm25_topk` — identical parenthesization so
    every IEEE double op rounds identically."""
    from .text import tokens_sql

    if not query_terms:
        raise ValueError("bm25_topk_sql: query_terms must be non-empty")
    terms = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(query_terms))
    )
    toks = tokens_sql(text_col)
    return f"""
        WITH tf_all AS (
          SELECT {id_col}, term, count(*)::BIGINT AS tf FROM (
            SELECT {id_col}, unnest({toks}) AS term FROM {table}
          ) GROUP BY 1, 2
        ),
        doclen AS (
          SELECT {id_col}, CAST(sum(tf) AS BIGINT) AS dl
          FROM tf_all GROUP BY 1
        ),
        stats AS (
          SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS sumdl
          FROM doclen
        ),
        tf AS (
          SELECT {id_col}, term, tf FROM tf_all WHERE term IN ({terms})
        ),
        dfreq AS (
          SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        ),
        contrib AS (
          SELECT tf.{id_col},
                 CAST(floor({float(scale)!r} * (
                   (((n - df) + 0.5) / (df + 0.5)) *
                   ((tf * {k1 + 1.0!r}) /
                    (tf + {k1!r} * ({1.0 - b!r} + {b!r} * (dl / (sumdl / n)))))
                 )) AS BIGINT) AS c
          FROM tf
          JOIN dfreq USING (term)
          JOIN doclen USING ({id_col})
          CROSS JOIN stats
        )
        SELECT row_number() OVER (ORDER BY score_fp DESC, {id_col} ASC)::BIGINT
                 AS rank,
               {id_col}, score_fp
        FROM (
          SELECT {id_col}, CAST(sum(c) AS BIGINT) AS score_fp
          FROM contrib GROUP BY 1
        )
        ORDER BY score_fp DESC, {id_col} ASC LIMIT {k}"""


def term_overlap_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Distinct-term overlap retrieval: rank every document by how many
    of the query's terms appear in it (set semantics — repeats don't
    count), top-``k`` by (overlap DESC, id ASC).  The cheap lexical
    recall stage a hybrid retriever pairs with a scored ranker (BM25,
    dense) under :func:`rrf_fuse`; pure integer arithmetic, so the
    ranking is bit-stable against any engine.

    Plan: the overlap is ONE map-side column expression
    (``array_intersect`` of the doc's distinct tokens with a literal
    term array — no explode, no shuffle); the global top-k lowers to
    TakeOrdered exactly as in :func:`bm25_topk`.
    """
    if k < 0:
        raise ValueError(f"term_overlap_topk: k must be >= 0, got {k}")
    from .text import tokens

    if not query_terms:
        raise ValueError("term_overlap_topk: query_terms must be non-empty")
    terms = sorted(set(query_terms))
    overlap = F.size(
        F.array_intersect(
            F.array_distinct(tokens(text_col)),
            json_lit(terms, "array<string>"),
        )
    ).cast("bigint")
    scored = (
        df.select(F.col(id_col), overlap.alias("overlap"))
        .orderBy(F.col("overlap").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("overlap").desc(), F.col(id_col).asc())
    return scored.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col(id_col),
        F.col("overlap"),
    )


def term_overlap_topk_sql(
    table: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> str:
    """DuckDB mirror of :func:`term_overlap_topk` (integer-exact)."""
    from .text import tokens_sql

    if not query_terms:
        raise ValueError("term_overlap_topk_sql: query_terms must be non-empty")
    terms = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(query_terms))
    )
    toks = tokens_sql(text_col)
    return f"""
        SELECT row_number() OVER (ORDER BY overlap DESC, {id_col} ASC)::BIGINT
                 AS rank,
               {id_col}, overlap
        FROM (
          SELECT {id_col},
                 len(list_intersect(list_distinct({toks}), [{terms}]))::BIGINT
                   AS overlap
          FROM {table}
        )
        ORDER BY overlap DESC, {id_col} ASC LIMIT {k}"""


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_const: int = 60,
    k: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N
    ranked lists into one ranking — the standard hybrid-retrieval
    combiner (BM25 ⊕ dense ⊕ ...): each list contributes
    ``scale div (k_const + rank)`` for the ids it ranked, absent ids
    contribute 0, fused order is (total DESC, id ASC).

    Exactness: the contribution is INTEGER division of integers (no
    float anywhere), so the fused score is bit-stable against any
    engine's mirror — the same fixed-point discipline as
    :func:`bm25_topk`.

    Scale: inputs are already top-k-bounded lists (each ≤ its own k),
    so the full-outer id join and the single global rank window run
    over at most Σkᵢ rows — model-sized, never corpus-sized.  Returns
    ``(rank, id, rrf_fp)``.
    """
    if k < 0:
        raise ValueError(f"rrf_fuse: k must be >= 0, got {k}")
    if k_const < 1:
        raise ValueError(f"rrf_fuse: k_const must be >= 1, got {k_const}")
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    scored = None
    for i, r in enumerate(rankings):
        c = r.select(
            F.col(id_col),
            F.expr(
                f"{int(scale)} div ({int(k_const)} + cast({rank_col} as bigint))"
            ).alias(f"__rrf{i}"),
        )
        scored = c if scored is None else scored.join(c, id_col, "full")
    total = F.lit(0).cast("bigint")
    for i in range(len(rankings)):
        total = total + F.coalesce(F.col(f"__rrf{i}"), F.lit(0).cast("bigint"))
    fused = (
        scored.select(F.col(id_col), total.alias("rrf_fp"))
        .orderBy(F.col("rrf_fp").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("rrf_fp").desc(), F.col(id_col).asc())
    return fused.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col(id_col),
        F.col("rrf_fp"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    by: str | list[str] | None = None,
    k: float = 3.5,
    id_cols: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Median/MAD outlier screen (the robust z-score): flag rows whose
    penny-scaled value sits more than ``k`` median-absolute-deviations
    from the group median.  Mean/stddev outlier rules break on the very
    rows they hunt (the outliers drag the mean); median and MAD have a
    50% breakdown point — the standard data-quality screen.

    Two aggregate-then-broadcast passes: per-group median (one shuffle on
    the keys, tiny result broadcast back), then per-group MAD of the
    residuals (same shape).  Group stats are |groups| rows — AQE
    broadcasts both joins; the data rows themselves NEVER shuffle (plan
    snapshot: ``python scripts/explain_all.py <out_dir> <suffix>
    robust_outliers``).  ``exact=False`` swaps the sort-based
    exact percentile for ``percentile_approx`` (bounded state, the
    100 TB lowering — same plan shape, sketch accuracy).  MAD-after-
    median is inherently two passes, and the lazy plan re-reads the base
    projection per pass (3 pushed-down column scans total); at 100 TB
    ``df.persist()`` the input first to trade memory for the re-scans.

    Values are fixed-pointed via round(·×100) so both medians are exact
    midpoint halves at worst — engine-portable doubles; the flag
    comparison replays identically on any engine.
    """
    if k < 0:
        raise ValueError(f"robust_outliers: k must be >= 0, got {k}")
    keys = [by] if isinstance(by, str) else list(by or [])
    ids = id_cols or []
    pct = (
        (lambda c: F.percentile(c, F.lit(0.5)))
        if exact
        else (lambda c: F.percentile_approx(c, F.lit(0.5), F.lit(10_000)))
    )
    x = F.round(F.col(value_col) * 100).cast("bigint")
    base = df.select(*ids, *keys, x.alias("vc"))
    med = (
        base.groupBy(*keys).agg(pct(F.col("vc")).alias("med"))
        if keys
        else base.agg(pct(F.col("vc")).alias("med"))
    )
    # med's broadcast feeds both the MAD branch and the final join; the
    # |groups|-row frame is bounded, so persist it rather than rely on
    # broadcast-exchange reuse across the two branches (r12, guide §3.3).
    med = med.persist()
    def stat_join(left: DataFrame, stats: DataFrame) -> DataFrame:
        # null-safe equality on the group keys: a NULL key forms its own
        # group under groupBy, and the broadcast join-back must keep it
        # (plain equi-join would silently drop those rows)
        if not keys:
            return left.crossJoin(F.broadcast(stats))
        r = stats
        for k2 in keys:
            r = r.withColumnRenamed(k2, f"__s_{k2}")
        cond = None
        for k2 in keys:
            c = F.col(k2).eqNullSafe(F.col(f"__s_{k2}"))
            cond = c if cond is None else (cond & c)
        return left.join(F.broadcast(r), cond).drop(
            *[f"__s_{k2}" for k2 in keys]
        )

    j1 = stat_join(base, med)
    resid = j1.withColumn("absdev", F.abs(F.col("vc") - F.col("med")))
    mad = (
        resid.groupBy(*keys).agg(pct(F.col("absdev")).alias("mad"))
        if keys
        else resid.agg(pct(F.col("absdev")).alias("mad"))
    )
    j2 = stat_join(resid, mad)
    return j2.select(
        *ids,
        *keys,
        "vc",
        "med",
        "mad",
        (F.col("absdev") > F.lit(k) * F.col("mad")).alias("is_outlier"),
    )


def robust_outliers_sql(
    table: str,
    value_col: str,
    by: str,
    k: float = 3.5,
    id_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror of the exact :func:`robust_outliers` lowering (same
    median-then-MAD chain; DuckDB ``median`` interpolates even-count
    midpoints exactly like Spark ``percentile(·, 0.5)``; stat joins are
    IS NOT DISTINCT FROM — NULL group keys survive, mirroring the
    Spark side's eqNullSafe)."""
    ids = ", ".join(id_cols or [])
    ids_pre = f"{ids}, " if ids else ""
    return f"""
        WITH base AS (
          SELECT {ids_pre}{by},
                 CAST(round({value_col} * 100) AS BIGINT) AS vc
          FROM {table}
        ),
        med AS (
          SELECT {by}, median(vc) AS med FROM base GROUP BY 1
        ),
        resid AS (
          SELECT b.*, m.med, abs(b.vc - m.med) AS absdev
          FROM base b JOIN med m ON b.{by} IS NOT DISTINCT FROM m.{by}
        ),
        mad AS (
          SELECT {by}, median(absdev) AS mad FROM resid GROUP BY 1
        )
        SELECT {ids_pre}r.{by}, r.vc, r.med, d.mad,
               r.absdev > {k!r} * d.mad AS is_outlier
        FROM resid r JOIN mad d ON r.{by} IS NOT DISTINCT FROM d.{by}"""


def perceptron_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    positive_max: int = 4,
    iters: int = 2,
    scale: int = 10_000,
) -> DataFrame:
    """Distributed BATCH perceptron training (the classifier-TRAINING
    counterpart of :func:`classifier_score`'s fixed-weight inference):
    binary target ``label <= positive_max``, synchronous updates — each
    round scores every vector against the broadcast weights (a JVM
    zip_with dot product), sums the misclassified rows' ``y·x`` into one
    per-dim gradient aggregate, and applies the update driver-side.
    Driver state is the d+1 weight vector; per-round cost is one shuffle
    of (dim, partial-sum) cells — the same iterative-algorithm budget as
    ``kmeans_fit`` / ``graph.py``.

    EXACT integer arithmetic end to end (components fixed-point BIGINT,
    margins and gradients are integer dot products/sums, bias rides as a
    constant ``scale`` feature) — so training is bit-reproducible on any
    engine and the DuckDB oracle unrolls the same rounds as CTEs.

    Returns the final classification ``(id, y, margin, correct)`` under
    the trained weights.  Batch (synchronous) updates are what make
    distributed determinism possible — classic sequential perceptron
    updates are order-dependent by construction.
    """
    # NULL feature vectors carry no trainable signal and are excluded
    # (nullvals edge axis — a NULL would otherwise flow to len() below);
    # zero vectors stay: they are valid points in feature space
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.concat(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * scale).cast("bigint"),
            ),
            F.array(F.lit(scale).cast("bigint")),  # bias feature
        ).alias("__x"),
        F.when(F.col(label_col) <= positive_max, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("__y"),
    )
    first = base.select("__x").first()
    if first is None:
        raise ValueError(
            "perceptron_fit: input DataFrame is empty (no non-NULL vectors)"
        )
    dims = len(first["__x"])
    w = [0] * dims

    def margin(weights: list[int]) -> F.Column:
        arr = json_lit([int(v) for v in weights], "array<bigint>")
        return F.aggregate(
            F.zip_with(F.col("__x"), arr, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    for _ in range(iters):
        m = base.withColumn("__m", margin(w))
        grad = (
            m.where(F.col("__y") * F.col("__m") <= 0)
            .select("__y", F.posexplode(F.col("__x")).alias("i", "v"))
            .groupBy("i")
            .agg(F.sum(F.col("__y") * F.col("v")).alias("g"))
            .collect()
        )
        for r in grad:
            w[int(r["i"])] += int(r["g"])

    out = base.withColumn("__m", margin(w))
    return out.select(
        F.col(id_col),
        F.col("__y").alias("y"),
        F.col("__m").alias("margin"),
        (F.col("__y") * F.col("__m") > 0).alias("correct"),
    )


def perceptron_fit_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    positive_max: int = 4,
    iters: int = 2,
    scale: int = 10_000,
    dims: int = 64,
) -> str:
    """DuckDB mirror of :func:`perceptron_fit`: identical rounds unrolled
    as CTEs (same fixed point, same synchronous gradient, same bias)."""
    d1 = dims + 1
    dot = (
        f"list_sum(list_transform(range(1, {d1 + 1}),"
        f" i -> v.x[i] * w.c[i]))"
    )
    ctes = [
        f"""vecs AS (
          SELECT {id_col} AS vid,
                 list_append(
                   list_transform({vec_col},
                                  x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)),
                   {scale}::BIGINT) AS x,
                 CASE WHEN {label_col} <= {positive_max}
                      THEN 1::BIGINT ELSE (-1)::BIGINT END AS y
          FROM {table}
        )""",
        f"""w0 AS (
          SELECT list_transform(range(1, {d1 + 1}), i -> 0::BIGINT) AS c
        )""",
    ]
    for r in range(iters):
        ctes.append(
            f"""m{r} AS (
              SELECT v.vid, v.x, v.y, CAST({dot} AS BIGINT) AS m
              FROM vecs v CROSS JOIN w{r} w
            )"""
        )
        ctes.append(
            f"""g{r} AS (
              SELECT i, CAST(sum(y * x[i]) AS BIGINT) AS g
              FROM m{r}, (SELECT unnest(range(1, {d1 + 1})) AS i)
              WHERE y * m <= 0
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""w{r + 1} AS (
              SELECT (SELECT list(w.c[i] + coalesce(g.g, 0) ORDER BY i)
                      FROM (SELECT unnest(range(1, {d1 + 1})) AS i)
                      LEFT JOIN g{r} g USING (i)) AS c
              FROM w{r} w
            )"""
        )
    return f"""WITH {', '.join(ctes)}
        SELECT v.vid AS {id_col}, v.y AS y,
               CAST({dot} AS BIGINT) AS margin,
               v.y * CAST({dot} AS BIGINT) > 0 AS correct
        FROM vecs v CROSS JOIN w{iters} w"""


def winsorize(
    df: DataFrame,
    value_col: str,
    by: str | list[str] | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
    id_cols: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Quantile clamping (winsorization): values below the group's
    ``lower`` quantile or above its ``upper`` quantile snap to the
    quantile — the standard heavy-tail tamer applied before scaling or
    regression (cousin of :func:`robust_outliers`, which flags instead
    of clamping, and of ``quantile_prune``, which drops).

    Penny fixed point in, penny fixed point out: quantiles of the BIGINT
    pennies are engine-identical interpolated doubles; the clamp is pure
    comparison, so every output value is either the original integer or
    a shared quantile double — deterministic everywhere.  One group-stat
    aggregate broadcast back (null-safe keys); data rows never shuffle.
    ``exact=False`` swaps in ``percentile_approx`` (the bounded-state
    100 TB lowering).
    """
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(
            f"winsorize: need 0 <= lower <= upper <= 1, got ({lower}, {upper})"
        )
    keys = [by] if isinstance(by, str) else list(by or [])
    ids = id_cols or []
    probs = F.array(F.lit(float(lower)), F.lit(float(upper)))
    pct = (
        (lambda c: F.percentile(c, probs))
        if exact
        else (lambda c: F.percentile_approx(c, probs, F.lit(10_000)))
    )
    x = F.round(F.col(value_col) * 100).cast("bigint")
    base = df.select(*ids, *keys, x.alias("vc"))
    q = (
        base.groupBy(*keys).agg(pct(F.col("vc")).alias("__q"))
        if keys
        else base.agg(pct(F.col("vc")).alias("__q"))
    )
    q = q.select(
        *keys,
        F.col("__q")[0].alias("q_lo"),
        F.col("__q")[1].alias("q_hi"),
    )
    if keys:
        r = q
        for k2 in keys:
            r = r.withColumnRenamed(k2, f"__s_{k2}")
        cond = None
        for k2 in keys:
            c = F.col(k2).eqNullSafe(F.col(f"__s_{k2}"))
            cond = c if cond is None else (cond & c)
        j = base.join(F.broadcast(r), cond).drop(
            *[f"__s_{k2}" for k2 in keys]
        )
    else:
        j = base.crossJoin(F.broadcast(q))
    clamped = (
        F.when(F.col("vc") < F.col("q_lo"), F.col("q_lo"))
        .when(F.col("vc") > F.col("q_hi"), F.col("q_hi"))
        .otherwise(F.col("vc").cast("double"))
    )
    return j.select(
        *ids,
        *keys,
        "vc",
        "q_lo",
        "q_hi",
        clamped.alias("vc_winsor"),
        ((F.col("vc") < F.col("q_lo")) | (F.col("vc") > F.col("q_hi"))).alias(
            "clamped"
        ),
    )


def winsorize_sql(
    table: str,
    value_col: str,
    by: str,
    lower: float = 0.01,
    upper: float = 0.99,
    id_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror of the exact :func:`winsorize` lowering
    (``quantile_cont`` interpolates exactly like Spark ``percentile``)."""
    ids = ", ".join(id_cols or [])
    ids_pre = f"{ids}, " if ids else ""
    return f"""
        WITH base AS (
          SELECT {ids_pre}{by},
                 CAST(round({value_col} * 100) AS BIGINT) AS vc
          FROM {table}
        ),
        q AS (
          SELECT {by},
                 quantile_cont(vc, {float(lower)!r}) AS q_lo,
                 quantile_cont(vc, {float(upper)!r}) AS q_hi
          FROM base GROUP BY 1
        )
        SELECT {ids_pre}b.{by}, b.vc, q.q_lo, q.q_hi,
               CASE WHEN b.vc < q.q_lo THEN q.q_lo
                    WHEN b.vc > q.q_hi THEN q.q_hi
                    ELSE CAST(b.vc AS DOUBLE) END AS vc_winsor,
               (b.vc < q.q_lo OR b.vc > q.q_hi) AS clamped
        FROM base b JOIN q ON b.{by} IS NOT DISTINCT FROM q.{by}"""

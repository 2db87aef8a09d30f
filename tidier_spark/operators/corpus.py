"""Corpus curation pipeline: the operators composed end-to-end.

`clean_corpus` is the canonical training-data shape: language gate →
quality gate → exact near-dup collapse (fingerprint survivor) — one
declarative plan, so Catalyst pushes the cheap gates below the dedup
shuffle.  `stratified_sample` and `mix_datasets` cover the
sampling/mixing stages around it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .literal import json_lit
from .text import analyze_documents

__all__ = [
    "clean_corpus",
    "stratified_sample",
    "mix_datasets",
    "boilerplate_ngrams",
    "pack_sequences",
    "hash_split",
    "hash_split_sql",
    "deterministic_sample",
    "deterministic_sample_sql",
    "chunk_documents",
    "chunk_documents_sql",
    "weighted_sample",
    "weighted_sample_sql",
    "shuffle_rows",
    "shuffle_rows_sql",
    "remove_repeated_spans",
    "remove_repeated_spans_sql",
    "budget_mix",
    "temperature_mix",
    "temperature_mix_sql",
    "budget_mix_sql",
    "length_buckets",
    "length_buckets_sql",
]


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
) -> DataFrame:
    """Language + quality gates, then fingerprint dedup keeping min(id).

    Returns (id, fingerprint, quality) of surviving documents.  Plan shape:
    metrics come from :func:`analyze_documents` (tokenization materialized
    ONCE — composing the per-metric column builders would re-run the regex
    tokenizer ~7× per row), the gates are plain filters above the scan, and
    the min-id survivor is ``row_number() over (partition by fingerprint
    order by id) = 1`` — ONE shuffle on already-gated rows, single pass, no
    self-join, nothing computed twice.

    Parallelism note: the internal fan-out is FILE-SCAN scoped — it
    reacts to under-split file sources only.  An in-memory / post-shuffle
    input (``createDataFrame``, unions, joins) is left at
    its incoming partitioning; a caller holding a single-partition
    in-memory corpus should ``df.repartition(n)`` before the call.
    """
    from pyspark.sql import Window

    # Token analysis is CPU-bound; a small/single-file source scans as one
    # partition and would serialize it.  analyze_documents fans out
    # internally (guarded by _fan_out) — the former unconditional
    # caller-side repartition would have been a full extra shuffle at
    # real scale, where the scan already has enough partitions.
    a = analyze_documents(df, text_col)

    # The gate is folded into the window ORDER instead of a pre-shuffle
    # filter: a filter on computed metrics would be pushed below the
    # metrics projection by Catalyst, INLINING the full quality/lang
    # expression tree into the predicate and re-running the tokenizer ~20×
    # per row (measured 2.7× slower).  Ordering by (failed, id) keeps the
    # survivor rule identical — the rank-1 row of a fingerprint group is
    # its min-id GATED row whenever one exists — while metrics are computed
    # exactly once below the shuffle.  The shuffle carries ungated rows
    # too, but they are 4 tiny columns/row vs a 20× CPU recompute.
    passed = F.col("lang_pred").isin(*languages) & (F.col("quality") >= min_quality)
    base = a.select(id_col, "fingerprint", "quality", "lang_pred").withColumn(
        "__fail", F.when(passed, F.lit(0)).otherwise(F.lit(1))
    )
    w = Window.partitionBy("fingerprint").orderBy("__fail", id_col)
    return (
        base.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("__fail") == 0))
        .select(F.col(id_col), F.col("fingerprint"), F.col("quality"))
    )


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict[str, float], seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``) — seeded, no shuffle;
    strata missing from ``fractions`` are dropped (explicit contract)."""
    return df.sampleBy(strata_col, fractions, seed)


def mix_datasets(
    dfs: list[DataFrame], weights: list[float], seed: int = 42
) -> DataFrame:
    """Mix corpora by rate: weight w keeps ~w of each source (w ≤ 1) —
    the standard training-mixture stage.  Sampling is per-partition
    Bernoulli (no shuffle); the union is a plan-level concatenation.
    """
    if len(dfs) != len(weights):
        raise ValueError("one weight per dataset")
    sampled = []
    for i, (d, w) in enumerate(zip(dfs, weights)):
        if not (0 < w <= 1):
            raise ValueError(f"weight {w} must be in (0, 1]")
        sampled.append(d if w == 1 else d.sample(False, w, seed + i))
    out = sampled[0]
    for d in sampled[1:]:
        out = out.unionByName(d)
    return out


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """EXACT heavy-hitters over per-document distinct shingles: the n-grams
    appearing in ≥ ``min_docs`` documents — headers, footers, license
    blurbs, navigation chrome.  The boilerplate list feeds a removal pass
    or a quality penalty.

    Plan: explode distinct shingles (narrow) → count per shingle (ONE
    shuffle, map-side partial combine) → threshold filter.  Document
    frequency is bounded by doc count, so the aggregate state per shingle
    is one long — exact is affordable where exact distinct-VALUE counting
    would not be.
    """
    from .dedup import _distinct_shingles

    sh = _distinct_shingles(df, id_col, text_col, shingle_n)
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Sequence packing for pretraining batch construction: documents are
    concatenated in ``id_col`` order and chunked at ``budget`` tokens;
    each doc gets the bin it STARTS in and its token offset within it.

    The running total is the scale-sensitive part: a naive global
    ``sum() OVER (ORDER BY id)`` funnels the corpus through one task, so
    it is lowered through
    :func:`tidier_spark.window.scale_safe_cumulative` — two-pass
    range-partitioned prefix sum, n parallel tasks, exact for the integer
    token counts.
    """
    if budget < 1:
        # budget=0 dies as a JVM DIVIDE_BY_ZERO deep in the prefix plan;
        # budget<0 is worse — it silently emits nonsense bin ids
        raise ValueError(f"pack_sequences: budget must be >= 1, got {budget}")
    from ..window import scale_safe_cumulative
    from .text import token_count

    base = df.withColumn(
        "n_tokens",
        F.col(n_tokens_col) if n_tokens_col else token_count(text_col),
    ).select(id_col, "n_tokens")
    # localCheckpoint: the prefix lowering needs two passes (split-point
    # percentiles + the prefix itself); when `df` is an expensive derived
    # frame (pipeline_e2e: the whole dedup→gate chain) the second pass
    # would re-execute it.  `base` is two narrow columns — the
    # materialization is 16 bytes/doc at any scale.
    base = base.localCheckpoint(eager=True)
    c = scale_safe_cumulative(
        base, "n_tokens", order_by=[id_col], out="__cum", fn="sum"
    )
    before = F.col("__cum") - F.col("n_tokens")
    return c.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.expr(f"(__cum - n_tokens) div {budget}").alias("bin_id"),
        (before % budget).alias("bin_offset"),
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    fracs: dict[str, float] | None = None,
    salt: str = "split",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment.

    Each row is bucketed by a 60-bit md5 hash of ``id:salt`` — the split
    is a pure function of the id, so it is reproducible across runs,
    engines, and data layouts (no RNG, no partition dependence), and any
    new rows join the same split boundaries.  ``fracs`` maps split name →
    fraction, in insertion order; fractions must sum to ≤ 1 with the last
    split absorbing the remainder check.

    Plan: one scan, zero shuffles — the hash is a scalar expression.
    """
    from .text import hash60

    if buckets < 1:
        raise ValueError(f"hash_split: buckets must be >= 1, got {buckets}")
    if fracs is None:
        fracs = {"train": 0.9, "val": 0.05, "test": 0.05}
    if abs(sum(fracs.values()) - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    bucket = F.pmod(
        hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt))),
        F.lit(buckets),
    )
    edges, acc = [], 0.0
    for name, frac in fracs.items():
        acc += frac
        edges.append((name, int(round(acc * buckets))))
    # forward-ordered WHEN chain: the FIRST matching edge wins
    expr = None
    for name, hi in edges:
        cond = bucket < hi
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(edges[-1][0]))
    return df.withColumn("bucket", bucket.cast("long")).withColumn("split", expr)


def hash_split_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    fracs: dict[str, float] | None = None,
    salt: str = "split",
    buckets: int = 10_000,
) -> str:
    """DuckDB mirror of :func:`hash_split` (same md5 bucket math)."""
    from .text import hash60_sql

    if fracs is None:
        fracs = {"train": 0.9, "val": 0.05, "test": 0.05}
    h = hash60_sql(f"({id_col}::VARCHAR || ':{salt}')")
    bucket = f"(({h}) % {buckets})"
    edges, acc = [], 0.0
    for name, frac in fracs.items():
        acc += frac
        edges.append((name, int(round(acc * buckets))))
    whens = " ".join(f"WHEN {bucket} < {hi} THEN '{n}'" for n, hi in edges[:-1])
    case = f"CASE {whens} ELSE '{edges[-1][0]}' END"
    return f"""
        SELECT *, {bucket}::BIGINT AS bucket, {case} AS split
        FROM {table}"""


def deterministic_sample(
    df: DataFrame,
    n_per_group: int,
    by: str | list[str],
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Exact-n per-group sample, reproducible everywhere: rows rank by a
    60-bit md5 of ``id:salt`` and the n smallest win.  Unlike
    ``df.sample`` (partition-dependent RNG) or reservoir sampling
    (order-dependent), the selected set is a pure function of ids — the
    same rows are chosen on any engine, layout, or cluster size, and the
    choice is auditable after the fact.

    Plan: one window shuffle on the group keys; the hash is a scalar
    expression.  Changing ``salt`` redraws the sample.

    ``n_per_group=0`` selects nothing (documented passthrough for
    generated pipelines); negative n is a caller bug and raises.
    """
    if n_per_group < 0:
        raise ValueError(
            f"deterministic_sample: n_per_group must be >= 0, got {n_per_group}"
        )
    from pyspark.sql import Window

    from .text import hash60

    keys = [by] if isinstance(by, str) else list(by)
    h = hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(*keys).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def deterministic_sample_sql(
    table: str,
    n_per_group: int,
    by: str,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> str:
    """DuckDB mirror of :func:`deterministic_sample`."""
    from .text import hash60_sql

    h = hash60_sql(f"({id_col}::VARCHAR || ':{salt}')")
    return f"""
        SELECT * EXCLUDE (__rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY {by}
                      ORDER BY {h} ASC, {id_col} ASC) AS __rn
          FROM {table}
        ) WHERE __rn <= {n_per_group}"""


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding token-window chunking for training-sequence construction:
    each document becomes ``(id, chunk_id, chunk_text, chunk_len)`` rows of
    ``chunk_tokens`` tokens starting every ``stride`` tokens (overlap =
    chunk_tokens - stride); the final chunk may be short, token-free
    documents produce no chunks.

    n_chunks = 1 + max(0, ceil((n - chunk_tokens) / stride)) — the chunk
    schedule is closed-form per row, so the whole operator is one
    tokenize + one explode inside whole-stage codegen: no UDF, no
    shuffle, output partitioning inherits the scan.  At 100 TB this is
    the map-only stage you want (the explode fan-out is bounded by
    n/stride per doc).
    """
    from .text import tokens

    if stride < 1 or chunk_tokens < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    toks = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    t = F.col("__t")
    # NULL text tokenizes to a NULL array; coalesce size to 0 so NULL
    # documents are token-free (zero chunks) rather than falling into the
    # n_chunks arithmetic where greatest() drops the NULL and fabricates
    # one empty chunk (nullvals edge axis)
    n = F.coalesce(F.size(t), F.lit(0))
    extra = F.greatest(
        F.lit(0),
        F.floor((n - F.lit(chunk_tokens) + F.lit(stride - 1)) / F.lit(stride)),
    )
    n_chunks = F.when(n == 0, F.lit(0)).otherwise(F.lit(1) + extra)
    # sequence(0, -1) DESCENDS in Spark — guard the empty case explicitly
    seq = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    chunk = F.transform(
        seq,
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(t, (i * stride + 1).cast("int"), chunk_tokens)
            ).alias("chunk_text"),
            F.size(F.slice(t, (i * stride + 1).cast("int"), chunk_tokens))
            .cast("long")
            .alias("chunk_len"),
        ),
    )
    return toks.select(F.col(id_col), F.explode(chunk).alias("__c")).select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_text").alias("chunk_text"),
        F.col("__c.chunk_len").alias("chunk_len"),
    )


def chunk_documents_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> str:
    """DuckDB mirror of :func:`chunk_documents` (same closed-form schedule;
    list_slice's inclusive end == Spark slice's length semantics)."""
    from .text import tokens_sql

    return f"""
        WITH toks AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}
        ),
        nc AS (
          -- coalesce: NULL text = token-free = zero chunks (matches the
          -- Spark side's size-coalesce; nullvals edge axis)
          SELECT {id_col}, t,
                 CASE WHEN coalesce(len(t), 0) = 0 THEN 0
                      ELSE 1 + greatest(0, floor((len(t) - {chunk_tokens}
                                 + {stride - 1}) / {stride}))::BIGINT END AS n_chunks
          FROM toks
        ),
        fan AS (
          SELECT {id_col}, t, unnest(range(0, n_chunks)) AS ci FROM nc
        )
        SELECT {id_col}, ci::BIGINT AS chunk_id,
               array_to_string(
                 list_slice(t, ci * {stride} + 1,
                            ci * {stride} + {chunk_tokens}), ' ') AS chunk_text,
               len(list_slice(t, ci * {stride} + 1,
                              ci * {stride} + {chunk_tokens}))::BIGINT AS chunk_len
        FROM fan"""


def weighted_sample(
    df: DataFrame,
    n_per_group: int,
    *,
    weight_col: str,
    by: str | list[str] | None = None,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weight-biased sampling: rows rank by
    ``hash60(id:salt) div weight`` and the n smallest per group win, so a
    row with twice the (integer, >=1) weight has twice the chance of a
    small priority — heavier rows win proportionally more often.

    Like :func:`deterministic_sample` this is a pure function of
    (id, salt, weight): reproducible across engines/layouts/cluster
    sizes and auditable after the fact.  The priority uses exact integer
    division (Spark ``div`` / DuckDB ``//``) — float division of 60-bit
    hashes would lose ulps and make tie behavior engine-dependent.  (The
    classic Efraimidis–Spirakis key ``-ln(u)/w`` gives exact inclusion
    probabilities but leans on libm, which is NOT bit-portable across
    engines; this integer rule trades calibrated probabilities for
    portability.)

    Plan: one scalar hash + one window shuffle on the group keys.
    ``n_per_group=0`` selects nothing; negative n raises (caller bug).
    """
    if n_per_group < 0:
        raise ValueError(
            f"weighted_sample: n_per_group must be >= 0, got {n_per_group}"
        )
    from pyspark.sql import Window

    from .text import hash60

    keys = [by] if isinstance(by, str) else list(by or [])
    h = hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    tagged = df.withColumn("__h", h).withColumn(
        "__pri", F.expr(f"__h div greatest(cast({weight_col} AS BIGINT), 1L)")
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    ).orderBy(F.col("__pri").asc(), F.col(id_col).asc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_group)
        .drop("__h", "__pri", "__rn")
    )


def weighted_sample_sql(
    table: str,
    n_per_group: int,
    *,
    weight_col: str,
    by: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> str:
    """DuckDB mirror of :func:`weighted_sample`."""
    from .text import hash60_sql

    h = hash60_sql(f"({id_col}::VARCHAR || ':{salt}')")
    pri = f"({h} // greatest({weight_col}::BIGINT, 1))"
    return f"""
        SELECT * EXCLUDE (__rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY {by}
                      ORDER BY {pri} ASC, {id_col} ASC) AS __rn
          FROM {table}
        ) WHERE __rn <= {n_per_group}"""


def shuffle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    out: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global permutation for training-data ordering:
    ``out`` = 1-based rank of ``md5(id:salt)`` — the same shuffled order
    on any engine, layout, or cluster size, re-drawable by salt.

    A naive ``row_number() OVER (ORDER BY md5)`` funnels the corpus
    through ONE task; this lowers through
    :func:`tidier_spark.window.scale_safe_cumulative` — range-partition
    on the hash key, per-partition local ranks, per-partition counts
    prefix-combined and broadcast back as offsets.  n parallel tasks,
    two passes, exact integer positions.
    """
    from ..window import scale_safe_cumulative, string_key_literal

    key = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    tagged = df.withColumn("__k", key)
    # md5 keys are UNIFORM over the 32-hex-char string domain by
    # construction, so the range-bucket split points are STATIC literals —
    # uniform cuts of [0, 16^32) rendered as md5-shaped hex strings, then
    # mapped through string_key_literal into the PROJECTED domain
    # _bucket_order_key compares against (hex of the ASCII bytes; raw-
    # domain cuts land everything in 1-3 buckets, as a simulation showed).
    # Zero data passes to derive them, and the permutation stays a
    # single-pass-over-input plan.
    n = df.sparkSession.sparkContext.defaultParallelism
    splits = sorted(
        {
            string_key_literal("%032x" % ((i + 1) * 16**32 // n))
            for i in range(n - 1)
        }
    )
    ranked = scale_safe_cumulative(
        tagged, "1", order_by=["__k", id_col], out=out, fn="sum",
        split_points=splits,
    )
    return ranked.withColumn(out, F.col(out).cast("long")).drop("__k")


def shuffle_rows_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    salt: str = "shuffle",
    out: str = "shuffle_pos",
) -> str:
    """DuckDB mirror of :func:`shuffle_rows` (single-node rank is fine for
    the oracle — the distributed lowering must match it exactly)."""
    return f"""
        SELECT *, row_number() OVER (
                 ORDER BY md5({id_col}::VARCHAR || ':{salt}'), {id_col}
               )::BIGINT AS {out}
        FROM {table}"""


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
    min_docs: int = 4,
) -> DataFrame:
    """C4-style repeated-span removal: delete every non-overlapping
    ``span_tokens``-token span whose text occurs in ≥ ``min_docs``
    DISTINCT documents (boilerplate, licence blurbs, navigation chrome),
    then reassemble each document from its surviving spans in order.

    This is the corpus-level complement of :func:`boilerplate_ngrams`
    (which only REPORTS the heavy hitters): here the offending content is
    actually excised and the document text rebuilt — the C4 "three-sentence
    span" dedup rule re-expressed over fixed token windows, since span
    boundaries must be deterministic and engine-portable.

    Plan shape (100 TB reading): tokenize + explode spans is map-only with
    fan-out n/span_tokens per doc; the bad-span list is one hash aggregate
    over per-doc-distinct 60-bit span hashes (map-side combine, keys are
    uniform hashes — no skew); by construction it holds only spans with
    document-frequency ≥ min_docs, i.e. a heavy-hitter set orders of
    magnitude smaller than the corpus, so the removal join BROADCASTS as a
    left-anti probe (no second shuffle of the span rows).  Reassembly
    groups by the doc id — the one unavoidable wide exchange, keyed by the
    (unique) document id.  The span branch is computed twice (once narrow
    for the bad-set, once full for reassembly); column pruning makes the
    first pass (id, hash) only.
    """
    from .dedup import _fan_out
    from .text import hash60, tokens

    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    k = span_tokens
    toks = _fan_out(df).select(F.col(id_col), tokens(text_col).alias("__t"))
    base = toks.select(
        F.col(id_col),
        F.col("__t"),
        F.ceil(F.size("__t") / F.lit(k)).cast("long").alias("n_spans"),
    )
    seq = F.when(
        F.col("n_spans") > 0,
        F.sequence(F.lit(0).cast("long"), F.col("n_spans") - 1),
    ).otherwise(F.array().cast("array<long>"))
    spans = (
        base.select(F.col(id_col), F.col("__t"), F.explode(seq).alias("span_id"))
        .select(
            F.col(id_col),
            F.col("span_id"),
            F.concat_ws(
                " ",
                F.slice(F.col("__t"), (F.col("span_id") * k + 1).cast("int"), k),
            ).alias("span_text"),
        )
        .withColumn("__h", hash60(F.col("span_text")))
    )
    bad = (
        spans.select(id_col, "__h")
        .dropDuplicates([id_col, "__h"])
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("__h")
        # the bad-span set is SMALL (it is broadcast two lines down) but
        # its lineage is a full corpus span-explode; materialize it so the
        # anti-join's broadcast build doesn't re-run that pass — one
        # span pass fewer in the physical plan.
        .localCheckpoint(eager=True)
    )
    kept = spans.join(F.broadcast(bad), "__h", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_id", "span_text"))),
                lambda s: s["span_text"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select(id_col, "n_spans")
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_spans"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def remove_repeated_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
    min_docs: int = 4,
) -> str:
    """DuckDB mirror of :func:`remove_repeated_spans` (same span schedule,
    same 60-bit md5 span hash, same distinct-doc-frequency threshold)."""
    from .text import hash60_sql, tokens_sql

    k = span_tokens
    return f"""
        WITH base AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS t,
                 CAST(ceil(len({tokens_sql(text_col)}) / {k}.0) AS BIGINT) AS n_spans
          FROM {table}
        ),
        spans AS (
          SELECT {id_col}, ci::BIGINT AS span_id,
                 array_to_string(list_slice(t, ci * {k} + 1, ci * {k} + {k}), ' ')
                   AS span_text
          FROM (SELECT {id_col}, t, unnest(range(0, n_spans)) AS ci FROM base)
        ),
        hashed AS (
          SELECT {id_col}, span_id, span_text,
                 {hash60_sql('span_text')} AS h
          FROM spans
        ),
        bad AS (
          SELECT h FROM (SELECT DISTINCT {id_col}, h FROM hashed)
          GROUP BY h HAVING count(*) >= {min_docs}
        ),
        agg AS (
          SELECT {id_col}, count(*)::BIGINT AS n_kept,
                 string_agg(span_text, ' ' ORDER BY span_id) AS clean_text
          FROM hashed WHERE h NOT IN (SELECT h FROM bad)
          GROUP BY {id_col}
        )
        SELECT b.{id_col}, b.n_spans,
               coalesce(a.n_kept, 0)::BIGINT AS n_kept,
               coalesce(a.clean_text, '') AS clean_text
        FROM base b LEFT JOIN agg a USING ({id_col})"""


def budget_mix(
    df: DataFrame,
    budget_tokens: int,
    weights: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    salt: str = "mix",
) -> DataFrame:
    """Token-budget mixture: sample each source at the rate that fills its
    weighted share of a global token budget — the "mix N sources to hit a
    target token count at declared proportions" stage between scoring and
    sequence prep.

    All arithmetic is exact-integer and the per-row decision is a pure
    function of ``(id, salt)``: a source's target is ``budget · wᵢ / Σw``
    (integer division), its keep-threshold is ``min(1, target/available)``
    expressed in ppm (again integer division), and a row survives when
    ``hash60(id:salt) mod 1e6 < threshold`` — so the SAME rows are chosen
    on any engine, layout, or cluster size, and re-weighting only moves
    the thresholds.  Sources missing from ``weights`` are dropped
    (explicit contract, mirroring ``stratified_sample``).

    Plan: one bounded aggregation (per-source token totals — |sources|
    rows), broadcast back, row-local filter.  No wide shuffle of the
    corpus; at 100 TB this is a stats pass plus a map-only gate.
    """
    from .text import hash60

    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    if any(w != int(w) for w in weights.values()):
        raise ValueError(
            "weights are integer relative shares, got fractional values "
            f"in {weights!r} — scale them up instead of passing floats"
        )
    total_w = sum(int(w) for w in weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum > 0")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, int(w)) for s, w in sorted(weights.items())],
        f"{source_col} string, __wt long",
    )
    avail = df.groupBy(source_col).agg(
        F.sum(tokens_col).cast("long").alias("__avail")
    )
    # guard __avail == 0: ANSI mode (Spark 4 default) raises on div 0,
    # and the DuckDB mirror's // 0 -> NULL -> least() skips it -> 1e6;
    # a zero-token source keeps all its rows on both engines
    thr = avail.join(wdf, source_col).select(
        F.col(source_col),
        F.least(
            F.lit(1_000_000).cast("long"),
            F.when(
                F.col("__avail") > 0,
                F.expr(
                    f"(({int(budget_tokens)} * __wt) div {total_w})"
                    " * 1000000 div __avail"
                ),
            ).otherwise(F.lit(1_000_000)),
        ).cast("long").alias("thr_ppm"),
    )
    key = F.pmod(
        hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt))),
        F.lit(1_000_000),
    )
    return (
        df.join(F.broadcast(thr), source_col)
        .where(key < F.col("thr_ppm"))
        .select(F.col(id_col), F.col(source_col), F.col("thr_ppm"))
    )


def budget_mix_sql(
    table: str = "documents",
    budget_tokens: int = 15000,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_expr: str | None = None,
    salt: str = "mix",
) -> str:
    """DuckDB mirror of :func:`budget_mix` (same integer thresholds, same
    md5 row hash)."""
    from .text import tokens_sql

    if not weights:
        raise ValueError("weights must be a non-empty dict (mirror of budget_mix)")
    total_w = sum(int(w) for w in weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum > 0")
    vals = ", ".join(
        "('" + s.replace("'", "''") + f"', {int(w)})"
        for s, w in sorted(weights.items())
    )
    tok = tokens_expr or f"len({tokens_sql('text')})"
    return f"""
        WITH avail AS (
          SELECT {source_col} AS src, CAST(sum({tok}) AS BIGINT) AS avail
          FROM {table} GROUP BY 1
        ),
        w(src, wt) AS (VALUES {vals}),
        thr AS (
          SELECT src,
                 least(1000000,
                       (({budget_tokens} * wt) // {total_w})
                         * 1000000 // avail)::BIGINT AS thr_ppm
          FROM avail JOIN w USING (src)
        )
        SELECT d.{id_col}, d.{source_col}, t.thr_ppm
        FROM {table} d JOIN thr t ON d.{source_col} = t.src
        WHERE (('0x' || substr(md5(d.{id_col}::VARCHAR || ':{salt}'), 1, 15))::BIGINT
               % 1000000) < t.thr_ppm"""


def _isqrt_sql(expr: str) -> str:
    """Exact integer sqrt as portable SQL: ``floor(sqrt(n))`` with a
    boundary fix-up — IEEE sqrt can round UP across a perfect square
    (n = k²−1 → k.0), so the candidate is decremented when its square
    exceeds n.  Exact for n < 2^52 (token totals, comfortably).  Written
    once, used by both engines, so the weight arithmetic is bit-equal by
    construction — the reason temperature_mix needs no libm pow."""
    c = f"CAST(floor(sqrt({expr})) AS BIGINT)"
    return f"(CASE WHEN {c} * {c} > ({expr}) THEN {c} - 1 ELSE {c} END)"


def temperature_mix(
    df: DataFrame,
    budget_tokens: int,
    *,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-weighted source mixture: each source's share of the
    token budget is proportional to ``n_s^alpha`` (its available tokens,
    temperature-flattened) — the T5/mT5/LLaMA multi-source sampling rule
    that UPWEIGHTS low-resource sources (alpha < 1) relative to plain
    proportional mixing, without the manual ``weights`` dict of
    :func:`budget_mix`.

    ``alpha`` must be one of ``1.0`` (proportional), ``0.5``, ``0.25`` —
    the sqrt-chain grid: ``n^0.5`` and ``n^0.25`` compute as EXACT integer
    square roots (one/two :func:`_isqrt_sql` applications), so every
    weight, target, and keep-threshold is integer arithmetic, identical
    on any engine.  Arbitrary alpha would need libm ``pow``, whose last
    ulp is not portable across engines — callers wanting e.g. 0.3 should
    precompute weights and use :func:`budget_mix`.

    Per-row decision (budget_mix discipline): keep iff
    ``hash60(id:salt) mod 1e6 < thr_ppm(source)`` where ``thr_ppm =
    min(1e6, (budget · w_s div Σw) · 1e6 div n_s)`` — a pure function of
    (id, salt, per-source totals), reproducible on any layout or cluster
    size.  The two products route through DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB): unlike budget_mix's small user-declared shares,
    ``w_s`` here is data-sized (the per-source token total for
    alpha=1.0), so ``budget · w_s`` exceeds 2^63 exactly at the
    trillion-token scale the operator targets; 128-bit
    intermediates are exact to 10^38 and the quotients land back in
    BIGINT (both ≤ max(budget, 1e6·thr-numerator) by construction).

    Plan: one bounded aggregation (per-source totals — |sources| rows), a
    1-row total broadcast back over it, then a broadcast join + map-only
    gate over the corpus.  No wide shuffle; at 100 TB this is a stats
    pass plus a filter, same as budget_mix.
    """
    from .text import hash60

    if budget_tokens < 0:
        raise ValueError(
            f"temperature_mix: budget_tokens must be >= 0, got {budget_tokens}"
        )
    if alpha not in (1.0, 0.5, 0.25):
        raise ValueError(
            "temperature_mix: alpha must be 1.0, 0.5 or 0.25 (the exact "
            f"sqrt-chain grid; see docstring), got {alpha}"
        )
    avail = df.groupBy(source_col).agg(
        F.sum(tokens_col).cast("long").alias("__n")
    )
    w_expr = "__n"
    if alpha <= 0.5:
        w_expr = _isqrt_sql(w_expr)
    if alpha == 0.25:
        w_expr = _isqrt_sql(w_expr)
    # zero-token sources get weight 0 -> target 0 -> threshold 1e6 via
    # the __n > 0 guard below (keep-all of nothing; mirrors budget_mix)
    wdf = avail.withColumn("__w", F.expr(w_expr))
    tot = wdf.agg(F.sum("__w").cast("long").alias("__tw"))
    thr = wdf.crossJoin(F.broadcast(tot)).select(
        F.col(source_col),
        F.least(
            F.lit(1_000_000).cast("long"),
            F.when(
                (F.col("__n") > 0) & (F.col("__tw") > 0),
                # 128-bit intermediates (see docstring): budget·w and
                # target·1e6 overflow BIGINT at trillion-token totals.
                # The keep-all branch (target >= n -> thr = 1e6) is
                # decided BEFORE the ·1e6 product, so the final integral
                # divide's quotient is < 1e6 and lands in BIGINT.
                F.expr(
                    "CASE WHEN {t} >= __n THEN 1000000 "
                    "ELSE (CAST({t} AS DECIMAL(38,0)) * 1000000) div __n "
                    "END".format(
                        t=f"((CAST({int(budget_tokens)} AS DECIMAL(38,0))"
                        " * __w) div __tw)"
                    )
                ),
            ).otherwise(F.lit(1_000_000)),
        ).cast("long").alias("thr_ppm"),
    )
    key = F.pmod(
        hash60(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt))),
        F.lit(1_000_000),
    )
    return (
        df.join(F.broadcast(thr), source_col)
        .where(key < F.col("thr_ppm"))
        .select(F.col(id_col), F.col(source_col), F.col("thr_ppm"))
    )


def temperature_mix_sql(
    table: str = "documents",
    budget_tokens: int = 15000,
    *,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_expr: str | None = None,
    salt: str = "tmix",
) -> str:
    """DuckDB mirror of :func:`temperature_mix` (same isqrt-chain weights,
    same integer thresholds, same md5 row hash)."""
    from .text import tokens_sql

    if alpha not in (1.0, 0.5, 0.25):
        raise ValueError(
            f"temperature_mix_sql: alpha must be 1.0, 0.5 or 0.25, got {alpha}"
        )
    tok = tokens_expr or f"len({tokens_sql('text')})"
    w_expr = "n"
    if alpha <= 0.5:
        w_expr = _isqrt_sql(w_expr)
    if alpha == 0.25:
        w_expr = _isqrt_sql(w_expr)
    return f"""
        WITH avail AS (
          SELECT {source_col} AS src, CAST(sum({tok}) AS BIGINT) AS n
          FROM {table} GROUP BY 1
        ),
        w AS (SELECT src, n, {w_expr} AS wt FROM avail),
        tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w),
        thr AS (
          SELECT src,
                 least(1000000,
                       CASE WHEN n > 0 AND tw > 0 THEN
                         -- HUGEINT = DuckDB's 128-bit twin of the Spark
                         -- side's DECIMAL(38,0) intermediates; keep-all
                         -- decided before the *1e6 product (see the
                         -- Column version)
                         CASE WHEN (({budget_tokens}::HUGEINT * wt) // tw)
                                >= n THEN 1000000
                         ELSE ((({budget_tokens}::HUGEINT * wt) // tw)
                               * 1000000 // n)::BIGINT END
                       ELSE 1000000 END)::BIGINT AS thr_ppm
          FROM w, tot
        )
        SELECT d.{id_col}, d.{source_col}, t.thr_ppm
        FROM {table} d JOIN thr t ON d.{source_col} = t.src
        WHERE (('0x' || substr(md5(d.{id_col}::VARCHAR || ':{salt}'), 1, 15))::BIGINT
               % 1000000) < t.thr_ppm"""


def length_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
    batch_size: int = 16,
    exact: bool = True,
) -> DataFrame:
    """Sequence-length bucketed batching — group similarly-sized documents
    so fixed-shape training batches waste minimal padding (the dynamic-
    batching stage every LM data loader runs).  Output: ``(id, n_tokens,
    bucket, batch)`` with equal-frequency buckets and deterministic
    ``batch_size``-row batches inside each bucket (order: tokens, id).

    Two lowerings, one semantics knob:

    * ``exact=True`` — NTILE over the global (tokens, id) order: perfectly
      equal-frequency, engine-portable (NTILE's floor/remainder split is
      identical everywhere), and ORACLE-CHECKABLE — but the global window
      is one sorted partition, so this is the fixture/verification path.
    * ``exact=False`` — bucket boundaries from a ``percentile_approx``
      sketch (one bounded-state aggregate), assignment via a broadcast
      when-chain: MAP-ONLY after one small aggregate, no global sort
      anywhere — the 100 TB path.  Buckets are equal-frequency within
      sketch error; batch numbering is per-bucket (the window partitions
      on the bucket id, and equal-frequency buckets are balanced by
      construction — no hot partition).
    """
    if n_buckets < 1:
        raise ValueError(f"length_buckets: n_buckets must be >= 1, got {n_buckets}")
    if batch_size < 1:
        raise ValueError(f"length_buckets: batch_size must be >= 1, got {batch_size}")
    from .text import token_count

    # NULL text counts as 0 tokens: engines disagree on NULL sort order
    # (Spark NULLS FIRST vs DuckDB NULLS LAST), so the bucket boundary
    # must never see a NULL key
    base = df.select(
        F.col(id_col),
        F.coalesce(token_count(text_col), F.lit(0).cast("long")).alias(
            "n_tokens"
        ),
    )
    if exact:
        wg = Window.orderBy("n_tokens", id_col)
        b = base.withColumn("bucket", F.ntile(n_buckets).over(wg).cast("long"))
    else:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = base.agg(
            F.percentile_approx(
                "n_tokens", json_lit(probs, "array<double>"), F.lit(10_000)
            ).alias("q")
        ).collect()[0]["q"]
        expr = F.lit(n_buckets)
        for i in range(len(bounds) - 1, -1, -1):
            expr = F.when(F.col("n_tokens") <= F.lit(bounds[i]), i + 1).otherwise(
                expr
            )
        b = base.withColumn("bucket", expr.cast("long"))
    wb = Window.partitionBy("bucket").orderBy("n_tokens", id_col)
    # integer div, not float-divide-and-truncate (repo determinism rule)
    return b.withColumn("__rn", F.row_number().over(wb)).withColumn(
        "batch", F.expr(f"(__rn - 1) div {int(batch_size)}")
    ).drop("__rn")


def length_buckets_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
    batch_size: int = 16,
) -> str:
    """DuckDB mirror of the exact :func:`length_buckets` lowering (NTILE +
    per-bucket row_number batching)."""
    from .text import tokens_sql

    return f"""
        WITH base AS (
          SELECT {id_col},
                 coalesce(len({tokens_sql(text_col)}), 0)::BIGINT AS n_tokens
          FROM {table}
        ),
        bucketed AS (
          SELECT {id_col}, n_tokens,
                 ntile({n_buckets}) OVER (ORDER BY n_tokens, {id_col})::BIGINT
                   AS bucket
          FROM base
        )
        SELECT {id_col}, n_tokens, bucket,
               ((row_number() OVER (PARTITION BY bucket
                                    ORDER BY n_tokens, {id_col}) - 1)
                // {batch_size})::BIGINT AS batch
        FROM bucketed"""

"""Text analysis operators: tokenize, quality, language-ID, fingerprints.

All pure built-in ``pyspark.sql.functions`` expressions — JVM-side, inside
whole-stage codegen, no Python UDFs — so they run at scan speed on 100 TB.
Each operator has a DuckDB-SQL mirror (the ``*_SQL`` builders below) used by
the correctness oracle; keeping both definitions adjacent is the differential
-test discipline the reference models (tests_tidier.R:271-323).

Portability notes (Spark ↔ DuckDB):
* tokenization = ``split(fold_lower(text), '[^a-z0-9]+')`` minus empty
  strings.  ``fold_lower`` = ``lower(translate(x, 'İ', 'i'))``: U+0130
  (Turkish dotted capital I) is Unicode's ONLY expanding lowercase
  mapping — Java/Spark emits ``i`` + combining dot (length grows) while
  DuckDB's utf8proc emits plain ``i``, so without the pre-fold the two
  engines tokenize Turkish text differently AND disagree on post-lower
  string lengths (punct_ratio).  With the fold, identical on both
  engines for any input;
* string→int hashing = first 15 hex digits of md5 (60 bits, sign-safe in a
  BIGINT): Spark ``conv(substring(md5(x),1,15),16,10)``, DuckDB
  ``('0x' || substr(md5(x),1,15))::BIGINT``.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_PATTERN = "[^a-z0-9]+"

# Tiny stopword lexicons for the language-ID heuristic.  Deliberately small
# and frozen: the operator contract is "deterministic n-gram/stopword
# heuristic", not a trained model.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "ich"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "les", "de", "et", "un", "est", "que"),
    "zh": ("de", "shi", "bu", "le", "zai", "ren", "you", "wo"),
}

__all__ = [
    "TOKEN_PATTERN",
    "fold_lower",
    "fold_lower_sql",
    "LANG_LEXICONS",
    "tokens",
    "token_count",
    "avg_token_len",
    "stopword_ratio",
    "punct_ratio",
    "quality_score",
    "detect_language",
    "fingerprint",
    "shingles",
    "hash60",
    "unigram_surprisal",
    "bigram_surprisal",
    "bigram_surprisal_sql",
    "unigram_surprisal_sql",
    "tokens_sql",
    "quality_sql_columns",
    "detect_language_sql",
    "fingerprint_sql",
    "shingles_sql",
    "hash60_sql",
    "token_entropy",
    "token_entropy_sql",
    "source_kl_drift",
    "source_kl_drift_sql",
    "vocab_jaccard",
    "vocab_jaccard_sql",
]


# --- Spark-side column builders -------------------------------------------


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition a narrow file scan so per-row heavy ops use every core.

    Single-file parquet sources arrive as one input split; probe the scan's
    file list (metadata only — no RDD lineage instantiation, which
    ``df.rdd.getNumPartitions()`` would force) and fan out when the source
    can't feed ``defaultParallelism`` tasks.  Non-file plans (joined /
    aggregated inputs) are left alone: they already carry a shuffle.

    (r12: moved here from ``dedup.py`` — the map-only text/BPE operators
    serialize the whole corpus expression tree on one core without it; at
    real scale the guards below make it a no-op.)

    Guards (ADVICE r12):

    * **split estimate, not file count** — one large multi-row-group file
      already scans as ``maxPartitionBytes``-sized splits, so a
      few-large-files layout does NOT need the fan-out (and fanning it
      would inject a full corpus shuffle).  When the paths are locally
      statable, the gate is the estimated split count
      ``Σ ceil(bytes / maxPartitionBytes)``; otherwise the file count
      stands in (documented proxy: many-file object-store sources at
      scale clear ``files >= parallelism`` anyway).
    * **idempotent** — ``inputFiles()`` sees through a repartition, so a
      caller-side fan-out composed with an operator's internal one would
      silently double the shuffle; an existing Repartition node in the
      logical plan tree makes this a no-op.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= par:
        return df
    try:
        if _has_repartition(df._jdf.queryExecution().logical()):
            return df
    except Exception:
        pass
    try:
        max_split = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
        est_splits = 0
        for uri in files:
            u = urlparse(uri)
            if u.scheme not in ("", "file"):
                break  # non-local paths: file-count proxy decides
            size = os.path.getsize(unquote(u.path))
            est_splits += max(1, -(-size // max_split))
            if est_splits >= par:
                return df  # scan already feeds enough tasks
    except Exception:
        pass  # unstatable paths: file-count proxy decides
    return df.repartition(par)


def _has_repartition(plan) -> bool:
    """Whether a JVM logical plan has a Repartition or
    RepartitionByExpression node; node names only, so a column alias
    that contains the word does not count."""
    if plan.nodeName().startswith("Repartition"):
        return True
    kids = plan.children()
    return any(_has_repartition(kids.apply(i)) for i in range(kids.size()))


def fold_lower(col: Column | str) -> Column:
    """Engine-portable lowercase: fold U+0130 → 'i' BEFORE lowering (see
    module portability notes), then ``lower``.  A no-op for ASCII."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.translate(c, "\u0130", "i"))


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens, empties removed → array<string>."""
    return F.filter(F.split(fold_lower(col), TOKEN_PATTERN), lambda x: x != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def avg_token_len(col: Column | str) -> Column:
    """Mean token length; NULL for token-free text (SQL 0/0 semantics)."""
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    # nullif: ANSI mode (Spark 4 default) raises on x/0 instead of NULL
    return (total / F.nullif(F.size(t), F.lit(0))).cast("double")


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = LANG_LEXICONS["en"]) -> Column:
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return (hits / F.nullif(F.size(t), F.lit(0))).cast("double")


def punct_ratio(col: Column | str) -> Column:
    """Share of characters that are not [a-z0-9 ] after lowercasing."""
    c = fold_lower(col)
    kept = F.length(F.regexp_replace(c, "[^a-z0-9 ]", ""))
    return ((F.length(c) - kept) / F.nullif(F.length(c), F.lit(0))).cast("double")


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length, token shape, stopwords.

    score = 0.4·min(n_tokens/100, 1)
          + 0.3·(1 − punct_ratio)
          + 0.2·min(stopword_ratio·5, 1)
          + 0.1·clamp((avg_token_len − 2) / 8 in [0,1])
    """
    nt = token_count(col)
    return (
        F.lit(0.4) * F.least(nt / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(col))
        + F.lit(0.2) * F.least(stopword_ratio(col) * 5, F.lit(1.0))
        + F.lit(0.1)
        * F.greatest(
            F.lit(0.0), F.least((avg_token_len(col) - 2) / 8, F.lit(1.0))
        )
    ).cast("double")


def detect_language(col: Column | str) -> Column:
    """Stopword-hit argmax over LANG_LEXICONS; alphabetical tie-break.

    Ties (including the all-zero case) resolve to the alphabetically first
    language — a fixed, documented rule so results hash-match any engine.
    """
    t = tokens(col)

    def hit_counter(lex: tuple[str, ...]):
        # single-arg lambda: pyspark treats multi-arg lambdas as
        # (value, index) HOFs, so the lexicon must be captured by closure
        return F.size(F.filter(t, lambda x: x.isin(*lex)))

    scores = {lang: hit_counter(lex) for lang, lex in sorted(LANG_LEXICONS.items())}
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    result = F.lit(None).cast("string")
    # first alphabetical language achieving the max wins → iterate reversed
    # so earlier langs overwrite later ones in the when-chain
    for lang in sorted(scores, reverse=True):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    return result


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of sorted distinct tokens.

    The classic "fingerprint" normalization for fuzzy exact-dedup: case,
    punctuation, token order, and repetition are all ignored.
    """
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles → array<string> (input to MinHash)."""
    if n < 1:
        raise ValueError(f"shingles: n must be >= 1, got {n}")
    return _ngrams(tokens(col), n)


def _ngrams(t: Column, n: int) -> Column:
    """Every word n-gram of the token array ``t``, in order, joined by
    spaces → array<string>; an array shorter than ``n`` gives ``[]``.
    The guard is needed: ``sequence(1, 0)`` DESCENDS in Spark (``[1, 0]``)
    and ``slice(start=0)`` then raises.  Pass a column reference, not a
    ``tokens()`` expression, where the tokens can be materialized first:
    the lambda re-evaluates ``t`` once per n-gram."""
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hash60(col: Column) -> Column:
    """Portable 60-bit integer hash (md5-prefix), non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token estimate (no vocabulary): letter runs cost ⌈len/4⌉
    merged-subword tokens, digit runs ⌈len/3⌉, each punctuation mark 1.

    Approximates LLM-tokenizer counts well enough for corpus budgeting,
    with a closed-form, engine-portable definition (match-based regex —
    DuckDB's RE2 has no lookahead, so no split-with-lookahead tricks).
    """
    c = fold_lower(col)
    letters = F.regexp_extract_all(c, F.lit("[a-z]+"), 0)
    digits = F.regexp_extract_all(c, F.lit("[0-9]+"), 0)
    punct = F.regexp_extract_all(c, F.lit("[^a-z0-9\\s]"), 0)
    cost_l = F.aggregate(
        letters, F.lit(0).cast("long"), lambda a, x: a + F.ceil(F.length(x) / 4)
    )
    cost_d = F.aggregate(
        digits, F.lit(0).cast("long"), lambda a, x: a + F.ceil(F.length(x) / 3)
    )
    return (cost_l + cost_d + F.size(punct)).cast("long")


ROLLING_MOD = 1_000_000_007
ROLLING_BASE = 31
ROLLING_SEED = 7


def rolling_fingerprint(col: Column | str) -> Column:
    """Order-SENSITIVE polynomial rolling hash over the UTF-8 BYTES of the
    text (complement of :func:`fingerprint`, which is order-insensitive):
    ``h = fold(utf8_bytes, seed, (acc, b) -> (acc·31 + b) mod 1e9+7)``.

    Byte-level on purpose: per-character code-point functions (``ascii``)
    diverge across engines/versions on non-ASCII input, while the UTF-8
    byte sequence of a string is a portable, engine-independent value.  The
    bytes are surfaced as hex pairs (``hex`` is uppercase, 2 chars/byte in
    both Spark and DuckDB) and folded with modular reduction each step to
    keep the accumulator < 2⁶³ (Spark 4 runs ANSI mode — silent overflow
    would instead raise).
    """
    c = F.col(col) if isinstance(col, str) else col
    hx = F.upper(F.hex(F.encode(c, "UTF-8")))
    codes = F.transform(
        F.regexp_extract_all(hx, F.lit("[0-9A-F]{2}"), 0),
        lambda p: F.conv(p, 16, 10).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(ROLLING_SEED).cast("long"),
        lambda acc, x: (acc * ROLLING_BASE + x) % ROLLING_MOD,
    )


# --- DuckDB-SQL mirrors (oracle builders) ---------------------------------


def fold_lower_sql(col: str) -> str:
    """DuckDB mirror of :func:`fold_lower`."""
    return f"lower(translate({col}, '\u0130', 'i'))"


def token_count_bpe_sql(col: str = "text") -> str:
    c = fold_lower_sql(col)
    # CAST each list_sum: DuckDB list_sum(list<BIGINT>) yields HUGEINT,
    # which pandas materializes as float64 -> driver hash drift vs Spark's
    # bigint. Same pattern as the interval_join oracle.
    return (
        "("
        f"CAST(coalesce(list_sum(list_transform(regexp_extract_all({c}, '[a-z]+'),"
        " x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT)"
        f" + CAST(coalesce(list_sum(list_transform(regexp_extract_all({c}, '[0-9]+'),"
        " x -> CAST(ceil(length(x) / 3.0) AS BIGINT))), 0) AS BIGINT)"
        f" + len(regexp_extract_all({c}, '[^a-z0-9\\s]'))"
        ")"
    )


def rolling_fingerprint_sql(col: str = "text") -> str:
    # Byte-level mirror of rolling_fingerprint: fold over UTF-8 hex pairs.
    # The CASE guard keeps NULL text NULL (Spark's fold over a NULL array
    # is NULL; DuckDB's list_prepend(seed, NULL) would yield the bare
    # seed — nullvals edge axis).
    return (
        f"CASE WHEN {col} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend({ROLLING_SEED}::BIGINT,"
        f" list_transform(regexp_extract_all(upper(hex(encode({col}))),"
        " '[0-9A-F]{2}'), p -> ('0x' || p)::BIGINT)),"
        f" (acc, x) -> (acc * {ROLLING_BASE} + x) % {ROLLING_MOD}) END"
    )


def tokens_sql(col: str = "text") -> str:
    return (
        f"list_filter(string_split_regex({fold_lower_sql(col)},"
        f" '{TOKEN_PATTERN}'), x -> x <> '')"
    )


def quality_sql_columns(col: str = "text") -> dict[str, str]:
    """SQL expressions matching token_count/avg_token_len/... bit for bit."""
    t = tokens_sql(col)
    en = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    ntok = f"len({t})"
    avg_len = f"(list_sum(list_transform({t}, x -> length(x)))::DOUBLE / nullif({ntok}, 0))"
    stop = f"(len(list_filter({t}, x -> x IN ({en})))::DOUBLE / nullif({ntok}, 0))"
    lc = fold_lower_sql(col)
    punct = (
        f"((length({lc}) - length(regexp_replace({lc},"
        f" '[^a-z0-9 ]', '', 'g')))::DOUBLE / nullif(length({lc}), 0))"
    )
    return {
        "n_tokens": f"CAST({ntok} AS BIGINT)",
        "avg_token_len": f"CAST({avg_len} AS DOUBLE)",
        "stopword_ratio": f"CAST({stop} AS DOUBLE)",
        "punct_ratio": f"CAST({punct} AS DOUBLE)",
        "quality": (
            f"CAST(0.4 * least({ntok} / 100.0, 1.0)"
            f" + 0.3 * (1.0 - {punct})"
            f" + 0.2 * least({stop} * 5, 1.0)"
            f" + 0.1 * greatest(0.0, least(({avg_len} - 2) / 8, 1.0)) AS DOUBLE)"
        ),
    }


def detect_language_sql(col: str = "text") -> str:
    t = tokens_sql(col)
    scores = {
        lang: f"len(list_filter({t}, x -> x IN ({', '.join(repr(w) for w in lex)})))"
        for lang, lex in sorted(LANG_LEXICONS.items())
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {score} = {best} THEN '{lang}'" for lang, score in sorted(scores.items())
    )
    return f"CASE {whens} END"


def fingerprint_sql(col: str = "text") -> str:
    # DuckDB array_to_string([]) is NULL where Spark array_join([]) is ''
    # — a tokenless-but-NON-NULL doc must fingerprint as md5('') on both
    # engines (all empty docs are content-identical, so exact dedup must
    # group them); NULL text stays NULL (emptystr edge axis).
    return (
        f"CASE WHEN {col} IS NULL THEN NULL ELSE "
        f"md5(coalesce(array_to_string(list_sort(list_distinct("
        f"{tokens_sql(col)})), ' '), '')) END"
    )


def shingles_sql(col: str = "text", n: int = 3) -> str:
    t = tokens_sql(col)
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 1}, 0) + 1),"
        f" i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' '))"
    )


def hash60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# --- DataFrame-level convenience -------------------------------------------


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column set (the `documents` pipeline).

    Tokenization is materialized ONCE into a temp column and every derived
    metric reads it — naively composing the column builders would re-run
    the regex split ~15× per row (Catalyst's CollapseProject declines to
    inline non-cheap duplicated expressions, but being explicit keeps the
    plan shape independent of optimizer heuristics).

    The input is :func:`_fan_out`-repartitioned when it is an
    under-partitioned file scan: the expression tree is CPU-heavy and
    would otherwise serialize on one core (r12 — measured 1.22 → 0.81 s
    for the text_analysis entry at sf0.1; a no-op at real scale).
    """
    df = _fan_out(df)
    t = F.col("__toks")
    nt = F.size(t)
    total_len = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    avg_len = (total_len / F.nullif(nt, F.lit(0))).cast("double")
    en = LANG_LEXICONS["en"]
    stop = (F.size(F.filter(t, lambda x: x.isin(*en))) / F.nullif(nt, F.lit(0))).cast("double")
    punct = punct_ratio(text_col)

    def hits(lex: tuple[str, ...]):
        return F.size(F.filter(t, lambda x: x.isin(*lex)))

    scores = {lang: hits(lex) for lang, lex in sorted(LANG_LEXICONS.items())}
    best = F.greatest(*scores.values())
    lang_pred = F.lit(None).cast("string")
    for lang in sorted(scores, reverse=True):
        lang_pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(lang_pred)

    quality = (
        F.lit(0.4) * F.least(nt / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct)
        + F.lit(0.2) * F.least(stop * 5, F.lit(1.0))
        + F.lit(0.1) * F.greatest(F.lit(0.0), F.least((avg_len - 2) / 8, F.lit(1.0)))
    ).cast("double")

    return (
        df.withColumn("__toks", tokens(text_col))
        .withColumn("n_tokens", nt.cast("long"))
        .withColumn("avg_token_len", avg_len)
        .withColumn("stopword_ratio", stop)
        .withColumn("punct_ratio", punct)
        .withColumn("quality", quality)
        .withColumn("lang_pred", lang_pred)
        .withColumn("fingerprint", F.md5(F.array_join(F.array_sort(F.array_distinct(t)), " ")))
        .drop("__toks")
    )


def unigram_surprisal(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_freq: int = 2,
):
    """Unigram-LM quality scoring in EXACT integer bits — the
    perplexity-filter stage of a pretraining pipeline (CCNet/Gopher
    style), engine-portable by construction.

    Per token occurrence, surprisal is the floor-log2 information of its
    corpus frequency ratio: ``bits(tok) = bitlen(total) − bitlen(freq)``
    where ``bitlen(c) = length(bin(c))`` is exact integer bit-length
    (floor(log2)+1).  Float ``ln`` is NOT reproducible across engines
    (Java ``Math.log`` vs libm disagree in the last ulp — measured 13% of
    values differ at 6 decimals, and sums drift), so the score stays in
    the integer domain: ``surprisal_bits`` is an exact integer, and
    ``bits_per_token`` is one division of exact operands (correctly
    rounded IEEE — portable).  High bits/token ⇒ rare-token-heavy
    (jargon, noise, other-language); low ⇒ boilerplate-repetitive.

    Returns one row per input doc: ``(id_col, n_tokens, surprisal_bits,
    bits_per_token, n_rare)`` (``n_rare`` = occurrences with corpus freq
    ≤ ``rare_freq`` — the OOV-rate analog; tokenless docs keep 0/NULL).

    Scale shape: explode → one groupBy(token) for the frequency table →
    one shuffle join back on token → one groupBy(doc).  The frequency
    table is vocab-sized (shuffle join, not broadcast — vocab grows with
    the corpus); the 1-row total crossJoins as a broadcast.  No Python
    workers, no driver state.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # The frequency table fans out three ways (totals, the token join, the
    # rare gate) and Spark re-derives the full explode+groupBy lineage for
    # each copy — measured 8 corpus scans in the physical plan.  The table
    # is VOCAB-sized (bounded at any corpus scale), so materialize it once
    # (r12, guide §3.3): corpus tokenize passes drop 4 → 2 and every
    # downstream copy reads the materialized vocab table.  Lazy persist,
    # not eager localCheckpoint: the eager barrier measured SLOWER than
    # the redundant page-cached scans it saved (lm_bigram 1.05 lazy /
    # 1.75 eager / 0.98 s persist min-of-3 at sf0.1) — same finding as
    # the funnel step frames in temporal.py.
    freqs = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq")
    ).persist()
    totals = freqs.agg(F.sum("freq").alias("total"))
    bits = F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("freq")))
    per_doc = (
        tok.join(freqs, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(bits).alias("surprisal_bits"),
            F.sum(
                F.when(F.col("freq") <= rare_freq, 1).otherwise(0)
            ).alias("n_rare"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("surprisal_bits", F.lit(0)).alias("surprisal_bits"),
            F.round(
                F.col("surprisal_bits") / F.col("n_tokens"), 6
            ).alias("bits_per_token"),
            F.coalesce("n_rare", F.lit(0)).alias("n_rare"),
        )
    )


def unigram_surprisal_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_freq: int = 2,
) -> str:
    """DuckDB mirror of :func:`unigram_surprisal` (CASTs: every DuckDB
    aggregate over ints is HUGEINT → pandas float64 without them)."""
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest({tokens_sql(text_col)}) AS tok FROM {table}
),
freqs AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freqs),
per_doc AS (
  SELECT t.{id_col},
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(length(bin(tot.total)) - length(bin(f.freq))) AS BIGINT)
           AS surprisal_bits,
         CAST(sum(CASE WHEN f.freq <= {rare_freq} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare
  FROM tok t JOIN freqs f USING (tok) CROSS JOIN tot
  GROUP BY 1
)
SELECT d.{id_col},
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.surprisal_bits, 0) AS surprisal_bits,
       round(CAST(p.surprisal_bits AS DOUBLE) / p.n_tokens, 6) AS bits_per_token,
       coalesce(p.n_rare, 0) AS n_rare
FROM {table} d LEFT JOIN per_doc p USING ({id_col})"""


def bigram_surprisal(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Bigram-LM quality scoring with unigram backoff, in EXACT integer
    bits — the conditional extension of :func:`unigram_surprisal` (the
    KenLM-style filter shape: how surprising is each token GIVEN its
    predecessor).  Per within-doc bigram, ``bits(tok|prev) =
    bitlen(n(prev,·)) − bitlen(n(prev,tok))``; each doc's FIRST token
    backs off to the unigram code ``bitlen(total) − bitlen(freq)``.
    All quantities are integer bit-lengths (same float-ln-is-not-
    portable rationale as the unigram scorer); ``bits_per_token`` is one
    exact-operand division rounded to 6 places.

    Returns ``(id, n_tokens, bigram_bits, backoff_bits, bits_per_token)``
    per input doc (tokenless docs keep zeros/NULL).

    Scale shape: one posexplode (map-only) → one lag window partitioned
    by doc id (single shuffle, uniform keys) → bigram/context frequency
    tables from one groupBy each (vocab²-bounded) → shuffle joins back
    on (prev, tok) / prev — the same join-don't-broadcast stance as the
    unigram scorer, because n-gram tables grow with the corpus.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    seq = tok.withColumn("prev", F.lag("tok").over(w))
    big = seq.where(F.col("prev").isNotNull())
    # The n-gram tables are vocab²-bounded while their lineage is a full
    # corpus tokenize + lag-window pass; un-materialized they fan out into
    # 14 corpus scans (bc feeds the doc join AND cc; freqs feeds totals AND
    # the backoff join).  Materialize the BOUNDED tables once (r12, guide
    # §3.3); the corpus-sized frames (tok/seq/big) stay lazy — after: two
    # tokenize passes (bigram side + backoff side) plus one plain id scan.
    bc = big.groupBy("prev", "tok").agg(
        F.count(F.lit(1)).alias("bn")
    ).persist()
    cc = bc.groupBy("prev").agg(F.sum("bn").alias("cn"))
    freqs = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq")
    ).persist()
    totals = freqs.agg(F.sum("freq").alias("total"))

    bits_cond = F.length(F.bin(F.col("cn"))) - F.length(F.bin(F.col("bn")))
    cond_doc = (
        big.join(bc, ["prev", "tok"])
        .join(cc, "prev")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits_cond).alias("bigram_bits"),
        )
    )
    bits_uni = F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("freq")))
    first_doc = (
        seq.where(F.col("prev").isNull())
        .join(freqs, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(F.sum(bits_uni).alias("backoff_bits"))
    )
    z = F.lit(0).cast("long")
    return (
        df.select(id_col)
        .join(cond_doc, id_col, "left")
        .join(first_doc, id_col, "left")
        .select(
            F.col(id_col),
            (
                F.coalesce("n_bigrams", z)
                + F.when(F.col("backoff_bits").isNotNull(), 1).otherwise(0)
            ).alias("n_tokens"),
            F.coalesce("bigram_bits", z).alias("bigram_bits"),
            F.coalesce("backoff_bits", z).alias("backoff_bits"),
            F.round(
                (F.coalesce("bigram_bits", z) + F.coalesce("backoff_bits", z))
                / (F.coalesce("n_bigrams", z) + F.lit(1)),
                6,
            ).alias("bits_per_token"),
        )
    )


def bigram_surprisal_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`bigram_surprisal` (same lag chain, same
    bit-length codes; aggregate CASTs dodge HUGEINT drift)."""
    return f"""
WITH tok AS (
  SELECT {id_col}, wp.i AS pos, wp.tok FROM (
    SELECT {id_col},
           unnest(list_transform(range(1, len(toks) + 1),
                  i -> struct_pack(i := i, tok := toks[i]))) AS wp
    FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
  )
),
seq AS (
  SELECT {id_col}, pos, tok,
         lag(tok) OVER (PARTITION BY {id_col} ORDER BY pos) AS prev
  FROM tok
),
bc AS (
  SELECT prev, tok, CAST(count(*) AS BIGINT) AS bn
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
cc AS (SELECT prev, CAST(sum(bn) AS BIGINT) AS cn FROM bc GROUP BY 1),
freqs AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freqs),
cond_doc AS (
  SELECT s.{id_col},
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(length(bin(c.cn)) - length(bin(b.bn))) AS BIGINT)
           AS bigram_bits
  FROM seq s JOIN bc b ON s.prev = b.prev AND s.tok = b.tok
             JOIN cc c ON s.prev = c.prev
  WHERE s.prev IS NOT NULL
  GROUP BY 1
),
first_doc AS (
  SELECT s.{id_col},
         CAST(sum(length(bin(tot.total)) - length(bin(f.freq))) AS BIGINT)
           AS backoff_bits
  FROM seq s JOIN freqs f USING (tok) CROSS JOIN tot
  WHERE s.prev IS NULL
  GROUP BY 1
)
SELECT d.{id_col},
       (coalesce(c.n_bigrams, 0)
        + CASE WHEN fd.backoff_bits IS NOT NULL THEN 1 ELSE 0 END)
         AS n_tokens,
       coalesce(c.bigram_bits, 0) AS bigram_bits,
       coalesce(fd.backoff_bits, 0) AS backoff_bits,
       round(CAST(coalesce(c.bigram_bits, 0) + coalesce(fd.backoff_bits, 0)
                  AS DOUBLE) / (coalesce(c.n_bigrams, 0) + 1), 6)
         AS bits_per_token
FROM {table} d
LEFT JOIN cond_doc c USING ({id_col})
LEFT JOIN first_doc fd USING ({id_col})"""


def token_entropy(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document token-distribution diversity in EXACT integer bits —
    the within-doc complement of :func:`unigram_surprisal` (which scores
    against CORPUS frequencies): low values flag repetitive/boilerplate
    docs, high values diverse vocabulary.  The quality-filter axis C4 and
    Gopher implement with entropy-style repetition rules.

    Float ``ln`` is not reproducible across engines (module portability
    notes), so entropy stays in the floor-log2 integer domain:
    ``entropy_bits_num = Σ_tok c·(bitlen(n) − bitlen(c))`` where ``c`` is
    the token's in-doc count, ``n`` the doc's token total, and
    ``bitlen(x) = length(bin(x))`` exact integer bit-length.  The
    per-token term is the floor-log2 information of the token's in-doc
    probability; ``bits_per_token = num / n`` is one division of exact
    operands (correctly-rounded IEEE — portable).

    Returns one row per input doc: ``(id_col, n_tokens, n_distinct,
    entropy_bits_num, bits_per_token)`` — token-free docs keep
    ``(0, 0, 0, NULL)`` (the house tokenless convention).

    Scale shape: explode → one (doc, token) hash aggregate with map-side
    combine → a doc-partitioned window for the total (re-uses the
    aggregate's rows; |docs|·|distinct-per-doc| cardinality) → one
    (doc) aggregate.  No Python, no driver state, no broadcast of
    anything corpus-sized.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    cnts = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(id_col)
    bitlen = lambda x: F.length(F.bin(x))  # noqa: E731
    withn = cnts.withColumn("n", F.sum("c").over(w))
    per_doc = withn.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.col("c") * (bitlen(F.col("n")) - bitlen(F.col("c")))
        ).cast("long").alias("entropy_bits_num"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.coalesce("entropy_bits_num", F.lit(0)).alias("entropy_bits_num"),
            F.round(
                F.col("entropy_bits_num") / F.col("n_tokens"), 6
            ).alias("bits_per_token"),
        )
    )


def token_entropy_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`token_entropy` (HUGEINT-dodging casts)."""
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest({tokens_sql(text_col)}) AS tok FROM {table}
),
cnts AS (
  SELECT {id_col}, tok, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
withn AS (
  SELECT {id_col}, c,
         CAST(sum(c) OVER (PARTITION BY {id_col}) AS BIGINT) AS n
  FROM cnts
),
per_doc AS (
  SELECT {id_col},
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * (length(bin(n)) - length(bin(c)))) AS BIGINT)
           AS entropy_bits_num
  FROM withn GROUP BY 1
)
SELECT d.{id_col},
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_distinct, 0) AS n_distinct,
       coalesce(p.entropy_bits_num, 0) AS entropy_bits_num,
       round(CAST(p.entropy_bits_num AS DOUBLE) / p.n_tokens, 6)
         AS bits_per_token
FROM {table} d LEFT JOIN per_doc p USING ({id_col})"""


def source_kl_drift(
    df,
    source_col: str = "source",
    text_col: str = "text",
):
    """Per-source token-distribution DRIFT against the corpus-wide
    distribution, in exact integer bits — the slice-vs-corpus divergence
    monitor of a training-data pipeline (is one crawl slice's vocabulary
    profile shifting away from the blend?).

    Floor-log2 KL analog, fully in the integer domain:
    ``drift_bits_num = Σ_tok c_st·((bitlen(c_st) − bitlen(n_s)) −
    (bitlen(c_t) − bitlen(n)))`` — per token, the floor-log2 of the
    in-source probability minus the corpus probability, weighted by the
    source's occurrences.  ``drift_bits = num / n_s`` one exact-operand
    division.  Zero when the source's profile matches the corpus at
    bit-length granularity; grows with divergence (sign carries
    direction at this granularity, so it is a drift STATISTIC, not a
    true KL — which float portability rules out).

    Returns one row per source: ``(source, n_tokens, n_distinct,
    drift_bits_num, drift_bits)``.

    Scale shape: one (source, token) hash aggregate → token-partitioned
    window for corpus counts + source-partitioned window for source
    totals (both over the vocab-sized aggregate, never raw occurrences)
    → 1-row corpus total broadcast via crossJoin → one (source)
    aggregate.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(source_col).alias("source"), F.explode(tokens(text_col)).alias("tok"))
    # cnts feeds the window frame AND the corpus-total fold; lazy, both
    # copies re-tokenize the corpus.  vocab·sources-bounded → materialize
    # once (r12, guide §3.3).
    cnts = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c_st")
    ).persist()
    bitlen = lambda x: F.length(F.bin(x))  # noqa: E731
    withg = (
        cnts.withColumn("c_t", F.sum("c_st").over(Window.partitionBy("tok")))
        .withColumn("n_s", F.sum("c_st").over(Window.partitionBy("source")))
    )
    totals = cnts.agg(F.sum("c_st").alias("n"))
    term = F.col("c_st") * (
        (bitlen(F.col("c_st")) - bitlen(F.col("n_s")))
        - (bitlen(F.col("c_t")) - bitlen(F.col("n")))
    )
    return (
        withg.crossJoin(F.broadcast(totals))
        .groupBy("source")
        .agg(
            F.sum("c_st").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(term).cast("long").alias("drift_bits_num"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            "drift_bits_num",
            F.round(
                F.col("drift_bits_num") / F.col("n_tokens"), 6
            ).alias("drift_bits"),
        )
    )


def source_kl_drift_sql(
    table: str = "documents",
    source_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`source_kl_drift`."""
    return f"""
WITH tok AS (
  SELECT {source_col} AS source, unnest({tokens_sql(text_col)}) AS tok
  FROM {table}
),
cnts AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
  FROM tok GROUP BY 1, 2
),
withg AS (
  SELECT source, tok, c_st,
         CAST(sum(c_st) OVER (PARTITION BY tok) AS BIGINT) AS c_t,
         CAST(sum(c_st) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM cnts
),
tot AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM cnts)
SELECT source,
       CAST(sum(c_st) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(c_st * ((length(bin(c_st)) - length(bin(n_s)))
                        - (length(bin(c_t)) - length(bin(tot.n)))))
            AS BIGINT) AS drift_bits_num,
       round(CAST(sum(c_st * ((length(bin(c_st)) - length(bin(n_s)))
                              - (length(bin(c_t)) - length(bin(tot.n)))))
                  AS DOUBLE) / sum(c_st), 6) AS drift_bits
FROM withg CROSS JOIN tot
GROUP BY source"""


def vocab_jaccard(
    df,
    source_col: str = "source",
    text_col: str = "text",
):
    """Pairwise VOCABULARY overlap between sources: distinct-token
    Jaccard for every source pair that shares at least one token — the
    cross-slice similarity view of a corpus blend (which crawl slices
    are near-duplicates at the vocabulary level, which contribute novel
    tokens).

    Returns ``(source_a, source_b, n_a, n_b, n_inter, jaccard)`` with
    ``source_a < source_b`` (each unordered pair once); ``jaccard =
    n_inter / (n_a + n_b − n_inter)`` exact-operand division rounded to
    6.  Pairs with EMPTY intersection are omitted (their join row never
    forms) — a zero-overlap pair is the absence signal.

    Scale shape: distinct (source, token) — one hash aggregate,
    vocab·sources cardinality — then a token-keyed self equi-join whose
    fan-out per token is the number of sources containing it (bounded by
    the source count, NOT the corpus), one (pair) hash aggregate, and a
    broadcast of the source-size table (|sources| rows).  Never a
    cross join of vocabularies.
    """
    # v fans out to the size table and BOTH self-join sides; lazy, each
    # copy re-runs the corpus tokenize + distinct (measured 8 corpus scans
    # in the plan).  v is vocab·sources-bounded → materialize once (r12,
    # guide §3.3): one tokenize pass feeds all three consumers.
    v = df.select(
        F.col(source_col).alias("source"), F.explode(tokens(text_col)).alias("tok")
    ).distinct().persist()
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n_v"))
    a = v.select(F.col("source").alias("source_a"), "tok")
    b = v.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_v").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_v").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def vocab_jaccard_sql(
    table: str = "documents",
    source_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`vocab_jaccard`."""
    return f"""
WITH v AS (
  SELECT DISTINCT {source_col} AS source, t.tok
  FROM {table}, unnest({tokens_sql(text_col)}) AS t(tok)
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_v FROM v GROUP BY 1
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       sa.n_v AS n_a, sb.n_v AS n_b, i.n_inter,
       round(CAST(i.n_inter AS DOUBLE)
             / (sa.n_v + sb.n_v - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b"""

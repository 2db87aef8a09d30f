"""Distributed BPE vocabulary training (Sennrich et al. 2016, byte-pair
encoding merges) — the tokenizer-training stage of a pretraining pipeline.

The reference engine has no tokenizer operators (SURVEY.md §2.3
"North-star extensions"); this is a Spark-first addition built on the key
scaling fact of the algorithm: after ONE corpus-wide word count, every
merge iteration runs on the VOCABULARY (|V| distinct words, weighted by
their corpus counts), never on the corpus again.  At 100 TB the corpus
pass is a single explode + hash aggregate; the iterations then touch a
frame that is orders of magnitude smaller.  :func:`bpe_train` picks where
they run from the vocabulary's size:

* up to ``_DRIVER_VOCAB_ROWS`` (50k) distinct words, the vocabulary is
  collected and the greedy rounds run in Python (:func:`_greedy_merges`)
  — the single-machine merge loop production tokenizer trainers use,
  since a Spark query per round costs more than the round's work;
* above it (a 100 TB crawl's vocabulary is ~10⁷–10⁸ rows —
  executor-resident), each round is a Spark query over the vocabulary
  frame with one driver-collected scalar (the argmax pair), the
  bounded-convergence-check pattern of ``operators/graph.py``.

Both routes are the same Sennrich greedy and return the same merges.

Engine-portable greedy merging (the distributed rounds, :func:`bpe_apply`,
:func:`bpe_encode` and the DuckDB mirrors): a word's current segmentation
is kept as a STRING of wrapped symbols — every symbol ``x`` is stored as
``␟x␟`` (U+001F, can't occur in tokens), so symbols ``a·b·c`` serialize
to ``␟a␟␟b␟␟c␟``.  Applying merge (a, b) is then one ``replace(s, ␟a␟␟b␟,
␟ab␟)``: string replace is non-overlapping left-to-right in both Spark and
DuckDB, which IS greedy BPE merge order, and the double-delimiter wrapping
means adjacent matches share no characters (``a a b b`` merges both pairs;
``a a a`` merges only the first — the classic greedy result).  No UDF, no
per-row Python; the oracle unrolls the same rounds as chained SQL CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .literal import json_lit

__all__ = [
    "bpe_train",
    "bpe_train_local",
    "bpe_apply",
    "bpe_encode",
    "corpus_chars",
    "bpe_train_sql",
    "bpe_subwords_sql",
    "bpe_encode_sql",
]

SEP = "\x1f"

MERGE_SCHEMA = (
    "rank long, left_sym string, right_sym string, merged string, pair_n long"
)
_MERGE_FIELDS = [f.split()[0] for f in MERGE_SCHEMA.split(",")]


def _wrapped_chars(col: F.Column) -> F.Column:
    """``abc`` → ``␟a␟␟b␟␟c␟`` (initial per-character segmentation).

    One regex pass (wrap every char in delimiters) instead of O(len)
    ``substr`` calls — the hot inner expression of corpus-wide encoding.
    Tokens are non-empty ``[a-z0-9]+`` so ``(.)`` matches every char.
    """
    return F.regexp_replace(col, "(.)", SEP + "$1" + SEP)


def _symbols(s: F.Column) -> F.Column:
    """Inverse of the wrapping: ``␟aa␟␟b␟`` → [aa, b]."""
    return F.split(s.substr(F.lit(2), F.length(s) - 2), SEP + SEP)


def _adjacent_pairs(q: F.Column) -> F.Column:
    # sequence(1, 0) DESCENDS in Spark — guard the <2-symbol case
    return F.when(
        F.size(q) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(q) - 1),
            lambda i: F.struct(
                F.element_at(q, i).alias("a"), F.element_at(q, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


# Vocabularies of at most this many distinct words run the greedy merge
# rounds on the driver; larger ones run them as Spark queries over the
# checkpointed vocabulary.  Measured on local[4] (4 vCPUs, library
# session defaults) with n_merges=6 over synthetic vocabularies of
# 3-12-letter words, median of 3: the driver route (collect + rounds)
# took 0.35 s at 10k words, 2.9 s at 100k and 9.8 s at 400k; the
# distributed rounds took 2.2 s, 6.8 s and 19.7 s.  On 4 cores the
# driver wins at every size, so the crossover lies past 400k there.
# More executor cores shrink the distributed rounds' per-word cost but
# not their ~0.3 s fixed cost per round, while the driver loop costs
# ~4 us per word per round; the bound sits under 0.3 s / 4 us = 75k
# words, where the driver loop wins on any cluster size.
_DRIVER_VOCAB_ROWS = 50_000


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """``(w, n)``: the one corpus pass, token explode + hash aggregate.

    The tokenize+explode map side serializes on an under-partitioned
    scan, so it is fanned out (a guarded no-op at real scale)."""
    from .text import _fan_out, tokens

    return (
        _fan_out(df).select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _greedy_merges(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Sennrich greedy BPE over a word-count dict: pair counts weighted by
    word frequency (overlapping pairs counted), (count desc, pair asc)
    argmax, then a left-to-right non-overlapping merge in every word.
    Stops early when no word has two symbols left."""
    seqs = {w: list(w) for w in word_counts}
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, n in word_counts.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] = pc.get(p, 0) + n
        if not pc:
            break
        (a, b), pn = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ab = a + b
        merges.append((r + 1, a, b, ab, pn))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def _distributed_merges(
    cur: DataFrame, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The greedy rounds as Spark queries over the ``(w, n, s)`` vocabulary
    frame: per round one hash aggregate of adjacent-symbol pairs and a
    1-row argmax collect, then a map-only ``replace`` applies the merge.
    The round checkpoints it makes are released before it returns."""
    # the round's expressions are round-independent: build them once, so
    # a round costs only its DataFrame calls and the two merge literals
    pair_cols = [
        F.col("n"), F.explode(_adjacent_pairs(_symbols(F.col("s")))).alias("p")
    ]
    keys = [F.col("p.a").alias("a"), F.col("p.b").alias("b")]
    total = F.sum("n").alias("pn")
    order = [F.desc("pn"), F.asc("a"), F.asc("b")]
    merges: list[tuple[int, str, str, str, int]] = []
    checkpoints: list[DataFrame] = []
    try:
        for r in range(n_merges):
            best = (
                cur.select(*pair_cols)
                .groupBy(*keys)
                .agg(total)
                .orderBy(*order)
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, pn = best[0].a, best[0].b, best[0].pn
            merges.append((r + 1, a, b, a + b, pn))
            pat = F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}")
            rep = F.lit(f"{SEP}{a}{b}{SEP}")
            cur = cur.withColumn("s", F.replace(F.col("s"), pat, rep))
            # checkpoint only every 8th round: a lazy replace-CHAIN
            # re-executed from the checkpointed base is cheaper than
            # materializing the vocab frame per round (string replaces are
            # narrow column ops); the cadence bounds both lineage depth and
            # re-execution cost at high merge counts.
            if (r + 1) % 8 == 0:
                cur = cur.localCheckpoint()
                checkpoints.append(cur)
    finally:
        for c in checkpoints:
            _release(c)
    return merges


def _release(checkpoint: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint`` frame.  ``unpersist()`` on
    the frame itself is a no-op (the frame is not cached; its plan is a
    LogicalRDD over the checkpointed RDD), so the RDD is unpersisted."""
    checkpoint._jdf.queryExecution().logical().rdd().unpersist(False)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    table ``(rank, left_sym, right_sym, merged, pair_n)`` — the trained
    artifact ``bpe_apply`` consumes.

    The corpus is read once: one word count, eagerly checkpointed as the
    ``(w, n, s)`` vocabulary.  Then the rounds run on one of two routes,
    chosen by the vocabulary's size; both are the same Sennrich greedy
    and return the same merges:

    * **driver** — at most ``_DRIVER_VOCAB_ROWS`` distinct words: the
      ``(w, n)`` rows are collected (never more than the bound + 1) and
      the rounds run in Python, so the call costs the same few Spark jobs
      whatever ``n_merges`` is.
    * **distributed** — a larger vocabulary stays on the executors.  Per
      round: adjacent-symbol pairs of every word (weighted by word count,
      overlapping pairs counted), ONE hash aggregate, argmax with total
      (count desc, pair asc) ordering, then a map-only ``replace``
      applies the merge; every 8th round is localCheckpoint'd so the
      plan stays O(1) across iterations.

    The result is a literal, so every checkpoint is released before the
    call returns.
    """
    spark = df.sparkSession
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    vocab = (
        _word_counts(df, text_col)
        .select("w", "n", _wrapped_chars(F.col("w")).alias("s"))
        .localCheckpoint()
    )
    try:
        rows = vocab.select("w", "n").limit(_DRIVER_VOCAB_ROWS + 1).collect()
        if len(rows) <= _DRIVER_VOCAB_ROWS:
            merges = _greedy_merges({r.w: r.n for r in rows}, n_merges)
        else:
            merges = _distributed_merges(vocab, n_merges)
    finally:
        _release(vocab)
    # the merge table as one folded literal under a one-row range: a JVM
    # local plan whatever the session's Arrow setting (createDataFrame
    # over Python rows is a pickled-row RDD that starts a Python worker)
    table = [dict(zip(_MERGE_FIELDS, m)) for m in merges]
    return spark.range(1, numPartitions=1).select(
        F.inline(json_lit(table, f"array<struct<{MERGE_SCHEMA}>>"))
    )


def bpe_train_local(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    max_vocab_rows: int = 2_000_000,
) -> tuple[list[tuple[int, str, str, str, int]], list[str]]:
    """BPE training with DRIVER-SIDE merge rounds that returns Python
    values: ONE distributed pass builds the word-count vocabulary (the
    only corpus-sized work), the vocabulary is collected, and the greedy
    rounds run in Python — the shape every production tokenizer trainer
    uses (corpus → word counts → single-machine merge loop).  It runs the
    same loop as :func:`bpe_train`'s driver route, but with a caller-set
    bound and no Spark frame around the result.

    Returns ``(merges, base_chars)`` — byte-identical to
    ``(bpe_train(df, ...).collect(), corpus_chars(df))`` (pinned by
    ``test_bpe_train_local_equals_distributed`` on both of
    ``bpe_train``'s routes), with the alphabet derived from the same
    collected vocab for free.

    The driver boundary is ENFORCED: a vocabulary above
    ``max_vocab_rows`` (default 2M words ≈ tens of MB) raises with a
    routing message to :func:`bpe_train`, whose distributed route never
    collects more than the 1-row argmax per round.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    rows = _word_counts(df, text_col).limit(max_vocab_rows + 1).collect()
    # The over-cap `rows` slice is an UNORDERED sample (limit on an
    # unordered aggregate) and must never be used as data — the only
    # permitted action past the cap is the raise below.
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"bpe_train_local collects the word-count vocabulary to the "
            f"driver; corpus has > max_vocab_rows={max_vocab_rows:,} "
            "distinct words. Use bpe_train — above its driver bound the "
            "rounds stay distributed and only the 1-row argmax reaches "
            "the driver — or raise max_vocab_rows explicitly."
        )
    wc = {r["w"]: r["n"] for r in rows}
    base_chars = sorted({c for w in wc for c in w})
    return _greedy_merges(wc, n_merges), base_chars


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize with a learned merge table: per word, apply the merges in
    rank order (a chain of map-only ``replace`` calls — no UDF, no
    shuffle), return ``(id, n_subwords)`` per document.

    ``merges`` is [(left_sym, right_sym), ...] in rank order (e.g. from
    ``bpe_train(...).collect()``).

    The replace-chain is the hot expression; an under-partitioned file
    scan is :func:`~tidier_spark.operators.text._fan_out`-repartitioned so
    it uses every core instead of serializing (measured 4.7 → 1.2 s for
    the bpe_subwords entry at sf0.1; no-op at real scale).
    """
    from .text import _fan_out, tokens

    df = _fan_out(df)

    def segment(word: F.Column) -> F.Column:
        s = _wrapped_chars(word)
        for a, b in merges:
            s = F.replace(
                s, F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"), F.lit(f"{SEP}{a}{b}{SEP}")
            )
        return F.size(_symbols(s))

    n_sub = F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, w: acc + segment(w),
    )
    # NULL text → NULL token array → NULL fold; a no-content doc has 0
    # subwords, matching the SQL mirror's coalesced sum (nullvals axis)
    n_sub = F.coalesce(n_sub, F.lit(0).cast("long"))
    return df.select(F.col(id_col), n_sub.alias("n_subwords"))


def bpe_train_sql(
    table: str = "documents",
    text_col: str = "text",
    n_merges: int = 4,
) -> str:
    """DuckDB mirror of :func:`bpe_train`: the same rounds unrolled as
    chained CTEs (same wrapped-string representation, same greedy
    ``replace`` merge, same (count desc, pair asc) argmax)."""
    from .text import tokens_sql

    S = "chr(31)"
    ctes = [
        f"""words AS (
          SELECT w, count(*)::BIGINT AS n
          FROM (SELECT unnest({tokens_sql(text_col)}) AS w FROM {table})
          GROUP BY w
        )""",
        f"""s0 AS (
          SELECT w, n,
                 {S} || array_to_string(
                   list_transform(range(1, length(w) + 1),
                                  i -> substr(w, i, 1)),
                   {S} || {S}) || {S} AS s
          FROM words
        )""",
    ]
    for r in range(n_merges):
        ctes.append(
            f"""pc{r} AS (
              SELECT (p).a AS a, (p).b AS b, CAST(sum(n) AS BIGINT) AS pn
              FROM (
                SELECT n, unnest(list_transform(range(1, len(q)),
                         i -> struct_pack(a := q[i], b := q[i + 1]))) AS p
                FROM (SELECT n, string_split(substr(s, 2, length(s) - 2),
                                             {S} || {S}) AS q
                      FROM s{r})
              )
              GROUP BY 1, 2
            )"""
        )
        # sentinel fallback keeps best{r} NON-EMPTY when the corpus runs
        # out of pairs before n_merges rounds: the empty-string merge has
        # pattern ␟␟␟␟, which never occurs in a wrapped word, so applying
        # it is a no-op — and a cross join with it no longer empties the
        # apply CTE.  Sentinels are filtered from all outputs (a <> '').
        ctes.append(
            f"""best{r} AS (
              SELECT a, b, pn FROM (
                SELECT a, b, pn FROM pc{r}
                ORDER BY pn DESC, a ASC, b ASC LIMIT 1
              )
              UNION ALL
              SELECT '', '', 0 WHERE NOT EXISTS (SELECT 1 FROM pc{r})
            )"""
        )
        ctes.append(
            f"""s{r + 1} AS (
              SELECT w, n,
                     replace(s, {S} || a || {S} || {S} || b || {S},
                             {S} || a || b || {S}) AS s
              FROM s{r}, best{r}
            )"""
        )
    rows = " UNION ALL ".join(
        f"""SELECT {r + 1}::BIGINT AS rank, a AS left_sym, b AS right_sym,
                   a || b AS merged, pn AS pair_n FROM best{r}
            WHERE a <> ''"""
        for r in range(n_merges)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows


def bpe_subwords_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 4,
) -> str:
    """Train-then-apply mirror: the :func:`bpe_train_sql` CTE chain plus a
    per-document application pass (the same replace chain over every
    token, counting surviving symbols) — DuckDB analog of
    ``bpe_apply(df, bpe_train(df))``."""
    from .text import tokens_sql

    S = "chr(31)"
    train = bpe_train_sql(table, text_col, n_merges)
    # reuse the training CTE chain, swap the final SELECT for the apply
    # (the final SELECT is the only line-initial one — CTE bodies indent)
    ctes_sql = train[len("WITH ") : train.rindex("\nSELECT")]
    s_expr = (
        f"{S} || array_to_string(list_transform(range(1, length(w) + 1),"
        f" i -> substr(w, i, 1)), {S} || {S}) || {S}"
    )
    for r in range(n_merges):
        s_expr = (
            f"replace({s_expr}, {S} || b{r}.a || {S} || {S} || b{r}.b || {S},"
            f" {S} || b{r}.a || b{r}.b || {S})"
        )
    froms = ", ".join(f"best{r} b{r}" for r in range(n_merges))
    return f"""WITH {ctes_sql},
        doctoks AS (
          SELECT {id_col}, unnest({tokens_sql(text_col)}) AS w FROM {table}
        ),
        applied AS (
          SELECT {id_col},
                 len(string_split(substr({s_expr}, 2,
                     length({s_expr}) - 2), {S} || {S}))::BIGINT AS n_sym
          FROM doctoks, {froms}
        )
        SELECT d.{id_col},
               CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords
        FROM {table} d LEFT JOIN (
          SELECT {id_col}, sum(n_sym) AS n_subwords FROM applied GROUP BY 1
        ) a USING ({id_col})"""


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    base_chars: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode every document to its BPE subword-ID SEQUENCE — the
    ``input_ids`` stage of a pretraining pipeline (``bpe_apply`` only
    counts; this emits the ids, order-preserved).

    Vocabulary ids are deterministic: sorted base characters get
    ``1..C``, merge ``r`` (1-based rank) gets ``C + r``; a merged string
    reachable by two paths keeps its FIRST id; id ``0`` is the reserved
    UNK — symbols outside the vocabulary (new characters when applying
    a trained vocab to unseen text) encode to 0 instead of silently
    vanishing, so ``len(ids) == n_subwords`` always holds.  Both artifacts
    (``merges``, ``base_chars``) are driver-known after training —
    kilobytes — so the symbol→id mapping compiles into a MAP LITERAL and
    encoding stays a map-only projection: per token, the same wrapped
    ``replace`` chain as :func:`bpe_apply`, split to symbols, flatten
    across the document, ``transform`` through the map.  No UDF, no
    explode, no shuffle — scan-throughput tokenization at any corpus
    size.  (A 32k-merge production vocab is a ~500 KB literal; beyond
    that, swap the literal for a broadcast join against the vocab frame —
    same semantics.)

    Output: ``(id, n_subwords, ids_csv)`` — the sequence as a
    comma-joined string (engine-portable; split to an array downstream).
    """
    vocab: dict[str, int] = {}
    for i, c in enumerate(sorted(base_chars)):
        vocab.setdefault(c, i + 1)
    base_n = len(base_chars)
    for r, (a, b) in enumerate(merges, start=1):
        vocab.setdefault(a + b, base_n + r)

    from .text import _fan_out, tokens

    # the segment replace-chain serializes on an under-partitioned scan
    # (measured 2.4 -> 0.7 s for the bpe_encode entry at sf0.1)
    df = _fan_out(df)

    def segment(word: F.Column) -> F.Column:
        s = _wrapped_chars(word)
        for a, b in merges:
            s = F.replace(
                s, F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"), F.lit(f"{SEP}{a}{b}{SEP}")
            )
        return _symbols(s)

    # string-valued map literal: the symbol→id lookup yields the csv
    # fragment directly, so one array traversal covers lookup + cast
    # (UNK stays "0")
    vmap = json_lit({s: str(v) for s, v in vocab.items()}, "map<string,string>")
    subs = F.flatten(F.transform(tokens(text_col), segment))
    ids_str = F.transform(
        subs, lambda s: F.coalesce(F.element_at(vmap, s), F.lit("0"))
    )
    # two-step projection: the replace-chain segmentation is the hot
    # expression, and referencing `subs` twice (size + join) evaluates
    # it twice — whole-stage codegen does no CSE across independent
    # select expressions, and CollapseProject refuses to inline a
    # non-cheap alias used more than once, so deriving n_subwords from
    # the materialized csv (ids are comma-free integers: n = commas+1,
    # 0 for empty) halves the per-token work
    enc = df.select(
        F.col(id_col),
        # coalesce: NULL text → NULL token array → NULL csv; a no-content
        # doc encodes to the empty sequence ('' / 0 subwords) on both
        # engines (nullvals edge axis)
        F.coalesce(F.array_join(ids_str, ","), F.lit("")).alias("ids_csv"),
    )
    n_sub = F.when(F.col("ids_csv") == "", F.lit(0)).otherwise(
        F.length("ids_csv")
        - F.length(F.replace(F.col("ids_csv"), F.lit(","), F.lit("")))
        + 1
    )
    return enc.select(
        F.col(id_col),
        n_sub.cast("long").alias("n_subwords"),
        "ids_csv",
    )


def corpus_chars(df: DataFrame, text_col: str = "text") -> list[str]:
    """Distinct characters across the tokenized corpus — the base-vocab
    artifact for :func:`bpe_encode` (alphabet-sized regardless of corpus
    size).  Distinct WORDS first (one shuffle, vocabulary-sized result),
    then chars of the vocabulary — the char explode runs over |V| rows,
    never over every token occurrence."""
    from .text import _fan_out, tokens

    rows = (
        _fan_out(df).select(F.explode(tokens(text_col)).alias("w"))
        .distinct()
        .select(F.explode(F.split(F.col("w"), "")).alias("c"))
        .where(F.col("c") != "")
        .distinct()
        .collect()
    )
    return sorted(r["c"] for r in rows)


def bpe_encode_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 4,
    train_table: str | None = None,
) -> str:
    """Train-then-encode mirror of ``bpe_encode(df, bpe_train(df),
    corpus_chars(df))`` — the training CTE chain, a chars CTE for the base
    vocab (ids ``1..C`` sorted; merge r gets ``C + r``; duplicates keep
    the minimum id), the same replace chain per token, and an
    order-preserving ``list(... ORDER BY wpos, spos)`` re-assembly.

    ``train_table`` (a table name or parenthesized subquery): train the
    merges and base vocab on a different (e.g. deterministically sampled)
    corpus than the one being encoded — mirror of
    ``bpe_encode(df, bpe_train(sample), corpus_chars(sample))``.
    Characters outside the training alphabet encode to the reserved UNK
    id 0 on both engines."""
    from .text import tokens_sql

    S = "chr(31)"
    train = bpe_train_sql(train_table or table, text_col, n_merges)
    ctes_sql = train[len("WITH ") : train.rindex("\nSELECT")]
    s_expr = (
        f"{S} || array_to_string(list_transform(range(1, length(w) + 1),"
        f" i -> substr(w, i, 1)), {S} || {S}) || {S}"
    )
    for r in range(n_merges):
        s_expr = (
            f"replace({s_expr}, {S} || b{r}.a || {S} || {S} || b{r}.b || {S},"
            f" {S} || b{r}.a || b{r}.b || {S})"
        )
    froms = ", ".join(f"best{r} b{r}" for r in range(n_merges))
    merge_rows = " UNION ALL ".join(
        f"SELECT a || b AS sym, (SELECT count(*) FROM chars) + {r + 1} AS vid"
        f" FROM best{r} WHERE a <> ''"
        for r in range(n_merges)
    )
    return f"""WITH {ctes_sql},
        chars AS (
          SELECT c, row_number() OVER (ORDER BY c) AS vid FROM (
            SELECT DISTINCT unnest(list_transform(range(1, length(w) + 1),
                                   i -> substr(w, i, 1))) AS c
            FROM words
          )
        ),
        vocab AS (
          SELECT sym, CAST(min(vid) AS BIGINT) AS vid FROM (
            SELECT c AS sym, vid FROM chars
            UNION ALL
            {merge_rows}
          ) GROUP BY sym
        ),
        doctoks AS (
          SELECT {id_col}, wp.i AS wpos, wp.w FROM (
            SELECT {id_col},
                   unnest(list_transform(range(1, len(toks) + 1),
                          i -> struct_pack(i := i, w := toks[i]))) AS wp
            FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
          )
        ),
        symrows AS (
          SELECT {id_col}, wpos, sp.i AS spos, sp.sym FROM (
            SELECT {id_col}, wpos,
                   unnest(list_transform(range(1, len(syms) + 1),
                          i -> struct_pack(i := i, sym := syms[i]))) AS sp
            FROM (
              SELECT d.{id_col}, d.wpos,
                     string_split(substr({s_expr}, 2, length({s_expr}) - 2),
                                  {S} || {S}) AS syms
              FROM doctoks d, {froms}
            )
          )
        ),
        encoded AS (
          SELECT s.{id_col},
                 count(*)::BIGINT AS n_subwords,
                 array_to_string(list(coalesce(v.vid, 0)
                                      ORDER BY s.wpos, s.spos), ',')
                   AS ids_csv
          FROM symrows s LEFT JOIN vocab v ON s.sym = v.sym
          GROUP BY 1
        )
        SELECT d.{id_col},
               CAST(coalesce(e.n_subwords, 0) AS BIGINT) AS n_subwords,
               coalesce(e.ids_csv, '') AS ids_csv
        FROM {table} d LEFT JOIN encoded e USING ({id_col})"""

"""Distributed BPE vocabulary training (Sennrich et al. 2016, byte-pair
encoding merges) — the tokenizer-training stage of a pretraining pipeline.

The reference engine has no tokenizer operators (SURVEY.md §2.3
"North-star extensions"); this is a Spark-first addition built on the key
scaling fact of the algorithm: after ONE corpus-wide word count, every
merge iteration runs on the VOCABULARY (|V| distinct words, weighted by
their corpus counts), never on the corpus again.  At 100 TB the corpus
pass is a single explode + hash aggregate; the iterations then touch a
frame that is orders of magnitude smaller (vocabulary of a 100 TB crawl is
~10⁷–10⁸ rows — executor-resident), with one driver-collected scalar (the
argmax pair) per round, exactly the bounded-convergence-check pattern of
``operators/graph.py``.

Engine-portable greedy merging: a word's current segmentation is kept as a
STRING of wrapped symbols — every symbol ``x`` is stored as ``␟x␟``
(U+001F, can't occur in tokens), so symbols ``a·b·c`` serialize to
``␟a␟␟b␟␟c␟``.  Applying merge (a, b) is then one ``replace(s, ␟a␟␟b␟,
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


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    table ``(rank, left_sym, right_sym, merged, pair_n)`` — the trained
    artifact ``bpe_apply`` consumes.

    Per round: adjacent-symbol pairs of every vocabulary word (weighted by
    word count, overlapping pairs counted — the standard implementation),
    ONE hash aggregate, argmax with total (count desc, pair asc) ordering,
    then a map-only ``replace`` applies the merge.  The vocabulary frame is
    persisted once and localCheckpoint'd per round so the plan stays O(1)
    across iterations.
    """
    from .text import _fan_out, tokens

    spark = df.sparkSession
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    # the tokenize+explode map side of the vocab pass serializes on an
    # under-partitioned scan (r12; guarded no-op at real scale)
    words = (
        _fan_out(df).select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = words.select("w", "n", _wrapped_chars(F.col("w")).alias("s"))
    cur = cur.localCheckpoint()
    # the round's expressions are round-independent: build them once, so
    # a round costs only its DataFrame calls and the two merge literals
    pair_cols = [
        F.col("n"), F.explode(_adjacent_pairs(_symbols(F.col("s")))).alias("p")
    ]
    keys = [F.col("p.a").alias("a"), F.col("p.b").alias("b")]
    total = F.sum("n").alias("pn")
    order = [F.desc("pn"), F.asc("a"), F.asc("b")]
    merges: list[dict] = []
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
        merges.append(
            {"rank": r + 1, "left_sym": a, "right_sym": b, "merged": a + b,
             "pair_n": pn}
        )
        pat = F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}")
        rep = F.lit(f"{SEP}{a}{b}{SEP}")
        cur = cur.withColumn("s", F.replace(F.col("s"), pat, rep))
        # checkpoint only every 8th round: a lazy replace-CHAIN re-executed
        # from the checkpointed base is cheaper than materializing the
        # vocab frame per round (string replaces are narrow column ops);
        # the cadence bounds both lineage depth and re-execution cost at
        # high merge counts.
        if (r + 1) % 8 == 0:
            cur = cur.localCheckpoint()
    # the merge table as one folded literal under a one-row range: a JVM
    # local plan whatever the session's Arrow setting (createDataFrame
    # over Python rows is a pickled-row RDD that starts a Python worker)
    return spark.range(1, numPartitions=1).select(
        F.inline(json_lit(merges, f"array<struct<{MERGE_SCHEMA}>>"))
    )


def bpe_train_local(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    max_vocab_rows: int = 2_000_000,
) -> tuple[list[tuple[int, str, str, str, int]], list[str]]:
    """BPE training with DRIVER-SIDE merge rounds: ONE distributed pass
    builds the word-count vocabulary (the only corpus-sized work), the
    vocabulary is collected, and the greedy rounds run in Python — the
    shape every production tokenizer trainer uses (corpus → word counts
    → single-machine merge loop), because each round is an inherently
    sequential argmax over a vocabulary-sized frame and paying a Spark
    job per round is pure overhead once the vocab fits in memory.

    Returns ``(merges, base_chars)`` — byte-identical to
    ``(bpe_train(df, ...).collect(), corpus_chars(df))`` (same Sennrich
    greedy: pair counts weighted by word frequency, (count desc, pair
    asc) argmax, left-to-right non-overlapping merge; pinned by
    ``test_bpe_train_local_equals_distributed``), with the alphabet
    derived from the same collected vocab for free.

    The driver boundary is ENFORCED: a vocabulary above
    ``max_vocab_rows`` (default 2M words ≈ tens of MB) raises with a
    routing message to :func:`bpe_train`, whose per-round Spark
    aggregation never collects more than the 1-row argmax.
    """
    from .text import _fan_out, tokens

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    # fan out the tokenize+explode map side of the one distributed pass
    # (r12; guarded no-op at real scale)
    rows = (
        _fan_out(df).select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(max_vocab_rows + 1)
        .collect()
    )
    # The over-cap `rows` slice is an UNORDERED sample (limit on an
    # unordered aggregate) and must never be used as data — the only
    # permitted action past the cap is the raise below.
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"bpe_train_local collects the word-count vocabulary to the "
            f"driver; corpus has > max_vocab_rows={max_vocab_rows:,} "
            "distinct words. Use bpe_train — its per-round aggregation "
            "stays distributed and only the 1-row argmax reaches the "
            "driver — or raise max_vocab_rows explicitly."
        )
    wc = {r["w"]: r["n"] for r in rows}
    seqs = {w: list(w) for w in wc}
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, n in wc.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] = pc.get(p, 0) + n
        if not pc:
            break
        (a, b), pn = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r + 1, a, b, a + b, pn))
        ab = a + b
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
    base_chars = sorted({c for w in wc for c in w})
    return merges, base_chars


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
    it uses every core instead of serializing (r12 — measured 4.7 → 1.2 s
    for the bpe_subwords entry at sf0.1; no-op at real scale).
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
    # (r12 — measured 2.4 -> 0.7 s for the bpe_encode entry at sf0.1)
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

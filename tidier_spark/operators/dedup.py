"""Deduplication operators: exact, MinHash+LSH, SimHash, Jaccard verify.

Scale design (the whole point at 100 TB):

* **Exact** dedup is a hash aggregation on a fingerprint — one shuffle on
  the fingerprint key, no quadratic anything.
* **MinHash near-dup** avoids the O(n²) pair space with LSH banding: k
  min-hashes per doc → b bands of r rows → equi-join on (band, signature)
  buckets.  The only shuffles are the doc-level aggregation and the
  band-bucket join; candidate pairs ≪ n² by construction.  Skewed buckets
  (e.g. boilerplate shingles) are bounded because the band signature is an
  md5 over r min-hashes — a full-width key, not a single shingle.
* **SimHash** is a per-doc 60-bit signature via one explode + one groupBy;
  near-dup candidates come from 15-bit block banding (any block equal →
  candidate), then an exact hamming-distance filter.
* **Verify** computes exact shingle-set Jaccard only on candidate pairs.

Everything is expressed in built-in functions so the DuckDB oracle can run
the byte-identical computation; hashes are md5-based (portable), seeded by
integer prefixes — deterministic across engines, runs, and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .literal import json_lit
from .text import (
    _fan_out,
    _ngrams,
    fingerprint,
    fingerprint_sql,
    hash60,
    hash60_sql,
    shingles_sql,
)

__all__ = [
    "exact_dedup",
    "exact_dup_groups",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "near_dup_pairs",
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "embedding_near_dup_lsh",
    "simhash",
    "simhash_candidate_pairs",
    "banded_signatures",
    "contamination_check",
    "contamination_sql",
    "semantic_dedup_pairs",
    "dedup_against",
    "dedup_against_sql",
    "minhash_pairs_sql",
    "ngram_jaccard_sql",
    "embedding_near_dup_sql",
    "simhash_sql",
    "simhash_pairs_sql",
    "excise_duplicate_regions",
    "excise_duplicate_regions_sql",
]

# _fan_out lives in text.py with the map-only text operators; the import
# above keeps ``dedup._fan_out`` working for existing callers.


# --- exact dedup -----------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Drop exact duplicates on ``cols`` (all columns if None).

    ``dropDuplicates`` is a hash aggregation: one shuffle on the key
    columns; AQE coalesces post-shuffle partitions.
    """
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalized-content duplicate groups: fingerprint → (n_copies, keeper).

    The "keeper" is min(id) — the standard deterministic survivor rule.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


# --- MinHash + LSH ---------------------------------------------------------


def _distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle) with per-doc distinct shingles — the shared input of
    MinHash signatures, candidate verification, and set sizes.  Callers
    persist it: the tokenize→shingle→explode lineage is the expensive part
    and would otherwise be recomputed by every consumer.

    ``shingle_n`` is validated here, at the one shared producer: n=0
    silently degenerates every document to the same empty shingle set —
    all-pairs candidates, quadratic AND wrong.

    Tokens are materialized into a column BEFORE the shingle lambda: a
    ``slice(tokens(text), i, n)`` lambda re-runs the regex tokenizer per
    shingle index (O(doc_len · n_shingles) — 8s for 5k docs at sf0.1);
    over a column reference it is O(doc_len).
    """
    if shingle_n < 1:
        raise ValueError(f"shingle_n must be >= 1, got {shingle_n}")
    from .text import tokens

    df = _fan_out(df)
    toks = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    sh = _ngrams(F.col("__t"), shingle_n)
    return toks.select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle")
    )


def _minhash_aggs(k: int) -> list:
    """The k seeded MinHash aggregates over a ``shingle`` column.  Written
    as SQL text: one parse per aggregate instead of one py4j command per
    expression node."""
    if k < 1:
        raise ValueError(f"minhash_signatures: k must be >= 1, got {k}")
    return [
        F.expr(f"min(md5(concat('{seed}|', shingle))) AS mh_{seed}")
        for seed in range(k)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    shingle_n: int = 3,
    _shingle_df: DataFrame | None = None,
) -> DataFrame:
    """k md5-seeded min-hashes per doc → (id, mh_0..mh_{k-1}).

    Min over fixed-width hex strings ≡ min over the underlying integers, so
    the signature stays a string (portable, no bigint conversion needed).
    One explode + one groupBy: shuffle is on ``id_col`` only.  MinHash is
    duplicate-insensitive, so distinct shingles give identical signatures.
    """
    aggs = _minhash_aggs(k)
    sh = (
        _shingle_df
        if _shingle_df is not None
        else _distinct_shingles(df, id_col, text_col, shingle_n)
    )
    return sh.groupBy(id_col).agg(*aggs)


def _shingle_docs(sh: DataFrame, id_col: str, k: int) -> DataFrame:
    """The per-document store of the verify: ``(id, mh_0..mh_{k-1},
    __sh)`` — the MinHash mins and the document's shingle array from ONE
    aggregate over ``(id, shingle)`` rows.  Candidates are then verified
    against two array columns instead of re-joining the shingle rows, so
    the largest document's shingle set must fit in one row."""
    return sh.groupBy(id_col).agg(
        *_minhash_aggs(k), F.collect_list("shingle").alias("__sh")
    )


def _jaccard_verify(
    cand: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame,
    id_col: str,
    col_a: str,
    col_b: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard of the candidate pairs ``(col_a, col_b)``
    ≥ ``threshold``, from the two sides' :func:`_shingle_docs` arrays:
    ``n_shared / (n_a + n_b - n_shared)`` with ``n_a = size(a)`` and
    ``n_shared = size(array_intersect(a, b))`` — one join per side.

    A document id fed by several rows can repeat a shingle; those pairs
    count shared shingles with multiplicity (Σ count_a·count_b, what a
    shingle-row equi-join counts), so duplicate ids score as the DuckDB
    mirrors do.

    The score is SQL text, parsed once, instead of a Column tree built
    node by node over py4j.  Its lambdas name their parameters ``x, y``
    as PySpark's do, so the plan reads as the Column build's did: in the
    fold, ``y`` is the shared shingle and each inner ``x`` an element."""
    n_shared = """CASE
      WHEN size(array_distinct(__sa)) = size(__sa)
       AND size(array_distinct(__sb)) = size(__sb)
      THEN size(array_intersect(__sa, __sb))
      ELSE aggregate(array_intersect(__sa, __sb), 0, (x, y) -> x
        + size(filter(__sa, x -> x = y)) * size(filter(__sb, x -> x = y)))
    END"""
    jac = F.expr(
        f"({n_shared}) / (size(__sa) + size(__sb) - ({n_shared}))"
    ).alias("jaccard")

    def side(docs: DataFrame, col: str, arr: str) -> DataFrame:
        return docs.select(F.col(id_col).alias(col), F.col("__sh").alias(arr))

    return (
        cand.join(side(docs_a, col_a, "__sa"), col_a)
        .join(side(docs_b, col_b, "__sb"), col_b)
        .select(col_a, col_b, jac)
        .where(F.col("jaccard") >= threshold)
    )


def _rows_per_band(k: int, bands: int) -> int:
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if k % bands:
        raise ValueError(f"bands={bands} must divide k={k} (k % bands == 0)")
    return k // bands


def _band_rows(
    sigs: DataFrame, id_col: str, k: int, bands: int, out_id: str
) -> DataFrame:
    """``(out_id, band, sig)``: one row per (doc, band), the band
    signature an md5 over its r = k/bands min-hashes."""
    r = _rows_per_band(k, bands)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"mh_{b * r + i}") for i in range(r)])
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col).alias(out_id), F.explode(F.array(*band_cols)).alias("bs")
    ).select(out_id, "bs.band", "bs.sig")


def _band_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct ``(id_a, id_b)``, ``id_a < id_b``, sharing a band bucket:
    an equi-join on (band, sig) — never a cross join."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "sig"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    _shingle_df: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band signature → candidate (id_a, id_b).

    rows-per-band r = k // bands; band signature = md5 of its r min-hashes.
    The pair join is an equi-join on (band, sig) — never a cross join.
    """
    from pyspark import StorageLevel

    banded = banded_signatures(
        df, id_col, text_col, k, bands, shingle_n, _shingle_df=_shingle_df
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # both sides of the self-join read it: without persist the whole
    # shingle→minhash pipeline runs twice
    return _band_pairs(banded, id_col)


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Candidates → exact shingle-set Jaccard ≥ threshold.

    One aggregate per document yields both its MinHash signature and its
    shingle array (:func:`_shingle_docs`); candidates from the band join
    are verified against the two documents' arrays, so verification cost
    is proportional to candidate volume, not n².

    The document frame feeds four consumers (both band-join sides, both
    verify sides) — it is persisted so tokenize→shingle→aggregate runs
    once, not once per consumer.  At 100 TB this persist is
    MEMORY_AND_DISK: ~tokens-sized, spills gracefully.
    """
    from pyspark import StorageLevel

    sh = _distinct_shingles(df, id_col, text_col, shingle_n)
    _rows_per_band(k, bands)
    docs = _shingle_docs(sh, id_col, k).persist(StorageLevel.MEMORY_AND_DISK)
    cand = _band_pairs(_band_rows(docs, id_col, k, bands, id_col), id_col)
    return _jaccard_verify(cand, docs, docs, id_col, "id_a", "id_b", threshold)


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    out_id: str | None = None,
    _shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash signature table ``(out_id, band, sig)`` — one row per
    (doc, band).  This IS the persistable reference store for incremental
    dedup: compute it once per corpus (or per crawl increment), write it
    as a table, and every later :func:`dedup_against` /
    ``stream_dedup_against`` batch joins against it instead of
    re-aggregating the reference side's min-hashes."""
    _rows_per_band(k, bands)
    sigs = minhash_signatures(df, id_col, text_col, k, shingle_n, _shingle_df=_shingle_df)
    return _band_rows(sigs, id_col, k, bands, out_id or id_col)


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.3,
    shingles_new: DataFrame | None = None,
    shingles_ref: DataFrame | None = None,
    bands_ref: DataFrame | None = None,
    bands_new: DataFrame | None = None,
    best_match: bool = True,
) -> DataFrame:
    """Incremental dedup: which NEW documents are near-dups of an existing
    REFERENCE corpus — the shape of every "don't re-ingest what the last
    crawl already has" pipeline stage.  Returns ``(doc_id, ref_id,
    jaccard)``: each new doc's best reference match (max jaccard, ties to
    min ref id) with jaccard ≥ threshold.

    Same banded-LSH machinery as :func:`near_dup_pairs` but the band join
    is new×ref ONLY — no within-side pairs, so a huge reference corpus
    never self-joins.  At 100 TB the reference side is a PERSISTED STORE,
    not a recompute: pass ``shingles_ref`` (``(id_col, shingle)`` rows —
    the verification input) and ``bands_ref``
    (:func:`banded_signatures` output named ``ref_id`` — the candidate
    join input) from tables built once per corpus, so the per-crawl cost
    is the new side's signatures + one equi-join on (band, sig) +
    candidate-bounded verification.  When both sides slice one source
    table, compute the shingle frame once and pass both slices — one
    shingling pass instead of two.  ``bands_new`` is the symmetric
    precomputed-signature hook for the new side (a repeated-query
    pipeline persists both banded frames — doc-count-sized, 1 row per
    (doc, band) — so reruns pay only the candidate join +
    verification).
    """
    _rows_per_band(k, bands)
    from pyspark import StorageLevel
    from pyspark.sql import Window

    def docs(side: DataFrame, sh: DataFrame | None) -> DataFrame:
        # one aggregate per side: the MinHash mins (pruned away when the
        # caller supplies the side's bands) and the verify's shingle
        # arrays.  Caller-supplied shingle frames are the caller's to
        # persist; internally shingled sides are persisted because both
        # the signature and the verify stages read them.
        if sh is not None:
            return _shingle_docs(sh, id_col, k)
        return _shingle_docs(
            _distinct_shingles(side, id_col, text_col, shingle_n), id_col, k
        ).persist(StorageLevel.MEMORY_AND_DISK)

    docs_new = docs(new_df, shingles_new)
    docs_ref = docs(ref_df, shingles_ref)
    ref_bands = (
        bands_ref
        if bands_ref is not None
        else _band_rows(docs_ref, id_col, k, bands, "ref_id")
    )
    new_bands = (
        bands_new
        if bands_new is not None
        else _band_rows(docs_new, id_col, k, bands, "doc_id_n")
    )
    cand = (
        new_bands.join(ref_bands, on=["band", "sig"])
        .select(F.col("doc_id_n"), F.col("ref_id"))
        .distinct()
    )
    scored = _jaccard_verify(
        cand, docs_new, docs_ref, id_col, "doc_id_n", "ref_id", threshold
    ).withColumnRenamed("doc_id_n", id_col)
    if not best_match:
        # membership-only consumers (the anti-join in the streaming
        # survivor sink) don't need the per-doc argmax — returning the
        # distinct matched ids skips the row_number window's extra
        # shuffle + sort
        return scored.select(id_col).distinct()
    w = Window.partitionBy(id_col).orderBy(F.col("jaccard").desc(), F.col("ref_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_against_sql(
    new_table: str,
    ref_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.3,
) -> str:
    """DuckDB mirror of :func:`dedup_against` — ``new_table``/``ref_table``
    may be any table expressions (e.g. filtered subqueries)."""
    r = k // bands
    mh_cols = ", ".join(
        f"min(md5('{seed}|' || shingle)) AS mh_{seed}" for seed in range(k)
    )
    band_rows = ", ".join(
        f"({b}, md5(" + " || ',' || ".join(f"mh_{b * r + i}" for i in range(r)) + "))"
        for b in range(bands)
    )
    return f"""
WITH sh_n AS (
  SELECT {id_col}, unnest({shingles_sql(text_col, shingle_n)}) AS shingle
  FROM {new_table}
),
sh_r AS (
  SELECT {id_col}, unnest({shingles_sql(text_col, shingle_n)}) AS shingle
  FROM {ref_table}
),
mh_n AS (SELECT {id_col}, {mh_cols} FROM sh_n GROUP BY {id_col}),
mh_r AS (SELECT {id_col}, {mh_cols} FROM sh_r GROUP BY {id_col}),
b_n AS (SELECT {id_col}, b.band, b.sig
        FROM mh_n, LATERAL (VALUES {band_rows}) AS b(band, sig)),
b_r AS (SELECT {id_col}, b.band, b.sig
        FROM mh_r, LATERAL (VALUES {band_rows}) AS b(band, sig)),
cand AS (
  SELECT DISTINCT n.{id_col} AS doc_id_n, r.{id_col} AS ref_id
  FROM b_n n JOIN b_r r USING (band, sig)
),
ds_n AS (SELECT {id_col}, unnest(list_distinct({shingles_sql(text_col, shingle_n)})) AS s
         FROM {new_table}),
ds_r AS (SELECT {id_col}, unnest(list_distinct({shingles_sql(text_col, shingle_n)})) AS s
         FROM {ref_table}),
n_n AS (SELECT {id_col}, count(*) AS n_a FROM ds_n GROUP BY {id_col}),
n_r AS (SELECT {id_col}, count(*) AS n_b FROM ds_r GROUP BY {id_col}),
inter AS (
  SELECT c.doc_id_n, c.ref_id, count(*) AS n_shared
  FROM cand c JOIN ds_n a ON a.{id_col} = c.doc_id_n
              JOIN ds_r b ON b.{id_col} = c.ref_id AND a.s = b.s
  GROUP BY 1, 2
),
scored AS (
  SELECT c.doc_id_n AS {id_col}, c.ref_id,
         (coalesce(i.n_shared, 0)::DOUBLE
           / (na.n_a + nb.n_b - coalesce(i.n_shared, 0))) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_id_n = c.doc_id_n AND i.ref_id = c.ref_id
  JOIN n_n na ON na.{id_col} = c.doc_id_n
  JOIN n_r nb ON nb.{id_col} = c.ref_id
)
SELECT {id_col}, ref_id, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY {id_col}
             ORDER BY jaccard DESC, ref_id) AS rn
  FROM scored WHERE jaccard >= {threshold}
) WHERE rn = 1
"""


# --- n-gram Jaccard (exact, all pairs via shingle equi-join) --------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold.

    No candidate stage: the pair space materializes only through the
    shingle equi-join (pairs sharing ≥1 shingle), so cost is Σ_shingle
    df(shingle)² — fine when shingles are selective; for corpora with
    boilerplate shingles use :func:`near_dup_pairs` (MinHash-banded) and
    cap hot shingles.  Integer-count math → bit-identical on any engine.
    """
    from pyspark import StorageLevel

    sh = (
        _distinct_shingles(df, id_col, text_col, shingle_n)
        .withColumnRenamed("shingle", "s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # 3 consumers: join sides + sizes
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    inter = (
        a.join(b, on="s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a")
    nb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b")
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> str:
    return f"""
WITH ds AS (
  SELECT {id_col}, unnest(list_distinct({shingles_sql(text_col, shingle_n)})) AS s
  FROM {table}
),
sizes AS (SELECT {id_col}, count(*) AS n_sh FROM ds GROUP BY {id_col}),
inter AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, count(*) AS n_shared
  FROM ds a JOIN ds b ON a.s = b.s AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       (i.n_shared::DOUBLE / (na.n_sh + nb.n_sh - i.n_shared)) AS jaccard
FROM inter i
JOIN sizes na ON na.{id_col} = i.id_a
JOIN sizes nb ON nb.{id_col} = i.id_b
WHERE (i.n_shared::DOUBLE / (na.n_sh + nb.n_sh - i.n_shared)) >= {threshold}
"""


# --- embedding-cosine near-dup --------------------------------------------


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    chunk_size: int = 1 << 16,
) -> DataFrame:
    """EXACT vector pairs with cosine ≥ threshold (rounded to 6 decimals
    before the comparison so the cut is engine-independent), oriented
    ``id_a < id_b``.

    Scale shape: the all-pairs candidate generator of
    :func:`similarity.cosine_topk` with the threshold kernel in place of
    the top-k one.  When the table fits one chunk (≤ ``chunk_size`` rows)
    the candidate matrix broadcasts once and query batches stream through
    a matmul (the broadcast-dim shape).  Larger tables switch to the fully
    EXECUTOR-SIDE grid plan: both sides hash into blocks, each grid cell
    is one ``applyInPandas`` matmul emitting only its ≥-threshold pairs —
    no driver pull, no serial chunk pump.  Each unordered pair lands in
    exactly one cell in the ``id_a < id_b`` orientation, so the union
    needs no dedup shuffle.  Compute is inherently all-pairs because
    exactness at an arbitrary threshold admits no pruning; for the
    bucketed-candidate variant (approximate, subquadratic) see
    :func:`embedding_near_dup_lsh`.
    """
    from .similarity import (
        _PAIRS,
        _check_topk_params,
        _emit_pairs,
        _exact_pairs,
        nonzero_vectors,
    )

    _check_topk_params("embedding_near_dup", chunk_size=chunk_size)
    # cosine-metric contract (zerovec/nullvals axes): NULL and zero-norm
    # vectors are excluded — a NULL embedding reaching np.vstack would
    # kill the job over one broken encoder row
    return _exact_pairs(
        nonzero_vectors(df, vec_col), None, id_col, vec_col, chunk_size,
        _emit_pairs(threshold), _PAIRS,
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 24,
    n_dims: int = 64,
) -> DataFrame:
    """BUCKETED near-dup: hyperplane-LSH candidate buckets → bucket-local
    exact cosine → threshold cut.  Subquadratic (pair space = bucket
    collisions, never a cross join) and fully distributed (no driver
    collect anywhere) — the 100 TB path.

    APPROXIMATE by construction: a true pair at angle θ collides in one
    table with p = (1−θ/π)^n_planes, so recall ≈ 1−(1−p)^n_tables < 1.
    With the defaults and cos ≥ 0.4 (θ ≈ 1.16, p ≈ 0.16) recall ≈ 0.98;
    tighten toward 1 by raising ``n_tables`` (cost linear in it).  At
    HIGH thresholds (true near-dup regime, cos ≥ 0.9) the same defaults
    give recall > 1−1e-6 — the regime this path is built for.  Recall is
    measured against :func:`embedding_near_dup` in the test suite.

    Shape: vectors ride into their (table, signature) buckets; each
    bucket runs ONE BLAS matmul and emits only pairs ≥ threshold;
    `dropDuplicates` collapses multi-table collisions.  In pair-dense
    regimes (coarse planes, moderate thresholds) the earlier
    candidate-join + per-pair scoring shuffled |candidate pairs| rows
    through two joins — Σ_bucket |b|² BLAS flops inside the bucket are
    orders cheaper (measured 12.6 s → ~2 s at sf0.1).
    """
    from .similarity import (
        _PAIRS,
        _check_topk_params,
        _emit_pairs,
        _in_buckets,
        _lsh_signatures,
        nonzero_vectors,
    )

    _check_topk_params(
        "embedding_near_dup_lsh", n_planes=n_planes, n_tables=n_tables, n_dims=n_dims
    )
    # cosine-metric contract (zerovec/nullvals axes): NULL/zero-norm
    # vectors carry no signature and are excluded up front — otherwise a
    # NULL __vec reaches the bucket matmul and kills the job
    sigs = _lsh_signatures(
        nonzero_vectors(df, vec_col), id_col, vec_col, n_planes, n_tables, n_dims,
        carry_vec=True,
    )
    return _in_buckets(
        sigs, ["tbl", "sig"], id_col, _emit_pairs(threshold), _PAIRS
    ).dropDuplicates(["id_a", "id_b"])


def embedding_near_dup_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> str:
    return f"""
WITH v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS vec FROM {table}),
sims AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         round(
           list_sum(list_transform(range(1, len(a.vec) + 1),
                                   i -> a.vec[i] * b.vec[i]))
           / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
              * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6) AS cos_sim
  FROM v a JOIN v b ON a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= {threshold}
"""


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex digits of md5 → sign-safe BIGINT


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per doc over distinct tokens' 60-bit hashes.

    bit b of the signature = sign of Σ_tokens (±1 by token-hash bit b).

    Computed as ONE higher-order-function projection per row — hash each
    distinct token once, fold the per-bit ±1 sums across the token array
    with ``aggregate``/``zip_with``, then pack sign bits via a
    powers-of-two dot.  No explode, no groupBy: zero shuffles,
    embarrassingly parallel at any scale.  (Measured against two
    alternatives at sf0.01: explode + 60-SUM groupBy — 2.1 s warm, the
    60-column aggregation compiles a monster; explode + 12 lane-packed
    SUMs — 27 s cold, the packed shift chains blow up codegen.  This HOF
    shape is interpreted but tight: 1.3 s warm, and the only one with no
    shuffle.)  Docs with no tokens get signature 0 (the explode shapes
    silently dropped them; the fixtures contain none, so the mirror
    agrees either way).
    """
    from .text import tokens

    df = _fan_out(df)
    hs = F.transform(F.array_distinct(tokens(text_col)), hash60)
    zeros = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)
    # per-bit ±1 fold: acc[b] += (h >> b) & 1 == 1 ? 1 : -1
    sums = F.aggregate(
        hs,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for b in range(SIMHASH_BITS)
                ]
            ),
            lambda a, x: a + x,
        ),
    )
    powers = json_lit([1 << b for b in range(SIMHASH_BITS)], "array<bigint>")
    sig = F.aggregate(
        F.zip_with(
            sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # coalesce: NULL text folds to a NULL signature — the documented
    # token-free contract is signature 0, same as the empty array and the
    # SQL mirror's left-join coalesce (nullvals edge axis)
    return df.select(F.col(id_col), F.coalesce(sig, F.lit(0)).alias("simhash"))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 20,
    block_bits: int = 15,
) -> DataFrame:
    """Block-banded SimHash near-dup: any equal 15-bit block → candidate,
    then exact ``bit_count(xor) ≤ max_hamming`` filter.

    Equality on one of 4 blocks is the pigeonhole guarantee for hamming ≤ 3
    at 60 bits; larger ``max_hamming`` makes this a recall-bounded heuristic
    (documented, deterministic).
    """
    if not 1 <= block_bits <= SIMHASH_BITS:
        raise ValueError(
            f"simhash_candidate_pairs: block_bits must be in "
            f"[1, {SIMHASH_BITS}], got {block_bits}"
        )
    if max_hamming < 0:
        raise ValueError(
            f"simhash_candidate_pairs: max_hamming must be >= 0, got {max_hamming}"
        )
    from pyspark import StorageLevel

    sigs = simhash(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    # persisted: the block self-join reads both sides, and recomputing a
    # signature means re-running the whole explode+60-bit-sum pipeline
    nblocks = SIMHASH_BITS // block_bits
    mask = (1 << block_bits) - 1
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("blkval"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.blk", "bb.blkval")
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(b, on=["blk", "blkval"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# --- DuckDB-SQL mirrors ----------------------------------------------------


def minhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> str:
    """Full near_dup_pairs pipeline as one DuckDB query."""
    r = k // bands
    mh_cols = ", ".join(
        f"min(md5('{seed}|' || shingle)) AS mh_{seed}" for seed in range(k)
    )
    band_rows = ", ".join(
        f"({b}, md5(" + " || ',' || ".join(f"mh_{b * r + i}" for i in range(r)) + "))"
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT {id_col}, unnest({shingles_sql(text_col, shingle_n)}) AS shingle
  FROM {table}
),
mh AS (
  SELECT {id_col}, {mh_cols} FROM sh GROUP BY {id_col}
),
banded AS (
  SELECT {id_col}, b.band, b.sig
  FROM mh, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM banded a JOIN banded b USING (band, sig)
  WHERE a.{id_col} < b.{id_col}
),
ds AS (
  SELECT {id_col}, unnest(list_distinct({shingles_sql(text_col, shingle_n)})) AS s
  FROM {table}
),
sizes AS (SELECT {id_col}, count(*) AS n_sh FROM ds GROUP BY {id_col}),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_shared
  FROM cand c JOIN ds a ON a.{id_col} = c.id_a
              JOIN ds b ON b.{id_col} = c.id_b AND a.s = b.s
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b,
       (coalesce(i.n_shared, 0)::DOUBLE
         / (na.n_sh + nb.n_sh - coalesce(i.n_shared, 0))) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes na ON na.{id_col} = c.id_a
JOIN sizes nb ON nb.{id_col} = c.id_b
WHERE (coalesce(i.n_shared, 0)::DOUBLE
         / (na.n_sh + nb.n_sh - coalesce(i.n_shared, 0))) >= {threshold}
"""


def simhash_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    from .text import tokens_sql

    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {2**b}::BIGINT ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest(list_distinct({tokens_sql(text_col)})) AS tok
  FROM {table}
),
hashed AS (SELECT {id_col}, {hash60_sql('tok')} AS h FROM tok),
sums AS (SELECT {id_col}, {bit_sums} FROM hashed GROUP BY {id_col}),
sigs AS (SELECT {id_col}, ({sig}) AS simhash FROM sums)
-- left join back: token-free docs (incl. NULL text) keep signature 0,
-- matching the Spark fold's documented contract (nullvals edge axis)
SELECT d.{id_col}, coalesce(g.simhash, 0)::BIGINT AS simhash
FROM {table} d LEFT JOIN sigs g USING ({id_col})
"""


def simhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 20,
    block_bits: int = 15,
) -> str:
    nblocks = SIMHASH_BITS // block_bits
    mask = (1 << block_bits) - 1
    block_rows = ", ".join(
        f"({i}, (simhash >> {i * block_bits}) & {mask})" for i in range(nblocks)
    )
    return f"""
WITH sigs AS ({simhash_sql(table, id_col, text_col)}),
blocks AS (
  SELECT {id_col}, simhash, b.blk, b.blkval
  FROM sigs, LATERAL (VALUES {block_rows}) AS b(blk, blkval)
),
pairs AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blkval = b.blkval
  WHERE a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


# --- Train/test contamination ---------------------------------------------


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark-contamination scan: for every *test* document, how much of
    it already appears in the *training* corpus — the n-gram-overlap
    decontamination check run before every pretraining launch (the public
    GPT-3/PaLM appendices describe exactly this shape).

    Returns one row per test document:
    ``(id, n_shingles, n_shared, n_train_docs)`` — its distinct
    ``shingle_n``-gram count, how many of those occur in ANY training
    document, and how many distinct training documents share at least one
    shingle.  All integers (cross-engine hash-stable); downstream policy
    thresholds ``n_shared / n_shingles``.

    Plan: both sides reduce to per-doc DISTINCT shingle sets (the
    :func:`_distinct_shingles` lineage), the train side deduplicates to
    (shingle, train-doc) pairs, and the check is a shingle equi-join —
    the same bucketed-not-all-pairs shape as MinHash banding, no
    document-pair blowup.  Hot boilerplate shingles fan out; at 100 TB
    pre-filter them with :func:`~tidier_spark.operators.corpus.
    boilerplate_ngrams` (drop shingles above a document-frequency cap)
    before the join.
    """
    tr = _distinct_shingles(train, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("__train_id"), "shingle"
    )
    from pyspark import StorageLevel

    # the test-side shingle set feeds BOTH the hit join and the size
    # aggregate; lazy, each copy re-runs the shingle explode+distinct
    # (measured 8 corpus scans in the plan).  Persist it like every other
    # shingle frame in this module — test corpora are the small side of a
    # decontamination scan by construction.
    te = _distinct_shingles(test, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    hits = (
        te.join(tr, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared"),
            F.countDistinct("__train_id").alias("n_train_docs"),
        )
    )
    sizes = te.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    z = F.lit(0).cast("long")
    return (
        test.select(id_col)
        .join(sizes, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", z).alias("n_shingles"),
            F.coalesce("n_shared", z).alias("n_shared"),
            F.coalesce("n_train_docs", z).alias("n_train_docs"),
        )
    )


def contamination_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    train_pred: str = "doc_id % 2 = 0",
    test_pred: str = "doc_id % 2 = 1",
) -> str:
    """DuckDB mirror of :func:`contamination_check` over one table split by
    predicate (the driver-oracle harness has a single documents view)."""
    from .text import shingles_sql

    return f"""
        WITH sh AS (
          SELECT {id_col},
                 unnest(list_distinct({shingles_sql(text_col, shingle_n)}))
                   AS shingle
          FROM {table}
        ),
        tr AS (SELECT {id_col} AS train_id, shingle FROM sh
               WHERE {train_pred}),
        te AS (SELECT * FROM sh WHERE {test_pred}),
        hits AS (
          SELECT te.{id_col},
                 count(DISTINCT te.shingle)::BIGINT AS n_shared,
                 count(DISTINCT tr.train_id)::BIGINT AS n_train_docs
          FROM te JOIN tr USING (shingle) GROUP BY 1
        ),
        sizes AS (
          SELECT {id_col}, count(*)::BIGINT AS n_shingles FROM te GROUP BY 1
        )
        SELECT d.{id_col},
               coalesce(sizes.n_shingles, 0) AS n_shingles,
               coalesce(hits.n_shared, 0) AS n_shared,
               coalesce(hits.n_train_docs, 0) AS n_train_docs
        FROM (SELECT {id_col} FROM {table} WHERE {test_pred}) d
        LEFT JOIN sizes USING ({id_col})
        LEFT JOIN hits USING ({id_col})"""


# --- Semantic dedup (SemDeDup) --------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse spherical
    k-means quantizer, then compare pairs ONLY within each cluster —
    near-dups sit close in embedding space, so cross-cluster pairs are
    (by construction) below threshold with high probability.

    Returns ``(id_a, id_b, cos_sim)`` with ``id_a < id_b`` and cosine
    rounded to 6 decimals, same contract as :func:`embedding_near_dup` —
    with ``n_clusters=1`` the outputs are identical (the differential
    test), at ``n_clusters=k`` compute drops to ~1/k of all-pairs.

    Scale shape: centroids broadcast (bytes); assignment is an Arrow
    matmul that carries each vector to its cluster (no join back to the
    table); the pairwise stage is ``groupBy(list_id).applyInPandas`` —
    one shuffle on the cluster id, per-cluster O(|c|²) compute.  Cluster
    population is ~N/k, so n_clusters must scale WITH the corpus
    (constant expected cluster size); for skewed clusters split further
    with a secondary quantizer or cap |c| — the knob is cluster count,
    not a driver-side collect.
    """
    from .similarity import (
        _PAIRS,
        _check_topk_params,
        _emit_pairs,
        _in_buckets,
        _route,
        nonzero_vectors,
        train_quantizer,
    )

    _check_topk_params(
        "semantic_dedup_pairs", n_clusters=n_clusters, sample_size=sample_size
    )
    # cosine-metric contract (zerovec/nullvals axes), applied before the
    # emptiness check so an all-excluded corpus returns zero rows: a NULL
    # vector would break the quantizer's numpy stack, a zero one turns
    # into NaN rows there and in the pair kernel
    df = nonzero_vectors(df, vec_col)
    spark = df.sparkSession
    if df.select(id_col).limit(1).count() == 0:
        # nothing to dedup: no clusters to train, no pairs to emit
        return spark.createDataFrame([], _PAIRS)
    cent = train_quantizer(
        df, id_col, vec_col, n_lists=n_clusters, sample_size=sample_size, seed=seed
    )
    # each vector rides into its one nearest cluster (its IVF home list)
    clustered = _route(df, id_col, vec_col, spark.sparkContext.broadcast(cent), 1)
    return _in_buckets(
        clustered, ["list_id"], id_col, _emit_pairs(threshold), _PAIRS
    )


def excise_duplicate_regions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_tokens: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Substring-granularity corpus dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every token covered by
    ANY ``gram_tokens``-token window that occurs ≥ ``min_count`` times in
    the corpus (across documents or within one) is excised, and the
    surviving tokens reassembled in order.

    This is the SLIDING complement of
    :func:`~tidier_spark.operators.corpus.remove_repeated_spans`: spans
    there are non-overlapping and whole-span-removed; here every
    overlapping window position is tested, so a duplicated region of any
    length ≥ gram_tokens is masked precisely (the published approach uses
    a suffix array — the sliding fingerprint equi-join is the
    shuffle-native equivalent at window granularity).

    Plan: gram fan-out is map-only (n per doc, overlapping); occurrence
    counts are ONE hash aggregate on uniform 60-bit fingerprints
    (map-side combine, no skew); duplicated-gram hits join back on the
    fingerprint (shuffle equi-join — the dup set is data-dependent and
    NOT assumed broadcastable, unlike the heavy-hitter set of
    remove_repeated_spans); per-doc start positions aggregate by the
    unique doc id; masking is a row-local array pass (O(n·m) per doc with
    m = dup starts — fold m into merged intervals first if a corpus shows
    pathological m).
    """
    from .text import hash60, tokens

    if gram_tokens < 1:
        raise ValueError("gram_tokens must be >= 1")
    L = gram_tokens
    toks = _fan_out(df).select(F.col(id_col), tokens(text_col).alias("__t"))
    t = F.col("__t")
    n = F.size(t)
    gram_struct = F.when(
        n >= L,
        F.transform(
            F.sequence(F.lit(1), n - (L - 1)),
            lambda i: F.struct(
                i.cast("long").alias("p"),
                hash60(F.concat_ws(" ", F.slice(t, i, L))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<p:long,h:long>>"))
    grams = toks.select(F.col(id_col), F.explode(gram_struct).alias("g")).select(
        F.col(id_col), F.col("g.p").alias("p"), F.col("g.h").alias("h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("h")
    )
    starts = (
        grams.join(dup, "h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("p")).alias("__starts"))
    )
    joined = toks.join(starts, id_col, "left").select(
        F.col(id_col),
        F.col("__t"),
        F.coalesce(F.col("__starts"), F.array().cast("array<long>")).alias(
            "__starts"
        ),
    )
    s = F.col("__starts")
    covered = F.filter(
        F.sequence(F.lit(1), F.size("__t")),
        lambda pos: F.exists(
            s, lambda st: (st <= pos) & (pos <= st + (L - 1))
        ),
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("__t")),
            lambda i: F.when(
                ~F.exists(s, lambda st: (st <= i) & (i <= st + (L - 1))),
                F.element_at(F.col("__t"), i),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    empty_guard = F.when(F.size("__t") > 0, covered).otherwise(
        F.array().cast("array<bigint>")
    )
    kept_guard = F.when(F.size("__t") > 0, kept).otherwise(
        F.array().cast("array<string>")
    )
    return joined.select(
        F.col(id_col),
        # coalesce: NULL text is token-free — (0, 0, '') on both engines
        # (nullvals edge axis), the tokenless-doc 0/NULL house convention
        F.coalesce(F.size("__t"), F.lit(0)).cast("long").alias("n_tokens"),
        F.size(empty_guard).cast("long").alias("n_covered"),
        F.coalesce(F.array_join(kept_guard, " "), F.lit("")).alias("clean_text"),
    )


def excise_duplicate_regions_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_tokens: int = 5,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`excise_duplicate_regions` (same sliding
    60-bit gram fingerprints, occurrence threshold, and position mask)."""
    from .text import hash60_sql, tokens_sql

    L = gram_tokens
    return f"""
        WITH toks AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}
        ),
        grams AS (
          SELECT {id_col}, (g).p AS p, (g).h AS h
          FROM (
            SELECT {id_col},
                   unnest(list_transform(range(1, greatest(len(t) - {L - 1}, 0) + 1),
                     i -> struct_pack(p := i::BIGINT,
                       h := {hash60_sql(f"array_to_string(list_slice(t, i, i + {L - 1}), ' ')")}
                     ))) AS g
            FROM toks
          )
        ),
        dup AS (
          SELECT h FROM grams GROUP BY h HAVING count(*) >= {min_count}
        ),
        starts AS (
          SELECT {id_col}, list_sort(list(p)) AS st
          FROM grams JOIN dup USING (h) GROUP BY {id_col}
        )
        SELECT t.{id_col},
               -- coalesce: NULL text is token-free — (0, 0, '') on both
               -- engines (nullvals edge axis)
               coalesce(len(t.t), 0)::BIGINT AS n_tokens,
               len(list_filter(range(1, coalesce(len(t.t), 0) + 1),
                   pos -> len(list_filter(coalesce(s.st, []),
                          x -> x <= pos AND pos <= x + {L - 1})) > 0))::BIGINT
                 AS n_covered,
               -- coalesce: DuckDB array_to_string([]) is NULL, Spark
               -- array_join([]) is '' — normalize fully-covered docs
               coalesce(array_to_string(
                 list_filter(
                   list_transform(range(1, len(t.t) + 1),
                     i -> CASE WHEN len(list_filter(coalesce(s.st, []),
                               x -> x <= i AND i <= x + {L - 1})) = 0
                          THEN t.t[i] END),
                   x -> x IS NOT NULL), ' '), '') AS clean_text
        FROM toks t LEFT JOIN starts s USING ({id_col})"""

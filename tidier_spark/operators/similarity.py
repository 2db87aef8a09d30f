"""Similarity search over embedding columns (array<float>).

Every top-k and embedding near-dup operator — the five here and the three
embedding ones in :mod:`.dedup` — has one shape: candidate buckets, then
an exact unit-cosine score rounded to 6 decimals, then a per-query top-k
or a threshold cut.  Only the candidate generator differs; the rest is
one small core:

* **Candidate generators.**  All pairs (``cosine_topk``,
  ``embedding_near_dup``): :func:`_exact_pairs` broadcasts the candidate
  matrix when it fits one chunk, else runs an executor-side block grid.
  Random-hyperplane LSH buckets (``lsh_topk``, ``embedding_near_dup_lsh``;
  md5-seeded planes, so reproducible).  Inverted lists of a k-means
  quantizer (``ivf_topk``, ``ivfpq_topk``, ``semantic_dedup_pairs``;
  :func:`_route`).  PQ codes of the whole corpus, broadcast (``pq_topk``).
  Buckets are scored in place by :func:`_in_buckets` — no pair join.
* **Score → top-k / threshold kernels** (numpy, in the Python worker):
  :func:`_topk_kernel` ranks a (queries × candidates) score matrix — self
  pairs masked, score desc then id asc — and :func:`_threshold_kernel`
  cuts one into ``id_a < id_b`` pairs.  A PQ shortlist with exact refine
  is two top-k calls: on the LUT scores (:func:`_pq_scores`), then on the
  exact scores.
* **Rank step** (Spark): :func:`_rank`, one ``row_number`` window over
  ``query_id`` and the ``rank <= k`` cut.  Partition-local top-k followed
  by this global merge is exact: each candidate scores identically
  wherever it is scored, so the top-k of the union is the top-k of the
  per-bucket top-ks.

Determinism: scores are rounded to 6 decimals BEFORE ranking and ties
break on the neighbor id, so results do not depend on the plan shape and
match the DuckDB mirror (:func:`cosine_topk_sql`) row for row.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .literal import json_lit
from .text import _fan_out

__all__ = [
    "dot",
    "norm",
    "cosine",
    "cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "train_quantizer",
    "train_pq_codebooks",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
    "kmeans_fit",
    "kmeans_fit_sql",
    "label_centroids",
    "label_centroids_sql",
    "assign_clusters",
    "cosine_topk_sql",
    "nonzero_vectors",
]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def nonzero_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop zero-norm (and NULL) vectors — cosine similarity is UNDEFINED
    for them (0/0), so every cosine-metric operator excludes them from
    both the corpus and the query side, the way SQL aggregates drop
    NULLs.  The alternatives are worse at 100 TB: raising kills a
    petabyte job over one broken encoder output, and letting NaN flow
    makes ranking order engine-dependent (numpy drops NaN from top-k
    where SQL ORDER BY sorts it first).  JVM-side column expression —
    one codegen'd pass, no Python.  The DuckDB oracle mirrors apply the
    same ``list_sum(x*x) > 0`` predicate (zerovec edge axis,
    docs/EDGE_SWEEP.md).
    """
    ssq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.where(ssq > 0)


def _check_topk_params(fn: str, **params: int) -> None:
    """Named bound checks for the ANN family: k >= 0 (k=0 is the documented
    empty search — useful in generated pipelines), every structural
    parameter >= 1.  Without these the failure modes are a numpy
    "argmax of an empty sequence" (n_lists=0), an empty-projection Python
    worker crash (n_planes=0), or — worst — k<0 silently returning EVERY
    pair (a negative rank bound inverts the cut)."""
    k = params.pop("k", None)
    if k is not None and k < 0:
        raise ValueError(f"{fn}: k must be >= 0, got {k}")
    for name, v in params.items():
        if v < 1:
            raise ValueError(f"{fn}: {name} must be >= 1, got {v}")


# --- the core: score -> top-k / threshold kernels ---------------------------


def _schema(*cols: str) -> T.StructType:
    """Rows of the core: ids and ranks are longs, ``*_sim`` scores doubles."""
    return T.StructType(
        [
            T.StructField(c, T.DoubleType() if c.endswith("_sim") else T.LongType())
            for c in cols
        ]
    )


_PARTIALS = _schema("query_id", "neighbor_id", "cos_sim")
_RANKED = _schema("query_id", "neighbor_id", "cos_sim", "rank")
_PAIRS = _schema("id_a", "id_b", "cos_sim")

# Score cells per kernel call on the broadcast and grid shapes.
_BLOCK_CELLS = 1 << 20


def _row_blocks(n_rows: int, n_cand: int):
    """Row slices that cut a batch of ``n_rows`` queries scored against
    ``n_cand`` candidates into kernel calls.  A call holds ~25 B per
    (row × candidate) cell (scores, their id-ordered copy, the argsort
    index), so a block takes at most _BLOCK_CELLS cells and a quarter of
    the rows: its peak stays under the batch-wide 16 B/cell (score matrix
    plus rounding copy) that a per-row loop holds, and near 25 MB however
    large the Arrow batch or the candidate chunk."""
    step = max(1, min(_BLOCK_CELLS // max(1, n_cand), -(-n_rows // 4)))
    return [slice(lo, lo + step) for lo in range(0, n_rows, step)]


def _vectors(pdf: pd.DataFrame, id_col: str, vec_col: str):
    """(int64 ids, float64 unit rows) of a pandas batch."""
    M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    return pdf[id_col].to_numpy().astype(np.int64), M


def _cosines(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact cosines of unit rows, rounded to 6 decimals BEFORE any
    ranking or cut, so ordering and thresholds match every engine that
    rounds the same values.  ``Q is C`` lets BLAS use the symmetric
    product, which keeps S[i, j] == S[j, i] bit for bit."""
    S = Q @ C.T
    return np.round(S, 6, out=S)


def _topk_kernel(q_ids, c_ids, scores, k: int):
    """Per-query top-k of a (queries × candidates) score matrix — the one
    ranking every top-k operator uses.

    ``c_ids`` is one id row shared by all queries, shape (n_c,), or one
    row per query, shape (n_q, n_c).  A candidate whose id equals the
    query's id is masked as self, every copy of a duplicate id included.
    Order is score desc, then id asc, then column position: a stable score
    sort over id-ordered columns.  Returns ``(cols, vals)``, each
    (n_q, min(k, n_c)) and best first: column indices into ``scores`` and
    their scores; -inf marks an empty slot (the masked self, or fewer
    candidates than k)."""
    if c_ids.ndim == 1:
        order = np.argsort(c_ids, kind="stable")
        ids, S = c_ids[order][None, :], scores[:, order]
    else:
        order = np.argsort(c_ids, axis=1, kind="stable")
        ids = np.take_along_axis(c_ids, order, axis=1)
        S = np.take_along_axis(scores, order, axis=1)
    # S is a fresh copy: mask and negate in place, so a call holds only
    # scores, S, the mask and the index matrix (~25 B per cell)
    S[ids == q_ids[:, None]] = -np.inf
    np.negative(S, out=S)
    idx = np.argsort(S, axis=1, kind="stable")[:, : min(k, S.shape[1])]
    cols = order[idx] if order.ndim == 1 else np.take_along_axis(order, idx, axis=1)
    return cols, -np.take_along_axis(S, idx, axis=1)


def _topk_rows(q_ids, c_ids, cols, vals, score: str = "cos_sim", rank: bool = False):
    """A :func:`_topk_kernel` result as rows, query-major and best first,
    empty slots dropped; ``rank`` adds the 1-based position."""
    qi, slot = np.nonzero(vals > -np.inf)
    nb = c_ids[cols] if c_ids.ndim == 1 else np.take_along_axis(c_ids, cols, axis=1)
    out = {"query_id": q_ids[qi], "neighbor_id": nb[qi, slot], score: vals[qi, slot]}
    if rank:
        out["rank"] = slot.astype(np.int64) + 1
    return pd.DataFrame(out)


def _threshold_kernel(q_ids, c_ids, scores, threshold: float) -> pd.DataFrame:
    """Pairs with score >= threshold, oriented ``id_a < id_b``.  The
    orientation drops self pairs and emits each unordered pair once per
    matrix, so disjoint grid cells union without a dedup shuffle."""
    qi, ci = np.nonzero((scores >= threshold) & (q_ids[:, None] < c_ids[None, :]))
    return pd.DataFrame(
        {"id_a": q_ids[qi], "id_b": c_ids[ci], "cos_sim": scores[qi, ci]}
    )


def _emit_topk(k: int):
    """Emitter for the Spark shapes: cosine top-k of queries vs candidates."""

    def emit(q_ids, Q, c_ids, C, _cand=None):
        cols, vals = _topk_kernel(q_ids, c_ids, _cosines(Q, C), k)
        return _topk_rows(q_ids, c_ids, cols, vals)

    return emit


def _emit_pairs(threshold: float):
    """Emitter for the Spark shapes: cosine pairs at or above threshold."""

    def emit(q_ids, Q, c_ids, C, _cand=None):
        return _threshold_kernel(q_ids, c_ids, _cosines(Q, C), threshold)

    return emit


def _refine(Q, V, cols, vals):
    """Exact rounded cosines of each query's shortlisted candidates (rows
    ``cols`` of the unit matrix ``V``); empty shortlist slots stay -inf."""
    exact = np.round(np.einsum("qtd,qd->qt", V[cols], Q, optimize=True), 6)
    return np.where(vals > -np.inf, exact, -np.inf)


def _pq_codes(M, books):
    """PQ encoding of unit rows: the nearest codeword per subspace, ties to
    the lowest code index (np.argmin), so encoding is bit-deterministic."""
    m, _, ds = books.shape
    codes = np.empty((len(M), m), dtype=np.int32)
    for s in range(m):
        sub = M[:, s * ds : (s + 1) * ds]
        d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def _pq_scores(Q, books, codes):
    """Asymmetric-distance scores of unit queries against PQ codes, rounded
    to 6 decimals: LUT[q, s, c] = <Q[q] in subspace s, codeword c>, then
    one gather-sum over each candidate's codes — no full-precision dot."""
    m, _, ds = books.shape
    lut = np.einsum("qsd,scd->qsc", Q.reshape(len(Q), m, ds), books, optimize=True)
    sims = np.zeros((len(Q), len(codes)))
    for s in range(m):
        sims += lut[:, s, codes[:, s]]
    return np.round(sims, 6)


# --- the core: Spark shapes --------------------------------------------------


def _rank(scored: DataFrame, k: int, score: str = "cos_sim") -> DataFrame:
    """The global merge of per-bucket partial top-ks: ``row_number`` over
    ``query_id`` (score desc, neighbor id asc) and the ``rank <= k`` cut."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _map_queries(src, id_col, vec_col, n_cand, emit, schema) -> DataFrame:
    """Stream query rows through an Arrow-batched ``mapInPandas``, each
    batch cut by :func:`_row_blocks`; ``emit(q_ids, Q)`` scores one block
    against a broadcast candidate set.  Single-file scans arrive as ONE
    input split — :func:`_fan_out` spreads the query side so the matmul
    batches use every core, not one."""

    def run(it):
        for pdf in it:
            for rows in _row_blocks(len(pdf), n_cand):
                yield emit(*_vectors(pdf.iloc[rows], id_col, vec_col))

    return _fan_out(src.select(id_col, vec_col)).mapInPandas(run, schema)


def _grid_sides(
    df: DataFrame,
    queries: DataFrame | None,
    id_col: str,
    vec_col: str,
    n_q_blocks: int,
    n_c_blocks: int,
) -> DataFrame:
    """Tagged union for the executor-side all-pairs grid: every query row
    is replicated to each candidate block, every candidate row to each
    query block, so each unordered (query, candidate) combination lands
    in EXACTLY ONE (qa, cb) group.  Shuffle volume is
    |Q|·n_c_blocks + |C|·n_q_blocks vector rows — the classic √P grid
    replication bound — and nothing ever touches the driver."""
    q_src = (queries if queries is not None else df).select(id_col, vec_col)
    c_src = df.select(id_col, vec_col)
    cbs = json_lit(list(range(n_c_blocks)), "array<int>")
    qas = json_lit(list(range(n_q_blocks)), "array<int>")
    q_side = q_src.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_q_blocks)).cast("int").alias("qa"),
        F.explode(cbs).alias("cb"),
        F.lit(0).alias("side"),
        F.col(id_col).alias("gid"),
        F.col(vec_col).cast("array<double>").alias("gvec"),
    )
    c_side = c_src.select(
        F.explode(qas).alias("qa"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_c_blocks)).cast("int").alias("cb"),
        F.lit(1).alias("side"),
        F.col(id_col).alias("gid"),
        F.col(vec_col).cast("array<double>").alias("gvec"),
    )
    return q_side.unionByName(c_side)


def _exact_pairs(
    df: DataFrame,
    queries: DataFrame | None,
    id_col: str,
    vec_col: str,
    chunk_size: int,
    emit,
    schema: T.StructType,
) -> DataFrame:
    """Exact all-pairs scoring (queries default to ``df``), two shapes by
    candidate count:

    * candidates fit one chunk (≤ ``chunk_size``): broadcast the unit
      candidate matrix once and stream query batches through
      :func:`_map_queries` — the broadcast-dim shape (one bounded driver
      pull, same as a broadcast hash join's build side).  Each query row
      sees every candidate in one call.
    * larger: fully EXECUTOR-SIDE grid — both sides hash into blocks of
      ≤ ~chunk_size rows, each (query-block, candidate-block) cell is one
      ``applyInPandas`` group.  No driver serialization point at any size.

    Either shape emits per-row results; a top-k caller merges them per
    query id (:func:`_rank`).

    ``emit(q_ids, Q, c_ids, C)`` scores one row block of unit queries
    against unit candidates and returns pandas rows of ``schema``."""
    cand = df.select(id_col, vec_col)
    n = cand.count()
    if n > chunk_size:
        n_q = n if queries is None else queries.count()
        grid = _grid_sides(
            df, queries, id_col, vec_col,
            max(1, math.ceil(n_q / chunk_size)), max(1, math.ceil(n / chunk_size)),
        )
        empty = pd.DataFrame({f.name: [] for f in schema.fields})

        def cell(pdf: pd.DataFrame) -> pd.DataFrame:
            qm = pdf["side"].to_numpy() == 0
            if not qm.any() or qm.all():
                return empty
            q_ids, Q = _vectors(pdf[qm], "gid", "gvec")
            c_ids, C = _vectors(pdf[~qm], "gid", "gvec")
            return pd.concat(
                [
                    emit(q_ids[rows], Q[rows], c_ids, C)
                    for rows in _row_blocks(len(q_ids), len(c_ids))
                ],
                ignore_index=True,
            )

        return grid.groupBy("qa", "cb").applyInPandas(cell, schema)

    src = queries if queries is not None else df
    pdf = cand.toPandas()
    if len(pdf) == 0:
        # empty corpus: scoring against nothing is well-defined — zero
        # rows (matches the brute-force SQL oracles, which also yield none)
        return df.sparkSession.createDataFrame([], schema)
    bc = df.sparkSession.sparkContext.broadcast(_vectors(pdf, id_col, vec_col))

    def against_all(q_ids, Q):
        c_ids, C = bc.value
        return emit(q_ids, Q, c_ids, C)

    return _map_queries(src, id_col, vec_col, len(pdf), against_all, schema)


def _in_buckets(
    bucketed: DataFrame, keys: list[str], id_col: str, emit, schema, home: bool = False
) -> DataFrame:
    """Bucket-local exact scoring: ``groupBy(keys).applyInPandas`` runs one
    matmul per bucket, every row of the bucket querying the bucket's
    candidates — all its rows, or with ``home`` only the rows whose home
    list this is (``probe_rank == 1``).  Vectors ride in as ``__vec``, so
    the pair space lives only inside the bucket: no pair join ever
    materializes.  ``emit(q_ids, Q, c_ids, C, cand)`` also gets the
    candidates' pandas rows (IVF-PQ reads their codes)."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, M = _vectors(pdf, id_col, "__vec")
        if not home:
            return emit(ids, M, ids, M, pdf)
        cand = (pdf["probe_rank"] == 1).to_numpy()
        if not cand.any():  # only probed, nobody's home list
            return pd.DataFrame({f.name: [] for f in schema.fields})
        return emit(ids, M, ids[cand], M[cand], pdf[cand])

    return bucketed.groupBy(*keys).applyInPandas(score, schema)


def _route(df, id_col, vec_col, bc_cent, n_probe: int, bc_books=None) -> DataFrame:
    """IVF routing: ONE fused ``mapInPandas`` matmul against the broadcast
    centroids emits each vector's ``n_probe`` nearest lists ranked
    (``probe_rank`` 1 IS the inverted-file home list; ties to the lowest
    list id), with the vector riding along as ``__vec`` and, given
    ``bc_books``, its PQ codes.  A small training sample can yield fewer
    centroids than asked, so ``n_probe`` clamps to the real list count
    (more probes than lists would mis-shape the fan-out arrays)."""
    n_probe = min(n_probe, len(bc_cent.value))
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("list_id", T.IntegerType()),
        T.StructField("probe_rank", T.IntegerType()),
    ]
    if bc_books is not None:
        fields.append(T.StructField("codes", T.ArrayType(T.IntegerType())))
    fields.append(T.StructField("__vec", T.ArrayType(T.DoubleType())))

    def route(it):
        C = bc_cent.value
        ranks = np.arange(1, n_probe + 1, dtype=np.int32)
        for pdf in it:
            if not len(pdf):
                continue
            ids, M = _vectors(pdf, id_col, vec_col)
            top = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :n_probe]
            out = {
                id_col: np.repeat(ids, n_probe),
                "list_id": top.reshape(-1).astype("int32"),
                "probe_rank": np.tile(ranks, len(pdf)),
            }
            if bc_books is not None:
                codes = _pq_codes(M, bc_books.value)
                out["codes"] = list(np.repeat(codes, n_probe, axis=0))
            out["__vec"] = pdf[vec_col].repeat(n_probe).reset_index(drop=True)
            yield pd.DataFrame(out)

    return _fan_out(df.select(id_col, vec_col)).mapInPandas(
        route, T.StructType(fields)
    )


# --- operators ----------------------------------------------------------------


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    queries: DataFrame | None = None,
    chunk_size: int = 1 << 16,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` defaults to ``df`` itself (all-pairs self-search, excluding
    the identity pair).  Output: (query_id, neighbor_id, cos_sim, rank);
    cos_sim is rounded to 6 decimals and ranking ties break on
    neighbor_id, so results are plan-independent.

    Candidates are every vector (:func:`_exact_pairs`): up to
    ``chunk_size`` of them broadcast once and query batches stream through
    a BLAS matmul + top-k; more run the executor-side grid.  Either way one
    window merges the partial top-ks per query id, so rows sharing an id
    get one top-k between them.
    Memory is bounded by chunk_size × dims regardless of candidate count —
    the 100 TB shape for an exact (inherently O(n·m)) search.
    """
    _check_topk_params("cosine_topk", k=k, chunk_size=chunk_size)
    df = nonzero_vectors(df, vec_col)
    if queries is not None:
        queries = nonzero_vectors(queries, vec_col)
    return _rank(
        _exact_pairs(
            df, queries, id_col, vec_col, chunk_size, _emit_topk(k), _PARTIALS
        ),
        k,
    )


def _plane_value_py(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1).

    Same definition as :func:`tidier_spark.operators.text.hash60` — first 15
    hex digits of md5 — computed driver-side so signatures don't drag a
    2048-node constant expression tree through Catalyst.
    """
    import hashlib

    h = int(hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return h / float(2**59) - 1.0


def _plane_matrix(table: int, n_planes: int, n_dims: int):
    return np.array(
        [
            [_plane_value_py(table * 1000 + p, d) for d in range(n_dims)]
            for p in range(n_planes)
        ]
    )


def _lsh_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    n_dims: int,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, tbl, sig[, vec]) hyperplane-LSH signature rows — one Arrow
    matmul pass against the broadcast plane matrix, one output row per
    (vector, table).  With ``carry_vec`` the vector rides along into the
    bucket shuffle (×n_tables duplication — the standard multi-table LSH
    trade) so bucket-local scoring needs no join back to the table."""
    planes = np.vstack([_plane_matrix(t, n_planes, n_dims) for t in range(n_tables)])
    pow2 = np.array([1 << p for p in range(n_planes)], dtype=np.int64)
    bc_planes = df.sparkSession.sparkContext.broadcast(planes)

    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("tbl", T.IntegerType()),
        T.StructField("sig", T.LongType()),
    ]
    if carry_vec:
        fields.append(T.StructField("__vec", T.ArrayType(T.DoubleType())))
    sig_schema = T.StructType(fields)

    def signatures(it):
        P = bc_planes.value  # (n_tables*n_planes, n_dims)
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            # projection sign is scale-invariant → no need to normalize
            bits = (mat @ P.T) >= 0  # (n, n_tables*n_planes)
            n = len(pdf)
            frames = []
            for t in range(n_tables):
                blk = bits[:, t * n_planes : (t + 1) * n_planes]
                out = {
                    id_col: pdf[id_col].astype("int64"),
                    "tbl": np.full(n, t, dtype=np.int32),
                    "sig": (blk * pow2).sum(axis=1),
                }
                if carry_vec:
                    out["__vec"] = pdf[vec_col]
                frames.append(pd.DataFrame(out))
            yield pd.concat(frames, ignore_index=True)

    # _fan_out: a single-file scan is one input split — without it the
    # signature matmul serializes on one core (measured 3.2s → 0.9s for
    # the sf0.1 candidate stage).
    return _fan_out(df.select(id_col, vec_col)).mapInPandas(signatures, sig_schema)


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 12,
    n_tables: int = 3,
    n_dims: int = 64,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH buckets → bucket-local exact
    cosine partial top-k → global merge.

    Vectors ride into their (table, signature) buckets (×n_tables
    duplication — the multi-table LSH trade); each bucket runs ONE BLAS
    matmul emitting its members' k best bucket-neighbors; a window over
    the deduped union picks the final k.  No pair join is ever
    materialized — in pair-dense regimes (coarse planes / high collision
    rates) the join-based rerank shuffles |pairs| rows through two joins,
    while this shape's cost is Σ_bucket |b|² BLAS flops.  Deterministic:
    planes are md5-seeded, cosine rounded to 6 before ranking, ties break
    on neighbor id.  Recall < 1 by construction; raise n_tables / lower
    n_planes to trade cost for recall.
    """
    _check_topk_params(
        "lsh_topk", k=k, n_planes=n_planes, n_tables=n_tables, n_dims=n_dims
    )
    sigs = _lsh_signatures(
        nonzero_vectors(df, vec_col),
        id_col, vec_col, n_planes, n_tables, n_dims, carry_vec=True,
    )
    partials = _in_buckets(sigs, ["tbl", "sig"], id_col, _emit_topk(k), _PARTIALS)
    # a pair colliding in several tables is scored (identically) in each
    return _rank(partials.dropDuplicates(["query_id", "neighbor_id"]), k)


def _rerank_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact cosine over candidate (query_id, neighbor_id) pairs with
    vectors resolved by TWO SHUFFLE JOINS against the (id, unit vector)
    table — the standard rerank-by-join shape — then the top-k window.
    No driver collect, no full-matrix broadcast: the vector table shuffles
    by id (each partition bounded), candidate ids are 16 B/row.  The
    pairs must arrive unique (one global scoring pass emits each once),
    so no dedup shuffle precedes the joins.

    Each vector is normalized ONCE, so the per-pair cosine is a plain
    dot — per-pair norms would triple the FLOPs.  Scoring is the built-in
    fold (whole-stage codegen): once the join has resolved both vectors
    into the row, a 64-dim JVM fold per row beats shipping ~1 KB/row
    through an Arrow batch to a Python worker and back — the batch-matmul
    shape only wins when one side is a shared broadcast matrix.
    """
    n = norm(F.col(vec_col))
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n).alias("__uv"),
    )
    scored = (
        pairs.join(
            vecs.select(F.col(id_col).alias("query_id"), F.col("__uv").alias("__qv")),
            "query_id",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("neighbor_id"), F.col("__uv").alias("__nv")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("__qv"), F.col("__nv")), 6).alias("cos_sim"),
        )
    )
    return _rank(scored, k)


def _first_rows(df: DataFrame, id_col: str, vec_col: str, n: int) -> pd.DataFrame:
    return df.select(id_col, vec_col).orderBy(id_col).limit(n).toPandas()


def _training_sample(df: DataFrame, id_col: str, vec_col: str, sample_size: int):
    """Deterministic bounded training sample: first ``sample_size`` rows by
    id (TakeOrderedAndProject — one job, no full sort).  Shared by the
    quantizer/codebook trainers so multi-artifact indexes (IVF-PQ) pay for
    one collection instead of one per artifact.  If the returned frame has
    fewer than ``sample_size`` rows the corpus is exhausted — callers can
    use ``len(sample)`` as an exact corpus count without a second job.

    An EMPTY corpus raises loudly here (all index trainers route through
    this): training a quantizer/codebook on zero vectors is undefined,
    and the numpy stack downstream would otherwise die with an opaque
    "need at least one array to concatenate"."""
    sample = _first_rows(df, id_col, vec_col, sample_size)
    if len(sample) == 0:
        raise ValueError(
            "cannot train on an empty corpus: no vectors in input"
        )
    return sample


def train_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_lists: int,
    kmeans_iters: int = 5,
    sample_size: int = 4096,
    seed: int = 42,
    _sample=None,
):
    """Coarse k-means quantizer trained driver-side on a deterministic
    bounded sample (first ``sample_size`` rows by id — reproducible, no
    full-table collect).  Lloyd iterations over unit vectors (spherical
    k-means); returns the (n_lists × dims) centroid matrix — bytes to
    broadcast regardless of table size.  ``_sample`` lets callers pass a
    pre-collected ``_training_sample`` frame (same first-rows contract) to
    share one collection across trainers."""
    _check_topk_params("train_quantizer", n_lists=n_lists)
    sample = (
        _training_sample(df, id_col, vec_col, sample_size)
        if _sample is None
        else _sample
    )
    S = np.vstack(sample[vec_col].to_numpy()).astype(np.float64)
    S /= np.linalg.norm(S, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    cent = S[rng.choice(len(S), size=min(n_lists, len(S)), replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(S @ cent.T, axis=1)  # cosine on unit vectors
        for c in range(len(cent)):
            members = S[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


def assign_clusters(df: DataFrame, id_col: str, vec_col: str, bc_cent) -> DataFrame:
    """(id, list_id) nearest-centroid assignment — the home list of
    :func:`_route` (an Arrow-batched matmul against the broadcast
    centroid matrix; ties to the lowest list id)."""
    return _route(df, id_col, vec_col, bc_cent, 1).select(id_col, "list_id")


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means quantizer →
    per-list buckets → probe the ``n_probe`` nearest lists per query →
    exact cosine re-rank on probed candidates.

    The quantizer trains driver-side on a deterministic sample (first
    ``sample_size`` rows by id — seeded, reproducible), Lloyd iterations in
    numpy; the centroid matrix broadcasts (n_lists × dims — bytes).  ONE
    fused mapInPandas matmul (:func:`_route`) emits each vector's n_probe
    nearest lists ranked, with the vector riding along; each list group
    then runs ONE BLAS matmul — probing queries × member rows — emitting
    per-query partial top-k, and a window over the union picks the final
    k.  The pair space (Σ_probed-list |bucket| per query — n_probe/n_lists
    of brute force) lives only inside the bucket matmuls; no pair join
    materializes.  Recall rises with ``n_probe`` (== n_lists ⇒ exact).
    """
    _check_topk_params("ivf_topk", k=k, n_lists=n_lists, n_probe=n_probe)
    df = nonzero_vectors(df, vec_col)
    cent = train_quantizer(
        df,
        id_col,
        vec_col,
        n_lists=n_lists,
        kmeans_iters=kmeans_iters,
        sample_size=sample_size,
        seed=seed,
    )
    probed = _route(
        df, id_col, vec_col, df.sparkSession.sparkContext.broadcast(cent), n_probe
    )
    # no pair dedup: candidates are a list's home members only, so a
    # neighbor is scored in exactly one list per query
    return _rank(
        _in_buckets(probed, ["list_id"], id_col, _emit_topk(k), _PARTIALS, home=True),
        k,
    )


def train_pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    n_codes: int = 32,
    kmeans_iters: int = 8,
    sample_size: int = 4096,
    seed: int = 42,
    _sample=None,
):
    """Product-quantization codebooks (FAISS-PQ shape): split each UNIT
    vector into ``m`` subspaces and run Lloyd k-means per subspace on a
    deterministic bounded sample (first ``sample_size`` rows by id — the
    same reproducible-training contract as :func:`train_quantizer`;
    ``_sample`` shares a pre-collected frame across trainers).

    Returns an (m × n_codes × d/m) float64 array — kilobytes to broadcast
    regardless of table size.  Ties in assignment resolve to the lowest
    code index (np.argmin), so encoding is bit-deterministic.
    """
    sample = (
        _training_sample(df, id_col, vec_col, sample_size)
        if _sample is None
        else _sample
    )
    S = np.vstack(sample[vec_col].to_numpy()).astype(np.float64)
    S /= np.linalg.norm(S, axis=1, keepdims=True)
    d = S.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, min(n_codes, len(S)), ds))
    for s in range(m):
        sub = S[:, s * ds : (s + 1) * ds]
        cent = sub[rng.choice(len(sub), size=books.shape[1], replace=False)]
        for _ in range(kmeans_iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s] = cent
    return books


def pq_encode(df: DataFrame, id_col: str, vec_col: str, bc_books) -> DataFrame:
    """(id, codes) PQ encoding — Arrow-batched mapInPandas nearest-code
    assignment per subspace against the broadcast codebooks.  The output
    is the compressed table: ``m`` small ints per vector (d·4 bytes →
    m bytes at int8 storage), the representation that makes a 100 TB
    vector corpus broadcastable / cacheable."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids, M = _vectors(pdf, id_col, vec_col)
            yield pd.DataFrame(
                {id_col: ids, "codes": list(_pq_codes(M, bc_books.value))}
            )

    return _fan_out(df.select(id_col, vec_col)).mapInPandas(encode, schema)


def pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
    n_codes: int = 32,
    kmeans_iters: int = 8,
    sample_size: int = 4096,
    seed: int = 42,
    shortlist: int | None = None,
    max_corpus_rows: int = 20_000_000,
) -> DataFrame:
    """Product-quantization approximate top-k (asymmetric distance
    computation, the FAISS-PQ idiom): queries stay full-precision, the
    database side is the ``m``-byte code table, and each query scores the
    whole corpus through an (m × n_codes) inner-product LOOKUP TABLE —
    one small matmul per query batch plus a gather-sum, no full-precision
    pair dot products.

    Scale story: the compressed table is d·4/m× smaller than the raw
    vectors (64-dim float → 8 codes ≈ 32×), which is exactly what makes
    the "broadcast the database" strategy survive corpus sizes where raw
    vectors cannot.  Be explicit about the boundary: the code table IS
    collected to the driver once and broadcast (that is the FAISS-PQ
    single-index contract — a RAM-resident compressed index), so this
    path is bounded by driver/executor memory at corpus·(8+m) bytes ≈
    raw/32; beyond that, use :func:`ivfpq_topk`, where the SAME encoding
    and scoring kernel run bucket-local with no corpus-sized collect or
    broadcast anywhere.  That boundary is ENFORCED, not advisory:
    ``max_corpus_rows`` (default 20M ≈ 320 MB of codes at m=8) is
    checked with one column-pruned count before anything is collected,
    and a larger corpus raises with the ivfpq_topk routing in the
    message.  Scoring is embarrassingly parallel over query
    partitions; nothing shuffles after the one encode pass.

    With ``shortlist=K'`` the PQ pass emits K' candidates per query and an
    EXACT cosine re-rank picks the final k — the standard ADC+re-rank
    pipeline: full-precision vectors are touched for only K'·n_queries
    pairs instead of n², and recall jumps because the true top-k only
    has to survive into the shortlist, not win the quantized ordering
    outright.

    Determinism: seeded sampling, ties to the lowest code / neighbor id,
    scores rounded to 6 decimals before ranking — same contract as the
    other ANN paths.  Approximate by construction; the entry carries a
    recall guarantee row and pytest holds the recall differential.
    """
    _check_topk_params(
        "pq_topk", k=k, m=m, n_codes=n_codes,
        **({} if shortlist is None else {"shortlist": shortlist}),
    )
    df = nonzero_vectors(df, vec_col)
    spark = df.sparkSession
    # One bounded collection feeds training AND, when it exhausts the
    # corpus (len(sample) < sample_size ⇒ the corpus has exactly that many
    # rows), doubles as the corpus itself — the count() guard job and the
    # distributed encode pass are then pure overhead and are skipped.  At
    # real scale (corpus > sample_size) both run as before.
    sample = _first_rows(df, id_col, vec_col, sample_size)
    if len(sample) == 0:
        # no vectors, no neighbors: zero rows, as for cosine_topk (only
        # training an index on nothing is undefined)
        score = "cos_sim" if shortlist else "pq_sim"
        return spark.createDataFrame(
            [], _schema("query_id", "neighbor_id", score, "rank")
        )
    n_corpus = len(sample) if len(sample) < sample_size else df.count()
    if n_corpus > max_corpus_rows:
        raise ValueError(
            f"pq_topk collects the {8 + m}-byte-per-row code table to the "
            f"driver (FAISS single-index contract); corpus has "
            f"{n_corpus:,} rows > max_corpus_rows={max_corpus_rows:,}. "
            "Use ivfpq_topk — the same encoding and LUT scoring run "
            "bucket-local with no corpus-sized collect or broadcast — "
            "or raise max_corpus_rows explicitly if the driver has the "
            "RAM."
        )
    books = train_pq_codebooks(
        df,
        id_col,
        vec_col,
        m=m,
        n_codes=n_codes,
        kmeans_iters=kmeans_iters,
        sample_size=sample_size,
        seed=seed,
        _sample=sample,
    )
    bc_books = spark.sparkContext.broadcast(books)
    V = None
    if n_corpus <= len(sample):
        # the training sample IS the corpus: encode driver-side with the
        # same kernel pq_encode runs
        db_ids, V = _vectors(sample, id_col, vec_col)
        codes = _pq_codes(V, books)
    else:
        enc = pq_encode(df, id_col, vec_col, bc_books).toPandas()
        codes = np.vstack(enc["codes"].to_numpy()).astype(np.int32)
        db_ids = enc[id_col].to_numpy().astype(np.int64)
    # Driver-resident corpus + shortlist: the exact re-rank fuses into the
    # scoring pass.  The join-resolved _rerank_pairs shape exists to avoid
    # materializing full-precision vectors per pair at scale; here the
    # unit matrix is ALREADY on the driver (it is the training sample), so
    # the refine is a (shortlist × d) product in the same UDF and the pair
    # shuffle, two joins and rank window collapse into one map-only stage
    # (test_pq_full_shortlist_is_exact holds over this path).
    fused = bool(shortlist) and V is not None
    order = np.argsort(db_ids, kind="stable")
    bc_db = spark.sparkContext.broadcast(
        (db_ids[order], codes[order], V[order] if fused else None)
    )
    n_cand = shortlist if shortlist else k

    def score(q_ids, Q):
        ids, codes, V = bc_db.value
        pq = _pq_scores(Q, bc_books.value, codes)
        cols, vals = _topk_kernel(q_ids, ids, pq, n_cand)
        if not fused:
            return _topk_rows(q_ids, ids, cols, vals, score="pq_sim")
        nb = ids[cols]
        exact = _refine(Q, V, cols, vals)
        return _topk_rows(q_ids, nb, *_topk_kernel(q_ids, nb, exact, k), rank=True)

    if fused:
        return _map_queries(df, id_col, vec_col, len(db_ids), score, _RANKED)
    scored = _map_queries(
        df, id_col, vec_col, len(db_ids), score,
        _schema("query_id", "neighbor_id", "pq_sim"),
    )
    if shortlist:
        # one global scoring pass emits each (query, neighbor) at most
        # once, so the join-resolved re-rank needs no pair dedup
        return _rerank_pairs(
            df, scored.select("query_id", "neighbor_id"), id_col, vec_col, k
        )
    return _rank(scored, k, score="pq_sim")


def ivfpq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 8,
    m: int = 8,
    n_codes: int = 32,
    shortlist: int = 32,
    kmeans_iters: int = 5,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ (the FAISS ``IVFx,PQy`` index, the billion-scale workhorse):
    coarse k-means routes vectors into inverted lists, vectors are stored
    as ``m``-byte PQ codes, queries probe ``n_probe`` lists and score each
    probed list's CODES through a per-query lookup table, and an exact
    re-rank resolves the final k from the shortlist.

    Why this is THE 100 TB shape (vs :func:`pq_topk`'s broadcast): nothing
    is collected or broadcast except the two trained artifacts (centroids
    + codebooks — kilobytes).  The code table lives distributed, bucketed
    by list id; each bucket's scoring is a LUT gather over only that
    bucket's codes (n_probe/n_lists of the corpus per query, at m bytes
    per vector).  Every stage is a groupBy on list_id — skew-bounded by
    balanced k-means lists.

    ADC + REFINE is bucket-local: the probed list already holds both the
    query vector (it rode in with the probe) and the member vectors, so
    the exact cosine of each PQ shortlist is computed right there — two
    calls of the top-k kernel, on the LUT scores and then on the exact
    ones.  Resolving vectors through corpus-wide re-rank joins instead
    shuffled ~n_probe × shortlist × vec-size bytes for nothing (measured
    16 s of a 23 s call at 20k × 64d).  A neighbor belongs to exactly ONE
    home list, so a (query, neighbor) pair arises in at most one probed
    list: one window over the per-list top-ks resolves the final k.

    Determinism matches the other ANN paths (seeded training, stable ties,
    6-decimal rounding before ranking).  Recall rises with ``n_probe`` and
    ``shortlist``; the entry carries a recall guarantee row.
    """
    _check_topk_params(
        "ivfpq_topk", k=k, n_lists=n_lists, n_probe=n_probe, m=m,
        n_codes=n_codes, shortlist=shortlist,
    )
    df = nonzero_vectors(df, vec_col)
    spark = df.sparkSession
    sample = _training_sample(df, id_col, vec_col, sample_size)
    cent = train_quantizer(
        df, id_col, vec_col, n_lists=n_lists,
        kmeans_iters=kmeans_iters, sample_size=sample_size, seed=seed,
        _sample=sample,
    )
    books = train_pq_codebooks(
        df, id_col, vec_col, m=m, n_codes=n_codes,
        kmeans_iters=kmeans_iters, sample_size=sample_size, seed=seed + 1,
        _sample=sample,
    )
    bc_books = spark.sparkContext.broadcast(books)
    routed = _route(
        df, id_col, vec_col, spark.sparkContext.broadcast(cent), n_probe, bc_books
    )

    def refine_in_list(q_ids, Q, c_ids, C, cand):
        codes = np.vstack(cand["codes"].to_numpy()).astype(np.int32)
        pq = _pq_scores(Q, bc_books.value, codes)
        cols, vals = _topk_kernel(q_ids, c_ids, pq, shortlist)
        nb = c_ids[cols]
        exact = _refine(Q, C, cols, vals)
        return _topk_rows(q_ids, nb, *_topk_kernel(q_ids, nb, exact, k))

    return _rank(
        _in_buckets(routed, ["list_id"], id_col, refine_in_list, _PARTIALS, home=True),
        k,
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    scale: int = 10_000,
) -> DataFrame:
    """Fully-DISTRIBUTED Lloyd k-means over every vector (unlike
    :func:`train_quantizer`'s bounded-sample training): assignment is ONE
    JVM higher-order expression — a ``transform`` over the k×d centroid
    array literal computing the square-distance fold per centroid, then
    ``array_position(…, array_min(…))`` as the argmin (first index wins,
    so ties go to the lowest cluster id for free) — no Python in the
    per-row path and no per-centroid column rebuild per iteration.  The
    centroid update is one (cluster, dim) hash aggregate with map-side
    combine (k·d groups), and only the k×d centroid table ever reaches
    the driver.  The iterative-algorithm pattern of ``graph.py``:
    per-round work is one shuffle, driver state is O(k·d), rounds are
    bounded by ``iters``; the fixed-point frame is cached once so the
    ``iters``+1 passes never re-read or re-quantize the source.

    EXACT cross-engine arithmetic, so the result is oracle-checkable
    (DuckDB unrolls the same rounds as CTEs — the bpe_train discipline):
    components fixed-point at ``round(x·scale)`` BIGINT; distances are
    BIGINT dot products; centroids floor-divide toward zero
    (``(|s| div n)·sign(s)``) so both engines quantize identically; ties
    in the argmin go to the lowest cluster id.  Init is the vectors of
    the ``k`` smallest ids — deterministic, no RNG.

    Returns ``(id, cluster)`` for the assignment under the FINAL
    centroids (i.e. ``iters`` updates then one assignment pass).
    """
    _check_topk_params("kmeans_fit", k=None, n_clusters=k)
    # localCheckpoint, not persist (ADVICE r05 #4): same one-time
    # materialization for the iters+1 passes, but the storage is released
    # when the returned frame (which references it) is garbage-collected,
    # instead of pinning corpus-sized vectors until someone unpersists.
    # NULL vectors have no position in the space and are excluded
    # (nullvals edge axis — a NULL centroid init would otherwise crash);
    # zero vectors stay: k-means is Euclidean, not cosine
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
                lambda x: F.round(x.cast("double") * scale).cast("bigint"),
        ).alias("__x"),
    ).localCheckpoint(eager=True)
    init = base.orderBy(id_col).limit(k).collect()
    if not init:
        raise ValueError(
            "kmeans_fit: input DataFrame is empty (no non-NULL vectors)"
        )
    cents = [list(r["__x"]) for r in init]
    dims = len(cents[0])

    def assign(frame: DataFrame) -> DataFrame:
        # one nested centroid-array literal per pass (k·d ints, model-
        # sized, crossing py4j as one string); distances via a transform
        # over it, argmin via array_position of the min — first match,
        # i.e. lowest cluster id
        dists = F.transform(
            json_lit(cents, "array<array<bigint>>"),
            lambda c: F.aggregate(
                F.zip_with(F.col("__x"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
        return frame.select(
            id_col,
            "__x",
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("long")
            .alias("cluster"),
        )

    for _ in range(iters):
        assigned = assign(base)
        sums = (
            assigned.select(
                "cluster", F.posexplode(F.col("__x")).alias("i", "v")
            )
            .groupBy("cluster", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {c: list(old) for c, old in enumerate(cents)}  # empty keeps old
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(int(r["cluster"]), [None] * dims)[int(r["i"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        for c, pairs in acc.items():
            new[c] = [
                (abs(s) // n) * (1 if s >= 0 else -1) for s, n in pairs
            ]
        cents = [new[c] for c in range(len(cents))]

    return assign(base).select(id_col, "cluster")


def kmeans_fit_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    scale: int = 10_000,
    dims: int = 64,
) -> str:
    """DuckDB mirror of :func:`kmeans_fit`: the same rounds unrolled as
    CTEs — same fixed point, same floor-toward-zero centroid division,
    same lowest-cluster tie rule, same keep-old-on-empty-cluster rule."""
    d2 = (
        f"list_sum(list_transform(range(1, {dims + 1}),"
        f" i -> (v.x[i] - c.c[i]) * (v.x[i] - c.c[i])))"
    )
    ctes = [
        f"""vecs AS (
          SELECT {id_col} AS vid,
                 list_transform({vec_col},
                                x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS x
          FROM {table}
        )""",
        f"""cent0 AS (
          SELECT (row_number() OVER (ORDER BY vid)) - 1 AS cluster, x AS c
          FROM (SELECT vid, x FROM vecs ORDER BY vid LIMIT {k})
        )""",
    ]
    for r in range(iters):
        ctes.append(
            f"""a{r} AS (
              SELECT vid, x, cluster FROM (
                SELECT v.vid, v.x, c.cluster,
                       row_number() OVER (PARTITION BY v.vid
                         ORDER BY {d2}, c.cluster) AS rn
                FROM vecs v CROSS JOIN cent{r} c
              ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""s{r} AS (
              SELECT cluster, i,
                     CAST(sum(x[i]) AS BIGINT) AS s,
                     count(*)::BIGINT AS n
              FROM a{r}, (SELECT unnest(range(1, {dims + 1})) AS i)
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""cent{r + 1} AS (
              SELECT p.cluster,
                     coalesce(
                       (SELECT list((abs(s.s) // s.n) *
                                    (CASE WHEN s.s >= 0 THEN 1 ELSE -1 END)
                                    ORDER BY s.i)
                        FROM s{r} s WHERE s.cluster = p.cluster),
                       p.c) AS c
              FROM cent{r} p
            )"""
        )
    return f"""WITH {', '.join(ctes)}
        SELECT vid AS {id_col}, cluster FROM (
          SELECT v.vid, c.cluster,
                 row_number() OVER (PARTITION BY v.vid
                   ORDER BY {d2}, c.cluster) AS rn
          FROM vecs v CROSS JOIN cent{iters} c
        ) WHERE rn = 1"""


# --- DuckDB mirror ---------------------------------------------------------


def cosine_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    query_pred: str | None = None,
) -> str:
    """Exact top-k mirror.  cos_sim is rounded to 6 decimals BEFORE ranking
    (matching the Spark paths), so tie-breaks on neighbor_id resolve
    identically in both engines regardless of 1-ulp float noise.

    ``query_pred``: optional predicate on the QUERY side's columns (it is
    prefixed with the query alias, e.g. ``"vec_id % 4 = 0"`` →
    ``a.vec_id % 4 = 0``) — restricts which vectors act as queries while
    every vector stays a candidate, mirroring ``cosine_topk(queries=...)``.
    """
    qp = f" AND (a.{query_pred})" if query_pred else ""
    # zero-norm vectors are excluded on BOTH engines (cosine undefined;
    # see nonzero_vectors) — a no-op on unit-normalized fixtures
    return f"""
WITH v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS vec FROM {table}
           WHERE list_sum(list_transform({vec_col}::DOUBLE[], x -> x * x)) > 0),
sims AS (
  SELECT a.{id_col} AS query_id, b.{id_col} AS neighbor_id,
         round(
           list_sum(list_transform(range(1, len(a.vec) + 1),
                                   i -> a.vec[i] * b.vec[i]))
           / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
              * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6) AS cos_sim
  FROM v a, v b WHERE a.{id_col} <> b.{id_col}{qp}
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10_000,
) -> DataFrame:
    """Per-label embedding centroids (class prototypes — the base of
    nearest-centroid classification, prototype-based few-shot heads, and
    per-source drift monitoring).  Output: one row per (label, dim) with
    the EXACT integer component sum, member count, and the centroid
    component as one exactly-rounded division — the mergeable-partials
    idiom (sums and counts fold across shards; the division happens at
    read time).

    Plan: one posexplode (map-only) → one (label, dim) hash aggregate
    with map-side combine — |labels|·d groups regardless of row count.
    Components fixed-point at ``round(x·scale)`` BIGINT (double-cast
    first: FLOAT×INT multiplies in float on Spark but double elsewhere —
    the kmeans/perceptron lesson).
    """
    x = F.posexplode(
        F.transform(
            F.col(vec_col),
            lambda v: F.round(v.cast("double") * scale).cast("bigint"),
        )
    )
    return (
        df.select(F.col(label_col).alias("label"), x.alias("dim", "comp"))
        .groupBy("label", "dim")
        .agg(
            F.sum("comp").alias("comp_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            "comp_sum",
            "n",
            (F.col("comp_sum") / F.col("n")).alias("centroid_fp"),
        )
    )


def label_centroids_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10_000,
    dims: int = 64,
) -> str:
    """DuckDB mirror of :func:`label_centroids` (0-based dims to match
    Spark posexplode; HUGEINT-dodging casts).  NULL vectors contribute no
    components on either engine (Spark's posexplode drops them; here the
    WHERE does — nullvals edge axis)."""
    return f"""
        WITH comps AS (
          SELECT {label_col} AS label, (i - 1)::BIGINT AS dim,
                 CAST(round(CAST({vec_col}[i] AS DOUBLE) * {scale}) AS BIGINT)
                   AS comp
          FROM {table}, (SELECT unnest(range(1, {dims + 1})) AS i)
          WHERE {vec_col} IS NOT NULL
        )
        SELECT label, dim,
               CAST(sum(comp) AS BIGINT) AS comp_sum,
               count(*)::BIGINT AS n,
               CAST(sum(comp) AS BIGINT) / count(*) AS centroid_fp
        FROM comps GROUP BY 1, 2"""

"""Streaming upsert sink: foreachBatch MERGE into a keyed parquet table.

The standard streaming-CDC shape: each micro-batch reduces to one row per
key (latest wins by an explicit order — never arrival order), merges into
the current table snapshot with :func:`tidier_spark.operators.merge.upsert`
(union + one per-key window, no join), and commits a NEW versioned
snapshot directory ``path/v=N``.  Readers always see a complete snapshot
(:func:`read_merged` picks the highest committed version) — plain parquet
has no transactional overwrite, and rewriting the directory a plan is
still reading from corrupts it, so versioned snapshots are the honest
minimal table format here.  In production the same ``foreachBatch`` body
targets a real lakehouse table (Delta/Iceberg ``MERGE INTO``); swap the
commit, keep the plan.

State story at 100 TB: the stream side carries no state at all (each
batch is reduced and merged by plan); the table grows with distinct keys,
and the per-batch merge is one shuffle of (batch ∪ snapshot) on the key —
bounded by table size, not stream history.  Old versions are pruned,
keeping the last ``keep_versions``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sliding import _replay

__all__ = [
    "stream_merge_parquet",
    "read_merged",
    "stream_dedup_against",
    "stream_scd2_parquet",
]


def _versions(path: str, committed_only: bool = True) -> list[int]:
    """Snapshot versions under ``path``.  A version only counts as
    COMMITTED when Spark's ``_SUCCESS`` marker exists inside it — a
    crashed/killed write leaves a partial ``v=N`` directory whose
    existence alone must never make it the merge base or a read target.
    ``committed_only=False`` lists every directory (committed or not) so
    the writer can pick a fresh version number past any partial leftover.
    """
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v=") and d[2:].isdigit():
            if committed_only and not os.path.isfile(
                os.path.join(path, d, "_SUCCESS")
            ):
                continue
            out.append(int(d[2:]))
    return sorted(out)


def _commit_version(
    path: str, frame: DataFrame, batch_id: int, keep_versions: int
) -> None:
    """Commit ``frame`` as the next snapshot ``path/v=N`` of a
    foreachBatch sink.  N is past every version directory, committed or
    a crashed write's partial one.  The overwrite write ends with
    Spark's ``_SUCCESS``; a ``_BATCH_<batch_id>`` marker then records
    the producing micro-batch (:func:`_version_batch_id`; Spark ignores
    ``_``-prefixed files).  Last, all but the newest ``keep_versions``
    committed snapshots are pruned."""
    committed = _versions(path)
    all_vs = _versions(path, committed_only=False)
    vdir = os.path.join(path, f"v={all_vs[-1] + 1 if all_vs else 0}")
    frame.write.mode("overwrite").parquet(vdir)
    with open(os.path.join(vdir, f"_BATCH_{batch_id}"), "w"):
        pass
    for old in committed[: max(0, len(committed) - (keep_versions - 1))]:
        shutil.rmtree(os.path.join(path, f"v={old}"), ignore_errors=True)


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Latest committed snapshot of a :func:`stream_merge_parquet` table."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    return spark.read.parquet(os.path.join(path, f"v={vs[-1]}"))


def stream_merge_parquet(
    stream: DataFrame,
    path: str,
    keys: str | list[str],
    order_cols: list[str],
    *,
    name: str = "stream_merge",
    timeout_seconds: int = 300,
    keep_versions: int = 2,
    state_partitions: int | None = None,
) -> DataFrame:
    """Replay ``stream`` through the streaming engine, merging each
    micro-batch into the keyed table at ``path`` (AvailableNow — the
    bounded-backfill trigger), and return the final snapshot.

    ``order_cols``: explicit within-batch latest-wins order (descending;
    ties must be broken by a unique column — arrival order is never a
    correctness input).  ``state_partitions``: see
    :func:`tidier_spark.streaming.run_stream` (scoped shuffle-partition
    capacity knob for the per-batch window/merge).
    """
    from ..operators.merge import upsert

    ks = [keys] if isinstance(keys, str) else list(keys)
    spark = stream.sparkSession

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        w = Window.partitionBy(*ks).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        # order-aware cross-batch merge: the snapshot row wins when its
        # order_cols tuple is newer than the incoming batch's (late data
        # in a later micro-batch must NOT overwrite a newer row) — the
        # snapshot retains the order columns, so the same latest-wins
        # order applies across batches, matching the batch oracle.
        merged = (
            upsert(read_merged(spark, path), latest, ks, order_cols=order_cols)
            if _versions(path)
            else latest
        )
        _commit_version(path, merged, batch_id, keep_versions)

    _replay(
        stream.writeStream.foreachBatch(do_batch).option(
            "checkpointLocation", os.path.join(path, "_checkpoint")
        ),
        spark,
        name=name,
        timeout_seconds=timeout_seconds,
        state_partitions=state_partitions,
        result="snapshot",
    )
    try:
        return read_merged(spark, path)
    except FileNotFoundError:
        # zero committed batches (empty stream): the merged table of
        # nothing is EMPTY with the stream's own schema — not an error
        return spark.createDataFrame([], stream.schema)


def stream_dedup_against(
    stream: DataFrame,
    ref_df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.3,
    name: str = "stream_dedup_against",
    timeout_seconds: int = 300,
    state_partitions: int | None = None,
    shingles_ref: DataFrame | None = None,
    bands_ref: DataFrame | None = None,
) -> DataFrame:
    """Streaming incremental corpus dedup: replay a stream of NEW documents
    against a STATIC reference corpus, keeping only docs that are not
    near-dups (best banded-LSH + exact-Jaccard match < ``threshold``) —
    the streaming edition of :func:`tidier_spark.operators.dedup.
    dedup_against`, i.e. the "don't re-ingest what the last crawl already
    has" stage running as ingestion rather than as a batch job.

    Per micro-batch: the batch's distinct shingles + band signatures are
    computed, equi-joined against the reference's PRECOMPUTED signature
    store (the reference shingle frame is built once, persisted, and
    reused by every batch — at 100 TB this is a parquet-backed signature
    table), candidates are verified with exact Jaccard, and surviving
    rows append to ``path/survivors``.  Because the reference side is
    fixed, the result is independent of how the stream is batched —
    which is what makes the operator exactly batch-oracle-checkable
    (survivors == new docs minus ``dedup_against`` matches).

    State story: the streaming engine holds NO aggregation state (each
    batch is a self-contained join against the static store); the only
    growth is the survivor sink.  For dedup against an EVOLVING corpus
    (survivors feeding back into the store) the merge becomes
    arrival-order-dependent — that variant belongs on a transactional
    store (Delta/Iceberg MERGE) and is intentionally not modeled here.
    """
    from pyspark import StorageLevel

    from ..operators.dedup import (
        _distinct_shingles,
        banded_signatures,
        dedup_against,
    )

    spark = stream.sparkSession
    # the REFERENCE STORE: shingles (verification input) and banded
    # signatures (candidate-join input), both computed once and persisted
    # — every micro-batch joins against these instead of re-aggregating
    # the reference side (at 100 TB: parquet tables, not cache).  A
    # caller with an existing store (e.g. one shingle frame sliced
    # between the batch and streaming sides of a pipeline) passes
    # ``shingles_ref``/``bands_ref`` and owns their persistence.
    own_store = shingles_ref is None
    sh_ref = (
        shingles_ref
        if shingles_ref is not None
        else _distinct_shingles(ref_df, id_col, text_col, shingle_n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    if bands_ref is None:
        bands_ref = banded_signatures(
            ref_df, id_col, text_col, k, bands, shingle_n, "ref_id",
            _shingle_df=sh_ref,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        own_bands = True
    else:
        own_bands = False
    out_dir = os.path.join(path, "survivors")

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sh_b = _distinct_shingles(batch_df, id_col, text_col, shingle_n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            # best_match=False: the anti-join only needs membership, so
            # the per-doc argmax window inside dedup_against is skipped
            matches = dedup_against(
                batch_df,
                ref_df,
                id_col,
                text_col,
                k,
                bands,
                shingle_n,
                threshold,
                shingles_new=sh_b,
                shingles_ref=sh_ref,
                bands_ref=bands_ref,
                best_match=False,
            )
            survivors = batch_df.join(matches, id_col, "left_anti")
            # batch_id-keyed OVERWRITE, not a blind append: if a batch
            # replays after a crash (write succeeded, checkpoint commit
            # didn't) the rerun overwrites its own directory instead of
            # duplicating survivors — idempotent like stream_merge's
            # versioned commits
            survivors.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )
        finally:
            sh_b.unpersist()

    try:
        _replay(
            stream.writeStream.foreachBatch(do_batch).option(
                "checkpointLocation", os.path.join(path, "_checkpoint")
            ),
            spark,
            name=name,
            timeout_seconds=timeout_seconds,
            state_partitions=state_partitions,
            result="survivor set",
        )
    finally:
        if own_store:
            sh_ref.unpersist()
        if own_bands:
            bands_ref.unpersist()
    # a stream that delivered zero rows never created the survivor dir —
    # return an empty frame with the stream's schema, matching the batch
    # counterpart's empty result instead of raising PATH_NOT_FOUND
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], stream.schema)
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    )


def _version_batch_id(path: str, v: int) -> int | None:
    """The streaming batch_id a committed ``v=N`` snapshot was produced
    by (from its ``_BATCH_<id>`` marker), or None for a snapshot written
    before the marker existed / by a crash that lost the marker."""
    d = os.path.join(path, f"v={v}")
    if not os.path.isdir(d):
        return None
    for f in os.listdir(d):
        if f.startswith("_BATCH_") and f[len("_BATCH_"):].isdigit():
            return int(f[len("_BATCH_"):])
    return None


def _scd2_fold_batch(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    key_col: str,
    time_col: str,
    attr_col: str,
    tiebreak_col: str,
    *,
    keep_versions: int = 2,
) -> None:
    """Fold ONE micro-batch into the SCD2 snapshot table — idempotent
    under foreachBatch replay.  scd2_merge is an ACCUMULATING fold (not
    latest-wins like upsert), so re-folding a batch that the snapshot
    already absorbed double-counts ``n_obs`` and appends duplicate
    history rows.  Every committed version therefore records the
    batch_id that produced it in a ``_BATCH_<id>`` marker, and a replay
    (crash landed between the v=N write and the checkpoint commit)
    no-ops when the marker trail shows the batch is already folded.
    The marker is written AFTER the parquet ``_SUCCESS``; a crash in
    that sliver leaves a marker-less version, which the fold SKIPS as a
    merge base (folding the replay into the previous marked version
    instead) — the orphan is superseded by the higher-numbered rewrite
    and pruned.
    """
    from ..operators.merge import scd2_merge

    if not batch_df.take(1):
        return
    committed = _versions(path)
    # base = highest version whose producing batch is KNOWN — a
    # marker-less version is a half-commit (or pre-marker legacy) and
    # cannot prove which batches it contains, so it is not a safe base
    marked = [v for v in committed if _version_batch_id(path, v) is not None]
    if marked and _version_batch_id(path, marked[-1]) >= batch_id:
        return  # replayed batch: already folded into the latest snapshot
    base = marked[-1] if marked else None
    snap = (
        spark.read.parquet(os.path.join(path, f"v={base}"))
        if base is not None
        else None
    )
    merged = scd2_merge(
        snap, batch_df, key_col, time_col, attr_col, tiebreak_col
    )
    _commit_version(path, merged, batch_id, keep_versions)


def stream_scd2_parquet(
    stream: DataFrame,
    path: str,
    key_col: str,
    time_col: str,
    attr_col: str,
    tiebreak_col: str,
    *,
    name: str = "stream_scd2",
    timeout_seconds: int = 300,
    keep_versions: int = 2,
    state_partitions: int | None = None,
) -> DataFrame:
    """Streaming Type-2 SCD maintenance: each micro-batch of ordered
    attribute observations folds into the versioned history table via
    :func:`tidier_spark.operators.merge.scd2_merge` (open runs absorb or
    close; closed history is never rewritten logically).  Same committed-
    snapshot contract as :func:`stream_merge_parquet`; same in-order
    append-only CDC contract as scd2_merge — and the fold is property-
    tested equal to the full batch :func:`~tidier_spark.operators.merge.
    scd2` recompute over any time-ordered batch split.

    Replay idempotency is LOCAL-FILESYSTEM-ONLY: the ``_BATCH_<id>``
    markers that make a replayed micro-batch a no-op are managed with
    ``os.listdir``/``open`` on the sink path (consistent with the
    ``_versions()`` snapshot protocol).  On an object store or shared
    remote path the marker protocol cannot run — a production deployment
    there should swap the sink for a transactional table format whose
    commit log provides the same exactly-once batch dedup.
    """
    spark = stream.sparkSession

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        _scd2_fold_batch(
            spark, path, batch_df, batch_id,
            key_col, time_col, attr_col, tiebreak_col,
            keep_versions=keep_versions,
        )

    _replay(
        stream.writeStream.foreachBatch(do_batch).option(
            "checkpointLocation", os.path.join(path, "_checkpoint")
        ),
        spark,
        name=name,
        timeout_seconds=timeout_seconds,
        state_partitions=state_partitions,
        result="snapshot",
    )
    try:
        return read_merged(spark, path)
    except FileNotFoundError:
        # zero committed batches (empty stream): an empty HISTORY with
        # the exact scd2 schema (derived lazily from the stream schema)
        from ..operators.merge import scd2

        return scd2(
            spark.createDataFrame([], stream.schema),
            key_col, time_col, attr_col, tiebreak_col,
        )

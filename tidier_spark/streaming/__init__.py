"""Structured Streaming extensions.

The reference has no streaming at all (SURVEY.md §2.3 "Streaming" row); its
sliding windows are batch frames.  This module provides the streaming
counterparts a pipeline needs, on native Structured Streaming primitives:

* :func:`stream_windowed_agg` — tumbling/sliding event-time window
  aggregation with watermark-bounded state (the streaming analog of
  tidier's O5 range frames: a per-window aggregate instead of a per-row
  trailing frame, which is the shape streaming state can bound).
* four per-key stateful folds — :func:`stream_trailing_agg` (the exact
  per-row trailing frame, state bounded by the frame width),
  :func:`stream_funnel_advances`, :func:`stream_ewma` and
  :func:`stream_running_distinct`.  Each is a schema, an initial state
  and a row fold over one scaffold (``sliding._keyed_fold``): group by
  key with ``applyInPandasWithState``, sort each key's micro-batch by
  (time, tiebreak), apply the cross-batch frontier guard (late or
  re-delivered rows raise by default, or drop deterministically), fold,
  and store the frontier in the GroupState beside the operator's fields.
* session windows, watermarked dedup, the stream-stream interval join,
  and ``foreachBatch`` sinks: keyed upsert and SCD2 (one versioned
  parquet snapshot commit) and incremental corpus dedup.

Scale notes: windowed state size = keys × (frame span / slide) buckets;
watermarks drop late data deterministically; every operator shuffles
once on its grouping keys (same as any streaming agg).
"""

from .sink import (  # noqa: F401
    read_merged,
    stream_dedup_against,
    stream_merge_parquet,
    stream_scd2_parquet,
)
from .sliding import (  # noqa: F401
    run_stream,
    stream_dedup,
    stream_interval_join,
    stream_ewma,
    stream_funnel_advances,
    stream_running_distinct,
    stream_session_agg,
    stream_trailing_agg,
    stream_windowed_agg,
)

__all__ = [
    "stream_windowed_agg",
    "stream_trailing_agg",
    "stream_session_agg",
    "stream_funnel_advances",
    "stream_ewma",
    "stream_dedup",
    "stream_running_distinct",
    "stream_interval_join",
    "stream_merge_parquet",
    "stream_scd2_parquet",
    "stream_dedup_against",
    "read_merged",
    "run_stream",
]

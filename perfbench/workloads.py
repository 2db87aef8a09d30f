"""The benchmark's workloads: board entries from ``__spark_entry__.queries()``.

Each workload is a fixed list of entries plus the tables each one reads
(``input_rows`` is the sum of those tables' row counts, per pass).  The
run's seed only permutes entry order within every pass, so every seed
runs the same work on the same tables.

Entries were trimmed from the full blocks so that a session start, the
warm passes and a few timed passes fit one run of about a minute on a
4-core box; each workload still keeps the mechanisms it was chosen for.
The Structured Streaming and sink block has no workload of its own: a
run per workload costs a JVM start and warm-up.  Two of its entries ride
in ``window_frames`` instead, over the same ``events`` table: a session
window replayed through a streaming state store, and a partitioned
parquet sink round trip.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    entries: dict[str, str]  # entry name -> table it reads


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "window_frames",
            # mutate window lowerings, a session window through a streaming
            # state store, and a partitioned parquet sink round trip
            "windows, state store, sink",
            {
                "o2_cumsum": "lineitem",  # scale-safe two-pass prefix sum
                "o2_desc_rank": "orders",
                "o4_rows_frame": "events",
                "o5_range_flagship": "events",
                "o7_calendar_frame": "events",
                "wide_frame_mean": "events",  # subtractive O(n) frame
                "wide_frame_min": "events",  # RMQ frame
                "frame_apply_median": "events",  # per-frame pandas tier
                "stream_sessions": "events",  # session_window state store
                "sink_roundtrip": "events",  # partitioned parquet sink
            },
        ),
        Workload(
            "llm_ops",
            # persist, label propagation, localCheckpoint, index training,
            # BPE merge rounds
            "LLM-data operators that run Spark jobs inside fn()",
            {
                "dup_clusters": "documents",
                "kmeans_clusters": "embeddings",
                "bpe_train": "documents",
            },
        ),
    )
}


def pass_orders(entries: list[str], seed: int):
    """Yield one seeded permutation of ``entries`` per pass, forever."""
    rng = random.Random(seed)
    while True:
        order = list(entries)
        rng.shuffle(order)
        yield order


def input_rows(workload: Workload, rows: dict[str, int]) -> int:
    """Rows one pass reads from the input tables."""
    return sum(rows[t] for t in workload.entries.values())


def describe(workload: Workload, rows: dict[str, int]) -> str:
    """The one-line ``why`` recorded for the workload in BENCHMARK.json
    (at most 200 characters)."""
    return (
        f"{workload.why}: {' '.join(workload.entries)}; "
        f"{input_rows(workload, rows)} rows/pass"
    )

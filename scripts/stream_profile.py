"""Per-batch engine-time breakdown for the streaming entries (VERDICT r12
task #8): run a streaming entry under the benched session, capture every
micro-batch's StreamingQueryProgress (durationMs: addBatch / getBatch /
queryPlanning / walCommit / commitOffsets / triggerExecution, plus state
operator metrics), and dump the whole series as JSON — the deterministic
artifact that shows where a stream entry's floor actually goes.

Optionally A/Bs the RocksDB state store provider against the default
HDFS-backed in-memory provider (``--rocksdb`` runs both and reports both).

    python scripts/stream_profile.py <out.json> [entry ...] [--rocksdb]

Entries default to stream_attribution (the most expensive stream entry).
The capture works by wrapping ``tidier_spark.streaming.run_stream`` so the
entry code is executed UNCHANGED — same plan, same replay, same sink.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--rocksdb"]
    do_rocksdb = "--rocksdb" in sys.argv[1:]
    out_path = args[0] if args else "docs/stream_profile_r13.json"
    entries = args[1:] or ["stream_attribution"]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from tidier_spark.session import session

    spark = session(
        cpus=int(cpus),
        app_name="stream-profile",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    import tidier_spark.streaming as st
    import tidier_spark.streaming.sliding as sliding

    captured: list[dict] = []
    orig_run_stream = sliding.run_stream

    def run_stream_profiled(stream, *, name, output_mode="complete",
                            timeout_seconds=300, state_partitions=None):
        env_t = os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT")
        if env_t:
            timeout_seconds = max(timeout_seconds, int(env_t))
        sess = stream.sparkSession
        saved = None
        if state_partitions is not None:
            saved = sess.conf.get("spark.sql.shuffle.partitions")
            sess.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            try:
                finished = q.awaitTermination(timeout_seconds)
                if not finished:
                    raise TimeoutError(f"stream {name!r} timed out")
                captured.extend(
                    json.loads(p.json) if hasattr(p, "json") else p
                    for p in q.recentProgress
                )
            finally:
                q.stop()
        finally:
            if saved is not None:
                sess.conf.set("spark.sql.shuffle.partitions", saved)
        return sess.table(name)

    sliding.run_stream = run_stream_profiled
    st.run_stream = run_stream_profiled

    providers = [("hdfs-default", None)]
    if do_rocksdb:
        providers.append((
            "rocksdb",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ))

    qs = entrymod.queries()
    report: dict[str, dict] = {}
    for entry in entries:
        report[entry] = {}
        for label, provider in providers:
            if provider is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", provider
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            runs = []
            for rep in range(3):
                captured.clear()
                spark.sparkContext.setJobDescription(
                    f"stream_profile {entry} {label} rep{rep}"
                )
                t0 = time.perf_counter()
                qs[entry](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                wall = time.perf_counter() - t0
                batches = [
                    {
                        "batchId": p.get("batchId"),
                        "numInputRows": p.get("numInputRows"),
                        "durationMs": p.get("durationMs"),
                        "stateOperators": [
                            {
                                k: so.get(k)
                                for k in (
                                    "operatorName",
                                    "numRowsTotal",
                                    "numRowsUpdated",
                                    "commitTimeMs",
                                )
                            }
                            for so in p.get("stateOperators", [])
                        ],
                    }
                    for p in captured
                ]
                runs.append(
                    {
                        "wall_sec": round(wall, 3),
                        "n_batches": len(batches),
                        "engine_ms_total": {
                            k: sum(
                                (b["durationMs"] or {}).get(k, 0)
                                for b in batches
                            )
                            for k in (
                                "triggerExecution",
                                "addBatch",
                                "getBatch",
                                "queryPlanning",
                                "walCommit",
                                "commitOffsets",
                                "latestOffset",
                            )
                        },
                        "batches": batches,
                    }
                )
                spark.catalog.clearCache()
            report[entry][label] = runs
            best = min(r["wall_sec"] for r in runs)
            print(f"{entry} [{label}]: min wall {best:.3f}s, "
                  f"batches {runs[-1]['n_batches']}, "
                  f"addBatch {runs[-1]['engine_ms_total']['addBatch']}ms")

    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {out_path}")
    sliding.run_stream = orig_run_stream
    st.run_stream = orig_run_stream
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

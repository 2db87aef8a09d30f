"""One benchmark process, started by ``run.py`` in its own session.

It builds the Spark session, records how long that took since the
parent spawned this process, then runs the workload:

1. warm passes: one untimed pass that doubles as the oracle gate (every
   entry's output is collected and its canonical hash compared with the
   DuckDB oracle's; hashing time is excluded from ``warm_s``), then
   ``WARM_PASSES`` untimed passes of the timed kind;
2. timed passes, each entry once per pass in a seeded order, started
   until ``--seconds`` have passed; the last one runs to its end.  One
   entry execution is ``fn(spark, sf_dir)``, a ``noop`` write, then
   ``clearCache()``.

With ``--trace 1`` the wrappers from ``tracing.py`` are installed before
``__spark_entry__`` is imported and passes alternate untraced / traced,
so the per-layer numbers and the tracing overhead come from one run.
The result is written as JSON to ``--out``; the spans to ``--spans``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import warnings
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]

import data  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

DRIVER_MEMORY = "2g"
YOUNG_GEN = "256m"
WARM_PASSES = 1  # untimed noop passes after the oracle pass


def spark_conf(rundir: Path) -> dict[str, str]:
    """Harness settings on top of the library's ``recommended_conf()``:
    no UI, a driver that fits a 15 GB box, and Spark's scratch files
    (local dirs, warehouse) inside ``rundir``.  The heap starts at its
    full size and the young generation is fixed: a heap grown on demand
    kept growing through the timed passes, which then sped up pass by
    pass, and a full heap alone lets G1 grow the young generation over
    most of it, so the whole heap is touched."""
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
        "spark.local.dir": str(rundir / "local"),
        "spark.sql.warehouse.dir": str(rundir / "warehouse"),
    }


class _CacheProbe:
    """Cached RDDs at entry end, and those ``clearCache`` leaves alive."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.store = self.jsc.sc().statusStore()
        self.rdds = self.bytes = self.leaked = 0

    def before_clear(self) -> None:
        self.rdds += self.jsc.getPersistentRDDs().size()
        cached = self.store.rddList(True)
        for i in range(cached.size()):
            r = cached.apply(i)
            self.bytes += r.memoryUsed() + r.diskUsed()

    def after_clear(self, alive_before_entry: int) -> None:
        self.leaked += max(0, self.jsc.getPersistentRDDs().size() - alive_before_entry)


def _stream_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({
                "query": str(p.id),
                "rows_in": p.numInputRows,
                "batch_ms": p.batchDuration,
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def _stream_metrics(events: list[dict], n: int) -> dict[str, float]:
    state: dict[str, int] = {}
    for e in events:  # state size is a gauge: take each query's largest
        state[e["query"]] = max(state.get(e["query"], 0), e["state_rows"])
    return {
        "streaming.batches": len(events) / n,
        "streaming.batch_s": sum(e["batch_ms"] for e in events) / 1000.0 / n,
        "streaming.rows_in": sum(e["rows_in"] for e in events) / n,
        "streaming.state_rows": sum(state.values()) / n,
        "streaming.state_commit_ms": sum(e["commit_ms"] for e in events) / n,
    }


def _check_output(pdf, ref: dict, oracle_df) -> str | None:
    """None if ``pdf`` matches the oracle's hash, else what differs."""
    from check_entry import _first_diff, canon_hash

    h, schema = canon_hash(pdf)
    cols = [s.split(":")[0] for s in schema]
    problems = []
    if len(pdf) != ref["rows"]:
        problems.append(f"rows {len(pdf)}!={ref['rows']}")
    if cols != ref["cols"]:
        problems.append(f"cols {cols}!={ref['cols']}")
    if h != ref["hash"]:
        problems.append(f"hash {h}!={ref['hash']}")
        diff = _first_diff(pdf, oracle_df()) if cols == ref["cols"] else ""
        if diff:
            problems.append(diff)
    return "; ".join(problems) or None


def _oracle_df(tables: Path, name: str):
    import __spark_entry__ as board

    con = data.duckdb_views(tables)
    try:
        return con.execute(board.oracle_sql()[name]).df()
    finally:
        con.close()


def _oracle_pass(spark, fns, order, tables: Path, refs) -> tuple[dict, dict]:
    """Run each entry once, collecting its output and checking it against
    the oracle.  Returns (entry -> seconds excluding hashing, failures)."""
    times, failures = {}, {}
    for name in order:
        t0 = time.perf_counter()
        pdf = None
        try:
            pdf = fns[name](spark, str(tables)).toPandas()
        except Exception as exc:
            failures[name] = f"warm pass raised {type(exc).__name__}: {exc}"[:500]
        finally:
            spark.catalog.clearCache()
        times[name] = time.perf_counter() - t0
        if pdf is not None:
            bad = _check_output(pdf, refs[name], lambda: _oracle_df(tables, name))
            if bad:
                failures[name] = bad
    return times, failures


def measure(spark, args, tracer: tracing.Tracer | None) -> dict:
    import __spark_entry__ as board

    board_fns = board.queries()
    fns = {name: board_fns[name] for name in WORKLOADS[args.workload].entries}
    refs = json.loads(args.oracle.read_text())
    orders = pass_orders(list(fns), args.seed)
    sc = spark.sparkContext
    sf_dir = str(args.data)
    me = os.getpid()
    warm_entry_s, failures = _oracle_pass(spark, fns, next(orders), args.data, refs)
    attempted, failed = len(fns), len(failures)

    probe = _CacheProbe(spark) if tracer else None
    listener = _stream_listener(spark) if tracer else None
    jobs: list[tracing.Job] = []
    stream_events: list[dict] = []

    def run_pass(traced: bool) -> dict:
        nonlocal attempted, failed
        if tracer:
            tracing.wait_for_listeners(sc)
            last_job = tracing.last_job_id(sc)
            listener.events.clear()
            tracer.active = traced
        entry_s: dict[str, float] = {}
        cpu0, t_pass = procs.tree_cpu_seconds(me), time.perf_counter()
        for name in next(orders):
            t0 = time.perf_counter()
            attempted += 1
            try:
                if traced:
                    _traced_execution(spark, tracer, probe, name, fns[name], sf_dir)
                else:
                    try:
                        fns[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                    finally:
                        spark.catalog.clearCache()
            except Exception as exc:
                failed += 1
                failures.setdefault(name, f"raised {type(exc).__name__}: {exc}"[:500])
            entry_s[name] = time.perf_counter() - t0
        if traced:
            tracer.active = False
            tracing.wait_for_listeners(sc)
            jobs.extend(tracing.jobs_after(sc, last_job))
            stream_events.extend(listener.events)
        return {
            "s": time.perf_counter() - t_pass,
            "cpu_s": procs.tree_cpu_seconds(me) - cpu0,
            "entry_s": entry_s,
            "traced": traced,
        }

    # the JIT is still compiling through the first noop executions of
    # every entry, so untimed noop passes follow the oracle pass
    warm = [run_pass(False) for _ in range(WARM_PASSES)]
    passes: list[dict] = []
    steal0 = procs.host_steal_seconds()
    deadline = time.perf_counter() + args.seconds
    # the last pass starts before the deadline and runs to its end: a slow
    # run stopped before a pass that would overrun kept two or three passes
    # of a workload, too few for a median
    while len(passes) < (2 if tracer else 1) or time.perf_counter() < deadline:
        passes.append(run_pass(traced=tracer is not None and len(passes) % 2 == 1))

    jvm = procs.child_named(me, "java")
    result = {
        "warm_s": sum(warm_entry_s.values()) + sum(p["s"] for p in warm),
        "warm_entry_s": warm_entry_s,
        "failures": failures,
        "attempted": attempted,
        "failed": failed,
        "passes": passes,
        "steal_s": procs.host_steal_seconds() - steal0,
        "peak_rss_mb": procs.peak_rss_mb(me) + (procs.peak_rss_mb(jvm) if jvm else 0.0),
    }
    if tracer:
        n = sum(p["traced"] for p in passes)
        spans = tracing.attach_jobs(tracer.spans, jobs)
        layers = tracing.layer_metrics(spans, jobs, n, args.cpus)
        layers.update(_stream_metrics(stream_events, n))
        layers.update(
            {"cache.rdds": probe.rdds / n, "cache.bytes": probe.bytes / n,
             "cache.leaked_rdds": probe.leaked / n}
        )
        result["layers"] = layers
        result["self_s"] = {k: v / n for k, v in tracing.layer_self_times(spans).items()}
        args.spans.write_text(json.dumps([sp.__dict__ for sp in spans], separators=(",", ":")))
    return result


def _traced_execution(spark, tracer, probe, name, fn, sf_dir) -> None:
    tracer.entry = name
    alive = spark.sparkContext._jsc.getPersistentRDDs().size()
    with tracer.span(name, "entry"):
        try:
            with tracer.span("build", "build"):
                df = fn(spark, sf_dir)
            with tracer.span("write", "exec"):
                df.write.mode("overwrite").format("noop").save()
            probe.before_clear()
        finally:
            spark.catalog.clearCache()
    probe.after_clear(alive)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--data", type=Path, required=True)
    ap.add_argument("--oracle", type=Path, required=True)
    ap.add_argument("--rundir", type=Path, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--spans", type=Path)
    args = ap.parse_args()

    # pandas' FutureWarning flood from Arrow batches (stream_ewma et al.);
    # executors inherit PYTHONWARNINGS from the parent's environment
    warnings.filterwarnings("ignore", category=FutureWarning)
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracing.install(tracer)  # before __spark_entry__ binds the names
    import __spark_entry__  # noqa: F401  (its import is part of set-up)
    from tidier_spark.session import session

    spark = None
    try:
        spark = session(
            cpus=args.cpus, app_name="perfbench", extra_conf=spark_conf(args.rundir)
        )
        spark.sparkContext.setLogLevel("ERROR")
        result = {"start_s": time.time() - args.spawned_at}
        result.update(measure(spark, args, tracer))
    finally:
        if spark is not None:
            spark.stop()
    args.out.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

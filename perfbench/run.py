"""Layered benchmark of tidier_spark on board entries from ``__spark_entry__``.

Usage (from the repository root):

    python3 perfbench/run.py --workload window_frames --seed 1 --seconds 24 --trace 0

Prints a human-readable report, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones (``setup_s``, ``pass_s_p50``,
``entry_s_p90``, ``cpu_s``, ``peak_rss_mb``); with ``--trace 1`` the
per-layer ones, plus a self-time table by layer and the tracing overhead.

Every Spark process runs in a worker child (``worker.py``) in a session
of its own; this process is a child subreaper, so it can kill and wait
for the whole tree on success, failure, timeout, SIGINT or SIGTERM, and
it exits non-zero if any descendant survives.  Scratch files (Spark
local dirs, ``tempfile`` dirs, checkpoints) live in a per-run directory
under ``.perfbench/`` that is removed at exit; oracle hashes are cached
there across runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]

import data  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, input_rows  # noqa: E402

CACHE = ROOT / ".perfbench"
DEADLINE_S = 170.0  # the whole command, well inside a 180 s limit
SELF_LAYERS = ["entry", "build", "exec", "job", *tracing.LAYERS]
END_TO_END_UNITS = {
    "setup_s": "s", "pass_s_p50": "s", "entry_s_p90": "s", "cpu_s": "s",
    "peak_rss_mb": "MB",
}


class RunError(Exception):
    pass


def _interrupt(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def unit_of(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith((".s", "_s")):
        return "s"
    if metric.endswith("bytes"):
        return "B"
    if metric.endswith(("rows", "rows_in")):
        return "rows"
    if metric.endswith("frac"):
        return "ratio"
    return "count"


def _oracle_key(tables: Path) -> str:
    """Digest of everything an oracle hash depends on: the board, the
    library (some oracles' SQL is generated by library code), the hash
    function, the input tables and the DuckDB version."""
    import duckdb

    h = hashlib.sha256(data.digest(tables) + duckdb.__version__.encode())
    sources = [ROOT / "__spark_entry__.py", ROOT / "scripts" / "check_entry.py",
               *sorted((ROOT / "tidier_spark").rglob("*.py"))]
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode() + p.read_bytes())
    return h.hexdigest()[:16]


def oracle_refs(names: list[str], tables: Path) -> dict[str, dict]:
    """Canonical hash, row count and columns of each entry's DuckDB oracle
    output, cached under ``_oracle_key``."""
    key = _oracle_key(tables)
    cache = CACHE / "oracle" / key
    cache.mkdir(parents=True, exist_ok=True)
    missing = [n for n in names if not (cache / f"{n}.json").exists()]
    if missing:
        from check_entry import canon_hash  # imports __spark_entry__

        import __spark_entry__ as board

        sqls = board.oracle_sql()
        con = data.duckdb_views(tables)
        try:
            for name in missing:
                df = con.execute(sqls[name]).df()
                h, schema = canon_hash(df)
                ref = {"hash": h, "rows": len(df), "cols": [s.split(":")[0] for s in schema]}
                tmp = cache / f".{name}.{os.getpid()}"
                tmp.write_text(json.dumps(ref))
                os.replace(tmp, cache / f"{name}.json")
        finally:
            con.close()
    return {n: json.loads((cache / f"{n}.json").read_text()) for n in names}


def run_worker(args, rundir: Path, extra: list[str], deadline: float) -> dict:
    """Run ``worker.py`` in its own session; reap its whole tree after."""
    out = rundir / "result.json"
    log = rundir / "worker.log"
    argv = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(args.cpus), "--data", str(args.data),
        "--rundir", str(rundir), "--out", str(out), *extra,
        "--spawned-at", repr(time.time()),
    ]
    env = dict(
        os.environ,
        TMPDIR=str(rundir / "tmp"),
        SPARK_LOCAL_DIRS=str(rundir / "local"),
        # every JVM (the spark-submit launcher too): temp files in the run
        # dir, and no hsperfdata file in /tmp, which a killed JVM leaves
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={rundir / 'tmp'}",
        PYTHONWARNINGS="ignore::FutureWarning",
    )
    proc = procs.spawn(argv, env=env, log_path=str(log))
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RunError(f"worker passed the {DEADLINE_S:.0f} s deadline") from None
    finally:
        procs.reap_tree(proc)
    if rc != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-15:]
        raise RunError(f"worker exited {rc}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def _remove_stale_rundirs() -> None:
    """Drop run dirs whose owner is gone (a run killed with SIGKILL)."""
    for d in CACHE.glob("run-*"):
        pid = d.name.removeprefix("run-")
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def measure(args) -> tuple[list[str], dict]:
    """Run one benchmark; return report lines and the result object."""
    workload = WORKLOADS[args.workload]
    rundir = CACHE / f"run-{os.getpid()}"
    for sub in ("tmp", "local"):
        (rundir / sub).mkdir(parents=True, exist_ok=True)
    deadline = time.monotonic() + DEADLINE_S - 5.0
    try:
        args.data = data.data_dir(args.sf)
        refs = oracle_refs(list(workload.entries), args.data)
        (rundir / "oracle.json").write_text(json.dumps(refs))
        extra = ["--oracle", str(rundir / "oracle.json")]
        spans_path = CACHE / "traces" / f"{args.workload}-seed{args.seed}.json"
        if args.trace:
            spans_path.parent.mkdir(parents=True, exist_ok=True)
            extra += ["--spans", str(spans_path)]
        res = run_worker(args, rundir, extra, deadline)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    return report(args, workload, refs, res, spans_path)


def report(args, workload, refs, res, spans_path) -> tuple[list[str], dict]:
    rows = data.table_rows(args.data)
    passes = [p for p in res["passes"] if not p["traced"]]
    entry_s = [t for p in passes for t in p["entry_s"].values()]
    start_s, warm_s = res["start_s"], res["warm_s"]
    failures = res["failures"]
    lines = [
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"sf={args.sf:g} task_slots={args.cpus}/{args.nproc} entries={len(workload.entries)} "
        f"input_rows/pass={input_rows(workload, rows)}",
        f"oracle: {len(refs) - len(failures)}/{len(refs)} entries match DuckDB",
        *(f"  FAILED {name}: {why}" for name, why in failures.items()),
        "oracle pass: "
        + " ".join(f"{k}={v:.3f}" for k, v in res["warm_entry_s"].items()) + " s",
        "timed passes: " + " ".join(
            f"{p['s']:.3f}{'*' if p['traced'] else ''}" for p in res["passes"]
        ) + " s" + (" (* traced)" if args.trace else ""),
        f"host: {res['steal_s']:.2f} CPU-s stolen by the hypervisor during the "
        f"timed passes ({100 * res['steal_s'] / (args.nproc * sum(p['s'] for p in res['passes'])):.1f}%"
        f" of {args.nproc} CPUs)",
        "entry medians: " + " ".join(
            f"{k}={statistics.median(p['entry_s'][k] for p in passes):.3f}"
            for k in workload.entries
        ) + " s",
    ]
    e2e = {
        "setup_s": start_s + warm_s,
        "pass_s_p50": statistics.median(p["s"] for p in passes),
        # per pass, so every run takes its p90 over the same mix of entries
        "entry_s_p90": statistics.median(
            tracing.percentile(list(p["entry_s"].values()), 90) for p in passes
        ),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    notes = {
        "setup_s": f"session start {start_s:.3f} s + warm passes {warm_s:.3f} s",
        "pass_s_p50": f"median of {len(passes)} timed passes, {input_rows(workload, rows)} input rows each",
        "entry_s_p90": f"median over passes of each pass's p90; entry_n={len(entry_s)}",
        "cpu_s": "per pass: driver + JVM + Python workers",
        "peak_rss_mb": "driver VmHWM + JVM VmHWM",
    }
    failed_frac = res["failed"] / res["attempted"]
    if args.trace:
        traced = [p["s"] for p in res["passes"] if p["traced"]]
        overhead = statistics.median(traced) - e2e["pass_s_p50"]
        metrics = {"session.start_s": start_s, "session.warm_s": warm_s, **res["layers"]}
        metrics.update({f"{k}.self_s": res["self_s"].get(k, 0.0) for k in SELF_LAYERS})
        metrics["trace.overhead_s"] = overhead
        total = sum(res["self_s"].values())
        lines.append("self time per traced pass, by layer:")
        for layer, t in sorted(res["self_s"].items(), key=lambda kv: -kv[1]):
            lines.append(f"  {layer:<22} {t:9.4f} s  {100 * t / total:5.1f}%")
        top = max(res["self_s"], key=res["self_s"].get)
        lines.append(f"dominant layer: {top}")
        lines.append(
            f"tracing overhead: {overhead:+.4f} s per pass (traced p50 "
            f"{statistics.median(traced):.4f} s vs untraced {e2e['pass_s_p50']:.4f} s)"
        )
        lines.append(f"spans: {spans_path.relative_to(ROOT)}")
    else:
        metrics = e2e
        lines.extend(f"{k:<12} {v:12.4f} {END_TO_END_UNITS[k]:<3} ({notes[k]})" for k, v in e2e.items())
    lines.append(
        f"failed_frac  {failed_frac:12.4f} ratio ({res['failed']} of {res['attempted']} entry executions)"
    )
    if args.trace:
        lines.extend(f"  {k:<36} {v:16.4f} {unit_of(k)}" for k, v in metrics.items())
    units = END_TO_END_UNITS if not args.trace else {k: unit_of(k) for k in metrics}
    result = {
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return lines, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, choices=(0.01, 0.001), default=0.01,
                    help="input scale factor (the tables under perfbench/data)")
    args = ap.parse_args(argv)
    args.nproc = len(os.sched_getaffinity(0))
    # half the CPUs run Spark tasks; the other half is left to the JVM's
    # JIT and GC threads, the Python driver and the Python workers, which
    # on a fully booked local[nproc] made the runs disagree (README, Sizing)
    args.cpus = max(1, args.nproc // 2)

    missing = [p for p in ("__spark_entry__.py", "tidier_spark", "scripts/check_entry.py")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a tidier_spark checkout, missing {missing}", file=sys.stderr)
        return 2

    procs.become_subreaper()
    signal.signal(signal.SIGTERM, _interrupt)
    signal.signal(signal.SIGINT, _interrupt)
    CACHE.mkdir(exist_ok=True)
    _remove_stale_rundirs()
    code, out = 0, None
    try:
        out = measure(args)
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        code = 1
    except KeyboardInterrupt as exc:
        print(f"perfbench: interrupted ({exc})", file=sys.stderr)
        code = 130
    finally:
        procs.reap_tree(None)
        alive = procs.survivors()
        if alive:
            print(f"perfbench: processes survived the run: {alive}", file=sys.stderr)
            code = code or 3
    if code == 0:
        lines, result = out
        print("\n".join(lines))
        print(json.dumps(result))
    return code


if __name__ == "__main__":
    raise SystemExit(main())

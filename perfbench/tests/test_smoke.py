"""End-to-end smoke runs of the benchmark command at sf0.001.

Each run starts real Spark sessions (about half a minute per run on a
4-core box).  Besides the result line, they check the process and
scratch-dir hygiene the command promises: nothing it started is alive
afterwards, and its per-run directory is gone, after a success and
after it is killed.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT / "perfbench"))
import procs  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _cmd(workload: str, trace: int) -> list[str]:
    return [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]


def _rundirs() -> list[Path]:
    return list((ROOT / ".perfbench").glob("run-*"))


def _pids_alive(pids: list[int]) -> list[int]:
    return [p for p in pids if Path(f"/proc/{p}").exists()
            and (procs._stat(p) or ["Z"])[0] != "Z"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_and_checks_its_output(workload):
    out = subprocess.run(_cmd(workload, 0), cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, out.stdout
    assert result["failed"] == 0 and result["attempted"] >= 2 * len(WORKLOADS[workload].entries)
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "failed_frac" in out.stdout
    assert not _rundirs()


def test_traced_run_prints_every_per_layer_metric():
    out = subprocess.run(_cmd("window_frames", 1), cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in BENCH["per_layer"]}
    assert metrics["mutate.calls"]["value"] >= 1
    assert metrics["exec.jobs"]["value"] >= 1
    assert metrics["pandas_tier.calls"]["value"] >= 1  # frame_apply_median
    assert metrics["operators.dedup.calls"]["value"] == 0
    # stream_sessions: one micro-batch through a session-window state store
    assert metrics["streaming.calls"]["value"] >= 1
    assert metrics["streaming.batches"]["value"] >= 1
    assert metrics["streaming.state_rows"]["value"] >= 1
    assert "dominant layer:" in out.stdout and "tracing overhead:" in out.stdout


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGKILL])
def test_killed_run_leaves_nothing_behind(sig):
    p = subprocess.Popen(_cmd("window_frames", 0), cwd=ROOT, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
    try:
        deadline = time.monotonic() + 120
        java = None
        while java is None and time.monotonic() < deadline:
            java = procs.child_named(p.pid, "java")
            time.sleep(0.2)
        assert java is not None, "no JVM started"
        tree = procs.descendants(p.pid)
        time.sleep(3)  # let the JVM get well into start-up
        os.kill(p.pid, sig)
        p.wait(timeout=60)
        assert p.returncode != 0
        deadline = time.monotonic() + 30
        while _pids_alive(tree) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not _pids_alive(tree)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if sig == signal.SIGTERM:
        assert not _rundirs()
    else:  # no cleanup code runs on SIGKILL; the next run removes it
        run._remove_stale_rundirs()
        assert not _rundirs()


def test_oracle_mismatch_is_reported_and_leaves_nothing_behind():
    first = subprocess.run(_cmd("llm_ops", 0), cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert first.returncode == 0, first.stderr[-3000:]
    refs = [p for p in (ROOT / ".perfbench" / "oracle").glob("*/kmeans_clusters.json")]
    saved = {p: p.read_text() for p in refs}
    try:
        for p in refs:  # the cached oracle hash now disagrees with Spark
            p.write_text(json.dumps(dict(json.loads(saved[p]), hash="0" * 16)))
        out = subprocess.run(_cmd("llm_ops", 0), cwd=ROOT, capture_output=True, text=True, timeout=180)
    finally:
        for p, text in saved.items():
            p.write_text(text)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] == 1
    assert "FAILED kmeans_clusters: hash" in out.stdout
    assert not _rundirs() and not procs.survivors()

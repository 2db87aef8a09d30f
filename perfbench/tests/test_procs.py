"""The process-tree helpers leave nothing running.

The tree mimics a Spark worker: a child in its own session starts a
grandchild that moves to its own process group (as ``pyspark.daemon``
does), and that one forks a sleeper, so killing one process group is
not enough.  Each test runs in a subprocess, because marking the test
process a subreaper would change how pytest's own children are reaped.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]

TREE = textwrap.dedent(
    """
    import os, subprocess, sys, time
    subprocess.Popen([sys.executable, "-c",
        "import os, subprocess, time; os.setpgid(0, 0); "
        "subprocess.Popen(['sleep', '300']); time.sleep(300)"])
    time.sleep(300)
    """
)


def _run(body: str) -> subprocess.CompletedProcess:
    script = f"import sys; sys.path.insert(0, {str(HERE)!r})\n" + textwrap.dedent(body)
    return subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60
    )


def test_reap_tree_leaves_no_survivors(tmp_path):
    out = _run(
        f"""
        import sys, time
        import procs
        procs.become_subreaper()
        p = procs.spawn([sys.executable, "-c", {TREE!r}], env={{}},
                        log_path={str(tmp_path / "log")!r})
        deadline = time.monotonic() + 20
        while len(procs.descendants(p.pid)) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert len(procs.descendants(p.pid)) >= 2, procs.survivors()
        procs.reap_tree(p, grace_s=2.0)
        print("left:", procs.survivors())
        """
    )
    assert out.returncode == 0, out.stderr
    assert "left: []" in out.stdout


def test_survivors_reports_a_live_descendant(tmp_path):
    out = _run(
        f"""
        import subprocess
        import procs
        procs.become_subreaper()
        p = subprocess.Popen(["sleep", "300"])
        print("seen:", procs.survivors())
        procs.reap_tree(p, grace_s=2.0)
        print("left:", procs.survivors())
        """
    )
    assert out.returncode == 0, out.stderr
    assert "sleep" in out.stdout.split("seen:")[1].split("\n")[0]
    assert "left: []" in out.stdout


def test_tree_cpu_counts_descendants():
    out = _run(
        """
        import os, subprocess, sys
        import procs
        before = procs.tree_cpu_seconds(os.getpid())
        subprocess.run([sys.executable, "-c", "sum(i * i for i in range(6_000_000))"])
        print("delta:", procs.tree_cpu_seconds(os.getpid()) - before)
        """
    )
    assert out.returncode == 0, out.stderr
    assert float(out.stdout.split("delta:")[1]) > 0.1

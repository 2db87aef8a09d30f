"""Span arithmetic, job attribution and metric naming on synthetic data."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

import run
import tracing
import worker
from tracing import Job, Span

ROOT = Path(__file__).resolve().parents[2]


def spans_fixture() -> list[Span]:
    # entry [0, 10]: build [0, 6] holding mutate [1, 3] (which holds
    # read_table [1, 2]) and dedup [4, 6]; exec [6, 9]
    return [
        Span(0, None, "e", "entry", "e", 0.0, 10.0),
        Span(1, 0, "build", "build", "e", 0.0, 6.0),
        Span(2, 1, "mutate", "mutate", "e", 1.0, 3.0),
        Span(3, 2, "read_table", "sources", "e", 1.0, 2.0),
        Span(4, 1, "near_dup_pairs", "operators.dedup", "e", 4.0, 6.0),
        Span(5, 0, "write", "exec", "e", 6.0, 9.0),
    ]


def test_percentile_interpolates_and_matches_endpoints():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert tracing.percentile(xs, 0) == 1.0
    assert tracing.percentile(xs, 50) == 3.0
    assert tracing.percentile(xs, 100) == 5.0
    assert tracing.percentile(xs, 90) == pytest.approx(4.6)
    assert tracing.percentile([7.0], 90) == 7.0


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_once():
    spans = spans_fixture()
    self_t = tracing.self_times(spans)
    assert self_t[0] == pytest.approx(1.0)  # 10 - build 6 - exec 3
    assert self_t[1] == pytest.approx(2.0)  # 6 - mutate 2 - dedup 2
    assert self_t[2] == pytest.approx(1.0)
    by_layer = tracing.layer_self_times(spans)
    assert sum(by_layer.values()) == pytest.approx(10.0)  # root duration


def test_self_time_clips_overlapping_children():
    spans = [
        Span(0, None, "p", "entry", "", 0.0, 4.0),
        Span(1, 0, "a", "job", "", 1.0, 3.0),
        Span(2, 0, "b", "job", "", 2.0, 5.0),  # ends after its parent
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(1.0)


def test_jobs_attach_to_innermost_open_span():
    jobs = [
        Job(0, 1.5, 1.8, []),  # inside read_table, inside mutate
        Job(1, 2.5, 2.9, []),  # inside mutate only
        Job(2, 4.5, 5.5, []),  # inside dedup
        Job(3, 7.0, 8.5, []),  # inside exec
        Job(4, 11.0, 12.0, []),  # outside every span
    ]
    spans = tracing.attach_jobs(spans_fixture(), jobs)
    parents = {sp.name: sp.parent for sp in spans if sp.layer == "job"}
    assert parents == {"job 0": 3, "job 1": 2, "job 2": 4, "job 3": 5, "job 4": None}


def test_layer_metrics_count_jobs_inclusively_and_per_pass():
    stage = {k: 1 for k in tracing._STAGE_FIELDS}
    jobs = [Job(0, 1.5, 1.8, [stage]), Job(1, 4.5, 5.5, [stage, stage]), Job(2, 7.0, 8.5, [])]
    spans = tracing.attach_jobs(spans_fixture(), jobs)
    m = tracing.layer_metrics(spans, jobs, n=2, cores=4)
    assert m["mutate.calls"] == 0.5 and m["mutate.jobs"] == 0.5
    assert m["sources.calls"] == 0.5 and m["sources.s"] == pytest.approx(0.5)
    assert m["operators.dedup.jobs"] == 0.5
    assert m["entry.build_s"] == pytest.approx(3.0)
    assert m["entry.build_jobs"] == 1.0
    assert m["entry.build_self_s"] == pytest.approx((6.0 - 0.3 - 1.0) / 2)
    assert m["exec.jobs"] == 1.5 and m["exec.stages"] == 1.5
    assert m["exec.s"] == pytest.approx((0.3 + 1.0 + 1.5) / 2)
    assert m["exec.busy_frac"] == pytest.approx(3 / (2.8 * 1000 * 4))


def test_outermost_calls_ignore_nested_same_layer():
    spans = [
        Span(0, None, "mutate_", "mutate", "", 0.0, 2.0),
        Span(1, 0, "mutate", "mutate", "", 0.5, 1.5),
    ]
    assert [sp.id for sp in tracing.outermost_calls(spans, "mutate")] == [0]


def test_benchmark_json_lists_what_the_command_prints():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    stage = {k: 0 for k in tracing._STAGE_FIELDS}
    layer_names = set(tracing.layer_metrics([], [Job(0, 0, 1, [stage])], 1, 1))
    printed = (
        {"session.start_s", "session.warm_s", "trace.overhead_s",
         "cache.rdds", "cache.bytes", "cache.leaked_rdds"}
        | {f"{k}.self_s" for k in run.SELF_LAYERS}
        | set(worker._stream_metrics([], 1))
        | layer_names
    )
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: run.unit_of(k) for k in printed}
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_benchmark_json_records_each_workloads_entries_and_rows():
    import data
    from workloads import describe

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    rows = data.table_rows(data.data_dir(0.01))
    for w in bench["workloads"]:
        assert w["why"] == describe(run.WORKLOADS[w["name"]], rows)
        assert len(w["why"]) <= 200


def test_install_wraps_public_functions_and_pickles_them_by_reference():
    # in a subprocess: install() rebinds names in library modules for the
    # life of the process
    script = textwrap.dedent(
        f"""
        import sys
        sys.path[:0] = [{str(ROOT / "perfbench")!r}, {str(ROOT)!r}]
        import cloudpickle, tracing
        tracer = tracing.Tracer()
        assert tracing.install(tracer) > 20
        import tidier_spark
        M, P = sys.modules["tidier_spark.mutate"], sys.modules["tidier_spark.pandas_tier"]
        import __spark_entry__ as board
        assert M.mutate is tidier_spark.mutate is board.mutate
        assert M.mutate.__wrapped__ and P.frame_apply.lower.__wrapped__
        assert board.read_table.__wrapped__
        assert cloudpickle.loads(cloudpickle.dumps(M.mutate)) is M.mutate
        tracer.active = True
        tracer.entry = "e"
        try:
            M.mutate(None, x="1")
        except Exception:
            pass
        print([(s.name, s.layer, s.entry) for s in tracer.spans])
        """
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "('mutate', 'mutate', 'e')" in out.stdout

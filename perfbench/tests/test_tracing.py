"""Span self-time arithmetic."""

import pytest

from tracing import Span, Tracer, layer_self_times, self_times


def _span(i, parent, layer, start, end):
    return Span(i, parent, "r", f"s{i}", layer, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "workload", 1.0, 3.0),
        _span(2, 0, "operators", 2.0, 5.0),  # overlaps span 1: counted once
        _span(3, 0, "sources", 7.0, 8.0),
        _span(4, 3, "plans", 7.2, 7.7),  # grandchild: only its parent loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[3] == pytest.approx(1.0 - 0.5)
    assert st[4] == pytest.approx(0.5)
    assert layer_self_times(spans) == pytest.approx(
        {"bench": 5.0, "workload": 2.0, "operators": 3.0, "sources": 0.5, "plans": 0.5})
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # overlap of 1 and 2


def test_child_outside_parent_is_clipped():
    spans = [_span(0, None, "bench", 0.0, 2.0), _span(1, 0, "workload", 1.5, 4.0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_tracer_nests_and_records_nothing_when_disabled():
    tr = Tracer("run1")
    with tr.span("off", "bench"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("op", "bench"):
        with tr.span("build", "workload"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [("op", None, "run1"), ("build", 0, "run1")]
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end


def test_cpu_s_counts_work_of_a_process_and_not_sleep():
    import os
    import time

    from tracing import cpu_s

    stat = f"/proc/{os.getpid()}/stat"
    c0, t0 = cpu_s(stat), time.perf_counter()
    while time.perf_counter() - t0 < 0.2:
        pass
    busy = cpu_s(stat) - c0
    c1 = cpu_s(stat)
    time.sleep(0.2)
    assert 0.1 <= busy <= 0.35
    assert cpu_s(stat) - c1 < 0.05


def test_jvm_cpu_leaves_out_compiler_threads_only():
    from tracing import JvmCpu

    cpu = JvmCpu(0)
    cpu._jit = {"1": False, "2": True, "3": True}
    reads = iter([(10.0, {"2": 1.0, "3": 2.0}), (14.0, {"2": 2.5, "4": 0.5})])
    cpu.read = lambda: next(reads)
    start = cpu.read()
    # 4 s in all; thread 2 compiled for 1.5 s and the new thread 4 for
    # 0.5 s; thread 3 ended, so its last slice cannot be told apart
    assert cpu.since(start) == 2.0

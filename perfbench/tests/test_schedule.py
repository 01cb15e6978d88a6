"""Which passes a run measures is fixed before it starts."""

from run import schedule, untraced_neighbours
from workloads import MIN_MEASURED_PASSES, WORKLOADS


def test_measured_passes_follow_from_the_arguments_alone():
    w = WORKLOADS["workbench_small"]
    plan = schedule(w, 20, trace=False)
    assert plan[:w.warmup_passes] == [("warmup", False)] * w.warmup_passes
    assert plan[w.warmup_passes:] == [("measured", False)] * round(20 / w.nominal_pass_s)
    assert schedule(w, 20, trace=False) == plan
    assert len(schedule(w, 0.1, trace=False)) == w.warmup_passes + MIN_MEASURED_PASSES


def test_traced_run_alternates_untraced_and_traced_passes():
    plan = schedule(WORKLOADS["etl_roundtrip"], 20, trace=True)
    measured = [traced for role, traced in plan if role == "measured"]
    assert measured[:4] == [False, True, False, True]
    assert len(plan) == len(schedule(WORKLOADS["etl_roundtrip"], 20, trace=False))


def test_overhead_baseline_is_the_untraced_neighbours():
    passes = [{"pass_s": 4.0, "traced": False}, {"pass_s": 5.0, "traced": True},
              {"pass_s": 2.0, "traced": False}, {"pass_s": 9.0, "traced": True}]
    assert untraced_neighbours(passes, 1) == 3.0
    assert untraced_neighbours(passes, 3) == 2.0

from perfbench.spans import Tracer
from perfbench.workloads import Run


def _run(seconds, measured):
    r = Run(seed=1, seconds=seconds, tracer=Tracer(False, "t"), cache="", work="")
    r.measured = measured
    return r


def test_first_unit_always_runs_and_at_least_is_honoured():
    assert _run(10, 0.0).more(0)
    assert _run(10, 30.0).more(1, at_least=2)
    assert not _run(10, 30.0).more(2, at_least=2)


def test_another_unit_runs_only_if_it_lands_nearer_to_the_budget():
    # units of 5 s against 10 s: two units, robustly for 4 s < unit < 6.7 s
    assert _run(10, 5.0).more(1)
    assert not _run(10, 10.0).more(2)
    assert _run(10, 4.2).more(1) and not _run(10, 8.4).more(2)
    assert _run(10, 6.5).more(1) and not _run(10, 13.0).more(2)
    # a 15 s unit already overshoots 10 s: one unit
    assert not _run(10, 15.0).more(1)

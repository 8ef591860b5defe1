import pytest

from perfbench import layers
from perfbench.spans import Span, Tracer, aggregate_groups, covered, driver_time, self_time


def _span(i, start, end, parent=None, name="x", family=None):
    return Span(i, name, start, parent, None, family=family, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered((0, 10), [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered((0, 10), [(11, 12)]) == 0


def test_self_time_subtracts_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 8.0, 9.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10 - 5 - 1)
    assert self_time(parent, []) == pytest.approx(10)


def test_driver_time_is_wall_outside_jobs():
    sp = _span(0, 100.0, 101.0)
    sp.job_intervals = [(100.2, 100.5), (100.4, 100.7)]
    assert driver_time(sp) == pytest.approx(0.5)


class FakeStore:
    """Two spans' jobs; job 3 reuses stage 10 (already run by job 1)
    and skips stage 12."""

    groups = {"g1": [1, 2], "g2": [3], "stream": [4]}
    jobs = {
        1: ([10], 1.0, 2.0),
        2: ([11], 2.0, 2.5),
        3: ([10, 12, 13], 3.0, 4.0),
        4: ([14], 4.0, 4.5),
    }

    @staticmethod
    def _stage(tasks, ran=True, attempt=0):
        return {
            "attempt": attempt, "ran": ran, "tasks": tasks, "task_run_s": 1.0 * tasks,
            "task_cpu_s": 0.5 * tasks, "gc_s": 0.1, "input_bytes": 100 * tasks,
            "shuffle_read_bytes": 10, "shuffle_write_bytes": 20, "spill_bytes": 0,
        }

    def drain(self):
        pass

    def job_ids(self, group):
        return self.groups.get(group, [])

    def job(self, jid):
        return self.jobs[jid]

    def stage(self, sid):
        return {
            10: self._stage(4), 11: self._stage(2), 12: self._stage(0, ran=False),
            13: self._stage(1), 14: self._stage(3),
        }.get(sid)


def test_aggregate_groups_counts_each_stage_attempt_once():
    store, seen = FakeStore(), set()
    jobs, c, iv = aggregate_groups(store, ["g1"], seen)
    assert jobs == 2 and c["tasks"] == 6 and c["input_bytes"] == 600
    assert iv == [(1.0, 2.0), (2.0, 2.5)]
    jobs, c, _ = aggregate_groups(store, ["g2"], seen)
    # stage 10 was counted for g1, stage 12 never ran
    assert jobs == 1 and c["tasks"] == 1 and c["task_run_s"] == pytest.approx(1.0)
    jobs, c, _ = aggregate_groups(store, ["missing", "stream"], seen)
    assert jobs == 1 and c["tasks"] == 3


class FakeSc:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_tracer_sets_and_restores_job_groups_and_collects():
    sc, store = FakeSc(), FakeStore()
    tr = Tracer(True, "t")
    tr.attach(sc, store)
    with tr.span("op", op_id="q1"):
        with tr.span("operators.wand", family="search") as sp:
            sp.group = "g1"  # what the fake store knows this span's jobs as
            sc.props.append(("in", None))
    assert [v for _k, v in sc.props if _k == "spark.jobGroup.id"] == ["t:0", "t:1", "t:0", None]
    tr.collect()
    wand = tr.spans[1]
    assert wand.op_id == "q1" and wand.parent == 0
    assert wand.jobs == 2 and wand.counters["tasks"] == 6
    vals = layers.per_layer_metrics(tr)
    assert vals["operators.wand.search.jobs"] == 2
    assert vals["operators.wand.search.jobs_per_op"] == 2
    assert vals["operators.wand.search.tasks"] == 6
    assert set(vals) == {name for name, _u, _b in layers.per_layer_spec()}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("plans.query") as sp:
        assert sp is None
    assert tr.spans == []
    tr2 = Tracer(True, "t")
    with tr2.paused():
        with tr2.span("plans.query") as sp:
            assert sp is None
    assert tr2.spans == [] and tr2.enabled

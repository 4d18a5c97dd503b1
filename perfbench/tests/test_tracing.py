import pytest

from tracing import Span, Tracer, attribute, parse_size, self_time


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, start, end)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 1.0, 4.0), []) == 3.0


def test_self_time_subtracts_disjoint_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 6.0, 7.0, 0)]
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 2.0, 6.0)
    kids = [_span(1, 0.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]
    assert self_time(parent, kids) == pytest.approx(2.0)


def test_tracer_records_parents_and_self_time():
    clock = FakeClock()
    tracer = Tracer(clock=clock)
    with tracer.span("outer") as outer:
        clock.now = 1.0
        with tracer.span("inner") as inner:
            clock.now = 3.0
        clock.now = 4.0
    with tracer.span("next") as nxt:
        clock.now = 5.0
    assert (outer.parent, inner.parent, nxt.parent) == (None, outer.id, None)
    assert outer.duration == 4.0
    assert tracer.children(outer) == [inner]
    assert tracer.self_time(outer) == pytest.approx(2.0)
    assert tracer.self_time(nxt) == pytest.approx(1.0)


def test_tracer_closes_span_on_error():
    tracer = Tracer(clock=FakeClock())
    with pytest.raises(ValueError):
        with tracer.span("boom"):
            raise ValueError
    assert tracer.spans[0].end is not None
    with tracer.span("after") as after:
        pass
    assert after.parent is None


def _snap(stages=(), jobs=(), arrow=None):
    return {
        "stages": {(s["stageId"], 0): s for s in stages},
        "jobs": set(jobs),
        "arrow": dict(arrow or {}),
    }


STAGE_A = {
    "stageId": 1,
    "executorRunTime": 1500,
    "shuffleWriteBytes": 100,
    "memoryBytesSpilled": 7,
    "diskBytesSpilled": 3,
}
STAGE_B = {
    "stageId": 2,
    "executorRunTime": 500,
    "shuffleWriteBytes": 0,
    "memoryBytesSpilled": 0,
    "diskBytesSpilled": 0,
}


def test_attribute_sums_only_new_stages_jobs_and_executions():
    before = _snap([STAGE_A], jobs=[0], arrow={0: 10})
    after = _snap([STAGE_A, STAGE_B], jobs=[0, 1, 2], arrow={0: 10, 1: 64})
    assert attribute(before, after) == {
        "jobs": 2,
        "executor_run_s": 0.5,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "arrow_bytes": 64,
    }
    first = attribute(_snap(), before)
    assert first["executor_run_s"] == 1.5
    assert first["shuffle_write_bytes"] == 100
    assert first["spill_bytes"] == 10


def test_attribute_of_a_span_that_launches_no_job_is_zero():
    snap = _snap([STAGE_A, STAGE_B], jobs=[0, 1], arrow={0: 5})
    out = attribute(snap, snap)
    assert set(out) == {
        "jobs",
        "executor_run_s",
        "shuffle_write_bytes",
        "spill_bytes",
        "arrow_bytes",
    }
    assert all(v == 0 for v in out.values())


class FakeProbe:
    """Replays a queue of snapshots, one per ``snapshot()`` call."""

    def __init__(self, snaps):
        self.snaps = list(snaps)

    def snapshot(self):
        return self.snaps.pop(0)


def test_tracer_attributes_work_to_the_span_that_launched_it():
    s0 = _snap()
    s1 = _snap([STAGE_A], jobs=[0])
    s2 = _snap([STAGE_A, STAGE_B], jobs=[0, 1])
    # outer opens at s0; inner opens at s1, closes at s2; outer closes at s2;
    # idle opens and closes at s2 without launching a job
    tracer = Tracer(FakeProbe([s0, s1, s2, s2, s2, s2]), clock=FakeClock())
    with tracer.span("outer") as outer:
        with tracer.span("inner") as inner:
            pass
    with tracer.span("idle") as idle:
        pass
    assert outer.work["jobs"] == 2 and outer.work["executor_run_s"] == 2.0
    assert inner.work["jobs"] == 1 and inner.work["executor_run_s"] == 0.5
    assert idle.work["jobs"] == 0 and idle.work["executor_run_s"] == 0


@pytest.mark.parametrize(
    "text, expected",
    [
        ("0.0 B", 0),
        ("512.0 B", 512),
        ("1.5 KiB", 1536),
        ("2.0 MiB", 2 << 20),
        ("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 3072),
    ],
)
def test_parse_size(text, expected):
    assert parse_size(text) == expected


def test_parse_size_rejects_non_size():
    with pytest.raises(ValueError):
        parse_size("12 ms")

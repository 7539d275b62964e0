import os

import pytest

from cdcbench.layers import ledger_summary
from cdcbench.ledger import (Span, Tracer, install_engine_wrappers, self_times,
                             union_length)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_of_nested_spans():
    spans = [
        Span("a", 0.0, 10.0),              # children cover 1..6
        Span("b", 1.0, 4.0, parent=0),     # child d covers 2..3
        Span("c", 3.0, 6.0, parent=0),     # overlaps b: counted once
        Span("d", 2.0, 3.0, parent=1),
        Span("e", 20.0, 21.0),             # a second root
    ]
    assert self_times(spans) == [5.0, 2.0, 3.0, 1.0, 1.0]


def test_self_time_clips_children_to_the_parent():
    spans = [Span("a", 0.0, 4.0), Span("b", 3.0, 6.0, parent=0)]
    assert self_times(spans) == [3.0, 3.0]


def test_tracer_nests_spans_and_sets_the_description_path():
    ticks = iter(range(100))
    seen = []
    t = Tracer(description=seen.append, clock=lambda: float(next(ticks)))
    with t.span("bench.chunk"):
        with t.span("cdc.apply.apply_chunk"):
            pass
    assert [(s.name, s.start, s.end, s.parent) for s in t.spans] == [
        ("bench.chunk", 0.0, 3.0, None),
        ("cdc.apply.apply_chunk", 1.0, 2.0, 0),
    ]
    assert seen == ["bench.chunk", "bench.chunk > cdc.apply.apply_chunk",
                    "bench.chunk", ""]


def test_ledger_attributes_the_loop_wall():
    spans = [
        Span("bench.chunk", 0.0, 10.0),
        Span("cdc.apply.apply_chunk", 0.5, 9.5, parent=0),
        Span("lake.write_delta_files", 1.0, 6.0, parent=1),
        Span("lake.snapshot", 1.5, 2.0, parent=2),   # nested: not re-counted
        Span("lake.commit", 7.0, 8.0, parent=1),
        Span("bench.lookup", 11.0, 12.0),            # outside the loop
        Span("lake.lookup", 11.0, 11.5, parent=5),
    ]
    led = ledger_summary(spans)
    assert led["apply_wall_s"] == 10.0
    assert led["apply_self_s"] == 3.0
    assert led["lake_busy_s"] == 6.0
    assert led["attributed_share"] == pytest.approx(0.9)


class _Thing:
    def work(self, x):
        return x + 1


def test_wrap_records_spans_and_uninstall_restores():
    original = _Thing.__dict__["work"]
    t = Tracer()
    t.wrap(_Thing, "work", "thing.work",
           on_exit=lambda span, result, args, kw: span.attrs.update(r=result))
    assert _Thing.__dict__["work"] is not original
    assert _Thing().work(1) == 2
    assert [(s.name, s.attrs) for s in t.spans] == [("thing.work", {"r": 2})]
    t.uninstall()
    assert _Thing.__dict__["work"] is original


def test_wrapped_exception_closes_the_span():
    class Boom:
        def go(self):
            raise ValueError("x")

    t = Tracer()
    t.wrap(Boom, "go", "boom")
    with pytest.raises(ValueError):
        Boom().go()
    assert t.spans[0].end >= t.spans[0].start and t.path() == ""
    t.uninstall()


def test_engine_wrappers_restore_the_original_methods():
    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.lake.table import LakeTable

    before = (dict(CdcApplier.__dict__), dict(LakeTable.__dict__), os.fsync)
    t = Tracer()
    install_engine_wrappers(t, py_worker_cpu=lambda: 0.0)
    assert CdcApplier.__dict__["apply_chunk"] is not before[0]["apply_chunk"]
    assert LakeTable.__dict__["compact"] is not before[1]["compact"]
    assert os.fsync is not before[2]
    t.uninstall()
    assert dict(CdcApplier.__dict__) == before[0]
    assert dict(LakeTable.__dict__) == before[1]
    assert os.fsync is before[2]


def test_fsync_counter_counts_calls(tmp_path):
    t = Tracer()
    t.count(os, "fsync", "lake.fsync.calls")
    try:
        with open(tmp_path / "f", "w") as f:
            os.fsync(f.fileno())
            os.fsync(f.fileno())
    finally:
        t.uninstall()
    assert t.counts == {"lake.fsync.calls": 2}

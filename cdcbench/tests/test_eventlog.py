import json
import os

from cdcbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


def _task(stage, run_ms=10, cpu_ns=5_000_000, sw=0, sr=0, out=0, inp=0,
          fetch_ms=0, gc_ms=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Input Metrics": {"Bytes Read": inp},
                "Output Metrics": {"Bytes Written": out},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Shuffle Read Metrics": {"Local Bytes Read": sr,
                                         "Remote Bytes Read": 0,
                                         "Fetch Wait Time": fetch_ms}}}


def _desc(d):
    return {"spark.job.description": d} if d else {}


def test_stages_map_to_job_descriptions_and_kinds():
    w = "bench.chunk > cdc.apply.apply_chunk > lake.write_delta_files"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": _desc(w)},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0}, "Properties": _desc(w)},
        _task(0, sw=100, inp=1000), _task(0, sw=50, inp=500),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": _desc(w)},
        _task(2, sr=150, out=70, fetch_ms=3),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},                         # outside every span
        _task(3, run_ms=99),
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
         "Properties": _desc("bench.scan")},
        _task(4, inp=10),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4},  # no metrics
    ]
    log = eventlog.parse(json.dumps(e) for e in events)
    assert log.jobs_under(lambda d: eventlog.layer_of(d) == "lake.write_delta_files") == 2
    st = {s.stage_id: s for s in log.stages.values()}
    assert (st[0].kind, st[0].tasks, st[0].shuffle_write_bytes,
            st[0].input_bytes) == ("map", 2, 150, 1500)
    assert (st[2].kind, st[2].shuffle_read_bytes, st[2].output_bytes,
            st[2].fetch_wait_s) == ("reduce", 150, 70, 0.003)
    assert st[0].run_s == 0.02 and st[0].cpu_s == 0.01
    assert st[3].description is None and st[3].kind == "other"
    assert st[4].kind == "other" and st[4].tasks == 1
    under_scan = log.stages_under(lambda d: eventlog.root_of(d) == "bench.scan")
    assert [s.stage_id for s in under_scan] == [4]


def test_recorded_log():
    """A small event log recorded from a local[2] session: one labelled
    aggregate-and-write job pair plus unlabelled jobs."""
    log = eventlog.parse_dir(os.path.join(DATA, "eventlog_small"))
    write = log.stages_under(
        lambda d: eventlog.layer_of(d) == "lake.write_delta_files")
    kinds = sorted(s.kind for s in write)
    assert "map" in kinds and "reduce" in kinds
    assert all(eventlog.root_of(s.description) == "bench.chunk" for s in write)
    maps = [s for s in write if s.kind == "map"]
    reduces = [s for s in write if s.kind == "reduce"]
    assert sum(s.shuffle_write_bytes for s in maps) > 0
    assert sum(s.shuffle_read_bytes for s in reduces) == sum(
        s.shuffle_write_bytes for s in maps)
    assert sum(s.output_bytes for s in reduces) > 0
    assert log.jobs_under(lambda d: True) >= 1
    assert any(d is None for d in log.jobs.values())

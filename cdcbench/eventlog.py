"""Spark event-log parser: task metrics per stage, stages per job
description.

The benchmark sets the job description to the open span path before every
wrapped engine call, so a stage's description names the layer that launched
it. Stages are classified the same way for every layer:

* ``map``    — the stage writes shuffle output (scan, validate, partial
  aggregate in ``lake.write_delta_files``);
* ``reduce`` — otherwise, the stage reads shuffle input or writes output
  (final aggregate + bucketed write);
* ``other``  — neither (e.g. a driver-side collect over a scan).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

DESCRIPTION = "spark.job.description"


@dataclass
class StageAgg:
    stage_id: int
    description: str | None = None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0

    @property
    def kind(self) -> str:
        if self.shuffle_write_bytes:
            return "map"
        if self.shuffle_read_bytes or self.output_bytes:
            return "reduce"
        return "other"


@dataclass
class EventLog:
    stages: dict[int, StageAgg] = field(default_factory=dict)
    # job id -> description (None when the job ran outside any span)
    jobs: dict[int, str | None] = field(default_factory=dict)

    def jobs_under(self, pred) -> int:
        return sum(1 for d in self.jobs.values() if d is not None and pred(d))

    def stages_under(self, pred) -> list[StageAgg]:
        return [s for s in self.stages.values()
                if s.description is not None and pred(s.description)]


def layer_of(description: str) -> str:
    """Innermost span name of a description path."""
    return description.rsplit(" > ", 1)[-1]


def root_of(description: str) -> str:
    return description.split(" > ", 1)[0]


def parse(lines) -> EventLog:
    """Parse event-log JSON lines (an iterable of str)."""
    log = EventLog()
    stage_desc: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(DESCRIPTION)
            log.jobs[ev["Job ID"]] = desc
            for sid in ev.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get(DESCRIPTION)
            sid = ev["Stage Info"]["Stage ID"]
            if desc is not None:
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sid = ev["Stage ID"]
            st = log.stages.setdefault(sid, StageAgg(sid))
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    for sid, st in log.stages.items():
        st.description = stage_desc.get(sid)
    return log


def parse_dir(path: str) -> EventLog:
    """Parse every event file under ``path`` (one application's log; Spark
    may roll it into several ``events_<n>_<app>`` files), in roll order."""
    import itertools
    import re

    files = sorted(
        (os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
         if not f.startswith(".")),
        key=lambda p: [int(t) if t.isdigit() else t
                       for t in re.split(r"(\d+)", os.path.basename(p))])
    handles = [open(f) for f in files]
    try:
        return parse(itertools.chain.from_iterable(handles))
    finally:
        for h in handles:
            h.close()

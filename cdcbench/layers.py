"""Per-layer metrics of a traced run, from its span ledger, the Spark event
log and ``/proc`` samples.

Span names are the layer names: ``cdc.apply.<method>`` for ``CdcApplier``,
``lake.<method>`` for ``LakeTable`` (``commit_delta`` and ``commit_summary``
both count as ``lake.commit``), ``bench.*`` for the benchmark's own
operations. ``<layer>.busy_s`` is the wall time of a layer's outermost calls
(a call nested in a call of the same layer is not counted twice).
"""

from __future__ import annotations

from cdcbench import eventlog
from cdcbench.ledger import ancestors, self_times

LOOP_SPANS = ("bench.chunk", "bench.flush")
READ_SPANS = ("bench.scan", "bench.lookup")


def _layer_totals(spans) -> tuple[dict[str, int], dict[str, float]]:
    calls: dict[str, int] = {}
    busy: dict[str, float] = {}
    for i, s in enumerate(spans):
        calls[s.name] = calls.get(s.name, 0) + 1
        if all(spans[a].name != s.name for a in ancestors(spans, i)):
            busy[s.name] = busy.get(s.name, 0.0) + s.dur
    return calls, busy


def ledger_summary(spans) -> dict[str, float]:
    """Attribution of the apply loop's wall time: ``cdc.apply`` self time
    plus the outermost ``lake.*`` spans inside the loop, against the loop's
    own wall (``bench.chunk`` + ``bench.flush`` spans)."""
    selfs = self_times(spans)
    wall = apply_self = lake_busy = 0.0
    for i, s in enumerate(spans):
        up = [spans[a].name for a in ancestors(spans, i)]
        if s.name in LOOP_SPANS:
            wall += s.dur
        elif s.name.startswith("cdc.apply."):
            apply_self += selfs[i]
        elif s.name.startswith("lake.") and any(u in LOOP_SPANS for u in up) \
                and not any(u.startswith("lake.") for u in up):
            lake_busy += s.dur
    return {"apply_wall_s": wall, "apply_self_s": apply_self,
            "lake_busy_s": lake_busy,
            "attributed_share": (apply_self + lake_busy) / wall if wall else 0.0}


def per_layer_metrics(run, eventlog_dir: str, e2e: dict):
    """Returns (metrics name -> (value, unit), full record for the trace
    file)."""
    spans = run.tracer.spans
    calls, busy = _layer_totals(spans)
    led = ledger_summary(spans)
    log = eventlog.parse_dir(eventlog_dir)
    facts = run.facts

    def attr_sum(name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in spans if s.name == name)

    def layer_stages(layer: str):
        return log.stages_under(lambda d: eventlog.layer_of(d) == layer)

    wdf = layer_stages("lake.write_delta_files")
    import pandas as pd

    rows = pd.concat(run.s.metrics_rows)
    valid = float(rows["n_events"].sum())
    quarantined = float(rows["n_quarantined"].sum())
    chunks = max(1, calls.get("cdc.apply.apply_chunk", 0))

    m: dict[str, tuple[float, str]] = {
        "cdc.apply.apply_chunk.calls": (calls.get("cdc.apply.apply_chunk", 0), "count"),
        "cdc.apply.apply_chunk.busy_s": (busy.get("cdc.apply.apply_chunk", 0.0), "s"),
        "cdc.apply.self_s": (led["apply_self_s"], "s"),
        "cdc.apply.maybe_compact.busy_s": (busy.get("cdc.apply.maybe_compact", 0.0), "s"),
        "cdc.apply.flush_lineage.busy_s": (busy.get("cdc.apply.flush_lineage", 0.0), "s"),
        "lake.compact.calls": (calls.get("lake.compact", 0), "count"),
        "lake.compact.busy_s": (busy.get("lake.compact", 0.0), "s"),
        "lake.compact.bytes_rewritten": (attr_sum("lake.compact", "bytes_rewritten"), "B"),
        "lake.compact.jvm_cpu_s": (sum(st.cpu_s for st in layer_stages("lake.compact")), "s"),
        "lake.compact.py_worker_cpu_s": (attr_sum("lake.compact", "py_worker_cpu_s"), "s"),
        "lake.write_delta_files.calls": (calls.get("lake.write_delta_files", 0), "count"),
        "lake.write_delta_files.busy_s": (busy.get("lake.write_delta_files", 0.0), "s"),
        "lake.write_delta_files.bytes_out": (attr_sum("lake.write_delta_files", "bytes_out"), "B"),
        "lake.write_delta_files.files_out": (attr_sum("lake.write_delta_files", "files_out"), "count"),
        "lake.write_delta_files.jobs": (
            log.jobs_under(lambda d: eventlog.layer_of(d) == "lake.write_delta_files"), "count"),
        "lake.write_delta_files.tasks": (sum(st.tasks for st in wdf), "count"),
        "lake.write_delta_files.map.run_s": (
            sum(st.run_s for st in wdf if st.kind == "map"), "s"),
        "lake.write_delta_files.map.cpu_s": (
            sum(st.cpu_s for st in wdf if st.kind == "map"), "s"),
        "lake.write_delta_files.shuffle.write_bytes": (
            sum(st.shuffle_write_bytes for st in wdf), "B"),
        "lake.write_delta_files.shuffle.fetch_wait_s": (
            sum(st.fetch_wait_s for st in wdf), "s"),
        "lake.write_delta_files.reduce.run_s": (
            sum(st.run_s for st in wdf if st.kind == "reduce"), "s"),
        "cdc.dedup.collapse_ratio": (
            float(rows["n_winner_rows"].sum()) / valid if valid else 0.0, "ratio"),
        "cdc.validate.quarantine_ratio": (
            quarantined / (valid + quarantined) if valid + quarantined else 0.0, "ratio"),
        "lake.file_stats.busy_s": (busy.get("lake.file_stats", 0.0), "s"),
        "lake.commit.calls": (calls.get("lake.commit", 0), "count"),
        "lake.commit.busy_s": (busy.get("lake.commit", 0.0), "s"),
        "lake.snapshot.calls": (calls.get("lake.snapshot", 0), "count"),
        "lake.snapshot.busy_s": (busy.get("lake.snapshot", 0.0), "s"),
        "lake.fsync.calls": (run.tracer.counts.get("lake.fsync.calls", 0), "count"),
        "lake.append.calls": (calls.get("lake.append", 0), "count"),
        "lake.append.busy_s": (busy.get("lake.append", 0.0), "s"),
        "lake.lookup.busy_s": (busy.get("lake.lookup", 0.0), "s"),
        "lake.read.busy_s": (busy.get("lake.read", 0.0), "s"),
        "lake.read.delta_layers_max": (
            max((s.attrs.get("delta_layers_max", 0) for s in spans
                 if s.name == "lake.read"), default=0), "count"),
        "lake.read.input_bytes": (
            sum(st.input_bytes for st in log.stages_under(
                lambda d: eventlog.root_of(d) in READ_SPANS)), "B"),
        "bench.lookup.busy_s": (busy.get("bench.lookup", 0.0), "s"),
        "bench.scan.busy_s": (busy.get("bench.scan", 0.0), "s"),
        "spark.gc_s": (facts["gc_s"], "s"),
        "spark.jobs_per_commit": (
            log.jobs_under(lambda d: eventlog.root_of(d) == "bench.chunk") / chunks,
            "count"),
        "driver.py_cpu_s": (facts["py_cpu_s"], "s"),
        "jvm.heap_peak_mb": (facts["jvm_heap_peak_mb"], "MB"),
        "ledger.apply_wall_s": (led["apply_wall_s"], "s"),
        "ledger.attributed_share": (led["attributed_share"], "ratio"),
    }
    for k, (v, u) in e2e.items():
        if v is not None:
            m[f"traced.{k}"] = (v, u)

    record = {
        "workload": run.wl.name,
        "seed": run.seed,
        "seconds": run.seconds,
        "facts": facts,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "ledger": led,
        "stages": [
            {"stage": st.stage_id, "description": st.description, "kind": st.kind,
             "tasks": st.tasks, "run_s": st.run_s, "cpu_s": st.cpu_s,
             "gc_s": st.gc_s, "input_bytes": st.input_bytes,
             "output_bytes": st.output_bytes,
             "shuffle_write_bytes": st.shuffle_write_bytes,
             "shuffle_read_bytes": st.shuffle_read_bytes,
             "fetch_wait_s": st.fetch_wait_s}
            for st in sorted(log.stages.values(), key=lambda s: s.stage_id)
            if st.description is not None
        ],
        "spans": [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             **({"attrs": s.attrs} if s.attrs else {})}
            for s in spans
        ],
    }
    return m, record

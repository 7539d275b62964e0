"""The traced run's span ledger, recorded from outside the engine.

``install_engine_wrappers`` wraps public methods of the engine classes (and
``os.fsync``) with span recorders; ``Tracer.uninstall`` puts the original
attributes back, so no patching outlives the traced interval. Every span carries its name,
start, end and parent. While a span is open, the Spark job description is
the span path (``bench.chunk > cdc.apply.apply_chunk > lake.commit``), so the
event log attributes each Spark job to the innermost engine layer that
launched it (see ``eventlog.py``).
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

PATH_SEP = " > "


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - union_length([(max(lo, s.start), min(hi, s.end))
                              for lo, hi in kids.get(i, [])])
        for i, s in enumerate(spans)
    ]


def ancestors(spans: list[Span], i: int) -> list[int]:
    out = []
    p = spans[i].parent
    while p is not None:
        out.append(p)
        p = spans[p].parent
    return out


class Tracer:
    """In-memory span recorder. ``description`` (optional) is called with the
    span path on every span entry and exit: the benchmark passes a setter of
    the Spark job description."""

    def __init__(self, description: Callable[[str], None] | None = None,
                 clock: Callable[[], float] = time.perf_counter):
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self._describe = description
        self._clock = clock
        self._saved: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------- spans
    def open(self, name: str) -> int:
        i = len(self.spans)
        self.spans.append(Span(name, self._clock(),
                               parent=self._stack[-1] if self._stack else None))
        self._stack.append(i)
        self._set_description()
        return i

    def close(self, i: int) -> Span:
        if not self._stack or self._stack[-1] != i:
            raise RuntimeError(f"span {self.spans[i].name} closed out of order")
        self._stack.pop()
        self.spans[i].end = self._clock()
        self._set_description()
        return self.spans[i]

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def path(self) -> str:
        return PATH_SEP.join(self.spans[i].name for i in self._stack)

    def _set_description(self) -> None:
        if self._describe is not None:
            self._describe(self.path())

    # ----------------------------------------------------------- wrappers
    def patch(self, owner: Any, attr: str, new: Any) -> None:
        """Set ``owner.attr = new``, remembering the original (the raw class
        attribute, for classes) for ``uninstall``."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._saved.append((owner, attr, raw))
        setattr(owner, attr, new)

    def wrap(self, owner: Any, attr: str, span_name: str,
             on_exit: Callable[[Span, Any, tuple, dict], None] | None = None,
             ) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``on_exit``
        (span, result, args, kwargs) may add counts to the span's attrs."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            i = self.open(span_name)
            try:
                result = fn(*args, **kwargs)
            finally:
                span = self.close(i)
            if on_exit is not None:
                on_exit(span, result, args, kwargs)
            return result

        self.patch(owner, attr, wrapper)

    def count(self, owner: Any, attr: str, counter: str) -> None:
        """Replace ``owner.attr`` by a wrapper that only counts calls."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def counting(*args: Any, **kwargs: Any) -> Any:
            self.counts[counter] = self.counts.get(counter, 0) + 1
            return fn(*args, **kwargs)

        self.patch(owner, attr, counting)

    def uninstall(self) -> None:
        """Restore every wrapped attribute, newest first."""
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self._t, self._name = tracer, name

    def __enter__(self) -> Span:
        self._i = self._t.open(self._name)
        return self._t.spans[self._i]

    def __exit__(self, *exc: Any) -> None:
        self._t.close(self._i)


# ------------------------------------------------------------ engine wiring
APPLY_METHODS = ("replay", "apply_chunk", "maybe_compact", "flush_lineage")
LAKE_METHODS = {
    "write_delta_files": "lake.write_delta_files",
    "file_stats": "lake.file_stats",
    "commit_delta": "lake.commit",
    "commit_summary": "lake.commit",
    "snapshot": "lake.snapshot",
    "append": "lake.append",
    "read": "lake.read",
    "lookup": "lake.lookup",
}


def _files_bytes(root: str, files: list[str]) -> int:
    n = 0
    for f in files:
        try:
            n += os.path.getsize(os.path.join(root, f))
        except OSError:
            pass
    return n


def install_engine_wrappers(tracer: Tracer, py_worker_cpu: Callable[[], float]
                            ) -> None:
    """Wrap the measured public methods of ``CdcApplier`` and ``LakeTable``
    plus ``os.fsync``. ``py_worker_cpu`` returns the JVM's Python-worker CPU
    seconds so far (sampled around each compaction)."""
    from data_services_spark.cdc.apply import CdcApplier
    from data_services_spark.lake.table import LakeTable

    for m in APPLY_METHODS:
        tracer.wrap(CdcApplier, m, f"cdc.apply.{m}")

    raw_snapshot = LakeTable.__dict__["snapshot"]

    def after_write(span: Span, result: Any, args: tuple, kwargs: dict) -> None:
        table, (_, files) = args[0], result
        rel = [f for fs in files.values() for f in fs]
        span.attrs["files_out"] = len(rel)
        span.attrs["bytes_out"] = _files_bytes(table.path, rel)

    def after_read(span: Span, result: Any, args: tuple, kwargs: dict) -> None:
        snap = raw_snapshot(args[0])  # unwrapped: not a traced call
        span.attrs["delta_layers_max"] = max(
            (len(fs) for fs in snap.delta_files.values()), default=0)

    for m, name in LAKE_METHODS.items():
        tracer.wrap(LakeTable, m, name, on_exit={
            "write_delta_files": after_write, "read": after_read,
        }.get(m))

    # lake.compact also records the bytes it rewrites and the CPU the JVM's
    # Python workers spend in its mapInPandas rewrite
    raw_compact = LakeTable.__dict__["compact"]

    @functools.wraps(raw_compact)
    def compact(self: Any, buckets: list[int] | None = None, *a: Any, **kw: Any):
        snap = raw_snapshot(self)
        targets = [b for b in snap.delta_buckets()
                   if buckets is None or b in set(buckets)]
        rewritten = _files_bytes(self.path, [
            f for b in targets
            for f in snap.bucket_files.get(str(b), []) + snap.delta_files.get(str(b), [])
        ])
        cpu0 = py_worker_cpu()
        i = tracer.open("lake.compact")
        try:
            return raw_compact(self, buckets, *a, **kw)
        finally:
            span = tracer.close(i)
            span.attrs["bytes_rewritten"] = rewritten
            span.attrs["py_worker_cpu_s"] = py_worker_cpu() - cpu0

    tracer.patch(LakeTable, "compact", compact)

    tracer.count(os, "fsync", "lake.fsync.calls")

"""Run one benchmark workload and print its metrics as one JSON line.

    python3 cdcbench/run.py --workload binlog_tail --seed 1 --seconds 16 --trace 0

Run from the repository root. One process, ``local[4]`` (fewer if the
machine has fewer cores), fresh lakes under ``.cdcbench/``. The input is
generated from ``--seed`` before any timing starts. A run is one warm-up
round and then ``--seconds`` / ``ROUND_S`` measured rounds (at least one);
every round bootstraps a fresh lake, applies the workload's chunks in a
closed loop with a point lookup after every commit, scans, compacts, and is
checked against the DuckDB oracle, untimed, before and after the final
compaction.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` installs the span
ledger and the Spark event log, prints the per-layer metrics and writes the
full record set to ``.cdcbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from cdcbench import procstat  # noqa: E402
from cdcbench.stats import median, tail_metrics  # noqa: E402
from cdcbench.workloads import BUCKETS, ROUND_S, WORKLOADS, Workload  # noqa: E402

BOOTSTRAPS = 3   # extra bare bootstraps timed in setup (median reported)
SCANS = 2        # full scans per round (median reported)
# chunks in the warm-up round: all of a bulk_backfill round, half of a
# binlog_tail round (a full one would not fit the run-time budget)
WARM_CHUNKS = 3
DRIVER_MEMORY = "3g"
# engine knobs read from the environment; the benchmark pins the defaults
_ENGINE_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ADVISORY_PART",
               "SPARK_GRAFT_MAX_PART", "SPARK_GRAFT_CODEC",
               "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_EXTRA_CONF", "SPARK_UI",
               "SPARK_MASTER", "DSS_PHASE_TIMING", "PYSPARK_GATEWAY_PORT")


def log(msg: str) -> None:
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                n += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return n


@dataclass
class Samples:
    """What the rounds of one phase (warm-up or measured) observed."""
    attempted: int = 0
    failed: int = 0
    records: int = 0
    apply_s: float = 0.0     # apply_chunk + maybe_compact + flush_lineage
    compact_s: float = 0.0   # final compactions
    measured_s: float = 0.0  # every timed operation
    commit_ms: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    bytes_per_event: list[float] = field(default_factory=list)
    oracle: list[str] = field(default_factory=list)
    metrics_rows: list = field(default_factory=list)


class Run:
    """One run of one workload."""

    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool,
                 work: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.changes_dir = os.path.join(work, "changes")
        self.problems: list[str] = []
        self.tracer = None
        self.s = Samples()   # the phase being recorded

    # ---------------------------------------------------------- plumbing
    def timed(self, name: str, fn):
        """Run one operation under the clock; returns (seconds, result), or
        (None, None) if it raised — counted in ``failed``."""
        self.s.attempted += 1
        i = self.tracer.open(name) if self.tracer else None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # a failed operation is a measured outcome
            self.s.failed += 1
            log(f"{name} failed:\n{traceback.format_exc()}")
            return None, None
        finally:
            dt = time.perf_counter() - t0
            if i is not None:
                self.tracer.close(i)
        self.s.measured_s += dt
        return dt, result

    def trace_on(self) -> None:
        if self.tracer is not None:
            from cdcbench.ledger import install_engine_wrappers

            install_engine_wrappers(self.tracer, self.py_worker_cpu)

    def trace_off(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()

    def py_worker_cpu(self) -> float:
        return procstat.cpu_s(procstat.python_workers(self.jvm_pid))

    def bootstrap(self, spark, name: str):
        from data_services_spark.cdc.apply import CdcApplier

        return CdcApplier.bootstrap(spark, os.path.join(self.work, name),
                                    bucket_count=BUCKETS)

    def bounds(self, c: int) -> tuple[int, int]:
        """The LSN range (lo, hi] of chunk ``c``."""
        return c * self.wl.chunk_lsns - 1, (c + 1) * self.wl.chunk_lsns - 1

    def chunk_df(self, changes, c: int):
        from pyspark.sql import functions as F

        lo, hi = self.bounds(c)
        return changes.where((F.col("lsn") > lo) & (F.col("lsn") <= hi)), lo, hi

    def expected(self, hi: int):
        from data_services_spark.cdc.oracle import expected_final_state

        return expected_final_state(self.changes_dir, hi_lsn=hi)

    def pick_key(self, state, lo: int, hi: int, tag: str) -> dict:
        """A key live at ``hi``, preferably one written in (lo, hi], chosen
        by seed."""
        recent = state[(state["lsn"] > lo) & (state["lsn"] <= hi)]
        rows = recent if len(recent) else state
        r = rows.iloc[random.Random(f"{self.seed}:{tag}").randrange(len(rows))]
        return {"conv_id": r["conv_id"], "turn_idx": int(r["turn_idx"]),
                "lsn": int(r["lsn"]), "text": r["text"]}

    def lookup(self, table, key: dict) -> None:
        """One timed point lookup, checked against the oracle's row."""
        dt, rows = self.timed(
            "bench.lookup",
            lambda: table.lookup([{"conv_id": key["conv_id"],
                                   "turn_idx": key["turn_idx"]}]).collect())
        if dt is None:
            return
        self.s.lookup_ms.append(dt * 1000.0)
        if (len(rows) != 1 or rows[0]["lsn"] != key["lsn"]
                or rows[0]["text"] != key["text"]):
            self.problems.append(
                f"lookup mismatch for ({key['conv_id']},{key['turn_idx']}): "
                f"got lsn {[r['lsn'] for r in rows]}, expected {key['lsn']}")

    def check(self, app, state, when: str) -> None:
        """The whole table, read through ``LakeTable.read``, against the
        oracle's state; a mismatch fails the run by name."""
        from data_services_spark.cdc.oracle import table_state_matches

        ok, msg = table_state_matches(app.target.read().toPandas(), state)
        if not ok:
            self.problems.append(f"{when}: oracle mismatch: {msg}")
        self.s.oracle.append(msg)

    # ------------------------------------------------------------- phases
    def start_session(self):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
            # a fixed young generation: its size is not left to the
            # collector's pause-time heuristics, which host noise drives;
            # the old generation still grows with what the engine keeps live
            "spark.driver.extraJavaOptions": "-Xmn512m",
        }
        if self.trace:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + ev,
                         "spark.eventLog.compress": "false"})
        from data_services_spark.session import get_spark

        cpus = min(4, len(os.sched_getaffinity(0)))
        # shuffle partitions = bucket count: the LWW aggregate's output is
        # then already clustered by bucket (co-partitioned write)
        return get_spark("cdcbench", cpus=cpus, shuffle_partitions=BUCKETS,
                         driver_memory=DRIVER_MEMORY, extra_conf=conf)

    def generate(self, spark) -> None:
        from data_services_spark.cdc.generator import generate_changes

        wl = self.wl
        generate_changes(
            spark, wl.chunk_lsns * wl.chunks, n_convs=wl.n_convs,
            max_turns=50, n_hot=4, hot_pct=20, delete_pct=5, dup_one_in=20,
            invalid_one_in=wl.invalid_one_in, seed=self.seed, partitions=4,
        ).write.parquet(self.changes_dir)

    def prepare_oracle(self) -> None:
        """Per chunk, the key to look up after its commit, and the state
        after the last chunk, all from the oracle before any timing."""
        self.keys, state = [], None
        for c in range(self.wl.chunks):
            lo, hi = self.bounds(c)
            state = self.expected(hi)
            self.keys.append(self.pick_key(state, lo, hi, str(c)))
        self.final_state = (hi, state)

    def round(self, spark, changes, name: str, warm: bool = False) -> None:
        """One round on a fresh lake: the closed apply loop with a point
        lookup after every commit, the flush, the scans, the final
        compaction; untimed, the table against the oracle before and after
        the compaction. The warm-up round applies only the first
        ``WARM_CHUNKS`` chunks, scans once and skips the checks."""
        wl, s = self.wl, self.s
        app = self.bootstrap(spark, name)
        records = 0
        self.trace_on()
        for c in range(min(WARM_CHUNKS, wl.chunks) if warm else wl.chunks):
            chunk, lo, hi = self.chunk_df(changes, c)

            def commit(chunk=chunk, lo=lo, hi=hi, c=c):
                st = app.apply_chunk(chunk, lo, hi, batch_id=c,
                                     defer_lineage=True)
                app.maybe_compact()
                return st

            dt, st = self.timed("bench.chunk", commit)
            if dt is None:
                break  # later chunks would leave a gap in the LSN order
            s.commit_ms.append(dt * 1000.0)
            s.apply_s += dt
            records += st.n_events + st.n_quarantined
            self.lookup(app.target, self.keys[c])
        dt, _ = self.timed("bench.flush", app.flush_lineage)
        s.apply_s += dt or 0.0
        for _ in range(1 if warm else SCANS):
            dt, _ = self.timed("bench.scan", lambda: app.target.read().write
                               .format("noop").mode("overwrite").save())
            if dt is not None:
                s.scan_s.append(dt)
        self.trace_off()

        if not warm:
            hi, state = self.final_state
            if app.committed_lsn() != hi:  # a commit failed: check the rest
                hi = app.committed_lsn()
                state = self.expected(-1 if hi is None else hi)
            self.check(app, state, f"{name} before the final compaction")
        self.trace_on()
        dt, _ = self.timed("bench.compact", app.target.compact)
        s.compact_s += dt or 0.0
        self.trace_off()

        s.records += records
        lake = os.path.join(self.work, name)
        if records:
            s.bytes_per_event.append(dir_bytes(lake) / records)
        if not warm:
            self.check(app, state, f"{name} after the final compaction")
        if self.tracer is not None:
            s.metrics_rows.append(app.metrics.read().toPandas())
        shutil.rmtree(lake, ignore_errors=True)

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        t0 = time.perf_counter()
        spark = self.start_session()
        session_s = time.perf_counter() - t0
        self.jvm_pid = int(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        try:
            return self._run(spark, session_s)
        finally:
            self.stop(spark)

    def _run(self, spark, session_s: float) -> dict:
        t0 = time.perf_counter()
        self.generate(spark)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.prepare_oracle()
        oracle_s = time.perf_counter() - t0
        changes = spark.read.parquet(self.changes_dir)

        # setup: session start + one unchecked warm-up round + the
        # median of several bare lake bootstraps
        t0 = time.perf_counter()
        self.round(spark, changes, "warm", warm=True)
        warm_s = time.perf_counter() - t0
        if self.s.failed:
            raise RuntimeError("the warm-up round failed")
        boot_s = []
        for r in range(BOOTSTRAPS):
            t0 = time.perf_counter()
            self.bootstrap(spark, f"boot{r}")
            boot_s.append(time.perf_counter() - t0)
            shutil.rmtree(os.path.join(self.work, f"boot{r}"))
        setup_s = session_s + warm_s + median(boot_s)
        log(f"session {session_s:.2f}s, generate {gen_s:.2f}s, "
            f"oracle {oracle_s:.2f}s, warm-up {warm_s:.2f}s, "
            f"bootstrap {median(boot_s):.4f}s")

        if self.trace:
            from cdcbench.ledger import Tracer

            sc = spark.sparkContext
            self.tracer = Tracer(lambda path: sc.setLocalProperty(
                "spark.job.description", path or None))
        self.s = s = Samples()
        gc0 = self.jvm_gc_s(spark)
        self.jvm_heap_peak_mb(spark, reset=True)
        cpu0 = time.process_time()
        steal0 = procstat.host_steal_s()
        rounds = max(1, round(self.seconds / ROUND_S))
        for r in range(rounds):
            self.round(spark, changes, f"lake{r}")
            if s.failed:
                break
        heap_mb = self.jvm_heap_peak_mb(spark)
        workers = procstat.python_workers(self.jvm_pid)
        # the engine's processes only: the Python driver also holds the
        # benchmark's oracle and its pandas copies of the table
        rss_parts = [procstat.vm_hwm_mb(self.jvm_pid),
                     sum(procstat.vm_hwm_mb(p) for p in workers)]
        rss = sum(rss_parts)

        def med(xs):
            return median(xs) if xs else None

        e2e = {
            "setup_s": (setup_s, "s"),
            "apply_events_per_s": (s.records / s.apply_s if s.apply_s else None,
                                   "events/s"),
            "e2e_events_per_s": (s.records / (s.apply_s + s.compact_s)
                                 if s.apply_s else None, "events/s"),
            "commit_ms_p50": (med(s.commit_ms), "ms"),
            "lookup_ms_p50": (med(s.lookup_ms), "ms"),
            "scan_s": (med(s.scan_s), "s"),
            "lake_bytes_per_event": (med(s.bytes_per_event), "B/event"),
            "peak_rss_mb": (rss, "MB"),
            **tail_metrics(s.commit_ms, s.lookup_ms),
        }
        self.facts = {
            "rounds": rounds, "records": s.records,
            "chunks": len(s.commit_ms), "lookups": len(s.lookup_ms),
            "measured_s": s.measured_s, "apply_s": s.apply_s,
            "compact_s": s.compact_s, "session_s": session_s,
            "generate_s": gen_s, "oracle_s": oracle_s, "warm_s": warm_s,
            "commit_ms": s.commit_ms, "lookup_ms": s.lookup_ms,
            "scan_s": s.scan_s, "gc_s": self.jvm_gc_s(spark) - gc0,
            "py_cpu_s": time.process_time() - cpu0, "oracle": s.oracle,
            "host_steal_s": procstat.host_steal_s() - steal0,
            "rss_jvm_workers_mb": rss_parts, "workers": len(workers),
            "jvm_heap_peak_mb": heap_mb,
            "rss_py_driver_mb": procstat.vm_hwm_mb(os.getpid()),
        }
        return e2e

    @staticmethod
    def jvm_gc_s(spark) -> float:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1e3

    @staticmethod
    def jvm_heap_peak_mb(spark, reset: bool = False) -> float:
        """Sum of the heap memory pools' peak use since their last reset, in
        MB; ``reset`` starts a new peak."""
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        pools = [p for p in mf.getMemoryPoolMXBeans()
                 if p.getType().name() == "HEAP"]
        peak = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        if reset:
            for p in pools:
                p.resetPeakUsage()
        return peak

    def stop(self, spark) -> None:
        """Stop Spark and wait for the JVM and its Python workers to exit."""
        from pyspark import SparkContext

        workers = procstat.python_workers(self.jvm_pid)
        gateway = SparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # already closed: nothing left to release
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for p in workers:
            while procstat.alive(p) and time.monotonic() < deadline:
                time.sleep(0.05)
            if procstat.alive(p):
                os.kill(p, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured seconds; sets the round count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_services_spark")):
        log(f"engine package data_services_spark not found under {ROOT}")
        return 2
    base = os.path.join(ROOT, ".cdcbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (the spark-submit launcher too) keeps its
    # temp files in the checkout and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for k in _ENGINE_ENV:
        os.environ.pop(k, None)

    run = Run(WORKLOADS[args.workload], args.seed, args.seconds,
              bool(args.trace), work)
    try:
        metrics = run.run()
        if args.trace:
            from cdcbench.layers import per_layer_metrics

            metrics, record = per_layer_metrics(
                run, os.path.join(work, "eventlog"), metrics)
            out = os.path.join(base, "traces")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(
                    out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(json.dumps(run.facts))
    for p in run.problems:
        log(f"FAILED CHECK: {p}")
    correct = not run.problems
    print(json.dumps({
        "correct": correct,
        "attempted": run.s.attempted,
        "failed": run.s.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if v is not None},
    }))
    return 0 if correct and run.s.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd

from cdcbench.run import Run
from cdcbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def test_failed_operations_are_counted_not_raised(tmp_path):
    run = Run(WORKLOADS["binlog_tail"], seed=1, seconds=1, trace=False,
              work=str(tmp_path))
    assert run.timed("bench.lookup", lambda: 1 / 0) == (None, None)
    dt, result = run.timed("bench.lookup", lambda: 42)
    assert result == 42 and dt >= 0
    assert (run.s.attempted, run.s.failed) == (2, 1)


def fake_app(table: pd.DataFrame) -> SimpleNamespace:
    """A stand-in applier whose ``target.read().toPandas()`` is ``table``."""
    frame = SimpleNamespace(toPandas=lambda: table)
    return SimpleNamespace(target=SimpleNamespace(read=lambda: frame))


def test_an_oracle_mismatch_fails_the_run_by_name(tmp_path):
    """The table read through ``LakeTable.read`` (merge-on-read, before the
    final compaction) is compared with the oracle's state."""
    run = Run(WORKLOADS["binlog_tail"], seed=1, seconds=1, trace=False,
              work=str(tmp_path))
    state = pd.DataFrame({"conv_id": ["a", "b"], "turn_idx": [0, 0],
                          "lsn": [3, 4]})
    stale = state.assign(lsn=[3, 1])  # an older layer's row won the merge
    run.check(fake_app(stale), state, "lake0 before the final compaction")
    run.check(fake_app(state), state, "lake0 after the final compaction")
    assert len(run.problems) == 1
    assert run.problems[0].startswith(
        "lake0 before the final compaction: oracle mismatch: column lsn")


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints nothing on standard output."""
    shutil.copytree(os.path.dirname(HERE), tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "binlog_tail",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
    assert "data_services_spark not found" in p.stderr

"""Copy-on-write apply: the merge-on-read chunk write followed by
compaction of the chunk's affected buckets.

These tests pin down that a COW replay — through the API and through the
``replay_job --apply-mode cow`` CLI — leaves every bucket it touched without
delta layers, records a metrics row per applied chunk, and ends in the
DuckDB oracle's state.
"""

from __future__ import annotations

import json

import pytest

from data_services_spark.cdc.apply import CdcApplier
from data_services_spark.cdc.generator import generate_changes
from data_services_spark.cdc.oracle import expected_final_state, table_state_matches


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cow_changes") / "changes.parquet")
    generate_changes(
        spark, 5000, n_convs=120, max_turns=16, n_hot=2, hot_pct=25,
        delete_pct=8, invalid_one_in=97, seed=31,
    ).write.parquet(p)
    return p


def test_cow_replay_leaves_no_delta_layers(spark, changes_path, tmp_path):
    applier = CdcApplier.bootstrap(
        spark, str(tmp_path / "lake"), bucket_count=8, mode="cow",
        compact_threshold=None,  # only the COW step itself may compact
    )
    stats = applier.replay(spark.read.parquet(changes_path), chunk_size=1500)
    applied = [s for s in stats if not s.skipped]
    touched = {b for s in applied for b in s.affected_buckets}
    assert len(applied) >= 3 and touched

    snap = applier.target.snapshot()
    assert not any(snap.delta_files.get(str(b)) for b in touched)
    # a chunk's snapshot id is its last commit: the compaction
    assert snap.snapshot_id == applied[-1].snapshot_id
    assert snap.operation == "compact"
    assert applier.metrics.read().count() == len(applied)

    ok, msg = table_state_matches(
        applier.target.read().toPandas(), expected_final_state(changes_path)
    )
    assert ok, msg


def test_replay_job_cow_cli(spark, changes_path, tmp_path, capsys):
    from data_services_spark.jobs import replay_job

    root = str(tmp_path / "lake")
    rc = replay_job.main([
        "--root", root, "--changes", changes_path, "--chunk-size", "2000",
        "--apply-mode", "cow", "--compact-threshold", "0", "--verify-oracle",
    ])
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["oracle_match"], lines[-1]["oracle_msg"]
    assert lines[-1]["chunks"] >= 2
    snap = CdcApplier.load(spark, root).target.snapshot()
    assert not any(snap.delta_files.values())

"""The benchmark's workloads. Later changes refer to them by name.

Every workload drives one closed loop: the next chunk is handed to the
engine only after the previous commit (and the point lookup of a live key
that follows every commit) returned. Inputs come from
``cdc.generator.generate_changes`` with the run's ``--seed``: 20% of events
on 4 hot conversations, 5% deletes, 1-in-20 redelivery, texts of 16-815
characters.
"""

from __future__ import annotations

from dataclasses import dataclass

BUCKETS = 16
# nominal measured seconds of one round of either workload: a run measures
# --seconds / ROUND_S rounds, so the round count never depends on the speed
# of the engine under test
ROUND_S = 16


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    chunk_lsns: int        # LSN width of one chunk (~1.05 records per LSN)
    chunks: int            # chunks per round (each round on a fresh lake)
    n_convs: int           # key space = n_convs x 50 turns
    invalid_one_in: int    # invalid-row trickle (0 = none) -> quarantine


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="bulk_backfill",
            why="three ~200k-event chunks per round: scan, validate, LWW "
                "aggregate, exchange and bucketed write dominate, then the "
                "final compaction",
            chunk_lsns=200_000, chunks=3, n_convs=10_000,
            invalid_one_in=0,
        ),
        Workload(
            name="binlog_tail",
            why="six ~1k-event chunks per round with a 1% invalid-row "
                "trickle and a live-key lookup after every commit: per-commit "
                "fixed cost, quarantine appends and read amplification",
            chunk_lsns=1_000, chunks=6, n_convs=2_000,
            invalid_one_in=101,
        ),
    )
}

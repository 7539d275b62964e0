"""CDC apply-loop benchmark: workloads, the traced per-layer ledger and the
single-command runner (``python3 cdcbench/run.py --workload NAME ...``)."""

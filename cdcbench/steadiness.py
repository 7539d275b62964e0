"""Repeat a workload over several seeds and report each metric's spread.

    python3 cdcbench/steadiness.py --workload binlog_tail --seeds 1-10 \
        --seconds 16 --out cdcbench/results/steadiness-binlog_tail.json

Spread = (third quartile - first quartile) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them; a metric's spread must stay
within its ``bound`` in ``BENCHMARK.json`` (``setup_s`` excepted).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--out", help="write runs and spreads to this JSON file")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, "cdcbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.monotonic() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        result = json.loads(last)
        facts = [ln for ln in p.stderr.splitlines()
                 if ln.startswith("[cdcbench] {")]
        runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall,
                     **result,
                     "facts": json.loads(facts[-1][11:]) if facts else None})
        print(f"seed {seed}: exit {p.returncode}, {wall:.1f}s, "
              f"correct={result.get('correct')}", file=sys.stderr, flush=True)
    ok = [r for r in runs if r.get("correct")]
    table = {}
    for name in bounds:
        vals = [r["metrics"][name]["value"] for r in ok if name in r["metrics"]]
        if len(vals) >= 2:
            table[name] = {"median": statistics.median(vals),
                           "spread": spread(vals), "bound": bounds[name],
                           "n": len(vals)}
    report = {"workload": args.workload, "seconds": args.seconds,
              "seeds": args.seeds, "spreads": table, "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    for name, t in table.items():
        flag = "" if t["spread"] <= t["bound"] / 3 or name == "setup_s" else "  <-- over bound/3"
        print(f"{name:24s} median {t['median']:12.4f}  spread {t['spread']:.4f}"
              f"  bound {t['bound']}{flag}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())

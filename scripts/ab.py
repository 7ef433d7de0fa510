"""Interleaved A/B of two checkouts on one benchmark workload.

    python3 scripts/ab.py BASE_DIR CHANGE_DIR --workload late_repair \\
        --pairs 10 [--seconds 10] [--seed0 1] [--log runs.jsonl]

BASE_DIR and CHANGE_DIR are two checkouts of the repo (for example two
``git worktree``s of ``HEAD~1`` and ``HEAD``). Each pair runs
``benchmark/run.py`` once from each checkout with the same seed
(``seed0 + i``), the order alternating from pair to pair so that
neither side always runs first on a warming or drifting host.

For every end-to-end metric in the base checkout's ``BENCHMARK.json``
it prints each side's median and quartiles, the median ratio
(change ÷ base) and the share of pairs the change won, in the metric's
``better`` direction. A pair whose run failed (printed no result) or
was incorrect is left out of the comparison; its line names the failing
side(s), and the summary counts failures per side. Nothing is written under either
checkout's ``benchmark/``; ``--log`` appends every run's result line to
a JSON-lines file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int,
             seconds: float) -> dict | None:
    """One benchmark run; its result object, or None if it printed none."""
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def summary(xs: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    q1, med, q3 = (statistics.quantiles(xs, n=4) if len(xs) > 1
                   else (xs[0], xs[0], xs[0]))
    return med, q1, q3


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", type=Path)
    p.add_argument("change", type=Path)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--log", type=Path)
    args = p.parse_args(argv)

    spec = json.loads((args.base / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    sides = {"base": args.base, "change": args.change}
    pairs: list[dict[str, dict]] = []
    failed = {side: 0 for side in sides}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {}
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"pair": i, "seed": seed,
                                        "side": side, "result": res}) + "\n")
            pair[side] = res
        bad = {s: "no result" if r is None else "incorrect"
               for s, r in pair.items() if r is None or not r["correct"]}
        for side in bad:
            failed[side] += 1
        print(f"pair {i} seed {seed} {'/'.join(order)}: " + (
            "FAILED (left out): " + ", ".join(
                f"{side} {why}" for side, why in bad.items()
            ) if bad else " ".join(
                f"{name}={pair['base']['metrics'][name]['value']:.3f}"
                f"->{pair['change']['metrics'][name]['value']:.3f}"
                for name in better
            )
        ), flush=True)
        if not bad:
            pairs.append({s: {k: v["value"] for k, v in r["metrics"].items()}
                          for s, r in pair.items()})

    print(f"\n{args.workload}: {len(pairs)} pairs compared, "
          f"{args.pairs - len(pairs)} left out (failed runs: "
          f"base {failed['base']}, change {failed['change']})")
    if not pairs:
        return 1
    print(f"{'metric':8} {'base median [q1, q3]':>26} "
          f"{'change median [q1, q3]':>26} {'ratio':>6} {'won':>6}")
    for name, direction in better.items():
        base = [pr["base"][name] for pr in pairs]
        change = [pr["change"][name] for pr in pairs]
        sign = 1 if direction == "lower" else -1
        won = sum(sign * (c - b) < 0 for b, c in zip(base, change))
        bm, bq1, bq3 = summary(base)
        cm, cq1, cq3 = summary(change)
        print(f"{name:8} {bm:10.3f} [{bq1:6.3f}, {bq3:6.3f}] "
              f"{cm:10.3f} [{cq1:6.3f}, {cq3:6.3f}] "
              f"{cm / bm:6.3f} {won:2d}/{len(pairs):<3d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

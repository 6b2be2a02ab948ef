"""Alternating parent/change pairs of the benchmark, and the gain verdict.

    python3 scripts/bench_pairs.py --parent ../parent --change . \\
        --workload batch_full --workload stream_catchup \\
        --pairs 10 --seed 1 --seconds 24 --log pairs.jsonl

Each pair runs ``python3 perfbench/run.py --workload W --seed S --seconds X
--trace 0`` once in each checkout (for example a ``git worktree`` of the
parent commit next to the working tree), alternating which side runs first.
Every run's result line is appended to ``--log``; the summary is computed
from every complete pair of that seed in the log, so ``--pairs 0`` only
prints it again.

For each workload and end-to-end metric of the change's ``BENCHMARK.json``
it prints both sides' median and quartiles, the pairs the change won (ties
count for neither), whether the change's median is worse than the parent's
by more than the metric's bound, and the gain verdict: the change wins at
least nine tenths of the pairs and the medians differ by more than the
distance between the parent's quartiles. A metric whose parent runs spread
wider than its bound (quartile distance over median) is printed
``UNRESOLVED`` in place of ``within bound``, unless every change run reads
better than every parent run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def parse_args(argv):
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("--parent", type=Path, required=True, help="parent checkout")
    p.add_argument("--change", type=Path, required=True, help="changed checkout")
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--pairs", type=int, required=True, help="pairs to add to the log")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=24.0)
    p.add_argument("--log", type=Path, required=True, help="JSON-lines run log")
    return p.parse_args(argv)


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run; its last stdout line is the result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} in {checkout} exited {r.returncode}: {r.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs: list) -> tuple:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records: list, end_to_end: list, workloads: list) -> list:
    """One row per (workload, metric) over the complete pairs of one seed."""
    rows = []
    for wl in workloads:
        pairs: dict = {}
        for rec in records:
            if rec["workload"] == wl:
                pairs.setdefault(rec["pair"], {})[rec["side"]] = rec["result"]
        done = [p for p in pairs.values() if len(p) == 2]
        if not done:
            continue
        for m in end_to_end:
            name, lower = m["name"], m["better"] == "lower"
            par = [p["parent"]["metrics"][name]["value"] for p in done]
            chg = [p["change"]["metrics"][name]["value"] for p in done]
            wins = sum((c < q) if lower else (c > q) for q, c in zip(par, chg))
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            gap = (pmed - cmed) if lower else (cmed - pmed)
            worse = -gap / pmed if pmed else 0.0
            spread = (pq3 - pq1) / pmed if pmed else 0.0
            beats_all = max(chg) < min(par) if lower else min(chg) > max(par)
            rows.append({
                "workload": wl, "metric": name, "unit": m["unit"], "pairs": len(done),
                "parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
                "wins": wins, "over_bound": worse > m["bound"],
                "unresolved": spread > m["bound"] and not beats_all,
                "gain": wins >= 0.9 * len(done) and gap > pq3 - pq1,
                "correct": all(p[s]["correct"] and p[s]["failed"] == 0 for p in done for s in SIDES),
            })
    return rows


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    checkouts = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    bench = json.loads((checkouts["change"] / "BENCHMARK.json").read_text())
    records = []
    if args.log.exists():
        records = [json.loads(x) for x in args.log.read_text().splitlines() if x.strip()]
    start = 1 + max((r["pair"] for r in records if r["seed"] == args.seed), default=0)
    for pair in range(start, start + args.pairs):
        # odd pairs run the parent first, even pairs the change
        order = SIDES if pair % 2 else SIDES[::-1]
        for wl in args.workload:
            for side in order:
                result = run_once(checkouts[side], wl, args.seed, args.seconds)
                rec = {"workload": wl, "seed": args.seed, "pair": pair, "side": side, "result": result}
                records.append(rec)
                with args.log.open("a") as f:
                    f.write(json.dumps(rec) + "\n")
                wall = result["metrics"]["job_wall_s"]["value"]
                print(f"pair {pair} {wl} {side}: job_wall_s={wall:.2f}", file=sys.stderr)
    seeded = [r for r in records if r["seed"] == args.seed]
    rows = summarize(seeded, bench["end_to_end"], args.workload)
    for r in rows:
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
        bound = (
            "OVER BOUND" if r["over_bound"]
            else "UNRESOLVED" if r["unresolved"] else "within bound"
        )
        print(
            f"{r['workload']:<15} {r['metric']:<17} parent {fmt(r['parent'])}  "
            f"change {fmt(r['change'])} {r['unit']}  wins {r['wins']}/{r['pairs']}  "
            f"{bound}  "
            f"{'GAIN' if r['gain'] else 'no gain'}"
            f"{'' if r['correct'] else '  INCORRECT RUNS'}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

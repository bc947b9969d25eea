"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 scripts/perfbench_ab.py BASE CHANGE --workload crawl_rounds \
        --seeds 11 12 13 14 15 16 17 18 19 20

For every seed it runs one untraced ``perfbench/run.py`` pair, one run in
each checkout, and alternates which side runs first (seed 1: BASE first,
seed 2: CHANGE first, ...) so drift on a shared host falls on both sides.
Each run gets BASE's ``run_seconds`` from ``BENCHMARK.json``, the same
on both sides.  For each end-to-end metric in BASE's ``BENCHMARK.json`` it then
prints each side's median and quartiles, how many pairs the change won
(ties count for neither side) and a verdict by this rule:

- ``gain``: the change won at least nine tenths of the pairs run (a
  pair with a failed run counts as run and not won) AND the medians
  differ, in the better direction, by more than the distance between
  BASE's quartiles AND the change has no more failed runs, and no more
  failed operations summed over its runs, than BASE;
- ``regressed``: the change's median is worse than BASE's by more than
  the metric's bound;
- ``unresolved``: either side's quartile spread, relative to its
  median, is wider than the bound, unless every change run beats every
  BASE run;
- ``same`` otherwise.

Medians and quartiles are taken over the pairs where both runs printed a
result; a run that exits non-zero, times out (after ``RUN_TIMEOUT_S``) or
reports ``correct: false`` is listed and counts as failed.
Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 900.0  # per perfbench run; a run past it counts as failed


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``checkout``: its result line plus
    the wall time of the whole process."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"ok": False, "error": f"timeout after {RUN_TIMEOUT_S:.0f} s",
                "wall_s": time.time() - t0}
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"ok": False, "error": f"exit {proc.returncode}: {proc.stderr[-400:]}",
                "wall_s": wall}
    res = json.loads(lines[-1])
    values = {name: m["value"] for name, m in res["metrics"].items()}
    return {"ok": bool(res["correct"]), "values": values, "wall_s": wall,
            "failed": res["failed"], "attempted": res["attempted"]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def verdict(base: list[float], change: list[float], better: str, bound: float,
            pairs_run: int, change_fails_more: bool) -> dict:
    """Median/quartiles per side, wins and the verdict for one metric over
    the usable pairs (``base[i]`` and ``change[i]`` ran as one pair);
    ``pairs_run`` counts every pair run, usable or not."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    bq, cq = quartiles(base), quartiles(change)
    b_med, c_med = bq[1], cq[1]
    gap = sign * (c_med - b_med)  # > 0: the change's median is better
    if wins >= 0.9 * pairs_run and gap > bq[2] - bq[0] and not change_fails_more:
        word = "gain"
    elif -gap > bound * abs(b_med):
        word = "regressed"
    elif max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (bq, cq)) > bound and not (
        min(sign * c for c in change) > max(sign * b for b in base)
    ):
        word = "unresolved"
    else:
        word = "same"
    return {"base": bq, "change": cq, "wins": wins, "pairs": pairs_run,
            "delta": (c_med - b_med) / b_med if b_med else 0.0, "verdict": word}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.base, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = bench["end_to_end"]
    sides = {"base": args.base, "change": args.change}
    runs: list[dict] = []
    for i, seed in enumerate(args.seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], args.workload, seed, bench["run_seconds"])
            r = pair[side]
            shown = {k: round(v, 3) for k, v in r.get("values", {}).items()}
            print(f"seed {seed} {side:6s} wall={r['wall_s']:.1f}s ok={r['ok']} "
                  f"{shown or r.get('error')}", flush=True)
        runs.append(pair)

    good = [p for p in runs if p["base"]["ok"] and p["change"]["ok"]]
    bad = [(p["seed"], s) for p in runs for s in sides if not p[s]["ok"]]
    print(f"\n{args.workload}: {len(good)} of {len(runs)} pairs usable; "
          f"failed runs: {bad or 'none'}")

    def failures(side: str) -> tuple[int, int]:
        """(failed runs, failed operations summed over the runs)."""
        return (sum(not p[side]["ok"] for p in runs),
                sum(p[side].get("failed", 0) for p in runs))

    fb, fc = failures("base"), failures("change")
    change_fails_more = fc[0] > fb[0] or fc[1] > fb[1]
    if good:
        print(f"{'metric':12s} {'base median [Q1, Q3]':>30s} {'change median [Q1, Q3]':>30s} "
              f"{'delta':>7s} {'wins':>6s}  verdict")
        for m in spec:
            name = m["name"]
            b = [p["base"]["values"][name] for p in good]
            c = [p["change"]["values"][name] for p in good]
            v = verdict(b, c, m["better"], m["bound"], len(runs), change_fails_more)
            print(f"{name:12s} {fmt(v['base']):>30s} {fmt(v['change']):>30s} "
                  f"{v['delta']:+7.1%} {v['wins']:>2d}/{v['pairs']:<3d}  {v['verdict']}")
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())

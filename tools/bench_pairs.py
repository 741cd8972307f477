#!/usr/bin/env python3
"""Interleaved parent/change runs of the repository benchmark.

Usage (from anywhere):
  python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds 11 12 ...
      [--seconds S] [--trace 0|1] [--out pairs.jsonl]

PARENT_DIR and CHANGE_DIR are two checkouts (e.g. `git archive` of the parent
commit and the working tree). For each seed the script runs
`python3 perfbench/run.py` once in each checkout, alternating which side runs
first, so host-speed drift falls on both sides alike. It then prints, for every
metric of BENCHMARK.json (end-to-end with --trace 0, per-layer with --trace 1),
each side's median and quartiles, how many pairs the change won (ties count for
neither side), whether the medians differ by more than the parent's
interquartile range, and the failed/attempted operations of each side.

A gain is claimed only when at least ten pairs ran, the change won at least nine
tenths of them, and the medians differ by more than the parent's IQR (the pair rule); a metric
whose change median is worse than the parent's by more than its bound is
flagged.

Each checkout's benchmark stores an output fingerprint per workload and seed
under .bench_build/fingerprints/ and checks later runs only against its own.
After the pairs, the script compares the two checkouts' fingerprint files for
every seed run, prints each difference, and exits non-zero with "outputs
differ" when any file differs or exists on one side only. A workload that
writes no fingerprints (online_serving) is reported as not compared.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def run_side(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def fingerprint_diffs(sides, workload, seeds):
    """(files found, diffs): the number of fingerprint files of `workload` at
    `seeds` on either side, and (file name, parent text, change text) for
    every one that differs between the checkouts; None marks a file missing
    on that side."""
    found = 0
    diffs = []
    for seed in sorted(set(seeds)):
        texts = {}
        for side, checkout in sides.items():
            pattern = os.path.join(checkout, ".bench_build", "fingerprints",
                                   f"{workload}-{seed}-*.txt")
            for path in glob.glob(pattern):
                with open(path) as fh:
                    texts.setdefault(os.path.basename(path), {})[side] = fh.read()
        found += len(texts)
        for name, by_side in sorted(texts.items()):
            p, c = by_side.get("parent"), by_side.get("change")
            if p != c:
                diffs.append((name, p, c))
    return found, diffs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def cell(med, q1, q3):
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run's JSON result here")
    a = ap.parse_args()

    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}

    pairs = []  # (seed, {"parent": result|None, "change": result|None})
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_side(sides[side], a.workload, seed, seconds, a.trace)
            r = got[side]
            wall = r["metrics"].get("wall_s", {}).get("value") if r else None
            print(f"# pair {i + 1}/{len(a.seeds)} seed {seed} {side}: "
                  + ("run failed" if r is None else
                     f"failed {r['failed']}/{r['attempted']}"
                     + (f", wall_s {wall:.2f}" if wall is not None else "")),
                  file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"seed": seed, "side": side, "first": order[0],
                                         "result": r}) + "\n")
        pairs.append((seed, got))

    whole = [g for _, g in pairs if g["parent"] and g["change"]]
    for side in sides:
        runs = [g[side] for _, g in pairs if g[side]]
        print(f"{side}: {len(runs)}/{len(pairs)} runs finished, failed "
              f"{sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)} "
              f"operations, checks {'pass' if all(r['correct'] for r in runs) else 'FAIL'}")
    print(f"{len(whole)} complete pairs, workload {a.workload}, {seconds:g} s runs, "
          f"trace {a.trace}")
    print(f"{'metric':<32} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'wins':>6}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [g["parent"]["metrics"][name]["value"] for g in whole]
        c = [g["change"]["metrics"][name]["value"] for g in whole]
        if not p:
            continue
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        better = cmed < pmed if lower else cmed > pmed
        resolved = abs(cmed - pmed) > pq3 - pq1
        verdicts = []
        # at least ten pairs, won in nine tenths of ALL pairs run (a pair
        # with a failed run is no win)
        if better and resolved and wins >= 0.9 * len(pairs) >= 9:
            verdicts.append("GAIN (pair rule met)")
        elif better:
            verdicts.append("better, pair rule not met")
        elif cmed != pmed:
            verdicts.append("worse" + ("" if resolved else ", within parent IQR"))
        else:
            verdicts.append("same")
        bound = m.get("bound")
        if bound is not None and pmed:
            worse_by = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
            if worse_by > bound:
                verdicts.append(f"BOUND EXCEEDED ({worse_by:+.1%} vs {bound:.0%})")
        print(f"{name:<32} {cell(pmed, pq1, pq3):>30} {cell(cmed, cq1, cq3):>30} "
              f"{wins:>3}/{len(pairs):<3} {'; '.join(verdicts)}")

    found, diffs = fingerprint_diffs(sides, a.workload, a.seeds)
    seeds = " ".join(map(str, a.seeds))
    if not found:
        print(f"outputs not compared: no {a.workload} fingerprints exist for "
              f"seeds {seeds} on either side")
        return
    for name, p, c in diffs:
        print(f"fingerprint {name}: parent {p!r} vs change {c!r}")
    if diffs:
        print(f"outputs differ: {len(diffs)} fingerprint file(s)")
        sys.exit(1)
    print(f"outputs identical: fingerprints of seeds {seeds} match")


if __name__ == "__main__":
    main()

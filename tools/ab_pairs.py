#!/usr/bin/env python3
"""Interleaved parent/change A/B pairs of one perfbench workload.

Usage, from the repo root (PARENT is a checkout of the parent commit made
with `git clone` or `git archive`):

    python3 tools/ab_pairs.py --parent PARENT --workload batch_queries \\
        --seeds 201-210 [--out pairs.jsonl]
    python3 tools/ab_pairs.py --from pairs.jsonl      # re-print a finished set

Each seed is one pair: `perfbench/run.py --workload W --seed S --seconds T
--trace 0` runs once in each checkout, the parent first on odd seeds and
the change first on even ones. T is the change checkout's BENCHMARK.json
`run_seconds`, the run length the benchmark itself uses. Every run's
result line is appended to `--out` as soon as it finishes. The script then prints, for every
end-to-end metric of BENCHMARK.json, the BENCH_NOTES table row: each
side's median with its quartiles (q1-q3, inclusive method), the change
in the median, and the pairs the change won. Under the table it prints
the gain rule's verdict per metric: a gain needs a win in at least 9 of
every 10 pairs AND a median gain larger than the parent's quartile
spread (q3 - q1). It reads perfbench/ and BENCHMARK.json; it writes
nothing in either checkout beyond what run.py itself writes.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def benchmark(root):
    """BENCHMARK.json's run_seconds, and (name, better) of its end-to-end metrics."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["run_seconds"], [(m["name"], m["better"]) for m in spec["end_to_end"]]


def seeds(spec):
    """'201-210' or '201,203,205' -> a list of ints."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(checkout, workload, seed, seconds):
    """One untraced run.py call in `checkout`; its result line as a dict."""
    proc = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"[ab_pairs] run.py failed in {checkout} (seed {seed}, "
                 f"code {proc.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is its own spread."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(records, metrics):
    """The per-metric table and the gain-rule verdicts for a finished set."""
    pairs = {}
    for r in records:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    done = sorted(s for s, p in pairs.items() if {"parent", "change"} <= set(p))
    if not done:
        sys.exit("[ab_pairs] no complete pair")
    workload = pairs[done[0]]["parent"]["workload"]
    runs = [pairs[s][side]["result"] for s in done for side in ("parent", "change")]
    failed = sum(r["failed"] for r in runs)
    wrong = sum(1 for r in runs if not r["correct"])
    print(f"{workload}, seeds {', '.join(map(str, done))} "
          f"({len(done)} pairs, failed ops {failed}, runs not correct {wrong}):\n")
    print(f"| `{workload}` metric | parent median (q1–q3) | change median (q1–q3) "
          f"| median Δ | change better |")
    print("|---|---|---|---|---|")
    verdicts = []
    for name, better in metrics:
        par = [pairs[s]["parent"]["result"]["metrics"][name]["value"] for s in done]
        chg = [pairs[s]["change"]["result"]["metrics"][name]["value"] for s in done]
        sign = 1 if better == "lower" else -1
        won = sum(1 for p, c in zip(par, chg) if sign * (p - c) > 0)
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        delta = (cm - pm) / pm * 100 if pm else math.nan
        print(f"| {name} | {pm:.3f} ({p1:.3f}–{p3:.3f}) | {cm:.3f} ({c1:.3f}–{c3:.3f}) "
              f"| {delta:+.1f}% | {won}/{len(done)} |")
        gain, spread = sign * (pm - cm), p3 - p1
        meets = won * 10 >= 9 * len(done) and gain > spread
        verdicts.append(
            f"{name}: {'MEETS' if meets else 'does not meet'} the gain rule "
            f"(won {won}/{len(done)}, median gain {gain:.3f} against a parent "
            f"spread of {spread:.3f})")
    print()
    for v in verdicts:
        print(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this repo)")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="'201-210' or '201,203'")
    ap.add_argument("--out", help="append each run's record to this JSON-lines file")
    ap.add_argument("--from", dest="source", help="print the report of a finished JSON-lines file")
    args = ap.parse_args()
    seconds, metrics = benchmark(args.change)
    if args.source:
        with open(args.source) as fh:
            report([json.loads(l) for l in fh if l.strip()], metrics)
        return
    if not (args.parent and args.workload and args.seeds):
        ap.error("--parent, --workload and --seeds are required unless --from is given")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    records = []
    for seed in seeds(args.seeds):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            result = run_once(sides[side], args.workload, seed, seconds)
            rec = {"workload": args.workload, "seed": seed, "side": side, "result": result}
            records.append(rec)
            print(f"[ab_pairs] seed {seed} {side}: "
                  + " ".join(f"{n}={result['metrics'][n]['value']:.3f}" for n, _ in metrics)
                  + f" failed={result['failed']}", file=sys.stderr, flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
    report(records, metrics)


if __name__ == "__main__":
    main()

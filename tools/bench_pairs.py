#!/usr/bin/env python3
"""Paired benchmark comparison of two checkouts.

    python3 tools/bench_pairs.py --base ../parent --change . \\
        --workload adt_feed --seeds 1251-1260 --seconds 2 --out pairs.jsonl

Runs ``perfbench/run.py`` in each checkout once per seed and workload, in
alternating order: the base checkout runs first on even seeds, the change
first on odd ones. Each run's JSON result is appended to ``--out`` as it
arrives, so ``--load pairs.jsonl`` can summarise an interrupted or earlier
set without running anything.

For every workload and metric it prints each side's median and quartiles,
the change in the medians, and the pairs the change won (ties count for
neither side). ``claim`` reads ``yes`` when the change won at least nine
tenths of the pairs and the medians differ by more than the base's
interquartile distance, the rule for claiming a gain from paired runs.
Which direction is better comes from ``BENCHMARK.json`` in the change
checkout. The tool only reads the benchmark's output.
"""

import argparse
import json
import os
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quantile(xs, q):
    """Linear interpolation between closest ranks."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-1:] or [""]
        return {"error": "exit %d: %s" % (proc.returncode, tail[0])}
    return json.loads(lines[-1])


def collect(args):
    records = []
    sides = {"base": os.path.abspath(args.base),
             "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for workload in args.workload:
            for seed in parse_seeds(args.seeds):
                order = ("base", "change") if seed % 2 == 0 else ("change", "base")
                for side in order:
                    res = run_one(sides[side], workload, seed, args.seconds,
                                  args.trace)
                    rec = {"workload": workload, "seed": seed, "side": side,
                           "trace": args.trace, "result": res}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    records.append(rec)
                    print("%s seed %d %s: %s" % (
                        workload, seed, side,
                        res.get("error") or "ok (correct=%s, failed=%s)" % (
                            res.get("correct"), res.get("failed"))),
                        file=sys.stderr)
    return records


def summarise(records, better):
    runs = {}
    for r in records:
        res = r["result"]
        if "error" in res:
            continue
        runs.setdefault(r["workload"], {}).setdefault(r["seed"], {})[
            r["side"]] = res
    for workload in sorted(runs):
        pairs = {s: v for s, v in runs[workload].items()
                 if "base" in v and "change" in v}
        failed = sum(1 for r in records if r["workload"] == workload
                     and "error" in r["result"])
        # a run that failed its checks times a different amount of work
        for side in ("base", "change"):
            bad = sorted(s for s, v in pairs.items()
                         if not v[side].get("correct") or v[side].get("failed"))
            if bad:
                print("%s %s: incorrect or failed operations on seeds %s; "
                      "those pairs are left out" % (workload, side, bad))
        pairs = {s: v for s, v in pairs.items()
                 if all(v[side].get("correct") and not v[side].get("failed")
                        for side in ("base", "change"))}
        print("\n%s: %d pairs, seeds %s, %d runs exited with an error" % (
            workload, len(pairs), ",".join(map(str, sorted(pairs))), failed))
        if not pairs:
            continue
        names = sorted(set.intersection(*[
            set(v[side]["metrics"]) for v in pairs.values()
            for side in ("base", "change")]))
        print("  %-26s %22s %22s %8s %6s %5s" % (
            "metric", "base med [q1, q3]", "change med [q1, q3]", "delta",
            "won", "claim"))
        for name in names:
            b = [pairs[s]["base"]["metrics"][name]["value"] for s in pairs]
            c = [pairs[s]["change"]["metrics"][name]["value"] for s in pairs]
            sign = -1 if better.get(name, "lower") == "lower" else 1
            won = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
            bm, cm = quantile(b, 0.5), quantile(c, 0.5)
            iqr = quantile(b, 0.75) - quantile(b, 0.25)
            delta = (cm - bm) / bm if bm else float("nan")
            claim = won >= 0.9 * len(pairs) and sign * (cm - bm) > iqr
            print("  %-26s %8.3f [%.3f, %.3f] %8.3f [%.3f, %.3f] %+7.1f%% "
                  "%3d/%-2d %5s" % (
                      name, bm, quantile(b, 0.25), quantile(b, 0.75),
                      cm, quantile(c, 0.25), quantile(c, 0.75),
                      100 * delta, won, len(pairs),
                      "yes" if claim else "no"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change")
    ap.add_argument("--workload", action="append",
                    help="workload to run; repeat for several")
    ap.add_argument("--seeds", default="1-10",
                    help="seeds as ranges, e.g. 1251-1260 or 3,5,8-9")
    ap.add_argument("--seconds", type=int, default=2)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="bench_pairs.jsonl",
                    help="file the run results are appended to")
    ap.add_argument("--load", help="summarise this results file; run nothing")
    args = ap.parse_args()
    if args.load:
        with open(args.load) as f:
            records = [json.loads(l) for l in f if l.strip()]
    else:
        if not args.base or not args.workload:
            ap.error("--base and --workload are needed to run pairs")
        records = collect(args)
    summarise(records, directions(args.change))


if __name__ == "__main__":
    main()

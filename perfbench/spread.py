#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and comparison of two sets.

    python3 perfbench/spread.py run --workload trickle --seeds 1-10 --out a.json
    python3 perfbench/spread.py compare a.json b.json

`run` calls perfbench/run.py once per seed (--trace 0, BENCHMARK.json's
run_seconds) and reports, per metric, the median, the quartiles
(statistics.quantiles, n=4) and the spread: the quartile distance as a
share of the median, next to the metric's bound. `compare` checks that the
second set's medians are not worse than the first's by more than each
metric's bound. It refuses sets measured on different core counts, heap
sizes or Spark masters: their figures are not comparable.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values, identities, wrong, failed = {}, set(), 0, 0
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        last = json.loads(p.stdout.strip().splitlines()[-1])
        wrong += not last["correct"]
        failed += last["failed"]
        with open(os.path.join(BENCH, "target", "results",
                               f"{args.workload}-s{seed}-t0.json")) as f:
            ident = json.load(f)["identity"]
        identities.add((ident["nproc"], ident["heap_mb"], ident["master"]))
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}"
                                           for k, v in last["metrics"].items()), flush=True)
    if len(identities) != 1:
        raise SystemExit(f"runs disagree on identity: {identities}")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"workload": args.workload, "seeds": args.seeds, "wrong_runs": wrong,
              "failed_operations": failed,
              "identity": dict(zip(["nproc", "heap_mb", "master"], identities.pop())),
              "metrics": {}}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        report["metrics"][k] = {"values": vs, "median": med, "q1": q1, "q3": q3,
                                "spread": spread, "bound": bounds[k]}
        flag = "ok" if spread <= bounds[k] / 3 else ("within bound" if spread <= bounds[k] else "TOO WIDE")
        print(f"{k:<20} median {med:12.5g}  spread {spread:6.3f}  bound {bounds[k]:.2f}  {flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


def compare(args):
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    if a["identity"] != b["identity"]:
        raise SystemExit(f"not comparable: {a['identity']} vs {b['identity']}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    worse = 0
    for k, ma in a["metrics"].items():
        mb = b["metrics"][k]
        change = (mb["median"] - ma["median"]) / ma["median"]
        if better[k] == "higher":
            change = -change
        bad = change > ma["bound"]
        worse += bad
        print(f"{k:<20} {ma['median']:12.5g} -> {mb['median']:12.5g}  "
              f"worse by {change:+.3f} (bound {ma['bound']:.2f}){'  WORSE' if bad else ''}")
    raise SystemExit(1 if worse else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    run(args) if args.cmd == "run" else compare(args)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compare two source trees on askbench with alternating paired runs.

    python3 scripts/askbench_pairs.py BASE_TREE CHANGE_TREE \
        --workloads chat,live --seeds 11-20 --seconds 12 [--trace 0|1] [--out runs.jsonl]
    python3 scripts/askbench_pairs.py BASE_TREE CHANGE_TREE --report runs.jsonl

Each tree is a full checkout, for example a `git archive` copy of a parent
commit and of the change. For every workload and seed the script runs
`python3 askbench/run.py` once in each tree, one after the other; the tree
that goes first alternates from pair to pair, so a slow stretch of the
machine hits both sides. It runs the benchmark exactly as `run.py` does and
changes none of its settings or outputs: each tree builds and writes its
own `askbench/target` and `askbench/out`.

Per workload and metric it prints each side's median, first and third
quartile and IQR / median spread, the relative change of the medians, and
in how many pairs the change was better (the direction comes from the
change tree's BENCHMARK.json). It also prints `ops_failed` per side. With
`--out`, every run's result is appended as one JSON line
(`{"workload", "seed", "side", "result"}`); `--report` prints the tables
from such a file without running anything.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def directions(tree):
    bench = json.loads((tree / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run_once(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "askbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"askbench failed in {tree} ({workload}, seed {seed})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(workload, runs, better):
    """`runs`: one (base, change) pair of results per seed."""
    print(f"\n== {workload}: {len(runs)} pairs ==")
    for side, i in (("base", 0), ("change", 1)):
        failed = [int(r[i].get("failed", 0)) for r in runs]
        print(f"ops_failed {side}: {failed}")
    names = sorted(set().union(*(r[0]["metrics"].keys() & r[1]["metrics"].keys() for r in runs)))
    head = (f"{'metric':34} {'base median [q1, q3]':>30} {'spread':>7} "
            f"{'change median [q1, q3]':>30} {'spread':>7} {'delta':>8} {'wins':>6}")
    print(head)
    for name in names:
        pairs = [(r[0]["metrics"][name]["value"], r[1]["metrics"][name]["value"]) for r in runs
                 if name in r[0]["metrics"] and name in r[1]["metrics"]]
        cols = []
        meds = []
        for i in (0, 1):
            q1, med, q3 = quartiles([p[i] for p in pairs])
            spread = (q3 - q1) / abs(med) if med else float("nan")
            cols.append(f"{med:>12.4g} [{q1:.4g}, {q3:.4g}]".rjust(30) + f" {spread:7.3f}")
            meds.append(med)
        delta = (meds[1] - meds[0]) / abs(meds[0]) if meds[0] else float("nan")
        way = better.get(name)
        if way == "higher":
            wins = f"{sum(c > b for b, c in pairs)}/{len(pairs)}"
        elif way == "lower":
            wins = f"{sum(c < b for b, c in pairs)}/{len(pairs)}"
        else:
            wins = "-"
        print(f"{name:34} {cols[0]} {cols[1]} {delta:+8.3f} {wins:>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", type=Path, help="source tree of the parent")
    ap.add_argument("change", type=Path, help="source tree of the change")
    ap.add_argument("--workloads", default="chat,live")
    ap.add_argument("--seeds", default="11-20", help="e.g. 11-20 or 2,5,7-9")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", type=Path, help="append every run's result here as JSON lines")
    ap.add_argument("--report", type=Path, help="only print the tables of an --out file")
    a = ap.parse_args()
    trees = (a.base.resolve(), a.change.resolve())
    for t in trees:
        if not (t / "askbench" / "run.py").is_file():
            raise SystemExit(f"{t} has no askbench/run.py")
    better = directions(trees[1])
    if a.report:
        done = {}
        for line in a.report.read_text().splitlines():
            r = json.loads(line)
            done.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r["result"]
        for workload, by_seed in done.items():
            report(workload, [(p["base"], p["change"]) for _, p in sorted(by_seed.items())
                              if len(p) == 2], better)
        return
    for workload in a.workloads.split(","):
        runs = []
        for n, seed in enumerate(seeds(a.seeds)):
            order = (0, 1) if n % 2 == 0 else (1, 0)
            pair = [None, None]
            for i in order:
                pair[i] = run_once(trees[i], workload, seed, a.seconds, a.trace)
                if a.out:
                    with a.out.open("a") as f:
                        f.write(json.dumps({"workload": workload, "seed": seed,
                                            "side": ("base", "change")[i],
                                            "result": pair[i]}) + "\n")
            runs.append(tuple(pair))
            print(f"{workload} seed {seed} done", file=sys.stderr, flush=True)
        report(workload, runs, better)


if __name__ == "__main__":
    main()

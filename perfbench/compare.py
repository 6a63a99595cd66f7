"""Compare two sets of benchmark runs, or report the spread of one.

Run pairs, alternating which side goes first, and report:

    python3 perfbench/compare.py run --a <checkout> --b <checkout> --pairs 10 --out runs.jsonl

Report on recorded runs (one side gives the spread alone):

    python3 perfbench/compare.py report runs.jsonl

Each line of a runs file is {"side", "workload", "seed", "pair", "result"},
where "result" is the last line run.py printed. For every workload and
end-to-end metric the report prints each side's median and quartiles and a
verdict against the bound in BENCHMARK.json:

* unresolved   either side's spread (quartile distance over median) is
               wider than the bound, and B does not beat A on every run;
* regression   B's median is worse than A's by more than the bound;
* improved     B wins at least nine pairs in ten and the medians differ by
               more than A's quartile distance;
* same         otherwise.

A differing share of failed operations between the sides is reported too.
"""

import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_pairs(args):
    b = bench()
    workloads = args.workloads or [w["name"] for w in b["workloads"]]
    sides = {"A": args.a, "B": args.b}
    with open(args.out, "a") as out:
        for w in workloads:
            for i in range(args.pairs):
                order = ("A", "B") if i % 2 == 0 else ("B", "A")
                for side in order:
                    seed = args.seed + i
                    p = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                         "--seconds", str(b["run_seconds"]), "--trace", "0"],
                        cwd=sides[side], capture_output=True, text=True)
                    lines = p.stdout.strip().splitlines()
                    if p.returncode != 0 or not lines:
                        sys.exit(f"{side} {w} seed {seed} failed:\n{p.stderr[-2000:]}")
                    rec = {"side": side, "workload": w, "seed": seed, "pair": i,
                           "result": json.loads(lines[-1])}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
    report(args.out)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(path):
    b = bench()
    recs = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    by = defaultdict(lambda: defaultdict(list))
    for r in recs:
        by[r["workload"]][r["side"]].append(r)
    for w, sides in by.items():
        print(f"== {w}")
        for side, rs in sorted(sides.items()):
            att = sum(r["result"]["attempted"] for r in rs)
            fail = sum(r["result"]["failed"] for r in rs)
            bad = sum(not r["result"]["correct"] for r in rs)
            print(f"   {side}: {len(rs)} runs, {fail}/{att} operations failed, "
                  f"{bad} runs with failed checks")
        shares = {s: sum(r["result"]["failed"] for r in rs) / max(1, sum(
            r["result"]["attempted"] for r in rs)) for s, rs in sides.items()}
        if len(set(shares.values())) > 1:
            print(f"   failed-operation share differs: {shares}")
        print(f"   {'metric':16} {'side':4} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>7}  verdict")
        for m in b["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            vals = {s: [r["result"]["metrics"][name]["value"] for r in rs]
                    for s, rs in sorted(sides.items())}
            stats = {}
            for s, xs in vals.items():
                q1, q2, q3 = quartiles(xs)
                stats[s] = (q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf"))
            verdict = ""
            if "A" in stats and "B" in stats:
                (a1, a2, a3, sa), (_, b2, _, sb) = stats["A"], stats["B"]
                worse = (b2 - a2) / a2 if lower else (a2 - b2) / a2
                better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
                pairs = defaultdict(dict)
                for s, rs in sides.items():
                    for r in rs:
                        pairs[(r["seed"], r["pair"])][s] = r["result"]["metrics"][name]["value"]
                full = [p for p in pairs.values() if "A" in p and "B" in p]
                wins = sum(better(p["B"], p["A"]) for p in full)
                if (sa > bound or sb > bound) and not all(
                        better(x, y) for x in vals["B"] for y in vals["A"]):
                    verdict = "unresolved"
                elif worse > bound:
                    verdict = f"regression ({worse:+.1%})"
                elif full and wins >= 0.9 * len(full) and abs(b2 - a2) > (a3 - a1) and worse < 0:
                    verdict = f"improved ({-worse:.1%}, {wins}/{len(full)} pairs)"
                else:
                    verdict = f"same ({-worse:+.1%})"
            for s, (q1, q2, q3, sp) in stats.items():
                flag = "" if sp <= bound else " > bound"
                print(f"   {name:16} {s:4} {q1:12.4f} {q2:12.4f} {q3:12.4f} {sp:7.3f}  "
                      f"{verdict if s == max(stats) else ''}{flag}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--a", required=True, help="checkout of the base side")
    r.add_argument("--b", required=True, help="checkout of the changed side")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1000)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("runs")
    args = ap.parse_args()
    if args.cmd == "run":
        run_pairs(args)
    else:
        report(args.runs)


if __name__ == "__main__":
    main()

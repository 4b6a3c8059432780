"""Repeat-and-compare: two sets of runs per workload, then per metric the
median, the quartiles and whether the sets agree within the bounds of
``BENCHMARK.json``.

    python3 siembench/compare.py --runs 10                  # both sets from this tree
    python3 siembench/compare.py --runs 10 --baseline ../parent-checkout

Without ``--baseline`` both sets run this checkout, every run on its own
seed (a steadiness check: each set's interquartile range must stay within
the metric's bound, and the two medians within the bound of each other,
either way).  With it, set A runs the baseline checkout and set B this one,
run k of both on seed ``--seed + k``, alternating which side runs first in
each pair (a change check: only a change for the worse counts).  Raw
results are appended to ``--out`` (JSON lines) so a table can be rebuilt
with ``--report`` alone.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(root: str, bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    info = json.loads(lines[-2]) if result and len(lines) > 1 else {}
    return {"workload": workload, "seed": seed, "root": root,
            "exit": proc.returncode, "result": result, "info": info,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def spread(values: list) -> tuple:
    """(median, q1, q3, (q3 - q1) / median)."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


#: figures shown beside the gated metrics, without a bound
UNGATED = ("latency_p50_ms", "latency_p95_ms")


def report(rows: list, bench: dict, baseline: bool) -> dict:
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    bounds.update({n: {"name": n, "better": "lower", "bound": None} for n in UNGATED})
    out = {}
    for w in sorted({r["workload"] for r in rows}):
        sets = {}
        for r in rows:
            if r["workload"] == w and r["result"]:
                figures = {k: v for k, v in r["info"].get("figures", {}).items()
                           if k in UNGATED}
                sets.setdefault(r["set"], []).append({**r["result"]["metrics"], **figures})
        failed = sum(1 for r in rows if r["workload"] == w and not r["result"])
        table = {}
        for name, m in bounds.items():
            per_set = {}
            for s, metrics in sorted(sets.items()):
                vals = [x[name]["value"] for x in metrics if name in x]
                med, q1, q3, rel = spread(vals)
                per_set[s] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                              "iqr_share": rel,
                              "spread_ok": m["bound"] is None or rel <= m["bound"]}
            agree = None
            if len(per_set) == 2 and m["bound"] is not None:
                a, b = (per_set[k]["median"] for k in sorted(per_set))
                if baseline:
                    # a change may improve a metric as far as it likes
                    change = (b - a) / a if m["better"] == "lower" else (a - b) / a
                else:
                    # two sets of the same code must agree both ways
                    change = abs(b - a) / a
                agree = change <= m["bound"]
            table[name] = {"sets": per_set, "agree": agree, "bound": m["bound"]}
        out[w] = {"failed_runs": failed, "metrics": table}
    return out


def print_table(rep: dict) -> None:
    for w, body in rep.items():
        print(f"\n== {w}  (failed runs: {body['failed_runs']})")
        for name, row in body["metrics"].items():
            cells = [
                f"{s}: med {v['median']:.4g} q1 {v['q1']:.4g} q3 {v['q3']:.4g} "
                f"iqr {100 * v['iqr_share']:.1f}%{'' if v['spread_ok'] else ' WIDE'}"
                for s, v in row["sets"].items()
            ]
            verdict = {True: "agree", False: "DISAGREE", None: "-"}[row["agree"]]
            bound = "ungated" if row["bound"] is None else f"bound {100 * row['bound']:.0f}%"
            print(f"  {name:<18} {bound:<10} {verdict:<9} " + " | ".join(cells))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all in BENCHMARK.json)")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--baseline", help="checkout whose runs form set A")
    ap.add_argument("--out", default=os.path.join(ROOT, ".siembench_work", "compare.jsonl"))
    ap.add_argument("--report", action="store_true", help="only tabulate --out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    if not args.report:
        with open(args.out, "a") as fh:
            for w in workloads:
                for k in range(args.runs):
                    # a change check pairs the sides on one seed; a steadiness
                    # check gives every run its own seed
                    seed_b = args.seed + k if args.baseline else args.seed + args.runs + k
                    sides = [("A", args.baseline or ROOT, args.seed + k), ("B", ROOT, seed_b)]
                    if k % 2:
                        sides.reverse()
                    for name, root, seed in sides:
                        row = run_once(root, bench, w, seed)
                        row["set"] = name
                        fh.write(json.dumps(row) + "\n")
                        fh.flush()
                        status = "ok" if row["result"] else f"FAILED exit {row['exit']}"
                        print(f"{w} set {name} seed {seed}: {status}", file=sys.stderr)
    with open(args.out) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    rows = [r for r in rows if r["workload"] in workloads]
    rep = report(rows, bench, bool(args.baseline))
    print_table(rep)
    ok = all(
        body["failed_runs"] == 0 and all(
            row["agree"] is not False and all(v["spread_ok"] for v in row["sets"].values())
            for row in body["metrics"].values())
        for body in rep.values())
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

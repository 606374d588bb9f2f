#!/usr/bin/env python3
"""Paired benchmark comparison of two checkouts, before a change is sent.

Usage:
    python3 tools/pairs.py <parentDir> <changeDir> --workload dashboard \\
        --pairs 10 --seeds 43 [--seconds 10] [--trace 0] [--log runs.jsonl]

Each pair runs `perfbench/run.py` of both checkouts (each with its own
copy of the script, from its own root) on the same seed; which side runs
first alternates from pair to pair. `--seeds` is the first seed (pair i
gets seed + i), a range `43-52` or a list `43,47,51`. Every run's result
line goes to the log as one JSON object, with its side, seed and order.

For each metric it prints both sides' median and quartiles and how many
pairs the change won, then two verdicts against BENCHMARK.json:
  claim  the change won at least 90% of the pairs (9 of 10) and its
         median beats the parent's by more than the parent's
         interquartile distance;
  bound  the change's median is no worse than the parent's by more than
         the metric's relative bound (end-to-end metrics only).
It also compares the share of failed operations. It only reads the two
checkouts' benchmark files and changes nothing in them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec, n):
    if "," in spec:
        out = [int(s) for s in spec.split(",")]
    elif "-" in spec.lstrip("-"):
        a, b = spec.split("-", 1)
        out = list(range(int(a), int(b) + 1))
    else:
        out = [int(spec) + i for i in range(n)]
    if len(out) < n:
        sys.exit(f"pairs.py: --seeds {spec} gives {len(out)} seeds for {n} pairs")
    return out[:n]


def run_one(checkout, workload, seed, seconds, trace):
    """One benchmark run in `checkout`; returns its parsed result line,
    or {"error": ...} when it exits non-zero or prints no result."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        return {"error": f"exit {res.returncode}: " + " | ".join(res.stderr.strip().splitlines()[-3:])}
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return {"error": "no JSON result line: " + lines[-1][:200]}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="JSON-lines file for every run (default: "
                    "pairs-<workload>-trace<T>.jsonl in the current directory)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    group = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    log_path = a.log or f"pairs-{a.workload}-trace{a.trace}.jsonl"
    runs = {"parent": [], "change": []}
    with open(log_path, "a") as log:
        for i, seed in enumerate(seeds(a.seeds, a.pairs)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for pos, side in enumerate(order):
                r = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
                row = {"pair": i, "side": side, "seed": seed, "first": pos == 0,
                       "workload": a.workload, "trace": a.trace, **r}
                log.write(json.dumps(row) + "\n")
                log.flush()
                runs[side].append(r)
                v = r.get("metrics", {}).get(group[0]["name"], {}).get("value")
                print(f"pair {i} seed {seed} {side}: "
                      + (r["error"] if "error" in r else f"{group[0]['name']}={v:.3f}"),
                      file=sys.stderr)
    ok = [j for j in range(a.pairs) if "error" not in runs["parent"][j]
          and "error" not in runs["change"][j]]
    print(f"{a.workload} trace={a.trace}: {len(ok)} of {a.pairs} pairs complete; log {log_path}")
    if not ok:
        return 1
    print(f"{'metric':<22} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'delta':>8} {'wins':>6}  verdict")
    for m in group:
        name, lower = m["name"], m["better"] == "lower"
        par = [runs["parent"][j]["metrics"][name]["value"] for j in ok]
        chg = [runs["change"][j]["metrics"][name]["value"] for j in ok]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        gain = (pm - cm) if lower else (cm - pm)
        rel = (cm - pm) / pm if pm else 0.0
        claim = wins >= 0.9 * len(ok) and gain > (p3 - p1)
        verdict = f"claim {'holds' if claim else 'no'}"
        if "bound" in m:
            worse = -gain / pm if pm else 0.0
            verdict += f", bound {'ok' if worse <= m['bound'] else 'EXCEEDED'} ({m['bound']:g})"
        print(f"{name:<22} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>30} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>30} {rel:>+8.1%} {wins:>3}/{len(ok):<2}  {verdict}")
    share = {s: sum(runs[s][j]["failed"] for j in ok) / max(1, sum(runs[s][j]["attempted"] for j in ok))
             for s in runs}
    correct = {s: all(runs[s][j]["correct"] for j in ok) for s in runs}
    print(f"failed share: parent {share['parent']:.4f}, change {share['change']:.4f} "
          f"({'ok' if share['change'] <= share['parent'] else 'HIGHER'}); "
          f"oracle correct on every run: parent {correct['parent']}, change {correct['change']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

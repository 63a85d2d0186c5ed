#!/usr/bin/env python3
"""Collects benchmark results and compares them.

    # run every workload once per seed, appending one JSON line per run
    python3 perfbench/compare.py collect runs.jsonl --seeds 1-10
    # per workload and metric: median, quartiles, spread against the bound
    python3 perfbench/compare.py spread runs.jsonl
    # parent against change, paired by workload and seed
    python3 perfbench/compare.py pairs parent.jsonl change.jsonl

`pairs` applies the small-sandbox rule: a gain is claimed only when the
change wins at least nine tenths of the pairs (ties count for neither)
and the medians differ by more than the parent's own spread (the
distance between its quartiles). Otherwise a metric is "worse" when the
change's median is worse than the parent's by more than the bound in
BENCHMARK.json, "unresolved" when the parent's spread is wider than the
bound, and "same" else. Each workload is printed in its own row.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def load(path):
    runs = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(rs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in rs
            if r["result"]["correct"] and metric in r["result"]["metrics"]]


def collect(a):
    s = spec()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    for seed in seeds(a.seeds):
        for w in names:
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(s["run_seconds"]), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            rec = {"workload": w, "seed": seed, "result": json.loads(lines[-1])}
            with open(a.out, "a", encoding="utf-8") as f:
                f.write(json.dumps(rec) + "\n")
            m = rec["result"]["metrics"]
            print(f"{w} seed {seed}: correct={rec['result']['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)


def spread(a):
    runs = load(a.file)
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    print(f"{'workload':<14}{'metric':<14}{'n':>3}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'iqr/med':>9}{'bound':>7}  ok")
    for w, rs in sorted(runs.items()):
        for metric, bound in bounds.items():
            xs = values(rs, metric)
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / med if med else float("inf")
            ok = "-" if metric == "setup_s" else ("yes" if rel <= bound / 3 else
                                                 "within bound" if rel <= bound else "NO")
            print(f"{w:<14}{metric:<14}{len(xs):>3}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{rel:>9.3f}{bound:>7.2f}  {ok}")


def pairs(a):
    parent, change = load(a.parent), load(a.change)
    s = spec()
    print(f"{'workload':<14}{'metric':<14}{'pairs':>6}{'won':>5}{'parent med [q1,q3]':>30}"
          f"{'change med [q1,q3]':>30}  verdict")
    for w in sorted(set(parent) & set(change)):
        by_seed = {r["seed"]: r for r in change[w]}
        for m in s["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pp = [(r, by_seed[r["seed"]]) for r in parent[w] if r["seed"] in by_seed]
            pv, cv = values([p for p, _ in pp], name), values([c for _, c in pp], name)
            if len(pv) != len(pp) or len(cv) != len(pp) or not pp:
                print(f"{w:<14}{name:<14}  missing or incorrect runs")
                continue
            won = sum(1 for p, c in zip(pv, cv) if (c < p if lower else c > p))
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            better = cm < pm if lower else cm > pm
            worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
            if won >= 0.9 * len(pp) and better and abs(cm - pm) > p3 - p1:
                verdict = "gain"
            elif (p3 - p1) / pm > m["bound"] and not all(
                    (c < min(pv) if lower else c > max(pv)) for c in cv):
                verdict = "unresolved"
            elif worse_by > m["bound"]:
                verdict = "worse"
            else:
                verdict = "same"
            print(f"{w:<14}{name:<14}{len(pp):>6}{won:>5}"
                  f"{f'{pm:.4g} [{p1:.4g},{p3:.4g}]':>30}{f'{cm:.4g} [{c1:.4g},{c3:.4g}]':>30}"
                  f"  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default="")
    c.add_argument("--trace", type=int, default=0)
    c.set_defaults(fn=collect)
    sp = sub.add_parser("spread")
    sp.add_argument("file")
    sp.set_defaults(fn=spread)
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.set_defaults(fn=pairs)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()

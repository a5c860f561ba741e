#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit (A) and a
change (B), metric by metric and workload by workload.

    python3 perfbench/compare.py A B [--layers]

A and B are each a directory of run records (what run.py writes to
`.bench_build/results/`), a record file, or a text file with one run per
line: `<workload> ... {final JSON line}`. Runs are paired in the order
they were made (record time, or line order), so run the two sides
alternately. For each end-to-end metric the tool prints each side's
median and quartiles, the share of pairs B won (ties count for neither)
and a verdict against the metric's bound in BENCHMARK.json:

  improved    B won >= 90% of pairs and the medians differ, in B's
              favour, by more than A's own quartile spread
  worse       B's median is worse than A's by more than the bound
  unresolved  A's or B's quartile spread exceeds the bound, unless every
              B run beats every A run
  unchanged   otherwise

End-to-end verdicts use a side's untraced runs when it has any. With
--layers the tool also prints per-layer medians of the traced runs side
by side (no verdict: layer metrics have no bound). Comparing the
untraced runs of a commit (A) with its traced runs (B, alone in their
directory) shows the tracing overhead on every end-to-end metric.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(path):
    """[(workload, time, e2e metrics, layer metrics, host, traced)] of a
    side."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        with open(f) as fh:
            text = fh.read()
        try:
            r = json.loads(text)
        except ValueError:
            r = None
        if isinstance(r, dict) and "workload" in r:
            runs.append((r["workload"], os.path.getmtime(f),
                         r["end_to_end"], r["per_layer"], r.get("host"),
                         bool(r.get("trace"))))
            continue
        for i, line in enumerate(text.splitlines()):
            if "{" not in line:
                continue
            w = line.split()[0]
            m = json.loads(line[line.index("{"):])["metrics"]
            runs.append((w, i, {k: v["value"] for k, v in m.items()}, {},
                         None, False))
    return sorted(runs, key=lambda r: r[1])


def verdict(a, b, better, bound):
    """(verdict, share of pairs B won) for one metric's run values."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    won = sum(1 for x, y in pairs if sign * (y - x) > 0)
    share = won / len(pairs) if pairs else 0.0
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    ma, mb = qa[1], qb[1]
    gain = sign * (mb - ma)
    if pairs and share >= 0.9 and gain > qa[2] - qa[0]:
        return "improved", share
    spread = max((qa[2] - qa[0]) / abs(ma) if ma else 0.0,
                 (qb[2] - qb[0]) / abs(mb) if mb else 0.0)
    all_better = min(sign * y for y in b) > max(sign * x for x in a)
    if spread > bound and not all_better:
        return "unresolved", share
    if -gain > bound * abs(ma):
        return "worse", share
    return "unchanged", share


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main():
    args = [x for x in sys.argv[1:] if not x.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    side_a, side_b = load(args[0]), load(args[1])
    print(f"{'workload':14} {'metric':14} {'A median [q1, q3]':30} "
          f"{'B median [q1, q3]':30} {'B won':>6}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = ([r for r in side if r[0] == w] for side in (side_a, side_b))
        if not ra or not rb:
            continue
        # end-to-end figures come from untraced runs where a side has any
        la, lb = ra, rb
        ra, rb = ([r for r in rs if not r[5]] or rs for rs in (ra, rb))
        for m in bench["end_to_end"]:
            a = [r[2][m["name"]] for r in ra if m["name"] in r[2]]
            b = [r[2][m["name"]] for r in rb if m["name"] in r[2]]
            if not a or not b:
                continue
            v, share = verdict(a, b, m["better"], m["bound"])
            print(f"{w:14} {m['name']:14} {fmt(stats.quartiles(a)):30} "
                  f"{fmt(stats.quartiles(b)):30} {share:6.0%}  {v}")
        steal = [[r[4]["cpu_steal_ratio"] for r in rs if r[4]]
                 for rs in (ra, rb)]
        if steal[0] and steal[1]:
            print(f"{w:14} {'(cpu steal)':14} "
                  f"{stats.median(steal[0]):<30.4f} "
                  f"{stats.median(steal[1]):<30.4f}")
        if "--layers" in sys.argv:
            for m in bench["per_layer"]:
                a = [r[3].get(m["name"], 0.0) for r in la if r[5]]
                b = [r[3].get(m["name"], 0.0) for r in lb if r[5]]
                if a and b and (any(a) or any(b)):
                    print(f"{w:14} {m['name']:40} "
                          f"{stats.median(a):>14.6g} {stats.median(b):>14.6g}")


if __name__ == "__main__":
    main()

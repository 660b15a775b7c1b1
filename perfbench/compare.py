#!/usr/bin/env python3
"""Compare two benchmark result sets, per workload and metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories holding one `<workload>.jsonl` per workload:
the last stdout line of every `perfbench/run.py` run, one per line (see
perfbench/README.md for the loop that records them). For each metric the
table gives both sides' run count, median and quartiles, the change of the
median, and a verdict against BENCHMARK.json:

  ok          not worse than the bound (or better)
  WORSE       worse than the bound
  unresolved  BASE's own quartile spread is wider than the bound, so a
              change within it cannot be told from noise
  -           per-layer metric: no bound (counts repeat exactly; times are
              for diagnosis)

Exits 1 if any end-to-end metric is WORSE, or a run is not `correct`.
"""
import json
import os
import statistics
import sys


def load(path):
    runs = [json.loads(ln) for ln in open(path) if ln.strip()]
    values = {}
    for r in runs:
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    return runs, values


def stats(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base_dir, new_dir = sys.argv[1:]
    spec = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                                       "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    bad = False
    for w in (w["name"] for w in spec["workloads"]):
        bp, np_ = os.path.join(base_dir, f"{w}.jsonl"), os.path.join(new_dir, f"{w}.jsonl")
        if not (os.path.exists(bp) and os.path.exists(np_)):
            print(f"\n{w}: missing in one set, skipped")
            continue
        (bruns, bvals), (nruns, nvals) = load(bp), load(np_)
        wrong = sum(not r["correct"] for r in bruns + nruns)
        print(f"\n{w}: base {len(bruns)} runs, new {len(nruns)} runs"
              + (f", {wrong} NOT CORRECT" if wrong else ""))
        bad |= wrong > 0
        print(f"  {'metric':32} {'unit':6} {'runs':>5}  {'base median [q1, q3]':32} "
              f"{'new median [q1, q3]':32} {'change':>8}  verdict")
        for name in sorted(set(bvals) & set(nvals)):
            m = metrics.get(name, {"unit": "?", "better": "lower"})
            bq1, bmed, bq3 = stats(bvals[name])
            nq1, nmed, nq3 = stats(nvals[name])
            change = (nmed / bmed - 1) if bmed else float("nan")
            worse = change if m["better"] == "lower" else -change
            if "bound" not in m:
                verdict = "-"
            elif bmed and (bq3 - bq1) / bmed > m["bound"]:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict, bad = "WORSE", True
            else:
                verdict = "ok"
            runs = f"{len(bvals[name])}/{len(nvals[name])}"
            base = f"{bmed:.4g} [{bq1:.4g}, {bq3:.4g}]"
            new = f"{nmed:.4g} [{nq1:.4g}, {nq3:.4g}]"
            print(f"  {name:32} {m['unit']:6} {runs:>5}  {base:32} {new:32} "
                  f"{100 * change:>+7.1f}%  {verdict}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compare benchmark result sets (the `results.jsonl` records run.py
appends).

    python3 perfbench/compare.py BASE.jsonl            # one set: spread
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # two sets: verdicts
    python3 perfbench/compare.py --overhead RUNS.jsonl...  # tracing overhead

For each workload and end-to-end metric, prints the median and quartiles
of each set. With one set it adds the spread (quartile distance as a share
of the median) against a third of the metric's bound, the steadiness the
benchmark is held to. With two sets it adds the pair wins (runs paired by
seed; ties count for neither side) and a verdict:

* improved: the new set wins at least 9 of 10 pairs and the medians differ
  by more than the base set's quartile distance;
* regressed: the new median is worse than the base median by more than the
  metric's bound;
* within bound: neither of the above, and the base spread is within the
  bound;
* unresolved: the base spread is wider than the bound, unless every new run
  is better than every base run (then improved).

Only untraced records (`trace` 0) are compared. Bounds and directions come
from BENCHMARK.json. `--overhead` pairs traced and untraced runs of the
same workload and seed and prints each end-to-end metric's median traced
minus untraced difference, as a share of the untraced value.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(paths, trace=0):
    out = defaultdict(dict)            # (workload, metric) -> {seed: value}
    for path in paths:
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if r.get("trace", 0) != trace:
                    continue
                for name, m in r["end_to_end"].items():
                    out[(r["workload"], name)][r["seed"]] = m["value"]
    return out


def quartiles(values):
    """Quartiles as `statistics.quantiles(values, n=4)` gives them (the
    exclusive method): the definition the benchmark's steadiness is judged
    by. It reads wider than linear interpolation on ten runs."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(base, new, better, bound):
    """base, new: {seed: value}. Returns (wins, pairs, verdict)."""
    sign = 1 if better == "higher" else -1
    seeds = sorted(set(base) & set(new))
    wins = sum(1 for s in seeds if sign * (new[s] - base[s]) > 0)
    b, n = list(base.values()), list(new.values())
    q1, mb, q3 = quartiles(b)
    mn = stats.median(n)
    everywhere = (min(n) > max(b)) if sign > 0 else (max(n) < min(b))
    if seeds and wins >= 0.9 * len(seeds) and abs(mn - mb) > q3 - q1:
        v = "improved"
    elif sign * (mn - mb) < -bound * mb:
        v = "regressed"
    elif everywhere:
        v = "improved"
    elif spread(b) > bound:
        v = "unresolved"
    else:
        v = "within bound"
    return wins, len(seeds), v


def overhead(paths):
    plain, traced = load(paths, 0), load(paths, 1)
    for key in sorted(traced):
        pairs = [(plain[key][s], t) for s, t in traced[key].items()
                 if s in plain.get(key, {})]
        if pairs:
            d = stats.median([(t - p) / p for p, t in pairs])
            print(f"{key[0]:14s} {key[1]:18s} tracing overhead {d:+.4f}"
                  f" (n={len(pairs)})")
    return 0


def main(argv):
    if len(argv) >= 2 and argv[0] == "--overhead":
        return overhead(argv[1:])
    if len(argv) not in (1, 2):
        raise SystemExit(__doc__)
    here = os.path.dirname(os.path.abspath(__file__))
    bench = os.path.join(os.path.dirname(here), "BENCHMARK.json")
    with open(bench) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sets = [load([p]) for p in argv]
    ok = True
    for key in sorted(sets[0]):
        w, name = key
        m = spec.get(name)
        if m is None:
            continue
        vals = [s.get(key, {}) for s in sets]
        cols = []
        for v in vals:
            if v:
                q1, q2, q3 = quartiles(list(v.values()))
                cols.append(f"{q2:12.4f} [{q1:.4f}, {q3:.4f}] n={len(v)}")
            else:
                cols.append(f"{'-':>12s}")
        line = f"{w:14s} {name:18s} {m['unit']:5s} " + "  ".join(cols)
        if len(sets) == 1:
            sp = spread(list(vals[0].values()))
            steady = sp < m["bound"] / 3 or name == "setup_s"
            ok &= steady
            line += (f"  spread {sp:.4f} (bound/3 {m['bound'] / 3:.4f})"
                     f" {'steady' if steady else 'NOT STEADY'}")
        elif vals[1]:
            wins, pairs, v = verdict(vals[0], vals[1], m["better"], m["bound"])
            line += f"  wins {wins}/{pairs}  {v}"
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

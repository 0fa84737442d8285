#!/usr/bin/env python3
"""Per-query ratio report between two bench artifacts.

Usage: bench_ratio.py SMALL.json BIG.json [--flag=4.0]
       bench_ratio.py A.json B.json --counters

Prints every query's seconds in both artifacts and the big/small ratio,
sorted by ratio descending, then a summary (sum of matched entries,
overall ratio, count above the flag threshold). Used for the
sub-linearity series (sf0.1 -> sf1 -> sf3): with 3x the data, any query
growing more than --flag x (default 4.0) needs a named plan explanation
or a fix (VERDICT r12 item 2 done-criterion). Entries at -1 (failed) or
missing on either side are listed separately, never silently dropped.

--counters diffs the per-entry counters instead (the `counters` map of
the full line): seconds, executor CPU seconds, shuffle MB (read +
written), spill MB (memory + disk), generated classes compiled and their
compile ms (`codegen.compiles`, `codegen.compile_ms`) on each side, per
entry present in both, then their sums. Wall time on a shared host
drifts, while CPU time, byte and compile counts are properties of the
work, so an A/B reads these first. Artifacts written before Bench
stamped counters have none; that prints a "no counters" line and exits
1. Artifacts written before Bench stamped `codegen` print `-` in its two
columns and leave it out of the sums.

Reads the full artifact line via json.loads — these files are written
by Bench.scala itself, so unlike the in-engine baseline parser there is
no partial-tail concern here.
"""
import json
import sys


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__)
        return 2
    flag = 4.0
    for a in argv:
        if a.startswith("--flag="):
            flag = float(a.split("=", 1)[1])
        elif a != "--counters" and a.startswith("--"):
            print(f"unknown option: {a} (expected --flag=N or --counters)")
            return 2
    if "--counters" in argv:
        return counters(*args)
    small = json.load(open(args[0]))["queries"]
    big = json.load(open(args[1]))["queries"]
    common = sorted(set(small) & set(big))
    missing = sorted(set(small) ^ set(big))
    rows, skipped = [], []
    for q in common:
        s, b = small[q], big[q]
        if s <= 0 or b <= 0:
            skipped.append((q, s, b))
        else:
            rows.append((b / s, q, s, b))
    rows.sort(reverse=True)
    print(f"{'ratio':>7}  {'query':40} {'small_s':>9} {'big_s':>9}")
    for r, q, s, b in rows:
        mark = " <-- FLAG" if r > flag else ""
        print(f"{r:7.2f}  {q:40} {s:9.3f} {b:9.3f}{mark}")
    for q, s, b in skipped:
        print(f"   skip  {q:40} {s:9.3f} {b:9.3f}  (failed side)")
    for q in missing:
        print(f"   only-one-side  {q}")
    if not rows:
        # ADVICE r13: disjoint artifacts / all-failed entries reach here
        # with an empty match set — report it instead of dividing by zero
        print("matched=0 — no entries with positive times on both sides")
        return 0
    ssum = sum(s for _, _, s, _ in rows)
    bsum = sum(b for _, _, _, b in rows)
    nflag = sum(1 for r, *_ in rows if r > flag)
    print(f"matched={len(rows)} sum {ssum:.1f}s -> {bsum:.1f}s "
          f"overall {bsum / ssum:.2f}x; {nflag} entries above {flag}x")
    return 0


def counters(path_a, path_b):
    arts = [json.load(open(p)) for p in (path_a, path_b)]
    for p, art in zip((path_a, path_b), arts):
        if not art.get("counters"):
            print(f"no counters in {p}: it predates per-entry counters; "
                  "only the seconds ratio (without --counters) applies")
            return 1
    (qa, ca), (qb, cb) = [(art["queries"], art["counters"]) for art in arts]

    def row(q, c, k):
        e = c[k]
        g = e.get("codegen", {})
        return (q[k], e["cpu_s"],
                (e["shuf_r"] + e["shuf_w"]) / 1e6,
                (e["spill"]["mem"] + e["spill"]["disk"]) / 1e6,
                g.get("compiles"), g.get("compile_ms"))

    def cells(vals):
        return " ".join(f"{'-':>12}" if v is None else f"{v:12.3f}"
                        for v in vals)

    common = sorted(set(ca) & set(cb))
    names = ("secs", "cpu_s", "shuf_mb", "spill_mb", "compiles", "compile_ms")
    print(f"{'entry':40} " + " ".join(f"{n + '_a':>12} {n + '_b':>12}"
                                       for n in names))
    sums = [None] * (2 * len(names))
    for k in common:
        vals = [v for pair in zip(row(qa, ca, k), row(qb, cb, k))
                for v in pair]
        sums = [s if v is None else (s or 0.0) + v
                for s, v in zip(sums, vals)]
        print(f"{k:40} " + cells(vals))
    for k in sorted(set(ca) ^ set(cb)):
        print(f"   only-one-side  {k}")
    print(f"{'sum (' + str(len(common)) + ' entries)':40} " + cells(sums))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

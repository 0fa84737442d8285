#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps entry by entry.

Usage: plan_diff.py BEFORE AFTER

Each dump is the stdout of `sbt "runMain graft.Explain"` (sbt's own
`[info]`/`[warn]`/`[error]`/`[success]` lines are ignored, so a dump
captured with 2>&1 works too). A dump splits into entries at its
`===== name =====` lines (Spark's own `===== Subqueries =====` stays
inside its entry). Before comparing, each entry's plan text is
normalized for what changes from run to run without the plan changing:

- expression ids (`#123`, also inside `[id=#12]` and `subquery#7`)
- exchange plan ids (`plan_id=42`)
- whole-stage codegen stage ids (`*(3)`, `WholeStageCodegen (3)`,
  `codegenStageId=3`)
- JVM object identities (`$$Lambda$59/0x7fd8@3f6a96be`, `[D@7c909fea`)
- RDD ids and source line numbers (`MapPartitionsRDD[318] at
  localCheckpoint at Dedup.scala:1078`)

Prints one line per entry whose normalized plan differs, followed by the
first SHOW differing lines of each, then the entries present on one side
only and a summary line. Exits 1 if any
entry differs or is missing on a side, 0 if every plan matches, 2 on a
usage error.
"""
import difflib
import re
import sys

SBT_LOG = re.compile(r"^\[(info|warn|error|success)\]")
HEADER = re.compile(r"^===== (\S+) =====$")
# section titles Spark's formatted explain prints inside one plan
SPARK_SECTIONS = {"Subqueries"}
NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
    (re.compile(r"codegenStageId=\d+"), "codegenStageId=N"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]
SHOW = 6  # changed lines printed under each differing entry


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def entries(path):
    """{name: [normalized plan lines]} of one dump, in file order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if SBT_LOG.match(line):
                continue
            m = HEADER.match(line)
            if m and m.group(1) not in SPARK_SECTIONS:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(normalize(line))
    # trailing blank lines are separators, not plan
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main(argv):
    paths = argv[1:]
    if len(paths) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    try:
        before, after = entries(paths[0]), entries(paths[1])
    except OSError as e:
        print(e, file=sys.stderr)
        return 2
    if not before or not after:
        print(f"no `===== name =====` entries in "
              f"{paths[0] if not before else paths[1]}", file=sys.stderr)
        return 2
    differ = [n for n in before if n in after and before[n] != after[n]]
    for n in differ:
        print(f"DIFF {n}")
        delta = [l for l in difflib.unified_diff(
            before[n], after[n], lineterm="", n=0)
            if l[:1] in "+-" and l[:3] not in ("---", "+++")]
        for l in delta[:SHOW]:
            print(f"    {l}")
        if len(delta) > SHOW:
            print(f"    ... {len(delta) - SHOW} more changed lines")
    only_b = [n for n in before if n not in after]
    only_a = [n for n in after if n not in before]
    for n in only_b:
        print(f"ONLY-BEFORE {n}")
    for n in only_a:
        print(f"ONLY-AFTER {n}")
    same = sum(1 for n in before if n in after) - len(differ)
    print(f"plan_diff: {same} same, {len(differ)} differ, "
          f"{len(only_b)} only before, {len(only_a)} only after")
    return 1 if differ or only_b or only_a else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

"""Output checks, run after the timed region.

* Batch entries: each entry the run executed is dumped once and compared
  with its `SparkEntry.oracleSql` in DuckDB by `tools/local_check.py`;
  an entry without an oracle is checked by row count (the dump against a
  second count of the same entry).
* Stream workloads: the final occupancy per (FPGA, TDC_CHANNEL) must equal
  a plain count over the generated capture, and no hit may be dropped as
  late.
"""
import contextlib
import importlib.util
import io
import os

import numpy as np


def _local_check(root):
    spec = importlib.util.spec_from_file_location(
        "local_check", os.path.join(root, "tools", "local_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def batch_outputs(root, data_dir, dump_dir, names, row_counts):
    """{entry: None if correct else reason} for every executed entry."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _local_check(root).main(data_dir, dump_dir)
    verdict = {n: "no dump" for n in names}
    for line in buf.getvalue().splitlines():
        s = line.strip()
        if s[:2] in ("+ ", "- ", "~ ") and ":" in s:
            name, rest = s[2:].split(":", 1)
            if name not in verdict:
                continue
            if s[0] == "+":
                verdict[name] = None
            elif s[0] == "-":
                verdict[name] = rest.strip()
            else:
                got = int(rest.rsplit("rows=", 1)[1])
                want = row_counts.get(name)
                verdict[name] = (None if got == want
                                 else f"rows {got} != recount {want}")
    return verdict


def expected_occupancy(capture_rows):
    """{(FPGA, TDC_CHANNEL): hits} over the capture, in plain numpy."""
    keys, counts = np.unique(capture_rows[:, 1:3], axis=0, return_counts=True)
    return {(int(f), int(c)): int(n) for (f, c), n in zip(keys, counts)}


def occupancy(observed, expected):
    """None if `observed` ([[fpga, chan, n], ...]) equals `expected`,
    else a short description of the first difference."""
    got = {(f, c): n for f, c, n in observed}
    if got == expected:
        return None
    diff = sorted(set(got) ^ set(expected)) or sorted(
        k for k in got if got[k] != expected[k])
    k = diff[0]
    return (f"{len(diff)} keys differ, first {k}: "
            f"{got.get(k)} != {expected.get(k)}")

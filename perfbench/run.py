#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload surface_floor --seed 1 \
        --seconds 25 --trace 0

Builds the engine and the harness from source on first use (sbt, into
`perfbench/target`), generates the workload's inputs from the seed under
`.bench_build/`, runs the harness JVM (Main.scala) for the timed region,
checks the outputs, and prints one line per metric followed by the result
as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. Every run also appends its full record (metric
values with sample counts, host-noise stamps, session conf) to
`.bench_build/perfbench/results.jsonl`, which `compare.py` reads.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402
import stats  # noqa: E402

# Workload inputs. Sizes keep one run's set-up, timed region and checks
# inside a minute on a 4-core host.
SURFACE_SF = 0.01       # floor-dominated: median entry well under 1 s
SURFACE_CHECKS = 2      # executed entries whose outputs one run checks
MONITOR_RATE = 8_000    # offered hits/s (open loop)
MONITOR_INTERVAL_MS = 1000

WORKLOADS = ("surface_floor", "tdc_monitor")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the engine build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def newest_mtime(paths):
    m = 0.0
    for p in paths:
        for f in glob.glob(p, recursive=True):
            if os.path.isfile(f):
                m = max(m, os.path.getmtime(f))
    return m


def build(root):
    """Compile the engine and the harness; returns the runtime classpath.
    sbt keeps its boot, global, ivy and temporary state under
    `.bench_build/` too."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = newest_mtime([os.path.join(root, "src", "main", "**", "*"),
                            os.path.join(root, "build.sbt"),
                            os.path.join(HERE, "src", "main", "**", "*"),
                            os.path.join(HERE, "build.sbt")])
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < sources:
        log("[perfbench] building engine and harness (sbt)")
        state = os.path.join(root, ".bench_build", "sbt")
        os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={state}/global",
             f"-Dsbt.boot.directory={state}/boot",
             f"-Dsbt.ivy.home={state}/ivy2", f"-Djava.io.tmpdir={state}/tmp",
             f"-Djna.tmpdir={state}/tmp", "-J-XX:-UsePerfData",
             "writeClasspath"],
            cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
        if r.returncode != 0 or not os.path.exists(cp_file):
            raise SystemExit("[perfbench] build failed")
    with open(cp_file) as f:
        return f.read().strip()


def stage_inputs(w, seed, seconds, work):
    """Generate the workload's inputs; returns harness arguments."""
    if w == "surface_floor":
        data = os.path.join(work, "data")
        gen.tables(data, SURFACE_SF, seed)
        return {"data": data, "dump": os.path.join(work, "dump"),
                "check": SURFACE_CHECKS}
    per = MONITOR_RATE * MONITOR_INTERVAL_MS // 1000
    # two leading triggers are set-up (stats.timed_batches)
    n = (int(MONITOR_RATE * seconds) // per + 2) * per
    args = {"rate": MONITOR_RATE, "interval-ms": MONITOR_INTERVAL_MS,
            "rows-per-batch": per, "capture-rows": n}
    for name, rows, s in (("capture", n, seed), ("stage-capture", per, seed + 2),
                          ("warm-capture", 5 * per, seed + 1)):
        args[name] = os.path.join(work, f"{name}.csv")
        gen.capture(args[name], rows, MONITOR_RATE, s)
    return args


def run_jvm(cp, args, work):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"])
    for k, v in dict(args, out=out, scratch=work).items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def batch_results(raw, root, args):
    """Samples, checks and per-op spans of the batch workload. The run
    measures a fixed mix of entries (a seed only changes the order), each
    executed several times. The typical query (`p50`) is each entry's
    median wall, geometric mean over the entries: a median over every
    query lands in the gap between the fourth and fifth entry's
    distributions and jumps across it with a few samples. The p90 is over
    every query. Throughput is taken at the fixed mix from each entry's
    median, so how many executions of which entry fit in the time does
    not move it."""
    ops = raw["ops"]
    verdict = check.batch_outputs(
        root, args["data"], raw["dump"], raw["checked"],
        raw.get("recount", {}))
    wrong = {n for n, v in verdict.items() if v is not None}
    for n in sorted(wrong):
        log(f"[perfbench] wrong output: {n}: {verdict[n]}")
    by_entry = {}
    for o in ops:
        if o.get("error") is not None:
            log(f"[perfbench] failed: {o['name']}: {o['error']}")
        else:
            by_entry.setdefault(o["name"], []).append(o["t2"] - o["t0"])
    per_entry = [stats.median(v) for v in by_entry.values()]
    lat = [t for v in by_entry.values() for t in v]
    failed = sum(1 for o in ops if o.get("error") is not None or o["name"] in wrong)
    spans = [(o["t0"], o["t2"], o["t1"]) for o in ops]
    return {"p50": statistics.geometric_mean(per_entry),
            "p90": stats.percentile(lat, 0.9),
            "throughput": 1000 * len(per_entry) / sum(per_entry),
            "n": len(ops), "attempted": len(ops), "failed": failed,
            "spans": spans, "batches": [],
            "detail": dict(sorted(by_entry.items()))}


def stream_results(raw, args):
    """Samples and checks of the monitor workload."""
    rows = gen.capture_rows(int(args["capture-rows"]), MONITOR_RATE,
                            int(raw["seed"]))
    problems = [check.occupancy(raw["occupancy"],
                                check.expected_occupancy(rows))]
    batches = raw["batches"]
    data = [b for b in batches if b["rows"] > 0]
    dropped = sum(b["state_dropped"] for b in batches)
    if dropped:
        problems.append(f"{dropped} hits dropped as late")
    done = max((b["end_off"] for b in data), default=0)
    if done < len(rows):
        problems.append(f"only {done} of {len(rows)} hits committed")
    lat = stats.hit_latencies(batches, MONITOR_RATE, MONITOR_INTERVAL_MS)
    timed = stats.timed_batches(batches, MONITOR_INTERVAL_MS)
    origin = timed[0]["start_ms"] // MONITOR_INTERVAL_MS * MONITOR_INTERVAL_MS
    last = max(b["start_ms"] + b["duration_ms"]["triggerExecution"]
               for b in timed)
    problems = [p for p in problems if p]
    for p in problems:
        log(f"[perfbench] wrong output: {p}")
    return {"p50": stats.median(lat), "p90": stats.percentile(lat, 0.9),
            "throughput": len(lat) / ((last - origin) / 1000), "n": len(lat),
            "attempted": len(rows), "failed": len(rows) if problems else 0,
            "spans": [], "batches": batches, "detail": {}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit("[perfbench] run from the root of a checkout "
                         "(no engine build.sbt here)")
    cp = build(root)
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = stage_inputs(a.workload, a.seed, a.seconds, work)
        # write the inputs back now, not under the timed region
        os.sync()
        raw = run_jvm(cp, dict(args, workload=a.workload, seed=a.seed,
                               seconds=a.seconds, trace=a.trace), work)
        res = (batch_results(raw, root, args) if a.workload == "surface_floor"
               else stream_results(raw, args))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    n = res["n"]
    e2e = {
        "setup_s": metric(stats.median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "op_p50_ms": metric(res["p50"], "ms", n),
        "op_p90_ms": metric(res["p90"], "ms", n),
        "throughput_per_s": metric(res["throughput"], "1/s", n),
        "peak_rss_mb": metric(raw["peak_rss_mb"], "MB", 1),
    }
    attempted, failed = res["attempted"], res["failed"]
    spans, batches = res["spans"], res["batches"]
    layers = {}
    if a.trace:
        layers, per_op_tasks = stats.layer_metrics(raw, spans, batches,
                                                   raw["cpus"])
        if batches:
            layers.update(stats.stream_layer_metrics(
                batches, MONITOR_RATE, MONITOR_INTERVAL_MS, per_op_tasks))
        layers["jvm.gc_ms"] = raw["jvm_gc_ms"]
        for m in spec["per_layer"]:
            layers[m["name"]] = metric(float(layers.get(m["name"], 0.0)),
                                       m["unit"], len(spans or batches))
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layers, "warm_s": raw["warm_s"],
        "host": {k: raw[k] for k in ("loadavg_start", "ext_cpu_frac",
                                     "iowait_frac", "cpus")},
        "per_entry_ms": res["detail"],
        "conf": {k: v.replace(root + os.sep, "") for k, v in raw["conf"].items()},
        "time": time.time()}
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    # every metric is printed; the result line carries the ones
    # BENCHMARK.json gates (end-to-end untraced, per-layer traced)
    shown = layers if a.trace else e2e
    gated = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    for name, m in shown.items():
        print(f"{a.workload:14s} {name:26s} {m['value']:14.4f} {m['unit']:9s}"
              f" n={m['n']}{'' if name in gated else '  (not gated)'}")
    top = stats.supported_percentile(n)
    print(f"{a.workload:14s} highest percentile with >=10 samples beyond: "
          + (f"p{100 * top:.1f}" if top else "none") + f" (n={n})")
    print(f"{a.workload:14s} error_rate {failed / attempted:.4f} "
          f"({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": shown[k]["value"], "unit": shown[k]["unit"]}
                    for k in gated}}))


if __name__ == "__main__":
    main()

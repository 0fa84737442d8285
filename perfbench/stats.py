"""The benchmark's arithmetic: percentiles, open-loop latency from the
schedule, span self time, and the per-layer rollups of a traced run.
Pure functions of the harness JVM's raw samples (see Main.scala)."""
import math


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of `values`."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def supported_percentile(n, min_beyond=10):
    """The highest percentile (as a fraction) that leaves at least
    `min_beyond` of `n` samples above it; None when n is too small."""
    if n <= min_beyond:
        return None
    return 1.0 - min_beyond / n


def median(values):
    return percentile(values, 0.5)


def quartiles(values):
    return percentile(values, 0.25), percentile(values, 0.5), \
        percentile(values, 0.75)


def timed_batches(batches, interval_ms, tol_ms=25):
    """The data batches of an open-loop run from its first on-tick trigger
    on. The first trigger starts at a random phase of the tick and also
    loads the capture, so it (and a catch-up trigger behind it) belongs to
    set-up: the source admits a fixed count per trigger, so an overrun
    there would shift every later hit by one whole interval depending only
    on that phase."""
    data = sorted((b for b in batches if b["rows"] > 0),
                  key=lambda b: b["start_off"])
    for k, b in enumerate(data):
        if k > 0 and b["start_ms"] % interval_ms < tol_ms:
            return data[k:]
    return []


def scheduled_ms(i, rate, origin_ms, interval_ms):
    """Creation time of the i-th timed hit on the open-loop schedule: the
    hits the source admits at the trigger due at origin + k x interval
    were created during the interval before it, at `rate` hits/s."""
    return origin_ms + i * 1000.0 / rate - interval_ms


def hit_latencies(batches, rate, interval_ms):
    """Per-hit latency (ms): end of the micro-batch that emitted the hit's
    occupancy update minus the hit's scheduled creation time. Counting
    from the schedule, not from admission, charges a stall to every hit
    queued behind it."""
    data = timed_batches(batches, interval_ms)
    if not data:
        return []
    origin = math.floor(data[0]["start_ms"] / interval_ms) * interval_ms
    base = data[0]["start_off"]
    out = []
    for b in data:
        end = b["start_ms"] + b["duration_ms"]["triggerExecution"]
        out.extend(end - scheduled_ms(i - base, rate, origin, interval_ms)
                   for i in range(b["start_off"], b["end_off"]))
    return out


def trigger_lateness(batches, interval_ms):
    """How late each timed trigger ran against its tick (ms)."""
    data = timed_batches(batches, interval_ms)
    if not data:
        return []
    origin = math.floor(data[0]["start_ms"] / interval_ms) * interval_ms
    return [max(0.0, b["start_ms"] - (origin + k * interval_ms))
            for k, b in enumerate(data)]


def union_ms(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover; child
    intervals are clipped to the span first."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children
               if ce > s and cs < e]
    return (e - s) - union_ms(clipped)


def layer_metrics(raw, ops, batches, cpus):
    """Per-layer metrics of a traced run. `ops` are the operation spans
    [(start_ms, end_ms, build_end_ms)] of a batch workload and `batches`
    the micro-batches of a stream workload; each job is assigned to the
    operation or micro-batch its start falls in (operations and
    micro-batches of one run never overlap)."""
    tr = raw["spans"]
    fields = tr["task_fields"]
    tasks = [dict(zip(fields, t)) for t in tr["tasks"]]
    ends = {j: t for j, t in tr["job_ends"]}
    stage_job = {}
    jobs = []
    for j in tr["jobs"]:
        j = dict(j, end=ends.get(j["job"], j["start"]))
        jobs.append(j)
        for s in j["stages"]:
            stage_job[s] = j["job"]
    if ops:
        windows = [(o[0], o[1]) for o in ops]
    else:
        windows = [(b["start_ms"],
                    b["start_ms"] + b["duration_ms"].get("triggerExecution", 0))
                   for b in batches]

    def owner(t):
        for k, (s, e) in enumerate(windows):
            if s - 1 <= t <= e + 1:
                return k
        return None

    per = [dict(jobs=[], tasks=[], stages=set(), plan={}) for _ in windows]
    job_owner = {}
    for j in jobs:
        k = j["op"] if ops and j.get("op") is not None else owner(j["start"])
        if k is not None and 0 <= k < len(per):
            per[k]["jobs"].append(j)
            job_owner[j["job"]] = k
    for t in tasks:
        k = job_owner.get(stage_job.get(t["stage"]))
        if k is not None:
            per[k]["tasks"].append(t)
            per[k]["stages"].add(t["stage"])
    for p in tr["plans"]:
        if "analysis" not in p:
            continue
        k = owner(p["analysis"][0])
        if k is not None:
            for phase, (s, e) in p.items():
                per[k]["plan"][phase] = per[k]["plan"].get(phase, 0) + e - s

    def med(f):
        return median([f(k, p) for k, p in enumerate(per)]) if per else 0.0

    def mean(f):
        return sum(f(k, p) for k, p in enumerate(per)) / len(per) if per else 0.0

    def tsum(p, key):
        return sum(t[key] for t in p["tasks"])

    all_tasks = [t for p in per for t in p["tasks"]]
    wall = sum(e - s for s, e in windows)
    mb = 1024.0 * 1024.0
    m = {
        "ops.build_ms": med(lambda k, p: ops[k][2] - ops[k][0]) if ops else 0.0,
        "ops.eager_jobs": mean(lambda k, p: sum(
            1 for j in p["jobs"] if j["start"] < ops[k][2])) if ops else 0.0,
        "plan.analysis_ms": med(lambda k, p: p["plan"].get("analysis", 0)),
        "plan.optimization_ms": med(
            lambda k, p: p["plan"].get("optimization", 0)),
        "plan.planning_ms": med(lambda k, p: p["plan"].get("planning", 0)),
        "exec.driver_self_ms": med(lambda k, p: self_ms(
            windows[k], [(j["start"], j["end"]) for j in p["jobs"]])),
        "exec.jobs": mean(lambda k, p: len(p["jobs"])),
        "exec.stages": mean(lambda k, p: len(p["stages"])),
        "exec.tasks": mean(lambda k, p: len(p["tasks"])),
        "exec.useful_task_frac": (
            sum(1 for t in all_tasks
                if t["in_records"] + t["shuf_r_records"] > 0)
            / len(all_tasks)) if all_tasks else 0.0,
        "exec.sched_ms": med(lambda k, p: sum(
            max(0.0, (t["finish"] - t["launch"]) - t["run_ms"] - t["deser_ms"]
                - t["ser_ms"]) for t in p["tasks"])),
        "exec.task_run_s": med(lambda k, p: tsum(p, "run_ms") / 1000),
        "exec.task_cpu_s": med(lambda k, p: tsum(p, "cpu_ms") / 1000),
        "exec.gc_s": med(lambda k, p: tsum(p, "gc_ms") / 1000),
        "exec.busy_frac": (sum(t["run_ms"] for t in all_tasks)
                           / (wall * cpus)) if wall else 0.0,
        "scan.input_mb": mean(lambda k, p: tsum(p, "in_bytes") / mb),
        "scan.records": mean(lambda k, p: tsum(p, "in_records")),
        "shuffle.write_mb": mean(lambda k, p: tsum(p, "shuf_w_bytes") / mb),
        "shuffle.read_mb": mean(lambda k, p: tsum(p, "shuf_r_bytes") / mb),
        "shuffle.fetch_wait_ms": mean(lambda k, p: tsum(p, "fetch_wait_ms")),
        "spill.disk_mb": mean(lambda k, p: tsum(p, "spill_disk") / mb),
        "spill.mem_mb": mean(lambda k, p: tsum(p, "spill_mem") / mb),
    }
    return m, [len(p["tasks"]) for p in per]


def stream_layer_metrics(batches, rate, interval_ms, tasks_per_batch):
    """Per-layer metrics read from the micro-batch progress reports."""
    if not batches:
        return {}
    data = sorted(batches, key=lambda b: (b["start_ms"], b["id"]))

    def dur(key):
        return median([b["duration_ms"].get(key, 0) for b in data])

    def smed(key):
        return median([b[key] for b in data])

    timed = timed_batches(data, interval_ms)
    origin = math.floor(timed[0]["start_ms"] / interval_ms) * interval_ms
    base = timed[0]["start_off"]
    lag = [max(0.0, (b["start_ms"] - origin + interval_ms) * rate / 1000
                - (b["end_off"] - base)) for b in timed]
    late = trigger_lateness(data, interval_ms)
    return {
        "source.latest_offset_ms": dur("latestOffset"),
        "source.get_batch_ms": dur("getBatch"),
        "source.lag_hits": median(lag),
        "source.trigger_late_ms": median(late) if late else 0.0,
        "microbatch.trigger_ms": dur("triggerExecution"),
        "microbatch.planning_ms": dur("queryPlanning"),
        "microbatch.add_batch_ms": dur("addBatch"),
        "microbatch.wal_ms": dur("walCommit"),
        "microbatch.commit_ms": dur("commitOffsets"),
        "microbatch.tasks": (sum(tasks_per_batch) / len(tasks_per_batch)
                             if tasks_per_batch else 0.0),
        "microbatch.empty_frac": sum(1 for b in data if b["rows"] == 0)
        / len(data),
        "state.rows": smed("state_rows"),
        "state.mem_mb": smed("state_mem") / (1024.0 * 1024.0),
        "state.commit_ms": smed("state_commit_ms"),
        "state.update_ms": smed("state_update_ms"),
        "state.removal_ms": smed("state_removal_ms"),
        "state.dropped_late": float(sum(b["state_dropped"] for b in data)),
    }

"""Metric arithmetic for the benchmark: percentiles, interval unions, span
self time, and the reduction of one run's raw harness output (plus the
stub's request log) to end-to-end and per-layer metrics."""
import math
import statistics


def percentile(values, q):
    """Linear-interpolated percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    """Geometric mean: every op weighs the same whatever its size."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by half-open (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(start, end, children):
    """A span's duration minus the time its children cover inside it.
    Overlapping children (parallel jobs) count once."""
    return (end - start) - union_length(clip(children, start, end))


MS = 1e6  # ns per ms


def _spans(raw):
    """Index the trace by sample: jobs (epoch ns) and stages per sample."""
    tr = raw.get("trace") or {"jobs": [], "stages": [], "batches": []}
    jobs = {}
    for j in tr["jobs"]:
        if j["end_ms"] < 0:
            continue
        j = dict(j, s=j["start_ms"] * MS, e=j["end_ms"] * MS)
        jobs.setdefault(j["sample"], []).append(j)
    job_sample = {j["id"]: j for js in jobs.values() for j in js}
    stages = {}
    for st in tr["stages"]:
        j = job_sample.get(st["job"])
        if j is not None:
            stages.setdefault(j["sample"], []).append(dict(st, phase=j["phase"]))
    batches = [dict(b, s=b["start_ms"] * MS,
                    e=(b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)) * MS)
               for b in tr["batches"]]
    return jobs, stages, batches


def layer_breakdown(sample, jobs, batches):
    """Split one sample's wall time into disjoint layer self times (ns).

    build: stream = micro-batches and streaming jobs launched inside the
    query function; exec = its other (eager) jobs; entry = the rest.
    plan is its own phase; the exec phase is all exec."""
    t0, t1, t2, t3 = sample["t0"], sample["t1"], sample["t2"], sample["t3"]
    build_jobs = [j for j in jobs if j["phase"] == "build"]
    stream_iv = [(j["s"], j["e"]) for j in build_jobs if j["stream"]]
    stream_iv += [(b["s"], b["e"]) for b in batches]
    eager_iv = [(j["s"], j["e"]) for j in build_jobs if not j["stream"]]
    entry = self_time(t0, t1, stream_iv + eager_iv)
    stream = union_length(clip(stream_iv, t0, t1))
    eager = (t1 - t0) - entry - stream
    return {"entry": entry, "plan": t2 - t1, "exec": eager + (t3 - t2), "stream": stream}


def summarize(raw, stub_log, cores, wrong_ops):
    """Reduce one run. Returns (end_to_end, per_layer, counts)."""
    samples = raw["samples"]
    passes = raw["passes"]
    for s in samples:
        s["failed"] = (not s["ok"]) or s["op"] in wrong_ops or s.get("rows_bad", False)
    good = [s for s in samples if not s["failed"]]
    # a run where every sample failed still reports (correct: false), with
    # latencies over the failed samples
    timed = good or samples
    op_ms = [(s["t3"] - s["t0"]) / MS for s in timed]
    pass_s = [(p["end_ns"] - p["start_ns"]) / 1e9 for p in passes]
    wall_s = statistics.median(pass_s)
    drained = [s for s in timed if "drain_ns" in s]
    if drained:
        rows = sum(s["landed_rows"] for s in drained)
        rows_per_s = rows / (sum(s["drain_ns"] for s in drained) / 1e9)
    else:
        rows_per_s = sum(s.get("rows", 0) for s in timed) / (sum(op_ms) / 1e3)
    by_op = {}
    for s in timed:
        by_op.setdefault(s["op"], []).append((s["t3"] - s["t0"]) / MS)
    e2e = {
        "setup_s": (raw["timed_start_epoch_ns"] - raw["spawn_epoch_ns"]) / 1e9,
        "wall_s": wall_s,
        "op_geomean_ms": geomean([statistics.median(v) for v in by_op.values()]),
        "rows_per_s": rows_per_s,
        "retained_heap_mb": raw["retained_heap_bytes"] / 2**20,
    }
    counts = {"attempted": len(samples), "failed": len(samples) - len(good),
              "passes": len(passes), "samples_ok": len(good),
              "op_p50_ms": percentile(op_ms, 50),
              "op_p90_ms": percentile(op_ms, 90),
              "samples_above_p90": sum(1 for x in op_ms if x > percentile(op_ms, 90))}
    npass = len(passes)
    per = {
        "jvm.gc_ms": raw["gc_ms"] / npass,
        "jvm.gc_count": raw["gc_count"] / npass,
        "jvm.heap_peak_mb": raw["heap_peak_bytes"] / 2**20,
        "write.bytes": raw["fs_bytes_written"] / npass,
        "write.files": raw["files_written"] / npass,
    }
    per.update(_source_metrics(stub_log, raw, npass))
    if raw.get("trace") and good:
        per.update(_trace_metrics(raw, good, passes, cores))
    return e2e, per, counts


def _source_metrics(log, raw, npass):
    t0, t1 = raw["timed_start_epoch_ns"], raw["timed_end_epoch_ns"]
    reqs = [r for r in log if t0 <= r["start_ns"] < t1]
    ok = [r for r in reqs if r["status"] == 200]
    return {
        "source.requests": len(reqs) / npass,
        "source.pages_ok": len(ok) / npass,
        "source.status_429": sum(r["status"] == 429 for r in reqs) / npass,
        "source.status_5xx": sum(r["status"] >= 500 for r in reqs) / npass,
        "source.fetch_ratio": len(ok) / len(reqs) if reqs else 0.0,
        "source.server_ms": sum(r["end_ns"] - r["start_ns"] for r in reqs) / MS / npass,
        "source.bytes": sum(r["bytes"] for r in reqs) / npass,
        "source.retry_wait_ms": _retry_wait_ms(reqs) / npass,
        "source.inflight_max": raw.get("stub_inflight_max", 0),
    }


def _retry_wait_ms(reqs):
    """Time between a failed answer and the next request for the same page."""
    by_page = {}
    for r in sorted(reqs, key=lambda r: r["start_ns"]):
        by_page.setdefault((r["entity"], r["page"]), []).append(r)
    wait = 0
    for rs in by_page.values():
        for a, b in zip(rs, rs[1:]):
            if a["status"] != 200:
                wait += b["start_ns"] - a["end_ns"]
    return wait / MS


def _trace_metrics(raw, good, passes, cores):
    jobs, stages, batches = _spans(raw)
    npass = len(passes)
    build = [(s["t1"] - s["t0"]) / MS for s in good]
    plan = [(s["t2"] - s["t1"]) / MS for s in good]
    exe = [(s["t3"] - s["t2"]) / MS for s in good]
    layers = {"entry": 0, "plan": 0, "exec": 0, "stream": 0}
    build_self, floors, task_ms, cpu_ms, gc_ms = [], [], [], [], []
    for s in good:
        sb = [b for b in batches if s["t0"] <= b["s"] < s["t3"]]
        br = layer_breakdown(s, jobs.get(s["id"], []), sb)
        for k, v in br.items():
            layers[k] += v
        build_self.append(br["entry"] / MS)
        st = stages.get(s["id"], [])
        floors.append((s["t3"] - s["t0"]) / MS - sum(x["max_task_ms"] for x in st))
        task_ms.append(sum(x["run_ms"] for x in st))
        cpu_ms.append(sum(x["cpu_ms"] for x in st))
        gc_ms.append(sum(x["gc_ms"] for x in st))
    timed = {s["id"] for s in raw["samples"]}
    all_st = [x for k, ss in stages.items() if k in timed for x in ss]
    all_jobs = [j for k, js in jobs.items() if k in timed for j in js]
    total_wall_ns = sum(p["end_ns"] - p["start_ns"] for p in passes)
    harness = total_wall_ns - sum(layers.values())
    skews = [x["max_task_ms"] / x["median_task_ms"] for x in all_st
             if x["tasks"] >= 2 and x["median_task_ms"] > 0]
    tb = [b for b in batches
          if raw["timed_start_epoch_ns"] <= b["s"] < raw["timed_end_epoch_ns"]]
    bdur = [b["duration_ms"].get("triggerExecution", 0) for b in tb]
    proto_keys = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
    n_samples = len(good)
    per = {
        "entry.build_ms": statistics.median(build),
        "entry.build_self_ms": statistics.median(build_self),
        "entry.eager_jobs": sum(1 for j in all_jobs if j["phase"] == "build") / npass,
        "plan.plan_ms": statistics.median(plan),
        "plan.exchanges": sum(s.get("exchanges", 0) for s in good) / npass,
        "plan.broadcasts": sum(s.get("broadcasts", 0) for s in good) / npass,
        "plan.smj": sum(s.get("smj", 0) for s in good) / npass,
        "plan.codegen_stages": sum(s.get("codegen_stages", 0) for s in good) / npass,
        "exec.exec_ms": statistics.median(exe),
        "exec.jobs": len(all_jobs) / npass,
        "exec.stages": len(all_st) / npass,
        "exec.tasks": sum(x["tasks"] for x in all_st) / npass,
        "exec.task_ms": sum(task_ms) / n_samples,
        "exec.cpu_ms": sum(cpu_ms) / n_samples,
        "exec.gc_ms": sum(gc_ms) / n_samples,
        "exec.sched_floor_ms": statistics.median(floors),
        "exec.slot_busy": sum(task_ms) / (total_wall_ns / MS * cores),
        "exec.peak_mem_mb": max((x["peak_mem"] for x in all_st), default=0) / 2**20,
        "shuffle.write_bytes": sum(x["shuffle_write"] for x in all_st) / npass,
        "shuffle.read_bytes": sum(x["shuffle_read"] for x in all_st) / npass,
        "shuffle.fetch_wait_ms": sum(x["fetch_wait_ms"] for x in all_st) / npass,
        "shuffle.spill_bytes": sum(x["spill"] for x in all_st) / npass,
        "shuffle.task_skew": max(skews, default=1.0),
        "stream.batches": len(tb) / npass,
        "stream.rows_per_batch": (sum(b["rows"] for b in tb) / len(tb)) if tb else 0.0,
        "stream.batch_p50_ms": percentile(bdur, 50) if bdur else 0.0,
        "stream.batch_p90_ms": percentile(bdur, 90) if bdur else 0.0,
        "stream.add_batch_ms": (sum(b["duration_ms"].get("addBatch", 0) for b in tb) / len(tb)) if tb else 0.0,
        "stream.protocol_ms": (sum(sum(b["duration_ms"].get(k, 0) for k in proto_keys)
                                   for b in tb) / len(tb)) if tb else 0.0,
    }
    for k, v in layers.items():
        per[f"self.{k}_s"] = v / 1e9 / npass
    per["self.harness_s"] = harness / 1e9 / npass
    per["self.coverage"] = sum(layers.values()) / total_wall_ns
    return per

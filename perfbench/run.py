#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JVM per run.

    python3 perfbench/run.py --workload {cdc_http,analytics,corpus} \
        --seed N --seconds S --trace {0,1}

Builds the engine with the harness (sbt, once per source tree), generates
the seeded inputs, runs the harness in one JVM (`local[nproc]`), checks
every output outside the timed window, and prints one JSON line as the last
line of stdout. A human-readable report (metrics with units, provenance,
sample counts) goes to stderr, and the full record to
perfbench/.results/. Exits non-zero without a result when the engine
sources are missing or the build or the harness fails.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402
import stub     # noqa: E402

# Every op is oracled. The lists are sized so that a whole run (JVM, check
# and warm-up passes, timed passes, checks) stays under a minute on 4 cores.
ANALYTICS_SHORT = [
    "q_scan_project", "q_filter_range", "q_key_route", "q_string_cast",
    "q_window_rank", "q_listagg", "q_topk", "q_sessionize", "q_dedup_latest",
    "q_regex_funcs"]
ANALYTICS_HEAVY = ["q_cube", "q_agg_hash", "q_join_asof_range", "q_skew_join"]
# q_ivf_absorb owns the IVF memo the serving ops read, so it runs first
CORPUS_MAINTENANCE = ["q_ivf_absorb"]
CORPUS_SERVING = ["q_ivf_serve", "q_bm25_topk", "q_dedup_groups"]

SF = 0.01
CDC = {"entities": list(stub.ENTITIES), "rows_per_entity": 4320,
       "page_size": 500, "window_rows": 1440, "max_retries": 3,
       "retry_backoff_scale": 0.0001}
# untimed passes after the check pass, per workload: a cdc_http pass is a
# short drain whose JIT settles over several passes. Counts, not a time
# budget, so that set-up time follows the engine's speed.
WARM_PASSES = {"analytics": 3, "cdc_http": 6, "corpus": 2}
# the fewest timed passes a run makes, so that wall_s is a median
MIN_PASSES = 3
OP_TIMEOUT_S = 60
RUN_BUDGET_S = 175
BUILD_BUDGET_S = 890
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def op_order(workload, seed):
    rnd = random.Random(f"{seed}:{workload}:order")
    if workload == "cdc_http":
        return ["cdc_drain"]
    if workload == "analytics":
        ops = ANALYTICS_SHORT + ANALYTICS_HEAVY
        rnd.shuffle(ops)
        return ops
    serve = CORPUS_SERVING[:]
    rnd.shuffle(serve)
    return CORPUS_MAINTENANCE + serve


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Classpath of the compiled engine + harness; compiles only when the
    source tree changed since the last build in this checkout."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise BenchError("engine sources not found next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest and all(os.path.exists(p) for p in s["classpath"].split(":")):
            return s["classpath"], digest, False
    log("[perfbench] building engine + harness with sbt")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=max(60, deadline - time.time()), stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError(f"sbt failed to run: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log("\n".join(lines[-40:]))
        raise BenchError(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest, True


# ---------------------------------------------------------------- host

def host_info():
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return os.cpu_count() or 1, mem_kb


def heap_mb(mem_kb):
    """An eighth of host memory, between 1 and 4 GiB: the inputs are small
    and the host is shared."""
    return int(min(4096, max(1024, mem_kb // 1024 // 8)))


def git_provenance():
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if rev.returncode != 0:
            return "unknown", None
        st = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, text=True,
                            capture_output=True, timeout=10)
        return rev.stdout.strip(), bool(st.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return "unknown", None


# ---------------------------------------------------------------- run

def run_harness(cp, cfg_path, heap, work, deadline):
    # a fixed-size heap: adaptive resizing during the run would show up as
    # a trend across the timed passes
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness", cfg_path]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("harness timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            log(f.read()[-4000:])
        raise BenchError(f"harness exited {rc}")


def bench(args):
    t_start = time.time()
    cores, mem_kb = host_info()
    cp, digest, built = build(t_start + BUILD_BUDGET_S)
    deadline = (t_start + BUILD_BUDGET_S) if built else (t_start + RUN_BUDGET_S)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "ckpt", "local", "warehouse", "check", "duck"):
        os.makedirs(os.path.join(work, d))
    srv = None
    try:
        ops = op_order(args.workload, args.seed)
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cores": cores, "ops": ops,
               "op_timeout_s": OP_TIMEOUT_S, "warm_passes": WARM_PASSES[args.workload],
               "min_passes": MIN_PASSES,
               "data_dir": os.path.join(work, "data"), "work_dir": work,
               "check_dir": os.path.join(work, "check"),
               "out": os.path.join(work, "harness.json")}
        expected = None
        if args.workload == "cdc_http":
            rows = {e: CDC["rows_per_entity"] for e in CDC["entities"]}
            records = {e: stub.changelog(args.seed, e, rows[e]) for e in CDC["entities"]}
            faults = stub.fault_schedule(args.seed, rows, CDC["page_size"],
                                         CDC["window_rows"], CDC["max_retries"])
            expected = stub.expected_compaction(records)
            srv = stub.Stub(records, faults, max_inflight=cores)
            cfg["cdc"] = dict(CDC, rows=rows, endpoint=srv.url)
        else:
            gen.write(cfg["data_dir"], args.seed, SF)
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        heap = heap_mb(mem_kb)
        stub_start = time.time_ns()
        if srv:
            srv.start()
        run_harness(cp, cfg_path, heap, work, deadline - 15)
        t_harness = time.time()
        if srv:
            srv.stop()
        with open(cfg["out"]) as f:
            raw = json.load(f)
        raw["spawn_epoch_ns"] = stub_start
        raw["stub_inflight_max"] = srv.inflight_max if srv else 0
        stub_log = srv.log if srv else []

        # checks, outside the timed window
        if args.workload == "cdc_http":
            n, err = check.cdc_check(cfg["check_dir"], expected)
            results = {"cdc_drain": (n, err)}
        else:
            results = check.oracle_check(cfg["data_dir"], cfg["check_dir"], raw["oracle_sql"],
                                         sorted(set(ops)), cores, os.path.join(work, "duck"))
        for op, c in raw["checks"].items():
            if not c["ok"]:
                results[op] = (None, c.get("error", "check pass failed"))
        wrong = {op for op, (_, err) in results.items() if err}
        for s in raw["samples"]:
            s["rows_bad"] = s["ok"] and s["rows"] != results[s["op"]][0]
        e2e, per, counts = metrics.summarize(raw, stub_log, cores, wrong)
        log(f"[perfbench] checks took {time.time() - t_harness:.1f} s, "
            f"the whole run {time.time() - t_start:.1f} s")
        correct = not wrong and counts["failed"] == 0

        commit, dirty = git_provenance()
        prov = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "commit": commit, "dirty": dirty, "source_sha256": digest,
                "nproc": cores, "mem_total_kb": mem_kb, "master": f"local[{cores}]",
                "heap_mb": heap, "heap_max_bytes": raw["heap_max_bytes"],
                "gc": raw["gc_names"], "jvm_args": raw["jvm_args"],
                "spark": raw["spark_version"], "sf": SF if args.workload != "cdc_http" else None,
                "ops": ops, "counts": counts, "built_this_run": built,
                "setup_parts_s": setup_parts(raw),
                "host_steal_share": steal_share(raw["cpu_stat_start"], raw["cpu_stat_end"])}
        report(args, e2e, per, counts, prov, results, raw)
        metrics_out = dict(e2e, **per) if args.trace else e2e
        units = declared_units("per_layer" if args.trace else "end_to_end")
        line = {"correct": correct, "attempted": counts["attempted"],
                "failed": counts["failed"],
                # a run with no good sample has no spans to reduce
                "metrics": {k: {"value": metrics_out[k] if k in metrics_out or correct else 0.0,
                                "unit": units[k]} for k in units}}
        by_op = {}
        for s in raw["samples"]:
            by_op.setdefault(s["op"], []).append((s["t3"] - s["t0"]) / 1e6)
        save(args, {"result": line, "provenance": prov, "end_to_end": e2e, "per_layer": per,
                    "checks": {k: v[1] for k, v in results.items()},
                    "check_pass_ms": {k: v["ms"] for k, v in raw["checks"].items()},
                    "op_ms": by_op})
        print(json.dumps(line))
    finally:
        if srv and srv.thread.is_alive():
            srv.stop()
        shutil.rmtree(work, ignore_errors=True)


# the end-to-end figures every run reports. BENCHMARK.json gates only those
# that repeat from run to run within a tenth on a shared host (setup_s,
# retained_heap_mb); it lists the others as figures of the traced run.
UNITS_E2E = {"setup_s": "s", "wall_s": "s", "op_geomean_ms": "ms",
             "rows_per_s": "rows/s", "retained_heap_mb": "MB"}


def declared_units(section):
    """{name: unit} of the metrics BENCHMARK.json lists under `section`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def steal_share(start, end):
    """Share of the host's CPU time stolen by other guests between two
    /proc/stat `cpu` lines; None where the lines are not available."""
    if not start.startswith("cpu ") or not end.startswith("cpu "):
        return None
    d = [b - a for a, b in zip(map(int, start.split()[1:9]), map(int, end.split()[1:9]))]
    return round(d[7] / sum(d), 4) if sum(d) else None


def setup_parts(raw):
    """Where set-up time went: JVM start, SparkSession, check pass, warm-up."""
    marks = [raw["spawn_epoch_ns"], raw["main_epoch_ns"], raw["session_epoch_ns"],
             raw["check_end_epoch_ns"], raw["timed_start_epoch_ns"]]
    names = ["jvm", "session", "check_pass", "warm_up"]
    return {n: round((b - a) / 1e9, 3) for n, a, b in zip(names, marks, marks[1:])}


def report(args, e2e, per, counts, prov, results, raw):
    log(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace}")
    for k, v in e2e.items():
        log(f"  {k:<18} {v:14.4f} {UNITS_E2E[k]}")
    log(f"  {'':<18} set-up parts (s): {prov['setup_parts_s']}")
    log(f"  {'':<18} CPU stolen by other guests in the timed window: {prov['host_steal_share']}")
    frac = counts["failed"] / counts["attempted"]
    log(f"  {'failed_frac':<18} {frac:14.4f} ratio "
        f"({counts['failed']} of {counts['attempted']} ops)")
    log(f"  {'op_p50_ms':<18} {counts['op_p50_ms']:14.4f} ms (over {counts['samples_ok']} samples)")
    tail = counts["samples_above_p90"]
    log(f"  {'op_p90_ms':<18} {counts['op_p90_ms']:14.4f} ms"
        f"{'' if tail >= 10 else f'  (not reported: {tail} samples above p90, need 10)'}")
    for op, (_, err) in sorted(results.items()):
        if err:
            log(f"  CHECK FAILED {op}: {err}")
    for s in raw["samples"]:
        if s["failed"]:
            why = s.get("error") or ("wrong output" if results[s["op"]][1] else "row count mismatch")
            log(f"  SAMPLE FAILED {s['op']}: {why}")
    if args.trace:
        for k in sorted(per):
            log(f"  {k:<26} {per[k]:16.4f}")
        if "self.coverage" in per:
            log(f"  layer self times cover {per['self.coverage']:.1%} of pass wall "
                "(harness gaps are the rest)")
        untraced = os.path.join(HERE, ".results", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["wall_s"]
            log(f"  tracing overhead: wall_s {e2e['wall_s']:.4f} s traced vs {base:.4f} s "
                f"untraced ({e2e['wall_s'] / base - 1:+.1%})")
        else:
            log(f"  tracing overhead: run --trace 0 with seed {args.seed} first to compare")
    log("[perfbench] provenance " + json.dumps(prov))


def save(args, record):
    d = os.path.join(HERE, ".results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["cdc_http", "analytics", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still unwinds: the harness JVM is killed and the
    # work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench(args)
    except (BenchError, OSError, KeyError, ValueError) as e:
        log(f"[perfbench] error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: closed-loop passes over one workload of SparkEntry.queries.

    python3 perfbench/run.py --workload analytics --seed 0 --seconds 10 --trace 0

Run from the repository root. One run:

1. builds the library and the harness (perfbench/harness/build.py) if
   their sources changed;
2. makes the seed's inputs (perfbench/inputs.py), outside any timing;
3. starts one JVM (perfbench.Harness) on local[nproc] with the heap rule
   of the repository's test command. As set-up it calls every workload
   query once and hashes each result; when some query has no verified
   expected hash for the seed's inputs yet, it then also dumps every result
   (timed apart, and left out of setup_s). With one client thread it
   times closed-loop passes (each call after the previous call and its
   GraftSession.release have returned) for about --seconds;
4. checks a dump against DuckDB with tools/selfcheck.py (the passing
   hashes are cached per input variant as the expected ones) and every
   timed call's content hash against the expected one;
5. archives one record under .bench_build/perfbench/archive/ (never
   overwritten) and prints the metrics as the last line of stdout.

Workloads (perfbench/harness/src/perfbench/Workloads.scala): cdc_stream
(bounded streaming runners), analytics (relational and batch CDC) and
corpus (training-data operators), each a fixed sample of its query class.

--trace 0 prints the end-to-end metrics listed in BENCHMARK.json:
setup_s, run_s and heap_peak_live_mb. The record also holds
query_p50_ms, query_p90_ms (or the highest percentile with ten samples
beyond it) and error_rate; with 5-6 calls per run the latency
percentiles move 10-20% between runs of the same code, so they are
archived, not gated. --trace 1 is a separate traced run that prints the
per-layer metrics: listeners, GC, span sums and direct kernel calls.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ inside the benchmark's directory
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))

import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("cdc_stream", "analytics", "corpus")
JVM_LIMIT_S = 150     # a run ends within 180 s (the first one of a checkout also builds)
ORACLE_LIMIT_S = 20
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "query_p50_ms": "ms",
                    "query_p90_ms": "ms", "error_rate": "ratio", "heap_peak_live_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def driver_heap():
    """SPARK_DRIVER_MEM, else the test command's rule: half of RAM, 2g..8g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def revision(root, digest):
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode == 0:
            return rev.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"sources-sha256:{digest[:16]}"


# ---------------------------------------------------------------- statistics

def tail_rank(n, p=90):
    """Nearest rank (1-based) of the reported tail percentile: p if at
    least ten samples lie beyond it, else the highest percentile that
    still has ten beyond it. None when there are ten samples or fewer."""
    k = -(-p * n // 100)  # ceil(p * n / 100)
    if n - k >= 10:
        return k
    return n - 10 if n > 10 else None


def tail(values, p=90):
    xs = sorted(values)
    k = tail_rank(len(xs), p)
    if k is None:
        return None, None
    return xs[k - 1], 100.0 * k / len(xs)


def span_ms(call, name):
    s = next((s for s in call["spans"] if s["name"] == name), None)
    return 0.0 if s is None else (int(s["end_ns"]) - int(s["start_ns"])) / 1e6


def latency_ms(call):
    """Calling the query function to finishing consuming its result."""
    return span_ms(call, "build") + span_ms(call, "plan") + span_ms(call, "consume")


def pass_wall_ms(p):
    return (int(p["end_ns"]) - int(p["start_ns"])) / 1e6


def span_coverage(p):
    """Share of a pass's wall time covered by its calls' build, plan,
    consume and release spans."""
    covered = sum(span_ms(c, n) for c in p["calls"] for n in ("build", "plan", "consume", "release"))
    return covered / pass_wall_ms(p)


def with_self_time(spans):
    """Each span plus its self time: its duration minus the time its
    child spans cover."""
    def dur(s):
        return int(s["end_ns"]) - int(s["start_ns"])
    return [dict(s, self_ms=(dur(s) - sum(dur(k) for k in spans if k["parent"] == s["name"])) / 1e6)
            for s in spans]


# ---------------------------------------------------------------- correctness

def judge(record, expected, oracle_fail):
    """Outcome of every timed call: None when correct, else the reason."""
    outcomes = []
    for i, p in enumerate(record["passes"]):
        for c in p["calls"]:
            q = c["query"]
            if c["error"]:
                why = c["error"]
            elif q not in expected:
                why = "no verified expected hash: " + oracle_fail.get(q, "prep run failed")
            elif c["hash"] != expected[q]:
                why = f"content hash {c['hash']} != expected {expected[q]}"
            else:
                why = None
            outcomes.append((i, q, why))
    return outcomes


def run_oracle(root, inputs_dir, dump_dir):
    """tools/selfcheck.py over the set-up dump: {query: None | failure}."""
    script = os.path.join(root, "tools", "selfcheck.py")
    if not os.path.exists(script):
        raise SystemExit(f"oracle script not found: {script}")
    r = subprocess.run([sys.executable, script, inputs_dir, dump_dir], capture_output=True,
                       text=True, timeout=ORACLE_LIMIT_S)
    result = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+(\S+?):?(\s.*)?$", line)
        if m:
            result[m.group(2)] = None if m.group(1) == "OK" else line.strip()
    return result


# ---------------------------------------------------------------- metrics

def end_to_end(record, ok_calls):
    untraced = [p for p in record["passes"] if not p["traced"]]
    lat = [latency_ms(c) for i, p in enumerate(record["passes"]) if not p["traced"]
           for c in p["calls"] if (i, c["query"]) in ok_calls]
    p90, pct = tail(lat)
    attempted = sum(len(p["calls"]) for p in untraced)
    failed = attempted - len(lat)
    return {
        "setup_s": (int(record["setup_end_ms"]) - int(record["launch_ms"])
                    - float(record["dump_ms"])) / 1000.0,
        "run_s": statistics.median(pass_wall_ms(p) / 1000.0 for p in untraced),
        "query_p50_ms": statistics.median(lat) if lat else None,
        "query_p90_ms": p90,
        "error_rate": failed / attempted,
        "heap_peak_live_mb": statistics.median(
            int(p["heap_peak_live_bytes"]) / 2 ** 20 for p in untraced),
    }, {"latency_samples": len(lat), "query_p90_percentile": pct,
        "attempted": attempted, "failed": failed}


SUMMED = ["jvm.gc_ms", "jvm.gc_count", "planner.analysis_ms", "planner.optimization_ms",
          "planner.planning_ms", "planner.query_executions", "exec.jobs", "exec.stages",
          "exec.tasks", "exec.scheduler_delay_ms", "exec.tasks_failed", "exec.task_run_ms",
          "exec.task_cpu_ms", "exec.task_gc_ms", "exec.shuffle_write_bytes",
          "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_bytes",
          "exec.output_bytes", "stream.queries", "stream.batches", "stream.input_rows",
          "stream.trigger_ms", "stream.add_batch_ms", "stream.latest_offset_ms",
          "stream.query_planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
          "stream.state_commit_ms", "stream.state_rows", "stream.state_memory_bytes",
          "stream.rows_dropped_by_watermark", "sinks.output_files", "sinks.output_bytes"]


def pass_layers(p, ncores):
    tot = dict(p["unattributed"])
    for c in p["calls"]:
        for k, v in c["layers"].items():
            tot[k] = tot.get(k, 0.0) + (v or 0.0)
    out = {k: tot.get(k, 0.0) for k in SUMMED}
    for name, span in (("call.build_ms", "build"), ("call.plan_ms", "plan"),
                       ("call.consume_ms", "consume"), ("session.release_ms", "release")):
        out[name] = sum(span_ms(c, span) for c in p["calls"])
    tasks, batches = tot.get("exec.tasks", 0.0), tot.get("stream.batches", 0.0)
    out["exec.empty_task_ratio"] = tot.get("exec.empty_tasks", 0.0) / tasks if tasks else 0.0
    out["stream.empty_batch_ratio"] = tot.get("stream.empty_batches", 0.0) / batches if batches else 0.0
    out["exec.core_busy_ratio"] = tot.get("exec.task_run_ms", 0.0) / (ncores * pass_wall_ms(p))
    out["trace.span_coverage"] = span_coverage(p)
    return out


def per_layer(record):
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    ncores = int(record["cores"])
    rows = [pass_layers(p, ncores) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out.update({k: float(v) for k, v in record["kernels"].items()})
    out["box.canary_scan_ms"] = record["canary_scan_ms"]
    out["box.canary_shuffle_ms"] = record["canary_shuffle_ms"]
    out["trace.overhead_ratio"] = (statistics.median(pass_wall_ms(p) for p in traced)
                                   / statistics.median(pass_wall_ms(p) for p in untraced))
    return out


def reported(kind):
    """{metric: unit} of one BENCHMARK.json list ("end_to_end" or "per_layer")."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ---------------------------------------------------------------- the run

def launch(root, cp, args, ncores, heap, record_path, dump_dir, cached, run_tmp):
    """Run the harness JVM. It dumps its set-up results to dump_dir
    unless every query of the workload is in `cached`."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=run_tmp)
    jvm = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    jvm += ["-cp", os.pathsep.join(cp), "perfbench.Harness",
            f"workload={args.workload}", f"seed={args.seed}",
            f"inputs={args.inputs_dir}", f"dump={dump_dir}", f"cached={','.join(cached)}",
            f"out={record_path}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"cores={ncores}",
            f"warehouse={os.path.join(run_tmp, 'warehouse')}",
            f"launch_ms={int(time.time() * 1000)}"]
    jvm_log = run_tmp + ".log"
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(jvm, cwd=root, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"harness exceeded the time limit; log: {jvm_log}")
    if rc != 0 or not os.path.exists(record_path):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness failed (exit {rc}); log: {jvm_log}")
    return jvm_log


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    root = os.getcwd()

    cp = build.build(root)
    args.inputs_dir = inputs.make(root, args.seed)
    phases = {"prepare_s": time.time() - t_start}
    work = os.path.join(root, ".bench_build", "perfbench")
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + f"_{os.getpid()}"
    tag = f"{stamp}_{args.workload}_seed{args.seed}_trace{args.trace}"
    run_tmp = os.path.join(work, "tmp", tag)
    record_path = os.path.join(run_tmp, "record.json")
    os.makedirs(run_tmp)
    ncores, heap = cores(), driver_heap()

    # expected hashes: cached per input variant once a set-up dump passed the oracle
    cache_path = os.path.join(work, "expected", f"variant_{inputs.variant(args.seed)}.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    dump_dir = os.path.join(run_tmp, "dump")

    t_jvm = time.time()
    jvm_log = launch(root, cp, args, ncores, heap, record_path, dump_dir, sorted(cache), run_tmp)
    phases["jvm_s"] = time.time() - t_jvm
    t_oracle = time.time()
    with open(record_path) as f:
        record = json.load(f)

    warm = {w["query"]: w for w in record["warm"]}
    oracle_fail = {}
    if record["dumped"]:
        verdicts = run_oracle(root, args.inputs_dir, dump_dir)
        for q in record["queries"]:
            w = warm[q]
            if w["error"]:
                oracle_fail[q] = "set-up call failed: " + w["error"]
            elif verdicts.get(q, "no oracle verdict") is not None:
                oracle_fail[q] = verdicts.get(q) or "no oracle verdict"
            elif q not in cache:
                cache[q] = w["hash"]
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(cache_path + ".tmp", cache_path)
    expected = {q: cache[q] for q in record["queries"] if q in cache}
    phases["oracle_s"] = time.time() - t_oracle

    outcomes = judge(record, expected, oracle_fail)
    outcome = {(i, q): why for i, q, why in outcomes}
    failures = [o for o in outcomes if o[2] is not None]
    ok_calls = {(i, q) for i, q, why in outcomes if why is None}
    e2e, detail = end_to_end(record, ok_calls)
    coverage = [span_coverage(p) for p in record["passes"]]
    problems = [f"{q}: {why}" for _, q, why in failures]
    if min(coverage) < 0.9:
        problems.append(f"spans cover only {min(coverage):.3f} of a pass")

    layers = per_layer(record) if args.trace else None
    metrics = layers if args.trace else e2e
    spec = reported("per_layer" if args.trace else "end_to_end")
    out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in spec.items()}
    missing = [k for k, v in out_metrics.items() if v["value"] is None]
    if missing:
        problems.append(f"metrics without a value: {missing}")

    attempted = sum(len(p["calls"]) for p in record["passes"])
    archive = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": ncores, "heap": heap,
        "revision": revision(root, open(cp[1] + ".digest").read()),
        "stamp": stamp, "spark_version": record["spark_version"],
        "query_order": record["queries"],
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
        "end_to_end_detail": detail,
        "per_layer": layers,
        "box.canary_scan_ms": record["canary_scan_ms"],
        "span_coverage": coverage,
        "problems": problems,
        "run_phases": phases,
        "setup": {"launch_ms": record["launch_ms"], "main_ms": record["main_ms"],
                  "session_ms": record["session_ms"], "setup_end_ms": record["setup_end_ms"],
                  "dump_ms": record["dump_ms"],
                  "calls": record["warm"]},
        "calls": [{"pass": i, "traced": p["traced"], "query": c["query"],
                   "spans": with_self_time(c["spans"]), "hash": c["hash"],
                   "expected": expected.get(c["query"]),
                   "outcome": outcome[(i, c["query"])] or "ok", "layers": c["layers"]}
                  for i, p in enumerate(record["passes"]) for c in p["calls"]],
        "pass_unattributed": [p["unattributed"] for p in record["passes"]],
    }
    adir = os.path.join(work, "archive")
    os.makedirs(adir, exist_ok=True)
    apath = os.path.join(adir, tag + ".json")
    with open(apath, "x") as f:
        json.dump(archive, f, indent=1)
    shutil.rmtree(run_tmp, ignore_errors=True)
    os.remove(jvm_log)

    for p in problems[:20]:
        log("FAILED " + p)
    log(f"{args.workload} seed={args.seed} cores={ncores} heap={heap} "
        + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in e2e.items())
        + f" p90_is_p{detail['query_p90_percentile']} n={detail['latency_samples']}"
        + f" attempted={detail['attempted']} "
        + " ".join(f"{k}={v:.1f}" for k, v in phases.items())
        + f" wall={time.time() - t_start:.1f}s archive={os.path.relpath(apath, root)}")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": len(failures),
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

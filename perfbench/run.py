#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload dq_small --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark client from source (first run only),
generates the workload's inputs from the seed (cached by workload and
seed), runs the client JVM, checks every query's output, and prints one
JSON line as the last line of standard output:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones; the traced run also writes ``spans.json`` and the
full per-module table next to its result. Everything the benchmark
writes stays under ``.bench_build/perfbench`` and sbt's ``target``
directories of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = os.path.join(HERE, "workloads.json")
# Per-layer metrics printed by every traced run: the whole pass ("all")
# and the modules every workload exercises. The full per-module table,
# every module included, goes to the run's report.json and stdout.
LAYER_METRICS = ["wall_s", "construct_s", "construct_jobs", "plan_s", "execute_s",
                 "jobs", "retried_tasks", "driver_gap_s", "exec_cpu_s", "gc_s",
                 "input_rows", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
                 "persisted_after"]
PRINTED_LAYERS = {
    "all": LAYER_METRICS,
    "operators": LAYER_METRICS,
    # the sources module is one small query or write per pass: its GC,
    # spill, retry and cache counters read 0 on every run
    "sources": ["wall_s", "construct_s", "construct_jobs", "plan_s", "execute_s",
                "jobs", "driver_gap_s", "exec_cpu_s", "input_rows", "shuffle_write_mb"],
}
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(WORKLOADS) as f:
        return json.load(f)["workloads"]


# --- build ----------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the client with sbt (once per source state) and
    return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                            "SparkEntry.scala"))):
        raise BenchError("graft's sources (build.sbt, src/) are not next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    stamp = _source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark client with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if os.path.join("perfbench", "target") in l and ".jar" in l]
    if proc.returncode != 0 or not lines:
        raise BenchError(f"sbt build failed (exit {proc.returncode}); see {WORK}/build.log")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java(classpath, args, log_path, timeout):
    """Run the client JVM; stdout and stderr go to ``log_path``."""
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"client JVM exceeded {timeout} s; see {log_path}")
    if rc != 0:
        raise BenchError(f"client JVM exited {rc}; see {log_path}")


def cpu_steal():
    """(steal, total) jiffies of the machine, from /proc/stat: time a
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


# --- metrics ----------------------------------------------------------------

def summarize(result, check_failures, input_rows):
    """End-to-end metrics and failure accounting of one run.

    A query execution fails if it threw, returned a row count other than
    the cold pass's checked count, or belongs to a query whose output
    check failed. Failed executions never contribute a time, and a pass
    holding one is not a clean pass: ``pass_s`` comes from clean passes
    only, so a failure can never read as a fast pass.

    The JIT keeps warming through a run, so the steady figure is the best
    of the measured passes: ``pass_s`` is the fastest clean pass.
    ``rows_per_s`` is throughput at the stated input size: the rows of
    the workload's generated tables (``input_rows``) over ``pass_s``.
    ``setup_s`` is the run's one setup, from JVM start through session
    ready and warm-up.
    """
    failed_queries = set(check_failures) | set(result.get("check_errors", {}))
    attempted = failed = 0
    clean, per_query = [], {}
    for p in result["passes"]:
        ok = True
        for q, s in p["queries"].items():
            attempted += 1
            if s["error"] or q in failed_queries:
                failed += 1
                ok = False
            elif p["kind"] == "steady":
                per_query.setdefault(q, []).append(s["s"])
        if p["kind"] == "steady" and ok:
            clean.append(p)
    metrics = {"setup_s": result["setup"]["start_s"] + result["setup"]["warmup_s"],
               "cold_pass_s": result["passes"][0]["wall_s"]}
    if clean:
        metrics["pass_s"] = min(p["wall_s"] for p in clean)
        metrics["rows_per_s"] = input_rows / metrics["pass_s"]
    detail = {"clean_passes": len(clean),
              # median over queries of each query's fastest time: with nine
              # queries the median query changes from run to run, so this
              # is reported, not gated
              "query_p50_s": statistics.median(min(v) for v in per_query.values())
              if per_query else None,
              "steady_pass_s": [p["wall_s"] for p in result["passes"] if p["kind"] == "steady"],
              "input_rows": input_rows, "peak_rss_mb": result["peak_rss_mb"]}
    return attempted, failed, metrics, detail


def per_layer(result):
    """The per-layer metrics every workload reports."""
    layers, trace = result["layers"], result["trace"]
    out = {f"{m}.{k}": layers.get(m, {}).get(k, 0.0)
           for m, ks in PRINTED_LAYERS.items() for k in ks}
    out["session.start_s"] = result["setup"]["start_s"]
    out["session.warmup_s"] = result["setup"]["warmup_s"]
    out["exec_busy_frac"] = trace["exec_busy_frac"]
    out["trace.overhead_frac"] = trace["trace.overhead_frac"]
    return out


def layer_unit(name):
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_rows", "rows"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return u
    return "count"


E2E_UNITS = {"pass_s": "s", "rows_per_s": "rows/s", "cold_pass_s": "s", "setup_s": "s"}


# --- one run ----------------------------------------------------------------

def run(workload, seed, seconds, trace):
    spec = load_workloads()
    if workload not in spec:
        raise BenchError(f"unknown workload {workload!r}; known: {', '.join(spec)}")
    w = spec[workload]
    classpath = build()
    t0 = time.time()
    inputs, manifest = gen.ensure(workload, seed, os.path.join(WORK, "inputs"))
    log(f"inputs for {workload} seed {seed} ready in {time.time() - t0:.1f} s")
    out = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cpus = len(os.sched_getaffinity(0))
    args = ["--inputs", inputs, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus),
            "--items", ",".join(f"{q}:{m}" for q, m in w["queries"])]
    if "write" in w:
        args += ["--write", ":".join(w["write"])]
    steal0 = cpu_steal()
    java(classpath, args, os.path.join(out, "jvm.log"), JVM_TIMEOUT_S)
    steal1 = cpu_steal()
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    queries = [q for q, _ in w["queries"]]
    failures, summaries = check.check_outputs(
        workload, seed, cpus, inputs, out, queries, check.load_reference())
    input_rows = sum(t["rows"] for t in manifest["tables"].values())
    attempted, failed, metrics, detail = summarize(result, failures, input_rows)
    detail["cpu_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    report = {"workload": workload, "seed": seed, "cpus": cpus,
              "inputs": manifest, "detail": detail, "no_oracle": summaries,
              "failures": {**failures, **result.get("check_errors", {})},
              "errors": {q: s["error"] for p in result["passes"]
                         for q, s in p["queries"].items() if s["error"]}}
    if trace:
        report["layers"] = result["layers"]
        report["trace"] = result["trace"]
        metrics = per_layer(result)
        units = {k: layer_unit(k) for k in metrics}
    else:
        units = E2E_UNITS
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return {"correct": failed == 0 and len(metrics) == len(units),
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
            }, report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-reference", action="store_true",
                    help="store this run's no-oracle row counts and hashes in "
                         "reference.json for (workload, seed) if it passed")
    a = ap.parse_args(argv)
    try:
        line, report = run(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1
    if a.record_reference and line["correct"] and report["no_oracle"]:
        ref = check.load_reference()
        key = check.reference_key(a.seed, report["cpus"])
        ref.setdefault(a.workload, {})[key] = report["no_oracle"]
        with open(check.REFERENCE, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps({k: report[k] for k in ("inputs", "detail", "failures", "errors")},
                     sort_keys=True))
    if a.trace:
        print(json.dumps({"layers": report["layers"], "trace": report["trace"]},
                         sort_keys=True))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

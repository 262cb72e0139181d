#!/usr/bin/env python3
"""Vintage-table benchmark.

Run from the repository root:

    python3 vbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt when they are
missing or out of date (the classpath lands in vbench/target), then runs
one JVM per workload. Prints every metric with its unit, the host
evidence of the run, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones named in BENCHMARK.json, with --trace 1 the
per-layer ones. Exits non-zero on a build failure, a crash or any
correctness mismatch. The full result is also written to
vbench/out/<workload>-seed<n>-trace<t>.json (or --out).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ingest_cow", "sql_mor_mixed"]
BUILD_TIMEOUT_S = 850
RUN_BUDGET_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[vbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cpu_probe_s():
    """Seconds for a fixed single-threaded loop: a slow or contended host
    shows here, apart from the engine."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def host_state():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    tmp = tempfile.gettempdir()
    return {"loadavg": load, "mem_available_mb": mem_kb // 1024,
            "tmp_entries": len(os.listdir(tmp)), "cpu_probe_s": cpu_probe_s()}


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt unless the stamp of every source matches."""
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("sbt build timed out")
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"sbt build failed (exit {rc})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def stop(proc):
    """Stop a process group started by this script and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=20)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def run_workload(cp, workload, seed, seconds, trace, cores, deadline):
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "vbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload}: timed out")
    left = sorted(os.path.relpath(os.path.join(d, n), work)
                  for d, _, names in os.walk(work) for n in names)
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)
    if proc.returncode != 0:
        fail(f"{workload}: JVM exited with {proc.returncode}")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if not lines:
        fail(f"{workload}: no result from the JVM")
    res = json.loads(lines[-1])
    res["files_left_in_work_dir"] = left
    return res


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(res, trace):
    w = res["workload"]
    for n, m in sorted(res["end_to_end"].items()):
        print(f"{w} {n} {fmt(m['value'])} {m['unit']}")
    print(f"{w} error_rate {fmt(res['error_rate'])} ratio "
          f"({res['failed']} of {res['attempted']} operations)")
    print(f"{w} p50_ms {fmt(res['p50_ms'])} ms ({res['attempted']} samples, all kinds)")
    print(f"{w} tail_ms {fmt(res.get('tail_ms'))} ms at p{fmt(res.get('tail_percentile'))} "
          f"(10 samples beyond, {res['attempted']} samples, all kinds)")
    for k, m in sorted(res["latency_by_kind"].items()):
        print(f"{w} {k}_p50_ms {fmt(m['p50_ms'])} ms ({m['attempted']} samples)")
        print(f"{w} {k}_tail_ms {fmt(m.get('tail_ms'))} ms at p{fmt(m.get('tail_percentile'))} "
              f"({m['samples_beyond_tail']} samples beyond, {m['attempted']} samples)")
    if trace:
        for n, m in sorted(res["per_layer"].items()):
            print(f"{w} {n} {fmt(m['value'])} {m['unit']}")
    for e in res["errors"]:
        print(f"{w} ERROR {e}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="path of the full result JSON")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(spec_file)):
        fail("run from a checkout of the repository: build.sbt, src/main/scala "
             "and BENCHMARK.json must be at the root")
    with open(spec_file) as f:
        spec = json.load(f)
    key = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}

    cores = len(os.sched_getaffinity(0))
    before = host_state()
    cp = build()
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in workloads:
        # the run budget excludes the build
        res = run_workload(cp, w, a.seed, a.seconds, a.trace, cores, time.time() + RUN_BUDGET_S)
        results.append(res)
        report(res, a.trace)
    after = host_state()
    evidence = {"nproc": cores, "before": before, "after": after,
                "tmp_entries_delta": after["tmp_entries"] - before["tmp_entries"],
                "files_left_in_work_dirs": sum(len(r["files_left_in_work_dir"]) for r in results)}
    print("host " + json.dumps(evidence, sort_keys=True))

    out_path = a.out
    if out_path is None:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        out_path = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out_path, "w") as f:
        json.dump({"host": evidence, "results": results}, f, indent=1, sort_keys=True)

    metrics = {}
    for r in results:
        source = r[key]
        for n, unit in units.items():
            if n not in source or source[n]["value"] is None:
                fail(f"{r['workload']}: metric {n} missing")
            if source[n]["unit"] != unit:
                fail(f"{r['workload']}: metric {n} in {source[n]['unit']}, not {unit}")
            name = n if len(results) == 1 else f"{r['workload']}.{n}"
            metrics[name] = source[n]
    correct = all(r["correct"] for r in results)
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

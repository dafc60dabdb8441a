#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 16 --trace 0

It builds the program and the harness from source with sbt (once per
checkout; the classpath is cached under perfbench/.build), launches one
JVM that runs the workload, and prints every metric by name with its
unit, then one JSON result line as the last line of standard output.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. Every run's raw values are appended to
perfbench/out/runs.jsonl.

Extra modes (not used for measuring):
    --record 1     record the queries' expected outputs into expected.json
    --self-test 1  inject one wrong output per workload and check that
                   every workload reports it as failed
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")

# Spark on JDK 17 outside spark-submit needs these (same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [f for f in tops if os.path.isfile(f)]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources not found ({need}); run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "perfbench/Compile/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=840)
        lf.write(r.stdout)
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, cpus, inject=False, tag="main",
            extra=None, deadline=None):
    """One JVM running one workload; returns its result dict. The JVM
    is killed at `deadline` (epoch seconds; default seconds + 150 from
    now)."""
    if deadline is None:
        deadline = time.time() + float(seconds) + 150
    work = os.path.join(WORK, f"{workload}-{seed}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "result.json")
    args = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "inject": int(inject), "work": work, "out": out,
        "bench": BENCH,
    }
    args.update(extra or {})
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        cmd += ["--launch_ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} timed out, see {log_path}")
    if p.returncode != 0 or not os.path.isfile(out):
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(log_path, os.path.join(OUT, f"failed-{workload}-{seed}.log"))
        fail(f"{workload} exited with {p.returncode}, log in perfbench/out")
    with open(out) as f:
        res = json.load(f)
    trace_file = os.path.join(work, "trace.jsonl")
    if os.path.isfile(trace_file):
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(trace_file, os.path.join(OUT, f"trace-{workload}-{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return res


def measure(cp, bench, a):
    # one run ends within 180 s of its start, builds excluded
    deadline = time.time() + 170
    cpus = nproc()
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, cpus, deadline=deadline)
    if a.trace and a.workload == "stream":
        # diagnostic single-core baseline of the same drain
        one = run_jvm(cp, a.workload, a.seed, a.seconds, False, 1, tag="1core",
                      extra={"drain_only": 1}, deadline=deadline)
        four = res["info"]["drain_rows_per_s"]["value"]
        base = one["info"]["drain_rows_per_s"]["value"]
        res["per_layer"]["drain.speedup_vs_1core"] = four / base
        res["record"]["drain_rows_per_s_1core"] = base
    names = ([m["name"] for m in bench["per_layer"]] if a.trace
             else [m["name"] for m in bench["end_to_end"]])
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics = {}
    for n in names:
        if a.trace:
            v = res["per_layer"].get(n, 0.0)
        else:
            v = res["e2e"].get(n, {}).get("value")
        metrics[n] = {"value": v, "unit": units[n]}
    finite = all(isinstance(m["value"], (int, float)) for m in metrics.values())
    attempted = max(int(res["attempted"]), 1)
    failed = int(res["failed"])
    # print every figure by name with its unit, gated or not
    for n, m in metrics.items():
        print(f"{n} = {m['value']} {m['unit']}")
    for n, m in res["info"].items():
        print(f"{n} = {m['value']} {m['unit']}")
    print(f"failed_frac = {failed / attempted} ratio ({failed} of {attempted})")
    for f in res["failures"]:
        print(f"FAILED: {f}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                            "seconds": a.seconds, "trace": a.trace,
                            "commit": commit(), "time": time.time(),
                            "result": res}) + "\n")
    return {"correct": failed == 0 and finite, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def commit():
    """Commit of the checkout, when it is a git repository."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def record(cp, seed):
    """Record each query's rows and checksum; checksums that differ
    between two runs (different order, fresh table copies) are dropped
    as nondeterministic."""
    path = os.path.join(BENCH, "expected.json")
    exp = {}
    obs = [run_jvm(cp, "queries", seed + i, 1, False, nproc(), tag="record")["record"]
           for i in range(2)]
    for q in obs[0]["queries"]:
        a, b = (o.get(f"observed.{q}") for o in obs)
        if a is None or b is None or a["rows"] != b["rows"]:
            print(f"{q}: no stable row count, not recorded")
            continue
        same = a.get("checksum") == b.get("checksum")
        exp[q] = {"rows": a["rows"], "checksum": a.get("checksum") if same else None}
    with open(path, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(exp)} queries into {path}")


def self_test(cp, bench, seed):
    ok = True
    for name in [w["name"] for w in bench["workloads"]]:
        res = run_jvm(cp, name, seed, 4, False, nproc(), inject=True, tag="selftest")
        caught = int(res["failed"]) >= 1
        ok = ok and caught
        print(f"{name}: injected wrong output {'caught' if caught else 'MISSED'}"
              f" ({res['failed']} of {res['attempted']} failed)")
    print("self-test", "passed" if ok else "FAILED")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, default=0)
    ap.add_argument("--self-test", type=int, default=0)
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(bench_file) as f:
        bench = json.load(f)
    cp = classpath()
    if a.record:
        record(cp, a.seed)
        return
    if a.self_test:
        sys.exit(0 if self_test(cp, bench, a.seed) else 1)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    print(json.dumps(measure(cp, bench, a)))


if __name__ == "__main__":
    main()

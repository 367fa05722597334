#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_warc --seed 1 --seconds 10 --trace 0

Builds the repository's main sources together with the harness in
perfbench/ (sbt, cached on a hash of the sources), generates the
workload's inputs from the seed (cached per workload, seed and size),
runs one JVM that sets up, runs the timed operations for --seconds and
checks every output, then prints a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything the run writes stays under perfbench/.work.
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
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170  # the whole run, build excluded, must end well within 180 s

# (docs, warc files) per workload and size; "small" is for the smoke test.
SIZES = {
    "crawl_warc": {"full": (7000, 8), "small": (600, 8)},
    "pdf_docs": {"full": (3000, 0), "small": (200, 0)},
    "curate_dedup": {"full": (5000, 0), "small": (1200, 0)},
}
CACHED_INPUTS = 40  # ~10 MB each

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compiles with sbt unless the sources are unchanged; returns the classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    env = dict(os.environ, GRAFT_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(bdir, "sbt.log")
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=880)
        lf.write(p.stdout)
    cp = [l for l in p.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (log: {log})", 1)
    with open(cp_f, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_f, "w") as f:
        f.write(stamp)
    print(f"# build: {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def heap_mb():
    """The largest power of two ≤ MemTotal / 5, in 1–4 GiB: MemTotal drifts
    on a shared VM, and a heap that follows it would move GC and RSS."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    mb = 1024
    while mb * 2 <= min(4096, total_kb // 1024 // 5):
        mb *= 2
    return mb


def java_cmd(cp, main, args, scratch):
    return (["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={scratch}", "-Dspark.ui.enabled=false"]
            + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + args)


def run_jvm(cmd, scratch, log, deadline):
    """Runs one JVM in its own process group; kills the group on timeout."""
    os.makedirs(scratch, exist_ok=True)
    env = dict(os.environ, GRAFT_BENCH_SCRATCH=scratch, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, env=env, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                             cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def input_dir(workload, seed, size):
    """Cache slot for (workload, seed, size); the JVM fills it on a miss."""
    docs, _ = SIZES[workload][size]
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, f"{workload}-s{seed}-n{docs}")
    os.makedirs(root, exist_ok=True)
    if os.path.exists(os.path.join(d, "manifest.json")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    old = sorted((os.path.getmtime(os.path.join(root, x)), x) for x in os.listdir(root))
    for _, x in old[:max(0, len(old) - CACHED_INPUTS + 1)]:
        shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "small"], default="full")
    ap.add_argument("--expect-digest", help="expected output digest (default: the set-up pass's)")
    a = ap.parse_args()

    spec_f = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found; run from a full checkout")
    if not os.path.isfile(spec_f):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_f) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build(spark_jars())
    deadline = time.time() + DEADLINE_S
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    log = os.path.join(WORK, "logs", f"{tag}.log")
    open(log, "w").close()
    inp = input_dir(a.workload, a.seed, a.size)
    docs, files = SIZES[a.workload][a.size]

    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    result_f = os.path.join(WORK, f"result-{tag}.json")
    trace_f = os.path.join(WORK, f"trace-{tag}.json")
    for f in (result_f, trace_f):
        if os.path.exists(f):
            os.remove(f)
    k = min(4, len(os.sched_getaffinity(0)))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", inp, "--out", os.path.join(scratch, "out"),
            "--result", result_f, "--trace-out", trace_f, "--k", str(k),
            "--docs", str(docs), "--files", str(files)]
    if a.expect_digest is not None:
        args += ["--expect-digest", a.expect_digest]
    rc = run_jvm(java_cmd(cp, "graftbench.Main", args, scratch), scratch, log, deadline)
    shutil.rmtree(scratch, ignore_errors=True)
    if rc is None or not os.path.exists(result_f):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'} (log: {log})", 1)

    with open(result_f) as f:
        res = json.load(f)
    rep = res.get("report", {})
    metrics = res["metrics"]
    missing = [n for n in declared if n not in metrics or metrics[n]["value"] is None]
    correct = bool(res["correct"]) and not missing and rc == 0

    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{rep.get('docs')} docs, {rep.get('payload_bytes')} payload bytes; "
          f"input generation {rep.get('generation_s')} s (outside set-up and every timed window)")
    print(f"# env: nproc {rep.get('nproc')}, k {rep.get('k')}, heap {rep.get('heap_mb')} MB, "
          f"{rep.get('jvm')}, Spark {rep.get('spark')}")
    if not a.trace:
        w = rep.get("op_wall_s", {})
        print(f"# timed ops: n={w.get('n')} wall p25 {w.get('p25')} p50 {w.get('p50')} "
              f"p75 {w.get('p75')} max {w.get('max')} s; in order {rep.get('op_walls_s')}; "
              f"set-up samples {rep.get('setup_samples_s')}")
        print(f"# error_rate = {rep.get('error_rate')} fraction ({res['failed']} of {res['attempted']})")
    else:
        print(f"# ops: {rep.get('untraced_ops')} untraced, {rep.get('traced_ops')} traced; "
              f"self time by layer (us): {rep.get('self_us_by_layer')}; trace file {rep.get('trace_file')}")
    for n in declared:
        m = metrics.get(n)
        if m is not None:
            print(f"# {n} = {m['value']} {m['unit']}")
    for why in rep.get("failures", []):
        print(f"# FAILED: {why}")
    if missing:
        print(f"# FAILED: metrics missing or unmeasured: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {n: metrics[n] for n in declared if n in metrics}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

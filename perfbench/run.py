#!/usr/bin/env python3
"""Benchmark runner: builds the program from this checkout's sources, runs
one workload in one JVM, checks its outputs independently, and prints the
result as the last line of standard output.

    python3 perfbench/run.py --workload eav_release_serve --seed 1 --seconds 7 --trace 0

Run from the root of a checkout. Build outputs, scratch data and trace files
go under .bench_build/. See perfbench/README.md for the workloads, metrics
and layers.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("eav_release_serve", "index_maintain_serve")
RUN_TIMEOUT_S = 165

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the same list the repository's build.sbt passes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    h.update(ROOT.encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness (sbt, offline); returns the
    runtime classpath. Skipped when the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources (src/main/scala) in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
                   + " -Dsbt.offline=true -Xmx4g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/")][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def host_settings():
    """The Tier-1 command's session settings: every core this process may
    use, and half the memory capped to 2..8 GiB."""
    cpus = len(os.sched_getaffinity(0))
    mem = "2g"
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    mem = f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return cpus, mem


def run_jvm(cp, args, work, out):
    cpus, mem = host_settings()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out]
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("benchmark JVM timed out")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t_start = time.time()
    cp = build()

    work = os.path.join(BUILD, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        code = run_jvm(cp, args, work, out)
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {code})")
        with open(out) as f:
            res = json.load(f)
        sys.dont_write_bytecode = True  # keep the checkout free of caches
        sys.path.insert(0, HERE)
        import checks
        manifest = os.path.join(res["check"], "manifest.json")
        t0 = time.time()
        wrong = checks.run(ROOT, manifest)
        log(f"independent checks: {wrong} wrong, {time.time() - t0:.1f} s")
        if args.trace:
            trace_dir = os.path.join(BUILD, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"run took {time.time() - t_start:.1f} s")
    attempted = res["attempted"]
    # a failed independent check fails every operation it covers, some of
    # which the harness may already have counted
    failed = min(attempted, res["failed"] + wrong)
    metrics = {}
    if args.trace:
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in res["layers"]]
        if missing:
            raise SystemExit(f"the traced run did not emit {', '.join(missing)}")
        for m in spec["per_layer"]:
            v = res["layers"][m["name"]]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']:<44} {v:>16.6g} {m['unit']}")
        with open(os.path.join(BUILD, "trace",
                               f"{args.workload}-seed{args.seed}.layers.json"), "w") as f:
            json.dump(metrics, f, indent=1)
    else:
        for m in spec["end_to_end"]:
            e = res["e2e"][m["name"]]
            metrics[m["name"]] = {"value": e["value"], "unit": m["unit"]}
            print(f"{m['name']:<20} {e['value']:>14.6g} {m['unit']:<6} "
                  f"(n={e['samples']})")
    print(f"workload={args.workload} seed={args.seed} attempted={attempted} "
          f"failed={failed} error_rate={failed / max(attempted, 1):.4f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

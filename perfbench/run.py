#!/usr/bin/env python3
"""Benchmark front end.

    python3 perfbench/run.py --workload <r100|r2000>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness
(perfbench/harness, sbt) into the checkout on first use, runs one
workload in one JVM on a local[<cores>] Spark session: the saturated
stream, the open-loop livestream at the workload's rate (100 or 2,000
lines/s) and the analytics sample. Checks the outputs and prints one
JSON line last: {correct, attempted, failed, metrics}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics; the traced run also writes its spans
to .bench_build/traces/. See perfbench/README.md.
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

sys.dont_write_bytecode = True  # importing datagen/oracle leaves no __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
# Seconds a run may take after the build (the harness JVM is killed past it).
DEADLINE_S = 160
# Scale factor of the generated analytics tables.
ANALYTICS_SF = 0.02
# A fixed-size heap: peak RSS then tracks what the run touches, not when
# the garbage collector decided to grow the heap.
HEAP = "3g"

# Open-loop rate of the livestream part, by workload; every workload
# runs every part and prints every metric of BENCHMARK.json.
WORKLOADS = {"r100": 100, "r2000": 2000}

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's build and sources and the harness."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    files = [f for f in tops if os.path.isfile(f)]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(tree):
    """Compile engine + harness once per source tree; returns the classpath."""
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == tree:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's scratch files (temp dir, file-watcher libraries, JVM perf
    # data) in the checkout, and start no sbt server
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dswoval.tmpdir={tmp}")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=700)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        log(f"build failed (exit {p.returncode}); see .bench_build/build.log")
        sys.exit(3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(tree)
    log(f"built in {time.time() - t0:.0f}s")
    return cps[-1]


def run_jvm(cmd, log_path, deadline):
    """Run the harness JVM in its own process group; returns (exit, peak RSS MB).
    The group is killed past the deadline or when this process is told to stop."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            sys.exit(128 + signum)
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, stop)
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid == p.pid:
                return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                log(f"harness exceeded its deadline; see {log_path}")
                sys.exit(4)
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(spec_path)):
        log("not a graft checkout: build.sbt, src/main/scala/graft and BENCHMARK.json are needed")
        sys.exit(2)
    spec = json.load(open(spec_path))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    tree = fingerprint()
    cp = build(tree)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    setup_base_ms = int(time.time() * 1000)
    import datagen
    data = os.path.join(work, "data")
    datagen.generate(data, a.seed, ANALYTICS_SF)
    result_path = os.path.join(work, "result.json")
    cmd = (["java"] + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:-DontCompileHugeMethods",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}",
              "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--out", result_path, "--setup-base-ms", str(setup_base_ms),
              "--data", data])
    code, rss_mb = run_jvm(cmd, os.path.join(work, "harness.log"), deadline)
    if code != 0 or not os.path.isfile(result_path):
        log(f"harness exited {code} without a result; see {work}/harness.log")
        sys.exit(5)
    r = json.load(open(result_path))
    failures = list(r["failures"])
    if "analytics_failed" in r["metrics"]:
        import oracle
        info = r["info"]["analytics"]
        wrong = oracle.check(data, info["results"], os.path.join(work, "oracle_sql.json"),
                             info["errored"])
        r["metrics"]["analytics_failed"] += len(wrong)
        failures += wrong
    measured = dict(r["metrics"], peak_rss_mb=rss_mb)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    metrics, missing = {}, []
    for n in names:
        v = measured.get(n)
        if isinstance(v, (int, float)) and v == v:
            metrics[n] = {"value": v, "unit": units[n]}
        else:
            missing.append(n)
    if missing:
        failures.append(f"no measurement for {', '.join(missing)}")
    for f in failures:
        log(f"FAIL {f}")

    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "cores": r["cores"], "heap_mb": r["heap_mb"], "commit": commit(tree),
               "info": r["info"], "all_metrics": measured}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(BUILD, "results", name + ".json"), "w") as fh:
        json.dump(dict(context, failures=failures), fh, indent=1)
    shutil.copy(os.path.join(work, "harness.log"), os.path.join(BUILD, "results", name + ".log"))
    if a.trace and os.path.isfile(os.path.join(work, "trace.json")):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.move(os.path.join(work, "trace.json"), os.path.join(BUILD, "traces", name + ".json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": {k: context[k] for k in
                                  ("workload", "seed", "cores", "heap_mb", "commit")}}))
    print(json.dumps({"correct": not failures, "attempted": int(r["attempted"]),
                      "failed": len(failures), "metrics": metrics}))


def commit(tree):
    """The git commit when ROOT is a clone's top level, else the source-tree fingerprint."""
    try:
        git = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        top, head = (git.stdout.split() + ["", ""])[:2]
        if git.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except OSError:
        pass
    return f"tree-{tree}"


if __name__ == "__main__":
    main()

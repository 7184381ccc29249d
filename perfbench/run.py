#!/usr/bin/env python3
"""Benchmark launcher.

Builds the engine and the benchmark from source with sbt (once per source
state), runs one workload in a fresh JVM, checks analytics outputs against
their DuckDB oracles, and prints the report followed by one JSON result as
the last line of standard output.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <image_ingest|lake_analytics>
        --seed <n> --seconds <s> --trace <0|1>

Everything the run writes stays under `.perfbench_work/` in the checkout:
the build stamp, one temporary run root per run (deleted at the end) and
the span files of traced runs.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("image_ingest", "lake_analytics")
RUN_LIMIT_S = 175.0     # a run that does not build
FIRST_RUN_LIMIT_S = 890.0  # the first run of a checkout, which builds

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILDREN = []  # process groups this launcher started and has not reaped


def stop_children(signum=None, frame=None):
    """Kill and reap every process group this launcher started."""
    for proc in CHILDREN:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if signum is not None:
        sys.exit(128 + signum)


def spawn(cmd, timeout, **kw):
    """Run `cmd` in its own process group; None when it timed out."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(proc)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop_children()
        return None
    finally:
        CHILDREN.remove(proc)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the classpath of this source state exists."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                   deadline - time.time(), cwd=BENCH, env=env, stdout=out,
                   stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def driver_mem():
    """Half the machine's memory, clamped to 2-4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (2 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, run_root, cores, deadline):
    result = os.path.join(run_root, "result.json")
    jtmp = os.path.join(run_root, "jtmp")
    os.makedirs(jtmp)
    cmd = ["java", f"-Xmx{driver_mem()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={jtmp}",
            f"-Dderby.system.home={os.path.join(run_root, 'derby')}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", run_root, "--result", result, "--cores", str(cores)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log = os.path.join(WORK, f"{args.workload}.log")
    with open(log, "w") as out:
        rc = spawn(cmd, deadline - time.time(), cwd=run_root, env=env, stdout=out,
                   stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("run timed out" if rc is None else f"run failed (exit {rc}); log in {log}", 4)
    with open(result) as f:
        return json.load(f)


def oracle_checks(res):
    """Compare each analytics key's output with its DuckDB oracle, by the
    repository's own comparison rules (tools/oracle_check.py)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in oc.TABLES:
        if os.path.isdir(os.path.join(res["inputs"], f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{res['inputs']}/{t}.parquet/*.parquet')")
    with open(os.path.join(res["oracle"], "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = []
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql).df()
            got = pd.read_parquet(os.path.join(res["oracle"], name))
            verdict = oc.compare(got, want)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdict = f"ERROR {e}"
        out.append((f"{name} matches its DuckDB oracle", verdict.startswith("OK"), verdict))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start = time.time()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "oracle_check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    t_build = time.time()
    cp = build(start + FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
    deadline = min(time.time() + RUN_LIMIT_S, start + FIRST_RUN_LIMIT_S)
    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    try:
        t_run = time.time()
        res = run_jvm(cp, args, run_root, cores, deadline - 10.0)
        t_checks = time.time()
        report = res["report"]
        attempted, failed = res["attempted"], res["failed"]
        if res.get("oracle"):
            for name, ok, verdict in oracle_checks(res):
                attempted += 1
                failed += 0 if ok else 1
                report.append(f"{'ok' if ok else 'FAILED'} check {name}"
                              + ("" if ok else f" ({verdict})"))
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"report": report, "metrics": res["metrics"],
                           "spans": res["spans"]}, f)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    report.append(f"launcher: build check {t_run - t_build:.1f} s, JVM run "
                  f"{t_checks - t_run:.1f} s, oracle checks and clean-up "
                  f"{time.time() - t_checks:.1f} s")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    names = [m["name"] for m in declared]
    if sorted(names) != sorted(res["metrics"]):
        fail(f"metrics {sorted(res['metrics'])} differ from BENCHMARK.json {sorted(names)}", 5)
    for line in report:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: res["metrics"][n] for n in names}}))


if __name__ == "__main__":
    main()

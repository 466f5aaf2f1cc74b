#!/usr/bin/env python3
"""Run one workload of the CDC-engine benchmark and print its result.

    python3 perfbench/run.py --workload pipeline|suite \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine sources
(src/main/scala) together with the harness (perfbench/src) through the sbt
project in perfbench/; later runs reuse the build. Each run starts one JVM
(Spark local[N], N = min(4, cores)). For `pipeline` it delivers seeded
change-log epochs, applies them through the engine and times them; this
launcher then checks the engine's final table and every point lookup
against its own latest-wins fold of the delivered log files (DuckDB SQL).
For `suite` this launcher first writes seeded input tables (suite.py), the
JVM times the queries over them, and each query's output is checked
against its DuckDB oracle. It prints one JSON line: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones. A
host stamp line (starting "# host") precedes it.
"""
import argparse
import ctypes
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

import suite

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
HEAP = "3g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark install found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    """The checkout's commit, or None where it is not a git repository."""
    try:
        # the ceiling keeps git from finding a repository above the checkout
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return p.stdout.strip() or None if p.returncode == 0 else None
    except OSError:
        return None


def build(jars):
    """Compile once per source state; concurrent runs wait on a lock."""
    files = sources()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources at src/main/scala: run from the root of a checkout")
    digest = source_digest(files + [os.path.join(HERE, "build.sbt")])
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(CLASSPATH):
            with open(CLASSPATH) as f:
                built, cp = f.read().split("\n", 1)
            if built == digest:
                return cp.strip(), digest
        env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars)
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.server.autostart=false -Xmx2g")
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            die("build failed")
        cp = lines[-1].strip()
        with open(CLASSPATH, "w") as f:
            f.write(digest + "\n" + cp + "\n")
        # flush the build's writes now rather than while a run is timed
        os.sync()
        return cp, digest


def die_with_parent():
    """In the JVM's process: have Linux kill it if this launcher dies."""
    try:
        ctypes.CDLL("libc.so.6").prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def run_jvm(cp, args, work, t0, data):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out,
              "--spans", os.path.join(OUT, "traces", f"spans-{args.workload}-{args.seed}.jsonl"),
              "--t0-ms", str(int(t0 * 1000))]
           + (["--data", data] if data else []))
    env = dict(os.environ, GRAFT_TMPDIR=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             preexec_fn=die_with_parent)
    # SIGTERM ends this launcher through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + JVM_TIMEOUT_S
    pid = 0
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                die(f"{args.workload}: JVM exceeded {JVM_TIMEOUT_S}s")
            time.sleep(0.1)
    finally:
        if not pid:
            p.kill()
            os.wait4(p.pid, 0)
    if os.waitstatus_to_exitcode(status) != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"{args.workload}: JVM failed")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB
    return res


def duck():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def fold_checks(res):
    """Check the engine against a latest-wins fold of the delivered log
    files: the final source table's digest, and the answer to every point
    lookup as of the epoch just committed when it was issued. Returns
    (attempted, failed, problems); one lookup call is one operation."""
    con = duck()
    wal = os.path.join(res["wal_dir"], "*", "*.parquet")
    con.execute(f"CREATE VIEW wal AS SELECT * FROM read_parquet('{wal}')")
    problems = []
    lines = [r[0] for r in con.execute("""
        SELECT repo || '|' || path || '|' || c || '|' || l || '|' || sha256(ct)
        FROM (SELECT repo, path, arg_max(op, seq) AS o, arg_max("commit", seq) AS c,
                     arg_max(lang, seq) AS l, arg_max(content, seq) AS ct
              FROM wal GROUP BY repo, path)
        WHERE o <> 'D'""").fetchall()]
    lines.sort()
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    if digest != res["source_digest"]:
        problems.append("final source table differs from the fold of the log")
    attempted, failed = 1, len(problems)

    rows = [ln.split("\t") for ln in res["lookups"]]
    if rows:
        con.execute("CREATE TABLE lk (id INT, epoch BIGINT, repo VARCHAR, "
                    "path VARCHAR, got VARCHAR)")
        con.executemany("INSERT INTO lk VALUES (?, ?, ?, ?, ?)",
                        [(int(i), int(e), r, p, g) for i, e, r, p, g in rows])
        expected = con.execute("""
            SELECT lk.id, lk.repo, lk.path, lk.got,
                   arg_max(w.op, w.seq) AS op, arg_max(w."commit", w.seq) AS c
            FROM lk LEFT JOIN wal w
              ON w.repo = lk.repo AND w.path = lk.path AND w.epoch <= lk.epoch
            GROUP BY lk.id, lk.repo, lk.path, lk.got""").fetchall()
        bad = set()
        for i, repo, path, got, op, c in expected:
            want = "" if op is None or op == "D" else c
            if got != want:
                bad.add(i)
                problems.append(f"lookup {i} {repo}/{path}: got '{got}' want '{want}'")
        calls = {int(r[0]) for r in rows}
        attempted += len(calls)
        failed += len(bad)
    return attempted, failed, problems[:10]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipeline", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, digest = build(spark_jars())
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    work = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ticks0 = cpu_ticks()
    t0 = time.time()
    try:
        data = None
        if args.workload == "suite":
            data = os.path.join(work, "data")
            suite.generate(duck(), data, args.seed)
        res = run_jvm(cp, args, work, t0, data)
        if args.workload == "suite":
            with open(res["oracle_file"]) as f:
                oracle = json.load(f)
            attempted, failed, problems = suite.check(
                duck(), data, res["results_dir"], oracle)
        else:
            attempted, failed, problems = fold_checks(res)
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            os.replace(os.path.join(work, "jvm.log"),
                       os.path.join(OUT, f"{args.workload}-{args.seed}.log"))
        shutil.rmtree(work, ignore_errors=True)

    attempted += res["attempted"]
    failed += res["failed"]
    problems = res["problems"] + problems
    measured = dict(res["metrics"])
    measured["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        die(f"metrics not measured: {missing}")
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # share of CPU time the hypervisor gave to other guests during the run
        res["host"]["steal"] = round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 4)
    host = dict(res["host"], source=digest, commit=git_commit(),
                workload=args.workload, seed=args.seed, session=res["session"])
    print("# host " + json.dumps(host, sort_keys=True))
    if args.trace:
        print("# self_s " + json.dumps(res["self_s"], sort_keys=True))
        print("# end_to_end " + json.dumps(
            res["end_to_end"], sort_keys=True))
    for p in problems:
        print("# FAILED " + p)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()

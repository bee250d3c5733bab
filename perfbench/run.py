#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <pit_job|autofeat_fit|curate> \
        --seed <n> --seconds <s> --trace <0|1> [--tiny] [--corrupt-fingerprint] [--oracle]

The first run builds the benchmark and the library's main sources with sbt
(into perfbench/target); later runs reuse the build while the sources are
unchanged. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. --tiny runs toy sizes (self-test);
--corrupt-fingerprint corrupts the reference fingerprint, so every checked
op must fail. --oracle (curate) also checks the outputs against the DuckDB
oracle and, when they pass, records their fingerprint in
perfbench/curate.fingerprints.
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
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ["pit_job", "autofeat_fit", "curate"]
# curate's fingerprints, recorded from outputs that passed the DuckDB oracle
RECORDED = os.path.join(HERE, "curate.fingerprints")
RUN_BUDGET_S = 175.0
BUILD_BUDGET_S = 840.0

# what spark-submit would add on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the library's main tree and the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None


def build():
    """Compile with sbt unless the build on disk matches the sources."""
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    want = stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return cp_file
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    props = ["-Dsbt.server.autostart=false", "-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        _, code = run_group(["sbt", "--batch"] + props + ["compile", "writeClasspath"],
                            BUILD_BUDGET_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed" if code is not None else "build timed out")
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp_file


def canon(rows, cols):
    """Rows as sorted strings over name-sorted columns (floats to 9 digits)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            vals.append(f"{v:.9g}" if isinstance(v, float) else str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def oracle_check(work):
    """DuckDB oracle over the run's documents: list of mismatching queries."""
    import duckdb
    odir = os.path.join(work, "oracle")
    with open(os.path.join(odir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    docs = os.path.join(work, "input", "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    bad = []
    for name, sql in sorted(sqls.items()):
        got = con.execute(f"SELECT * FROM read_parquet('{odir}/{name}.parquet/*.parquet')").fetchall()
        gcols = [d[0] for d in con.description]
        exp = con.execute(sql).fetchall()
        ecols = [d[0] for d in con.description]
        ok = sorted(gcols) == sorted(ecols) and canon(got, gcols) == canon(exp, ecols)
        print(f"oracle {name}: {'ok' if ok else 'MISMATCH'} ({len(got)} rows)")
        if not ok:
            bad.append(name)
    return bad


def record(fingerprint):
    """Store `<input size> <fingerprint>`, replacing the entry for that size."""
    size = fingerprint.split(" ", 1)[0]
    lines = []
    if os.path.exists(RECORDED):
        with open(RECORDED) as f:
            lines = [l for l in f.read().splitlines() if l.strip() and l.split(" ", 1)[0] != size]
    with open(RECORDED, "w") as f:
        f.write("\n".join(sorted(lines + [fingerprint])) + "\n")
    print(f"recorded the oracle-checked fingerprint for {size} documents")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-fingerprint", action="store_true")
    ap.add_argument("--oracle", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail(f"no library sources under {ROOT}: run from the root of a checkout")

    cp_file = build()
    with open(cp_file) as f:
        cp = f.read().strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail("stale classpath: remove perfbench/target and rerun")

    start = time.monotonic()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # C1 only: every run is a fresh JVM, and with C2 the measured ops fell
        # in the middle of its compile storm (wall spread ~30% across runs);
        # C1 code is steady from the second op on
        cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp", "-Dspark.driver.host=127.0.0.1",
               "-Dspark.driver.bindAddress=127.0.0.1"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--recorded", RECORDED]
        cmd += [f for f, on in (("--tiny", a.tiny), ("--corrupt-fingerprint", a.corrupt_fingerprint),
                                ("--oracle", a.oracle)) if on]
        out_file = os.path.join(work, "stdout.txt")
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
        with open(out_file, "w") as out:
            _, code = run_group(cmd, RUN_BUDGET_S - 15.0, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        with open(out_file) as f:
            lines = f.read().splitlines()
        result, fingerprint = None, None
        for line in lines:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("fingerprint "):
                fingerprint = line[len("fingerprint "):]
            elif line.startswith(("rep ", "setup ", "span ", "host ", "oracle ")):
                print(line)
        if code is None:
            fail("run timed out")
        if code != 0 or result is None:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"run exited with code {code}")
        if a.oracle and fingerprint:
            result["attempted"] += 1
            if oracle_check(work):
                result["failed"] += 1
            result["correct"] = result["failed"] == 0
            if result["correct"] and not a.corrupt_fingerprint:
                record(fingerprint)
        print(f"run {a.workload} seed={a.seed} trace={a.trace} took {time.monotonic() - start:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

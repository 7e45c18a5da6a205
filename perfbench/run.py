#!/usr/bin/env python3
"""Medallion-flow benchmark for graft: build, run one workload, check.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Workloads: cdc_trickle, cdc_bulk, star_reads, curation (see
perfbench/README.md). The first run builds graft and the benchmark from
source with sbt (perfbench/build.sbt); later runs reuse the build while no
source file is newer than it. Everything a run writes goes under
.bench_build/perfbench/ in the checkout and is removed at exit, except the
span file of a traced run (.bench_build/perfbench/traces/).

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics untraced, per-layer metrics traced).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ["cdc_trickle", "cdc_bulk", "star_reads", "curation"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the library, the benchmark, build files."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".scala", ".properties"))]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return files


def build():
    """Compile with sbt unless the classpath file is newer than every source."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("perfbench: graft sources not found next to perfbench/ (need build.sbt and src/main/scala/graft)")
        sys.exit(2)
    if os.path.isfile(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < built for f in sources()):
            return
    log("perfbench: building graft and the benchmark with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "writeClasspath"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        log("perfbench: build failed")
        sys.exit(2)
    log(f"perfbench: built in {time.time() - t0:.0f} s")


def run_jvm(args, work):
    """Run perfbench.Main; return (exit code, stdout lines)."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        log(err[-4000:])
        log(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
        return 124, out.splitlines()
    if proc.returncode != 0:
        log(err[-8000:])
    return proc.returncode, out.splitlines()


def oracle_check(corpus, out):
    """Compare each curation output with its DuckDB oracle SQL over the
    same tables: columns by name, rows sorted, values exactly. Returns
    {query: error or None}."""
    import duckdb
    import numpy as np
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        try:
            mine = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdicts[name] = f"error: {e}"
            continue
        mine = mine.reindex(sorted(mine.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(mine.columns) != list(want.columns):
            verdicts[name] = f"columns {list(mine.columns)} vs {list(want.columns)}"
            continue
        if len(mine) != len(want):
            verdicts[name] = f"rows {len(mine)} vs {len(want)}"
            continue
        cols = list(mine.columns)
        mine = mine.sort_values(by=cols, ignore_index=True)
        want = want.sort_values(by=cols, ignore_index=True)
        bad = None
        for c in cols:
            a, b = mine[c], want[c]
            same = (a.isna() & b.isna()) | (a == b)
            if not bool(np.all(same)):
                i = int((~same).idxmax())
                bad = f"{c} row {i}: {a[i]!r} vs {b[i]!r}"
                break
        verdicts[name] = bad
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="prove the correctness checks bite")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    build()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    work = os.path.join(BUILD, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            sys.exit(selftest(work))
        code, lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                               "--trace", str(a.trace)], work)
        if code != 0 or not lines or not lines[-1].startswith("{"):
            print("\n".join(lines), file=sys.stderr)
            log(f"perfbench: benchmark process failed (exit {code})")
            sys.exit(1)
        for line in lines[:-1]:
            print(line)
        result = json.loads(lines[-1])
        if a.workload == "curation":
            verdicts = oracle_check(os.path.join(work, "corpus"), os.path.join(work, "curation_out"))
            for q, err in verdicts.items():
                print(f"  oracle {'PASS' if err is None else 'FAIL'} {q}" + ("" if err is None else f": {err}"))
            bad = sum(e is not None for e in verdicts.values())
            result["attempted"] += len(verdicts)
            result["failed"] += bad
            result["correct"] = result["correct"] and bad == 0
            print(f"  fail_ratio with the oracle checks: {result['failed']} of {result['attempted']}")
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("trace-") and f.endswith(".json"):
                    dst = os.path.join(BUILD, "traces", f)
                    shutil.copy(os.path.join(work, f), dst)
                    print(f"  span file kept at {os.path.relpath(dst, ROOT)}")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(work):
    code, lines = run_jvm(["--selftest", "1"], work)
    print("\n".join(lines))
    if code not in (0, 1):
        log(f"perfbench: self-test process failed (exit {code})")
        return 1
    ok = code == 0
    oracle = [l.split() for l in lines if l.startswith("SELFTEST_ORACLE ")]
    if not oracle:
        return 1
    _, corpus, out, perturbed = oracle[0]
    verdicts = oracle_check(corpus, out)
    for q, err in sorted(verdicts.items()):
        want_fail = q == perturbed
        good = (err is not None) == want_fail
        ok &= good
        state = ("flagged" if err else "MISSED") if want_fail else ("PASS" if err is None else f"FAIL {err}")
        print(f"SELFTEST oracle {q} {state}")
    print("SELFTEST " + ("every corruption flagged, clean state passes" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    main()

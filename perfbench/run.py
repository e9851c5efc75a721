#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the program with the
repository's own sbt build, builds the harness in perfbench/ against it,
runs one workload in one JVM (see perfbench/NOTES.md), checks the outputs
and prints one JSON result as the last line of standard output:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes stays under
.bench_build/ in the checkout. Exits non-zero when the build, a unit of work
or an output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175          # a run must end within 180 s once built
JVM_LIMIT_S = RUN_LIMIT_S - 10
UNIT_BUDGET_S = JVM_LIMIT_S - 50   # no unit starts later; the rest is checks and shutdown
BUILD_LIMIT_S = 800

WORKLOADS = ("dedup_full", "query_suite")

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            if f.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(cwd, tasks, env):
    """Runs sbt in batch mode; returns the last line of its output."""
    opts = ["-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env = dict(env, COURSIER_MODE="offline")
    left = BUILD_LIMIT_S - (time.monotonic() - START)
    try:
        p = subprocess.run(["sbt", "--batch", *opts, *tasks], cwd=cwd, env=env, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=left,
                           stdin=subprocess.DEVNULL, start_new_session=True)
    except subprocess.TimeoutExpired as e:
        out = e.stdout.decode(errors="replace") if isinstance(e.stdout, bytes) else e.stdout or ""
        sys.stderr.write(out[-4000:] + "\n")
        fail(f"sbt {' '.join(tasks)} did not finish within {left:.0f} s in {cwd}")
    except OSError as e:
        fail(f"cannot start sbt: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt {' '.join(tasks)} failed in {cwd}")
    return lines


def exported_classpath(lines):
    """The classpath line `export Runtime/fullClasspath` printed: the last
    line whose every entry is an existing path."""
    for line in reversed(lines):
        entries = [e for e in line.strip().split(os.pathsep) if e]
        if entries and all(os.path.isabs(e) and os.path.exists(e) for e in entries):
            return entries
    sys.stderr.write("\n".join(lines[-40:]) + "\n")
    fail("sbt printed no classpath")


def build():
    """Builds program and harness unless this exact source tree is built."""
    prog = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    bench = [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    digest = sources_digest(prog + bench)
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest and all(os.path.exists(p) for p in s["classpath"]):
            return s
    log("building program and harness")
    cp = exported_classpath(sbt(ROOT, ["compile", "export Runtime/fullClasspath"], os.environ))
    bench_cp = exported_classpath(sbt(HERE, ["compile", "export Runtime/fullClasspath"],
                                      dict(os.environ, PERFBENCH_PROGRAM_CP=os.pathsep.join(cp))))
    if not any(os.path.isdir(os.path.join(e, "perfbench")) for e in bench_cp):
        fail(f"the harness classes are not on the exported classpath: {bench_cp}")
    s = {"digest": digest, "program_digest": sources_digest(prog), "classpath": bench_cp}
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump(s, fh)
    log(f"built in {time.monotonic() - START:.1f} s")
    return s


def memory_bytes():
    """Host memory, or the container's limit when that is lower."""
    mem = None
    try:
        with open("/proc/meminfo") as fh:
            mem = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:")) * 1024
    except (OSError, StopIteration, ValueError):
        pass
    for f in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(f) as fh:
                limit = int(fh.read().strip())
            mem = limit if mem is None else min(mem, limit)
        except (OSError, ValueError):
            pass
    return mem


def heap_mb():
    """An eighth of the memory, between 1 and 1.5 GiB (the largest unit
    keeps about 120 MB live)."""
    mem = memory_bytes()
    return 1536 if mem is None else max(1024, min(1536, mem // 8 >> 20))


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


# Variables that would move Spark's scratch files out of the checkout or
# add JVM options to the ones the harness chooses.
FOREIGN_ENV = ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")


def run_jvm(cp, args, work, timeout):
    heap = heap_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The whole heap is committed and touched at start-up, so page faults
    # of a growing heap do not land in timed units.
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.codegen.cache.maxEntries=8000", "-XX:ReservedCodeCacheSize=512m",
           "-cp", os.pathsep.join(cp), "perfbench.Main", *args]
    env = {k: v for k, v in os.environ.items() if k not in FOREIGN_ENV}
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as fh:
        try:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
        except OSError as e:
            fail(f"cannot start java: {e}", 1)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"the benchmark JVM did not finish within {timeout:.0f} s; killing it")
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code is not None and code < 0:
        log(f"the benchmark JVM was killed by signal {-code}"
            + (" (out of memory?)" if -code == signal.SIGKILL else ""))
    return code, logf, heap


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df


def oracle_check(setup_dir):
    """Compares each dumped query result with its DuckDB oracle SQL."""
    import duckdb
    import pandas as pd
    tables, oracle = os.path.join(setup_dir, "tables"), os.path.join(setup_dir, "oracle")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    with open(os.path.join(oracle, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    bad = []
    for name, q in sorted(sql.items()):
        files = glob.glob(os.path.join(oracle, name, "*.parquet"))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = canon(con.sql(q).df())
            same = list(got.columns) == list(want.columns) and len(got) == len(want) \
                and got.equals(want)
        except Exception as e:  # a failing comparison is a mismatch, reported below
            log(f"oracle {name}: {e}")
            same = False
        if not same:
            bad.append(name)
    return len(sql), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program source here: run from the root of a source checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    b = build()

    run_start = time.monotonic()
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result_file,
            "--budget", str(UNIT_BUDGET_S)]
    ticks0 = cpu_ticks()
    code, logf, heap = run_jvm(b["classpath"], args, work, JVM_LIMIT_S)
    ticks1 = cpu_ticks()
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    shutil.copy(logf, os.path.join(OUT, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
    with open(logf, errors="replace") as fh:
        log_tail = "".join(fh.readlines()[-60:])
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(log_tail)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with {code}", 1)
    with open(result_file) as fh:
        r = json.load(fh)

    errors = list(r["errors"])
    if a.workload == "query_suite":
        setups = sorted(glob.glob(os.path.join(work, "setup*")))
        n, bad = oracle_check(setups[-1])
        r["settings"]["oracle"] = f"{n - len(bad)}/{n} match DuckDB {__import__('duckdb').__version__}"
        errors += [f"{q} differs from its DuckDB oracle" for q in bad]
        r["failed"] += len(bad)

    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    got = r["metrics"]
    missing = [m for m in names if m not in got]
    if missing:
        errors.append(f"metrics not emitted: {missing}")
    if a.trace:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    settings = dict(r["settings"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                    trace=a.trace, heap_mb=heap, git_sha=git_sha(),
                    program_sources_sha256=b["program_digest"],
                    setup_walls_s=r["setup_walls"], warmup_s=r["warmup_s"],
                    unit_walls_s=r["walls"],
                    traced_unit_walls_s=r["traced_walls"],
                    run_s=round(time.monotonic() - run_start, 3), errors=errors)
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        settings["cpu_steal_ratio"] = round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 4)
    print(json.dumps({"settings": settings}))
    correct = not errors and r["failed"] == 0
    if not correct:
        sys.stderr.write(log_tail)
    for e in errors:
        log(e)
    print(json.dumps({
        "correct": correct, "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {m: {"value": got[m], "unit": units[m]} for m in names if m in got}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

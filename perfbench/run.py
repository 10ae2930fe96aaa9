#!/usr/bin/env python3
"""Stream benchmark for the EPIC ingest path.

Run from the repository root:

    python3 perfbench/run.py --workload cube_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark harness from source on first use
(sbt, offline), runs one workload in one JVM, checks its outputs, and prints
as the last stdout line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from a full checkout")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    cmd.append("writeClasspath")
    t0 = time.time()
    r = run_bounded(cmd, HERE, env, BUILD_TIMEOUT_S, sys.stderr)
    if r != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {r})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_bounded(cmd, cwd, env, timeout_s, out):
    """Run `cmd` in its own process group; kill the group on timeout, on
    SIGTERM or SIGINT, and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        for s, h in handlers.items():
            signal.signal(s, h)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    work = os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(os.path.join(ROOT, work), ignore_errors=True)
    os.makedirs(os.path.join(ROOT, work, "tmp"))
    # the heap limit the engine's own launcher gives the Spark driver
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    java = ["java", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work]
    out_path = os.path.join(ROOT, work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            r = run_bounded(java, ROOT, os.environ, RUN_TIMEOUT_S, out)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
        oracle = oracle_check(os.path.join(ROOT, work, "corpus")) if r == 0 else None
    finally:
        spans = os.path.join(ROOT, work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(
                ROOT, ".bench_work", "traces",
                f"{a.workload}-{a.seed}.spans.jsonl"))
        shutil.rmtree(os.path.join(ROOT, work), ignore_errors=True)
    res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if r != 0 or not res:
        fail(f"run failed (exit {r}); last output: {lines[-5:]}")
    res = json.loads(res[-1][len("PERFBENCH_RESULT "):])

    # units are declared once, in BENCHMARK.json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = res["per_layer"] if a.trace else res["metrics"]
    chosen = {m["name"]: {"value": finite(measured.get(m["name"])),
                          "unit": m["unit"]} for m in declared}
    failed, attempted = res["failed"], res["attempted"]
    if oracle is not None:  # traced runs: the curation id set vs DuckDB
        attempted += 1
        if oracle:
            failed += 1
            res["context"]["check_failures"].append(oracle)
        res["context"]["error_rate"] = failed / attempted
    # context beside the metrics: host calibration, generator lateness,
    # error rate and sample counts
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "context": res["context"]}))
    values_ok = all(m["value"] is not None for m in chosen.values())
    print(json.dumps({"correct": failed == 0 and values_ok,
                      "attempted": attempted, "failed": failed,
                      "metrics": chosen}))


def oracle_check(corpus):
    """Compare the curated doc ids of the traced run's curation probe with
    the p01 oracle SQL run in DuckDB. None when the run had no probe, ""
    when the id sets match, otherwise what differs."""
    sql_path = os.path.join(corpus, "p01_oracle.sql")
    if not os.path.exists(sql_path):
        return None
    try:
        import duckdb
    except ImportError:
        return "curation oracle: duckdb is not importable"
    with open(sql_path) as fh:
        sql = fh.read()
    try:
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{corpus}/documents.parquet/*.parquet')")
        want = sorted(r[0] for r in con.execute(
            f"SELECT doc_id FROM ({sql})").fetchall())
        got = sorted(r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{corpus}/curated/*.parquet')"
        ).fetchall())
    except Exception as e:  # a failed check, not a crash
        return f"curation oracle: {e}"
    digest = lambda ids: hashlib.sha256(repr(ids).encode()).hexdigest()
    if digest(want) == digest(got):
        return ""
    return f"curation oracle: {len(got)} curated ids != {len(want)} from DuckDB"


def finite(v):
    """A measured number, or None for a missing or non-finite one."""
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


if __name__ == "__main__":
    main()

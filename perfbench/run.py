#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload dhs_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the library and the
benchmark (sbt, offline) into perfbench/target; later calls reuse the build
until a source file changes. Each run launches one JVM (Spark local[nproc],
heap = half of RAM, 2g..8g), works in .perfbench_work/ under the root, and
removes its scratch files afterwards, keeping the last result and spans in
.perfbench_work/last/.

The final line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The line before it
carries the workload's own metric names, the environment stamp and any
failure, by name.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("dhs_ingest", "extract_curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project"):
        if base.is_file():
            yield base
        elif base.is_dir():
            yield from (p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)


def build():
    """Compile library + benchmark once; return the runtime classpath."""
    cp_file = HERE / "target" / "classpath.txt"
    newest = max(p.stat().st_mtime for p in sources())
    if not cp_file.exists() or cp_file.stat().st_mtime < newest:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            # same defaults as the repository's tier-1 build: the local
            # repository list when the machine has one, offline
            repos = Path.home() / ".sbt" / "repositories"
            env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx4g" + (
                f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                if repos.exists() else "")
        t0 = time.time()
        res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             timeout=BUILD_TIMEOUT_S, text=True)
        if res.returncode != 0 or not cp_file.exists():
            sys.stderr.write(res.stdout[-4000:])
            die("build failed")
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_file.read_text().strip()


def heap():
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def canon(df):
    """Order-insensitive hash of a frame: columns by name, floats to 6 digits."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)
    rows = sorted("\x1f".join(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def oracle_failures(work):
    """Replay each curation entry's oracle SQL in DuckDB over the generated
    tables and compare with the output the benchmark saved."""
    import duckdb
    oracle = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/data/{t}.parquet/*.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        out = work / "outputs" / name
        try:
            files = sorted(out.glob("*.parquet"))
            exp = con.execute(sql).df()
            if files:
                got = duckdb.connect().execute(f"SELECT * FROM '{out}/*.parquet'").df()
            else:
                got = exp.iloc[0:0]
            exp.columns = [c.lower() for c in exp.columns]
            got.columns = [c.lower() for c in got.columns]
            if sorted(got.columns) != sorted(exp.columns):
                bad.append(f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
            elif len(got) != len(exp):
                bad.append(f"{name}: rows {len(got)} != oracle {len(exp)}")
            elif canon(got) != canon(exp):
                bad.append(f"{name}: hash differs from oracle")
        except Exception as e:  # a missing output or a broken oracle is a failure
            bad.append(f"{name}: {e}")
    return len(oracle), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("library sources (src/main/scala/graft) not found next to perfbench/")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()

    base = ROOT / ".perfbench_work"
    work = base / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cores = os.cpu_count() or 1
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dderby.system.home={work / 'derby'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
           "--cores", str(cores)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), SPARK_GRAFT_LOG_LEVEL="ERROR")
    log = work / "jvm.log"
    try:
        with open(log, "w") as lf:
            res = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work,
                                 timeout=max(10, RUN_TIMEOUT_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        sys.stderr.write(log.read_text()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        die("run timed out", 3)
    result_file = work / "result.json"
    if res.returncode != 0 or not result_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        die(f"JVM exited with {res.returncode}", 3)
    r = json.loads(result_file.read_text())

    attempted, failed, failures = r["attempted"], r["failed"], list(r["failures"])
    if a.workload == "extract_curation":
        n, bad = oracle_failures(work)
        attempted += n
        failed += len(bad)
        failures += bad

    if a.trace:
        metrics = {m["name"]: {"value": float(r["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in r["e2e"]]
        if missing:
            sys.stderr.write(log.read_text()[-4000:])
            die(f"run produced no value for {missing}", 3)
        metrics = {m["name"]: {"value": float(r["e2e"][m["name"]]["value"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    last = base / "last"
    last.mkdir(parents=True, exist_ok=True)
    shutil.copy(result_file, last / f"{a.workload}_trace{a.trace}.json")
    shutil.copy(log, last / f"{a.workload}_trace{a.trace}.log")
    if (work / "spans.jsonl").exists():
        shutil.copy(work / "spans.jsonl", last / f"{a.workload}_spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": a.workload, "seed": a.seed, "named_metrics": r["named"],
                      "failed_frac": failed / max(1, attempted), "failures": failures,
                      "env": r["env"], "info": r["info"]}))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

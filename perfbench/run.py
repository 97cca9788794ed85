#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs reuse it until a source file
changes. The benchmark JVM (perfbench.Main, local[4]) runs the workload
and writes a run record; this script then checks every batch result
against its DuckDB oracle with tools/check.py's rules, outside the timed
region, and prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer set.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("registry_floor", "chat_backfill")
CPUS = "4"
HEAP = "2g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
# units of the metrics printed on the human-readable line
REPORTED_UNITS = {"batch_s": "s", "query_p50_s": "s", "query_p95_s": "s",
               "chat_batch_p50_s": "s", "chat_batch_p90_s": "s",
               "chat_msgs_per_s": "1/s", "fail_frac": ""}
# Spark 4 on JDK 17 outside spark-submit needs the module openings the
# repository's build passes to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    paths = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", ROOT / "project", HERE / "src"):
        paths += [Path(p) for p in glob.glob(str(base / "**" / "*"), recursive=True)
                  if "/target/" not in p]
    return max(p.stat().st_mtime for p in paths if p.is_file())


def classpath():
    """Builds the program and the benchmark once per source state."""
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists() and cp_file.stat().st_mtime >= newest_source_mtime():
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (exit {rc}), see {log}")
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(args, cp, work, record):
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS,
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(HERE / "data"), "--work", str(work), "--record", str(record)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s, see {work / 'jvm.log'}")
    if rc != 0:
        tail = (work / "jvm.log").read_text().splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        die(f"benchmark JVM exited {rc}, see {work / 'jvm.log'}")


def source_digest():
    """sha256 over the program's and the benchmark's sources: identifies
    the code measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", HERE / "src"):
        for p in sorted(glob.glob(str(base / "**" / "*"), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode() + Path(p).read_bytes())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return (out.stdout.strip() or None) if out.returncode == 0 else None
    except OSError:
        return None


# ---------------------------------------------------------------------------
# oracle comparison (tools/check.py's rules, one verdict per result)

def oracle_check(rec):
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import numpy as np
    import pandas as pd
    from check import int_float_mismatch, norm, tz_mismatch

    results = Path(rec["results_dir"])
    oracles = json.loads((results / "oracle_sql.json").read_text())
    tables = sorted(glob.glob(os.path.join(rec["data_dir"], "*.parquet")))
    data_digest = hashlib.sha256()
    for f in tables:
        data_digest.update(Path(f).name.encode() + Path(f).read_bytes())
    con = None
    expected = {}
    verdicts = {}
    for key in rec["checked_queries"]:
        name = key.split("/", 1)[1]
        if name not in oracles:
            verdicts[key] = "no oracle"
            continue
        if name not in expected:
            # the oracle's answer depends only on its SQL and the data, so
            # it is computed once per checkout and kept
            h = data_digest.copy()
            h.update(oracles[name].encode())
            cached = BUILD / "oracle" / f"{name}-{h.hexdigest()[:16]}.pkl"
            if cached.exists():
                expected[name] = pd.read_pickle(cached)
            else:
                if con is None:
                    con = duckdb.connect()
                    for f in tables:
                        con.execute(f"CREATE VIEW {Path(f).stem} AS SELECT * FROM '{f}'")
                try:
                    expected[name] = norm(con.execute(oracles[name]).df())
                    cached.parent.mkdir(parents=True, exist_ok=True)
                    expected[name].to_pickle(cached)
                except Exception as e:  # an oracle error fails the query
                    expected[name] = f"oracle error: {str(e)[:200]}"
        duck = expected[name]
        if isinstance(duck, str):
            verdicts[key] = duck
            continue
        files = sorted(glob.glob(str(results / key / "*.parquet")))
        if not files:
            verdicts[key] = "no result"
            continue
        got = norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        verdicts[key] = compare(got, duck, tz_mismatch, int_float_mismatch, np)
    return verdicts


def compare(a, b, tz_mismatch, int_float_mismatch, np):
    """None when equal; else the first difference, as tools/check.py
    reports it: sorted columns, strict dtypes, no tz or int/float
    coercion, row-by-row values."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    c = tz_mismatch(a, b)
    if c:
        return f"col {c}: tz-aware vs naive timestamp"
    c = int_float_mismatch(a, b)
    if c:
        return f"col {c[0]}: {c[1]}"
    if len(a) != len(b):
        return f"rows {len(a)} vs oracle {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            xf, yf = x.astype(float).to_numpy(), y.astype(float).to_numpy()
            eq = (xf == yf) | (np.isnan(xf) & np.isnan(yf))
        else:
            eq = (x.astype(object).to_numpy() == y.astype(object).to_numpy()) | \
                 (x.isna().to_numpy() & y.isna().to_numpy())
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"col {c} row {i}: {x.iloc[i]!r} vs oracle {y.iloc[i]!r}"
    return None


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("run from the root of a repository checkout (build.sbt and src/ missing)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp = classpath()
    runs = BUILD / "runs"
    shutil.rmtree(runs, ignore_errors=True)  # earlier runs' inputs and outputs
    work = runs / f"{args.workload}-s{args.seed}"
    record = BUILD / "records" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    run_jvm(args, cp, work, record)
    rec = json.loads(record.read_text())
    rec["env"]["source_digest"] = source_digest()
    rec["env"]["git_sha"] = git_sha()

    failed = rec["failed"]
    attempted = rec["attempted"]
    if "checked_queries" in rec:
        verdicts = oracle_check(rec)
        rec["oracle_verdicts"] = verdicts
        bad = {k: v for k, v in verdicts.items() if v is not None}
        failed += len(bad)
        for k, v in sorted(bad.items()):
            print(f"[perfbench] FAIL {k}: {v}")
        rec["reported"]["fail_frac"] = (rec["failed_all"] + len(bad)) / rec["attempted_all"]
    correct = failed == 0
    rec["correct"] = correct
    record.write_text(json.dumps(rec))

    for p in rec.get("known_defect_probes", []):
        print(f"[perfbench] known-defect probe {p['name']}: "
              f"{'PASS' if p['passed'] else 'FAIL'} ({p['detail']})")
    for q in rec.get("attempted_once", []):
        if q["failed"]:
            print(f"[perfbench] {q['query']}: attempted once, failed with {q['error']}"
                  " (input pages outside the checkout)")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = {**rec["reported"], "setup_s": rec["setup_s"], "peak_rss_mb": rec["peak_rss_mb"]}
    print(f"[perfbench] {args.workload} seed={args.seed}: " + "  ".join(
        f"{k}={v:.6g} {REPORTED_UNITS.get(k, units.get(k, ''))}".rstrip()
        for k, v in shown.items()) + f"  correct={str(correct).lower()}")
    print(f"[perfbench] record: {record}")

    if args.trace:
        # a per-layer metric the workload does not exercise reads 0
        values = rec["per_layer"]
        names = [m["name"] for m in spec["per_layer"]]
    else:
        values = rec["end_to_end"]
        names = [m["name"] for m in spec["end_to_end"]]
        missing = [n for n in names if n not in values]
        if missing:
            die(f"workload produced no value for {missing}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))

if __name__ == "__main__":
    main()

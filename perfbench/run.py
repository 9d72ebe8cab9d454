#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ui_search --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout builds the program
and the benchmark code from source with sbt (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged. The workload runs in one
JVM (perfbench.Main), which writes its full record under perfbench/.work/records.
For batch_curation this script then compares every query's output with its
DuckDB oracle. The last line printed is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170        # a run that reuses the build
FIRST_RUN_TIMEOUT_S = 880  # a run that builds first
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(BENCH, "src", "main"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    return files


def build():
    """Compile with sbt unless the sources match the last build; returns the
    runtime classpath and whether this call built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no program sources under {ROOT}/src/main/scala; run from a repository checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, True


def run_jvm(cp, args, out_file, timeout_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "artifacts"), os.path.join(WORK, "run")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dderby.system.home={tmp}", f"-Dgraft.artifact.dir={os.path.join(WORK, 'artifacts')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(WORK, "run"),
        "--cache", os.path.join(WORK, "cache"), "--out", out_file,
    ]
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"workload did not finish within {timeout_s:.0f}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.exists(out_file):
        die(f"workload exited with code {code}")


def cell(v):
    import numpy as np
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, (float, np.floating)):
        return repr(round(float(v), 9))
    if isinstance(v, np.integer):
        return repr(int(v))
    return repr(v)


def digest(df):
    """(row count, order-insensitive digest) of a frame, columns by name."""
    cols = sorted(df.columns)
    rows = sorted("|".join(cell(r[c]) for c in cols) for _, r in df[cols].iterrows())
    h = hashlib.sha256(("\x1f".join(cols) + "\x1e" + "\n".join(rows)).encode())
    return len(rows), h.hexdigest()


def oracle_check(record):
    """Each batch query's row count and digest must equal its DuckDB oracle's
    on the same fixture. Oracle answers are cached by SQL text and fixture."""
    import duckdb
    chk = record["info"]["oracle_check"]
    fixture, outs = chk["fixture"], chk["outputs"]
    with open(os.path.join(outs, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    tables = sorted(glob.glob(os.path.join(fixture, "*.parquet")))
    stamp = json.dumps([(os.path.basename(t), sorted(
        (os.path.basename(f), os.path.getsize(f)) for f in glob.glob(os.path.join(t, "*.parquet"))))
        for t in tables])
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    cache = os.path.join(WORK, "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    failures, results = [], {}
    for q in sorted(glob.glob(os.path.join(outs, "*", ""))):
        name = os.path.basename(q.rstrip("/"))
        got = digest(con.execute(f"SELECT * FROM read_parquet('{q}*.parquet')").fetchdf())
        if name not in oracles:
            results[name] = {"rows": got[0], "oracle": None}
            continue
        key = hashlib.sha256((oracles[name] + stamp).encode()).hexdigest()
        path = os.path.join(cache, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                want = tuple(json.load(fh))
        else:
            want = digest(con.execute(oracles[name]).fetchdf())
            with open(path, "w") as fh:
                json.dump(list(want), fh)
        results[name] = {"rows": got[0], "oracle_rows": want[0], "match": got == want}
        if got != want:
            failures.append(f"check: {name} differs from its DuckDB oracle "
                            f"(rows {got[0]} vs {want[0]}, digest match {got[1] == want[1]})")
    return failures, results


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    t0 = time.time()
    cp, built = build()
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    out = os.path.join(WORK, "records",
                       f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json")
    limit = FIRST_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S
    run_jvm(cp, args, out, max(30.0, limit - (time.time() - t0)))
    with open(out) as fh:
        record = json.load(fh)
    if args.workload == "batch_curation":
        failures, results = oracle_check(record)
        record["info"]["oracle"] = results
        record["failures"] += failures
        record["failed"] += len(failures)
        record["correct"] = record["correct"] and not failures
    record["info"]["run_wall_s"] = time.time() - t0
    with open(out, "w") as fh:
        json.dump(record, fh)
    for f in record["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in record["metrics"]]
    if missing:
        die(f"record lacks metrics {missing}")
    print(json.dumps({
        "correct": bool(record["correct"]),
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {n: record["metrics"][n] for n in names},
    }))


if __name__ == "__main__":
    main()

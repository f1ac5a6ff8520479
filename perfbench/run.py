#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference's shard -> dedup -> landing
job, as a drained backlog (land_backlog) and an open loop (land_live), with
a mix of SparkEntry queries beside it in traced runs.

Run from the repository root:

    python3 perfbench/run.py --workload land_backlog --seed 1 --seconds 16 --trace 0

The first run builds the engine and the harness (perfbench/build.sbt) with
sbt. Each run starts one JVM (graftbench.Harness), checks the outputs, and
prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer
metrics (a traced run also writes its spans under perfbench/traces/).
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.01")
HASHES = os.path.join(HERE, "expected_hashes.json")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 178


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Paths, sizes and mtimes of every source the build compiles."""
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    fp = source_fingerprint()
    stamp = CLASSPATH + ".stamp"
    if os.path.exists(CLASSPATH) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and "classes" in ln][-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return str(v)
    return v


def relation_hash(rel):
    """Order-insensitive hash of a result: columns sorted by name, floats
    rounded to 6 places, rows as sorted reprs."""
    cols = rel.columns
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(norm(r[i]) for i in idx)) for r in rel.fetchall())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def output_hash(con, out_dir):
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return hashlib.sha256(b"").hexdigest(), 0
    return relation_hash(con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))


def run_harness(cp, workload, seed, seconds, trace, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--data", DATA, "--out", out]
    p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=RUN_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"[perfbench] harness failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] engine sources (src/main) not found; "
                         "run from the repository root")

    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, work)
        failed, attempted = r["failed"], r["attempted"]
        log("e2e " + json.dumps(r["e2e"]))
        if r["outputs"]:
            import duckdb
            with open(HASHES) as f:
                expected = json.load(f)
            con = duckdb.connect()
            bad = set()
            for q, d in r["outputs"]:
                h, n = output_hash(con, d)
                pin = expected.get(q, {"sha256": "none", "rows": 0})
                if h != pin["sha256"]:
                    log(f"{q}: result hash {h[:12]} ({n} rows) != pinned "
                        f"{pin['sha256'][:12]} ({pin['rows']} rows)")
                    bad.add(d)
            failed += len(bad)
        if a.trace:
            spans = os.path.join(work, "result.spans.json")
            if os.path.exists(spans):
                os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(
                    HERE, "traces", f"{a.workload}-seed{a.seed}.spans.json"))
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = r["layers"] if a.trace else r["e2e"]
        metrics = {}
        for m in wanted:
            v = got.get(m["name"])
            if v is None:
                # a layer this workload does not exercise reads 0
                if not a.trace:
                    raise SystemExit(f"[perfbench] metric {m['name']} missing")
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": bool(r["correct"]) and failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

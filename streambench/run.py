#!/usr/bin/env python3
"""Benchmark entry point.

    python3 streambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark program (repository sources + streambench/src) with
sbt on first use, launches one JVM for the workload, checks the program's outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
See streambench/README.md.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import spec  # noqa: E402

# query_mix scale factor (TPC-H-shaped tables; see README for the choice)
SCALE = 0.01
# A fixed heap, so peak RSS does not depend on when the heap grows.
JVM_FLAGS = ["-Xms3g", "-Xmx3g"]
# The single-client query mix runs on the serial collector: in paired
# runs its set-up was 1-2 s shorter than under G1 and its latency no
# higher, and peak RSS is the live data (1.6 GiB) rather than the heap G1
# touched (3.4 GiB). The stream keeps G1: its four legs and the Gold leg
# run at once, and a serial pause stops them all (latency p50 5% and 13%
# higher in two paired runs).
GC_FLAGS = {"stream": ["-XX:+UseG1GC"], "query_mix": ["-XX:+UseSerialGC"]}
# Seconds a run may take, and the first run of a checkout, which builds.
DEADLINE_S = 175
BUILD_DEADLINE_S = 880
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"streambench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the benchmark build reads, in a stable order."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        fail(f"program sources not found under {program}")
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (program, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            out += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    return out


def build(started):
    """Compile with sbt unless the sources are unchanged; return the
    classpath and whether this run built it."""
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, f"classpath-{stamp[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), False
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True,
            timeout=max(60, BUILD_DEADLINE_S - 120 - (time.time() - started)))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [line for line in proc.stdout.splitlines() if "scala-2.13/classes" in line]
    if proc.returncode != 0 or not lines:
        fail("build failed:\n" + "\n".join(proc.stdout.splitlines()[-30:]))
    os.makedirs(bdir, exist_ok=True)
    for old in os.listdir(bdir):
        os.remove(os.path.join(bdir, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), True


def launch(cp, args, jvm_flags, run_dir, deadline):
    log_path = os.path.join(run_dir, "driver.log")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [shutil.which("java") or "java", *jvm_flags, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", *ADD_OPENS, "-cp", cp, "streambench.Main", *args]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"driver timed out; log: {log_path}")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read().splitlines()[-30:]
        fail("driver failed:\n" + "\n".join(tail))


def oracle_checks(raw, data_dir):
    """query_mix outputs against DuckDB (SparkEntry.oracleSql), compared the
    way tools/check_oracle.py compares; queries without an oracle against
    their own first call."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import norm, TABLES

    def load(d):
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            return None
        return pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files], ignore_index=True)

    def same(g, w):
        g, w = norm(g), norm(w)
        if list(g.columns) != list(w.columns) or len(g) != len(w):
            return False
        for c in g.columns:
            if g[c].dtype.kind != w[c].dtype.kind:
                return False
            a, b = g[c].values, w[c].values
            if not ((a == b) | (pd.isna(a) & pd.isna(b))).all():
                return False
        return True

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for q in raw["families"]:
        got = load(os.path.join(raw["out"], q))
        if got is None:
            checks.append({"name": q, "ok": False, "detail": "no output"})
        elif q in raw["oracle_sql"]:
            try:
                ok = same(got, con.sql(raw["oracle_sql"][q]).fetchdf())
            except Exception as e:  # an oracle error is a failed check
                ok = False
            checks.append({"name": q, "ok": ok, "detail": "oracle"})
        else:
            again = load(os.path.join(os.path.dirname(raw["out"]), "recheck", q))
            checks.append({"name": q, "ok": again is not None and same(got, again),
                           "detail": "matches its first call"})
    return checks


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    cp, built = build(started)
    deadline = started + (BUILD_DEADLINE_S if built else DEADLINE_S)

    data_dir = None
    if a.workload == "query_mix":
        import datagen
        data_dir = datagen.ensure(os.path.join(WORK, "data"), SCALE, a.seed)
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}")
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--out", out]
    if data_dir:
        args += ["--data", data_dir]
    launch(cp, args, JVM_FLAGS + GC_FLAGS[a.workload], run_dir, deadline)
    with open(out) as f:
        raw = json.load(f)

    if a.workload == "query_mix":
        e2e, attempted, failed = metrics.mix_metrics(raw)
        checks = oracle_checks(raw, data_dir)
        layers = metrics.mix_layers(raw) if a.trace else {}
    else:
        e2e, attempted, failed, rows = metrics.stream_metrics(raw)
        checks = raw["checks"]
        layers = metrics.stream_layers(raw, rows) if a.trace else {}
    e2e["setup_s"] = raw["setup_s"]
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"checks": len(checks), "failed_checks": [c["name"] for c in bad],
                      "failed_ratio": failed / attempted if attempted else 1.0}))
    if a.trace:
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        catalogue = spec.PER_LAYER
        values = layers
    else:
        catalogue = spec.END_TO_END
        values = e2e
    result = {
        "correct": not bad,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u, _ in catalogue},
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

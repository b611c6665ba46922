#!/usr/bin/env python3
"""CDC pipeline benchmark: one run of one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload snapshot --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Workloads: snapshot, cdc_batch (see perfbench/README.md).
The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. --selftest shows that the output checks reject
a dropped envelope, an altered envelope, a wrong snapshot row and a wrong
batch-query row.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, "target", "perfbench-build.json")
JVM_TIMEOUT_S = 170
WORKLOADS = ("snapshot", "cdc_batch")

# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """Compile program + benchmark; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(BUILD):
        with open(BUILD) as fh:
            b = json.load(fh)
        if b.get("stamp") == stamp:
            return b["classpath"]
    root_sbt = open(os.path.join(ROOT, "build.sbt")).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', root_sbt)
    if m:
        env["PERFBENCH_SCALA_VERSION"] = m.group(1)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', root_sbt)
    if m:
        env["PERFBENCH_SPARK_JARS"] = m.group(1)
    log("perfbench: building program and benchmark with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=850)
    sys.stderr.write("".join(ln + "\n" for ln in p.stdout.splitlines()
                             if not ln.startswith("/")))
    if p.returncode != 0:
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if ln.startswith("/") and "classes" in ln][-1].strip()
    with open(BUILD, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# The sf0.1 `events` test table, measured: 100,000 rows over 1,500 users
# (45-99 events each, about 66.7 on average) and 30 days from 2024-01-01,
# microsecond timestamps, event ids 0..n-1 in time order; event types
# click / error / purchase / signup / view at 19.8-20.3% each; values
# exponential (mean 49.9, median 34.7, p99 228) with two decimals; props
# `{"k": n}` with n uniform over 0..99. The generated table keeps every
# one of these shapes at a quarter of the rows (users scaled with them),
# so that one run times several sweeps.
EVENTS_ROWS = 25_000
EVENTS_PER_USER = 100_000 / 1_500


def events_table(seed, path, n=EVENTS_ROWS, days=30):
    """Seeded `events` table shaped like the sf0.1 test data (above)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    users = round(n / EVENTS_PER_USER)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, days * 86400 * 10**6, n))
    types = np.array(["click", "error", "purchase", "signup", "view"])
    t = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_rows(got, want):
    """None when two result frames hold the same rows, else the problem."""
    import pandas as pd
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows, oracle {len(w)}"
    drift = [c for c in g.columns
             if g[c].dtype.kind in "iu" and w[c].dtype.kind not in "iu"]
    if drift:
        return f"oracle dtype drift on {drift}"
    if not g.astype(object).where(pd.notna(g), None).equals(
            w.astype(object).where(pd.notna(w), None)):
        diff = (g.astype(str) != w.astype(str)).any(axis=1)
        i = diff[diff].index[0]
        return f"row {i}: got {g.loc[i].to_dict()}, oracle {w.loc[i].to_dict()}"
    return None


def oracle_check(data_dir, out_dir):
    """Each query's rows against its DuckDB oracle over the same table."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{data_dir}/events.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    errors = []
    for name, sql in sorted(oracles.items()):
        parts = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not parts:
            errors.append(f"{name}: no output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)
        problem = same_rows(got, con.sql(sql).df())
        if problem:
            errors.append(f"{name}: {problem}")
    if len(oracles) != 16:
        errors.append(f"{len(oracles)} oracles, 16 expected")
    return errors


def run_jvm(cp, workload, seed, seconds, trace, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
              str(trace), work])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         cwd=work)
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: {workload} exceeded {JVM_TIMEOUT_S} s")
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        raise SystemExit(f"perfbench: {workload} wrote no result "
                         f"(exit {p.returncode})")
    with open(path) as fh:
        return json.load(fh)


def selftest(cp):
    work = os.path.join(WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, "selftest", 7, 1, 0, work)
    import pandas as pd
    want = pd.DataFrame({"user_id": [1, 2, 3], "cents": [10, 20, 30]})
    cases = [("oracle rows", want.copy(), False),
             ("one oracle row dropped", want.iloc[1:], True),
             ("one oracle row altered", want.assign(cents=[10, 21, 30]), True)]
    errors = list(res["errors"])
    for what, got, should_fail in cases:
        problem = same_rows(got, want)
        log(f"selftest: {what} -> {problem or 'accepted'}")
        if (problem is not None) != should_fail:
            errors.append(f"{what}: {'accepted' if should_fail else problem}")
    for e in errors:
        log("selftest FAILED:", e)
    print(json.dumps({"selftest": "pass" if not errors else "fail",
                      "checks": res["attempted"] + len(cases)}))
    return 0 if not errors else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a checkout of the "
                         "program (src/main/scala/graft not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    if a.selftest:
        return selftest(cp)

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "cdc_batch":
        events_table(a.seed, os.path.join(work, "cdc_batch", "data",
                                          "events.parquet"))
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work)
    errors = list(res["errors"])
    if a.workload == "cdc_batch" and not errors:
        errors += oracle_check(os.path.join(work, "cdc_batch", "data"),
                               os.path.join(work, "cdc_batch", "out"))
    for e in errors:
        log("perfbench: check failed:", e)

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    missing = [n for n in e2e if n not in res["e2e"]]
    if missing:
        raise SystemExit(f"perfbench: {a.workload} did not measure {missing}")
    print("detail: " + json.dumps(res["detail"]))
    if a.trace:
        print("e2e_traced: " + json.dumps(res["e2e"]))
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {n: {"value": res["e2e"][n], "unit": m["unit"]}
                   for n, m in e2e.items()}
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

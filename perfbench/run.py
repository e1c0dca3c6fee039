#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (offline); later runs reuse the
build while the sources are unchanged. The run generates its inputs from
the seed under perfbench/work/, starts one JVM with Spark on local[nproc],
measures, checks every output, and prints as its last line one JSON object
with the keys correct, attempted, failed and metrics. A wrong output makes
the exit code 1 (after the line is printed); a missing engine source tree
or a failed build or run exits non-zero without printing a result.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# workload -> (fixture scale factor, tables to generate)
WORKLOADS = {
    "flagship": (0.1, ["nation", "lineitem"]),
    "spatial_dense": (0.02, ["lineitem", "part"]),
    "curation": (0.02, None),
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compiles the engine and the benchmark unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cache = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def host():
    """Cores from the affinity mask (nproc); heap from SPARK_DRIVER_MEM or,
    as the tier-1 test line does, half of MemTotal clamped to 2..8 GiB."""
    cores = len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_DRIVER_MEM")
    if not heap:
        g = 2
        try:
            with open("/proc/meminfo") as f:
                for ln in f:
                    if ln.startswith("MemTotal:"):
                        g = max(2, min(8, int(ln.split()[1]) // 2097152))
        except OSError:
            pass
        heap = f"{g}g"
    return cores, heap


def norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def same(g, e):
    """Exact comparison after sorting rows and columns (floats bit-equal)."""
    import numpy as np
    import pandas as pd
    if list(g.columns) != list(e.columns):
        return False, f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return False, f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            if not np.allclose(gv.astype(float), ev.astype(float), rtol=0, atol=0, equal_nan=True):
                return False, f"values differ in {c}"
        elif not (pd.Series(gv).astype(str).values == pd.Series(ev).astype(str).values).all():
            return False, f"values differ in {c}"
    return True, ""


def union_find_sql(con, sql):
    """The oracle SQL of a connected-components query with its transitive
    closure (the recursive `reach` CTE, quadratic in a component's size)
    replaced by a union-find over the same oracle pairs. Every other step
    is the oracle's own SQL; the labels are each node's smallest member."""
    import pandas as pd
    i_sym, i_lab = sql.index("), sym AS ("), sql.index("), labels AS (")
    end = sql.index("GROUP BY n\n)", i_lab) + len("GROUP BY n\n)")
    parent = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in con.execute(sql[:i_sym] + ") SELECT id_a, id_b FROM pairs").fetchall():
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    con.register("uf_labels", pd.DataFrame({"n": list(parent), "comp": [root(x) for x in parent]},
                                           dtype="int64"))
    return sql[:i_sym] + "), labels AS (SELECT n, comp FROM uf_labels)" + sql[end:]


def oracle_checks(data, out):
    """Each curation query's result against the DuckDB run of its oracle SQL
    over the same generated tables."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    checks = []
    for name, sql in sorted(sqls.items()):
        try:
            g = norm(pd.read_parquet(os.path.join(out, name)))
            if "), reach(n, m) AS (" in sql:
                sql = union_find_sql(con, sql)
            e = norm(con.execute(sql).df())
            ok, detail = same(g, e)
            digest = hashlib.sha256(g.to_csv(index=False).encode()).hexdigest()[:16]
            checks.append({"name": f"oracle:{name}", "ok": ok,
                           "detail": detail or f"rows={len(g)} digest={digest}"})
        except Exception as ex:  # a failed query or oracle counts as wrong
            checks.append({"name": f"oracle:{name}", "ok": False, "detail": repr(ex)[:300]})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the engine's sources are not here; run from the root of a full checkout")
    cp = build()
    cores, heap = host()
    run_t0 = time.time()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    sf, tables = WORKLOADS[a.workload]
    # the generator is the benchmark's own code, not the engine's, so its
    # time is recorded but is not part of setup_s
    t = time.time()
    gen.generate(data, a.seed, sf, tables)
    gen_s = time.time() - t

    result_path = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [x for m in JVM_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            data, work, str(cores), result_path])
    budget = RUN_LIMIT_S - (time.time() - run_t0)
    # a SIGTERM to this script unwinds through the finally below, so the
    # JVM never outlives it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish in {budget:.0f} s (log: {log.name})", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the benchmark program exited with {rc}", 4)
    with open(result_path) as f:
        r = json.load(f)

    t = time.time()
    oracle = oracle_checks(data, os.path.join(work, "out")) if a.workload == "curation" else []
    oracle_s = time.time() - t
    checks = r["checks"] + oracle
    bad = [c for c in checks if not c["ok"]]
    attempted = r["attempted"] + len(oracle)
    failed = r["failed"] + sum(1 for c in oracle if not c["ok"])
    metrics = r["metrics"]
    if a.trace:
        metrics["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    # the metric names and units are the ones BENCHMARK.json declares; a
    # layer that this workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    out = {}
    for m in declared:
        v = metrics.get(m["name"])
        if v is None and not a.trace:
            fail(f"the run did not measure {m['name']}", 4)
        out[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    info = dict(r["info"], workload=a.workload, seed=a.seed, sf=sf, heap=heap,
                gen_s=gen_s, oracle_s=oracle_s, checks=checks,
                run_s=round(time.time() - started, 1))
    with open(os.path.join(HERE, "work", "records.jsonl"), "a") as f:
        f.write(json.dumps(info) + "\n")
    print("record: " + json.dumps(info))
    for c in bad:
        print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
    trace = os.path.join(work, "trace.json")
    if os.path.exists(trace):  # the spans of a traced run outlive its inputs
        shutil.move(trace, os.path.join(HERE, "work", f"trace-{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if not bad and failed == 0 else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run.

Usage, from the root of an engine checkout:
  python3 perfbench/run.py --workload wb_sf0.3 [--seed 42] [--seconds 20] [--trace 0]

A run builds the engine and the harness (cached by a hash of their sources),
prepares the workload's input (cached per seed), starts one JVM running
perfbench.Harness (a closed loop, one client, local[nproc]), checks every
query's output, and prints one JSON line as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything else (machine stamp, per-query
times, failures by name, spans of a traced run) goes to stderr and to a
report file under .bench_build/perfbench/reports/.

The sf0.1 testdata directory is $SPARK_GRAFT_SF_DIR, else the sf0.1 row of
TESTDATA.md. It is only read; generated data lives under .bench_build/."""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

# A run ends within this many seconds of its build being ready.
DEADLINE_S = 170.0
# Set-ups per run; setup_s is the median of all but the first.
SETUPS = 4
# Warm passes per run, at least; wall_s is their median.
MIN_WARM = 3
HEAP = "4g"
# Spark 4 on JDK 17 outside spark-submit; the same list as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def source_hash(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(root, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile engine and harness with sbt once per source hash; return the
    runtime classpath."""
    cp_file = os.path.join(work, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building engine and harness with sbt")
    t = time.monotonic()
    out_path = os.path.join(work, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, out_path, 880)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if os.path.join(HERE, "target") in ln and not ln.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    for old in os.listdir(work):
        if old.startswith("classpath-"):
            os.remove(os.path.join(work, old))
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    log(f"build took {time.monotonic() - t:.1f} s")
    return cps[-1].strip()


def testdata_dir(root):
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        for line in open(os.path.join(root, "TESTDATA.md")):
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 3 and cells[1] == "0.1":
                d = cells[2]
    if not d or not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"sf0.1 testdata not found ({d!r}); set SPARK_GRAFT_SF_DIR")
    return d.rstrip("/")


def scaled_lineitem_sql(src, out, factor, seed):
    """scripts/make_sf_scale.py's lineitem construction (K shifted copies,
    50k-row groups), with the row order a seeded permutation instead of
    key order: every seed yields the same rows, so the same outputs."""
    return f"""
      COPY (
        SELECT l.l_orderkey + k.k * (SELECT max(l_orderkey) + 1 FROM '{src}/lineitem.parquet') AS l_orderkey,
               l.l_partkey, l.l_suppkey, l.l_linenumber,
               l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
               l.l_returnflag, l.l_linestatus, l.l_shipdate
        FROM '{src}/lineitem.parquet' l, (SELECT unnest(range({factor})) AS k) k
        ORDER BY hash(l_orderkey, l.l_linenumber, {int(seed)}::BIGINT), l_orderkey, l.l_linenumber
      ) TO '{out}/lineitem.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 50000)"""


def prepare(wl, src, work, seed):
    """Directory of the workload's input tables, generated once per seed.
    At most two seeds stay cached."""
    if wl["data"] == "sf0.1":
        return src
    factor = wl["scale_factor"]
    base = os.path.join(work, "data")
    d = os.path.join(base, f"{wl['data']}-seed{seed}")
    stamp = os.path.join(d, "complete")
    if os.path.exists(stamp):
        return d
    import duckdb
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(nproc(), 8)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    con.execute(scaled_lineitem_sql(src, d, factor, seed))
    con.close()
    open(stamp, "w").close()
    others = sorted((os.path.join(base, x) for x in os.listdir(base) if x != os.path.basename(d)),
                    key=os.path.getmtime)
    for old in others[:-1]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group with output to log_path; kill the
    whole group if it outlives timeout. Returns the exit code, None on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def run_harness(cp, args, log_path, heap, timeout):
    # Everything the JVM and Spark write goes under the run's tmp directory.
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{heap}", f"-Djava.io.tmpdir={args['tmp']}",
           f"-Dspark.sql.warehouse.dir={os.path.join(args['tmp'], 'warehouse')}",
           f"-Dderby.system.home={args['tmp']}",
           "-cp", cp, "perfbench.Harness"]
    for k, v in args.items():
        if k != "tmp":
            cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=args["tmp"])
    code = run_group(cmd, None, log_path, timeout, env)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness {'timed out' if code is None else f'exited with {code}'}; log: {log_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, help="warm-pass time (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "TESTDATA.md", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of an engine checkout: {need} is missing")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.seconds is None:
        a.seconds = bench["run_seconds"]

    stamp = {"nproc": nproc(), "load_start": loadavg(), "workload": a.workload,
             "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "loop": spec["loop"]}
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (work, tmp, os.path.join(work, "reports")):
        os.makedirs(d, exist_ok=True)

    cp = build(root, work)
    deadline = time.monotonic() + DEADLINE_S
    src = testdata_dir(root)
    prep_s = []
    for _ in range(SETUPS):
        t = time.monotonic()
        data = prepare(wl, src, work, a.seed)
        prep_s.append(time.monotonic() - t)

    queries = list(wl["queries"])
    random.Random(a.seed).shuffle(queries)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_json = os.path.join(work, f"{tag}.harness.json")
    check_dir = os.path.join(tmp, "check")
    hargs = {"tmp": tmp, "sf": data, "queries": ",".join(queries), "tables": ",".join(wl["tables"]),
             "cpus": nproc(), "setups": SETUPS, "warm-seconds": a.seconds,
             "min-warm": MIN_WARM, "trace": a.trace,
             "check-dir": check_dir, "out": out_json}
    run_harness(cp, hargs, os.path.join(work, f"{tag}.jvm.log"), HEAP,
                deadline - time.monotonic() - 10.0)
    with open(out_json) as f:
        run = json.load(f)

    # Check the cold pass's outputs, outside every timed bracket.
    t = time.monotonic()
    ran = [q for q in queries if q not in metrics.failures(run["execs"], {})]
    if wl["check"] == "oracle":
        bad = oracle.oracle_failures(data, check_dir, run["oracle_sql"], ran, nproc())
    else:
        with open(os.path.join(HERE, "digests.json")) as f:
            recorded = json.load(f)[a.workload]
        bad = oracle.digest_failures(check_dir, recorded, ran)
    check_s = time.monotonic() - t
    failed = metrics.failures(run["execs"], bad)

    if a.trace:
        values = metrics.per_layer(run, failed)
        names = bench["per_layer"]
    else:
        values = metrics.end_to_end(run, prep_s, failed)
        names = bench["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")

    per_query = metrics.query_times(run, failed)
    samples = list(per_query.values())
    spread = {}
    for q in (0.5, 0.9):
        try:
            spread[f"query_p{q * 100:g}_s"] = metrics.percentile(samples, q)
        except ValueError as e:
            spread[f"query_p{q * 100:g}_s"] = f"not reported: {e}"
    stamp.update(load_end=loadavg(), java=run["java_version"], spark=run["spark_version"],
                 warm_passes=len({e["pass"] for e in run["execs"] if e["kind"] == "warm"}))
    report = {
        "stamp": stamp, "metrics": values, "query_order": queries,
        "failed": failed, "query_s": per_query, "query_samples": len(samples), **spread,
        "prep_s": prep_s, "check_s": check_s, "jvm_boot_s": run["jvm_boot_s"],
        "setup_runs_s": run["setup_s"],
        "first_setup_s": run["jvm_boot_s"] + prep_s[0] + run["setup_s"][0],
        "peak_rss_mb": run["peak_rss_mb"],
    }
    if a.trace:
        passes = metrics.timed(run["execs"], failed, "warm", traced=True)
        report["spans"] = [sp for p in passes.values() for sp in metrics.spans_of_pass(p, run)]
    with open(os.path.join(work, "reports", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    log("stamp", json.dumps(stamp))
    for q, why in failed.items():
        log(f"FAILED {q}: {why}")
    log("query_s", json.dumps({q: round(s, 4) for q, s in sorted(per_query.items())}))

    print(json.dumps({
        "correct": not failed,
        "attempted": len(queries),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Record the output digests that check the digest-checked workloads.

Usage, from the root of an engine checkout:
  python3 perfbench/record_digests.py [--seed 42]

For each workload whose check is "digest", runs its queries through the
harness: the cold pass writes every output as parquet, which is compared
with the DuckDB oracle (SparkEntry.oracleSql, the rules of
scripts/check_oracle.py) over the generated input and then digested.
perfbench/digests.json is rewritten only if every query passed the oracle.
The oracle is slow at this scale (minutes per query), which is why runs
compare digests instead."""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = run.build(root, work)
    src = run.testdata_dir(root)
    digests = {}
    for name, wl in spec["workloads"].items():
        if wl["check"] != "digest":
            continue
        data = run.prepare(wl, src, work, a.seed)
        out_json = os.path.join(work, f"record-{name}.harness.json")
        check_dir = os.path.join(tmp, f"record-{name}")
        run.run_harness(cp, {"tmp": tmp, "sf": data, "queries": ",".join(wl["queries"]),
                             "tables": ",".join(wl["tables"]), "cpus": run.nproc(),
                             "setups": 1, "warm-seconds": 0, "min-warm": 1, "trace": 0,
                             "check-dir": check_dir, "out": out_json},
                        os.path.join(work, f"record-{name}.jvm.log"), run.HEAP, 3600)
        with open(out_json) as f:
            res = json.load(f)
        bad = metrics.failures(res["execs"], {})
        bad.update(oracle.oracle_failures(data, check_dir, res["oracle_sql"],
                                          [q for q in wl["queries"] if q not in bad], run.nproc()))
        for q, why in bad.items():
            run.log(f"FAIL {name} {q}: {why}")
        if bad:
            run.fail("not recording digests of outputs that fail the oracle")
        run.log(f"{name}: {len(wl['queries'])} queries pass the oracle")
        digests[name] = {q: oracle.digest(oracle.read_output(os.path.join(check_dir, q)))
                         for q in wl["queries"]}
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

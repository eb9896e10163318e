#!/usr/bin/env python3
"""Records `catalog_expected.json`: for every catalog query, the row count
and content digest the benchmark's catalog mode observes on the bundled
sf0.01 tables.

    python3 perfbench/record_catalog.py

Each of two runs is a fresh JVM over the whole catalog, cold pass then
warm pass.
A query whose digest differs between any two executions is recorded with
`"digest": null` and is then checked on its row count alone. Re-record
after a change that is meant to alter a query's result.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

RUNS = 2


def list_queries(classpath):
    out = os.path.join(run.BUILD, "out", "catalog-names.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    run.run_jvm(classpath, ["names", out], time.monotonic() + 300)
    return run.read_json(out)


def main():
    classpath = run.build()
    names = list_queries(classpath)
    runs = []
    for i in range(RUNS):
        res = run.catalog_once(classpath, names, 0, time.monotonic() + 3600)
        runs.append(res["records"])
        print(f"run {i + 1}: {res['work_s']:.1f} s", flush=True)
    expected = {}
    for name in names:
        recs = [r for rs in runs for r in rs if r["name"] == name]
        errs = [r["error"] for r in recs if "error" in r]
        if errs:
            print(f"{name}: fails, left out: {errs[0][:200]}", file=sys.stderr)
            continue
        rows = {r["rows"] for r in recs}
        if len(rows) != 1:
            print(f"{name}: row count varies {rows}, left out", file=sys.stderr)
            continue
        digests = {r["digest"] for r in recs}
        expected[name] = {
            "rows": rows.pop(),
            "digest": digests.pop() if len(digests) == 1 else None,
        }
    with open(os.path.join(run.HERE, "catalog_expected.json"), "w") as f:
        json.dump(expected, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(expected)} of {len(names)} queries; "
          f"{sum(e['digest'] is None for e in expected.values())} on row count only")


if __name__ == "__main__":
    main()

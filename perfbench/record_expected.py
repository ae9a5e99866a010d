#!/usr/bin/env python3
"""Record the expected result of every query the workloads run.

Usage, from the root of a graft checkout:

    python3 perfbench/record_expected.py QUERY [QUERY ...]

Runs each query three times on the benchmark's data, writes its result
as parquet and checks it against the query's DuckDB oracle with
`tools/check.py`. Only when every oracle check passes does it write
`perfbench/expected.json`: the digest of each query, or its row count
when the digest differs between the three runs. A query without an
oracle is refused.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SF = "sf0.01"


def main():
    names = sys.argv[1:]
    if not names:
        run.fail("name the queries to record")
    cp = run.classpath()
    data = os.path.join(run.HERE, "data", SF)
    work = os.path.join(run.WORK, f"record-{os.getpid()}")
    try:
        rc, out, log = run.jvm(cp, ["record", "--queries", ",".join(names),
                                    "--data", data, "--work", work], work)
        if rc != 0:
            with open(log) as f:
                print(f.read()[-4000:], file=sys.stderr)
            run.fail(f"record run exited {rc}")
        with open(os.path.join(work, "record.json")) as f:
            rec = json.load(f)
        no_oracle = [n for n in names if rec[n]["oracle"] is None]
        if no_oracle:
            run.fail(f"no DuckDB oracle for {', '.join(no_oracle)}")
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), data, work] + names,
            cwd=run.ROOT)
        if check.returncode != 0:
            run.fail("oracle check failed; nothing recorded")
        path = os.path.join(run.HERE, "expected.json")
        expected = {}
        if os.path.exists(path):
            with open(path) as f:
                expected = json.load(f)
        table = expected.setdefault(SF, {})
        for n in names:
            ds = rec[n]["digests"]
            rows = {d.split(":")[0] for d in ds}
            if len(rows) != 1:
                run.fail(f"{n}: row count differs between runs: {ds}")
            stable = len(set(ds)) == 1
            table[n] = {"check": "digest" if stable else "rows", "digest": ds[0],
                        "rows": int(rows.pop())}
            print(f"{n}: {table[n]['check']} {ds[0]}")
        expected[SF] = dict(sorted(table.items()))
        with open(path, "w") as f:
            json.dump(expected, f, indent=1)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

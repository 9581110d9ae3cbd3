#!/usr/bin/env python3
"""Record the expected output fingerprints of every workload query.

Usage (from the repository root):

    python3 perfbench/record.py /root/testdata/sf0.1

Runs each workload query once, writes its output as parquet, checks every
output against the DuckDB oracle with tools/check.py, and only if all of
them pass writes perfbench/fingerprints/<basename of DIR>.json. Re-record
after a change that is meant to alter a query's output.
"""
import json
import os
import subprocess
import sys

import run


def main(data):
    data = os.path.abspath(data)
    classes, _ = run.build()
    dump = os.path.join(run.BUILD, "record", os.path.basename(data))
    rc, _ = run.run_jvm(classes, ["--data", data, "--cores", str(run.cores()),
                                  "--record", dump], 1800)
    if rc != 0:
        raise SystemExit(f"record: JVM exited with {rc}")
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                            data, dump], capture_output=True, text=True)
    print(check.stdout, end="")
    passed = {l.split()[1] for l in check.stdout.splitlines() if l.startswith("PASS ")}
    with open(os.path.join(dump, "fingerprints.json")) as f:
        fps = json.load(f)
    unchecked = sorted(set(fps) - passed)
    if unchecked:
        raise SystemExit("record: not oracle-exact, nothing written: " + ", ".join(unchecked))
    out = os.path.join(run.BENCH, "fingerprints", os.path.basename(data) + ".json")
    with open(out, "w") as f:
        json.dump({"data": os.path.basename(data), "checked_by": "tools/check.py",
                   "queries": dict(sorted(fps.items()))}, f, indent=1)
        f.write("\n")
    print(f"record: wrote {out} ({len(fps)} queries)")


if __name__ == "__main__":
    main(sys.argv[1])

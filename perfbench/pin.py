#!/usr/bin/env python3
"""Pin the expected output digests of the analytics and multistage queries.

    python3 perfbench/pin.py

Runs graft.Verify on the benchmark corpus for every selected query,
checks each query that has an oracle against DuckDB with
tools/parity.py --only-present, digests the verified outputs with the
harness's own digest, and writes perfbench/digests.json. Run it when the
selection or the corpus changes; the benchmark itself only reads the file.
"""
import json
import os
import shutil
import subprocess
import sys

import run

HERE = run.HERE


def main():
    os.makedirs(run.WORK, exist_ok=True)
    cp = run.build()
    data = run.corpus(cp)
    names = sorted({q for w in run.CONFIG["workloads"].values() for q in w.get("ops", [])})
    out = os.path.join(run.WORK, "verify")
    run_dir = os.path.join(run.WORK, "pin")
    shutil.rmtree(out, ignore_errors=True)
    try:
        run.java(cp, "graft.Verify", [data, out, ",".join(names)], run_dir, 1800)
        missing = [n for n in names if not os.path.isdir(os.path.join(out, n))]
        if missing:
            raise SystemExit(f"Verify produced no output for {missing}")
        parity = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "parity.py"),
                                 data, out, "--only-present"], capture_output=True, text=True)
        print(parity.stdout[-3000:])
        if parity.returncode != 0:
            raise SystemExit("oracle parity failed")
        digests_file = os.path.join(run_dir, "digests.json")
        run.java(cp, "perfbench.Harness", ["--mode", "digest", "--dirs", out, "--data", data,
                                           "--cpus", str(run.CPUS), "--out", digests_file],
                 run_dir, 600)
        digests = json.load(open(digests_file))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    oracles = set(json.load(open(os.path.join(out, "oracle_sql.json"))))
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump({"corpus_seed": run.CONFIG["corpus_seed"],
                   "oracle_checked": sorted(n for n in names if n in oracles),
                   "queries": {n: digests[n] for n in names}}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(names)} digests, {len(oracles & set(names))} oracle-checked")


if __name__ == "__main__":
    main()

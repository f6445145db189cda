#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Builds the harness and the program from the checkout's sources (once per
source state), generates the inputs (once per checkout or seed), runs
the workload in a fresh JVM and prints each metric by name and unit,
then, as the last line, {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import ingest_gen
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
CPUS = min(CONFIG["cpus"], os.cpu_count() or 1)
JVM_TIMEOUT_S = 150
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src/main"):
        path = os.path.join(ROOT, base)
        found = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            if "target" not in os.path.relpath(d, ROOT).split(os.sep) for f in fs)
        for f in found:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program and harness with sbt; return the runtime classpath."""
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java(cp, main, args, run_dir, timeout):
    """Run a JVM with its own java.io.tmpdir under `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_ARTIFACT_ROOT"}
    env.update(SPARK_GRAFT_FAST_SCRATCH="0", SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *ADD_OPENS, f"-Xmx{CONFIG['heap']}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, main, *args]
    with open(os.path.join(run_dir, "jvm.log"), "a") as errlog:
        p = subprocess.run(cmd, env=env, stdout=errlog, stderr=errlog, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise SystemExit(f"{main} exited with {p.returncode}")


def corpus(cp):
    """The fixed relational corpus, made once per checkout by graft.GenCorpus."""
    path = os.path.join(WORK, "corpus")
    if not os.path.exists(os.path.join(path, "_DONE")):
        log("generating the relational corpus (graft.GenCorpus)")
        shutil.rmtree(path, ignore_errors=True)
        run_dir = os.path.join(WORK, "gen")
        java(cp, "graft.GenCorpus", [path, str(CONFIG["corpus_seed"])], run_dir, 600)
        shutil.rmtree(run_dir, ignore_errors=True)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def ingest_corpus(seed):
    """The seeded openfootball corpus and its ground truth, once per seed."""
    path = os.path.join(WORK, "ingest", str(seed))
    truth_file = os.path.join(path, "truth.json")
    if not os.path.exists(truth_file):
        shutil.rmtree(path, ignore_errors=True)
        truth = ingest_gen.generate(seed, path)
        with open(truth_file, "w") as f:
            json.dump(truth, f)
    return path, json.load(open(truth_file))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("the program's sources are not next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    data = corpus(cp)
    wl = CONFIG["workloads"][a.workload]
    ingest_dir, truth = ingest_corpus(a.seed) if a.workload == "ingest" else ("", {})
    digests = json.load(open(os.path.join(HERE, "digests.json")))
    # A fixed pass count per (workload, --seconds), so every run of the same
    # code measures the same executions whatever the machine's speed; at
    # the nominal pass time it measures about --seconds. A traced run
    # needs two traced and two untraced passes.
    passes = max(4 if a.trace else 3, round(a.seconds / wl["nominal_pass_s"]))
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    common = ["--workload", a.workload, "--data", data, "--cpus", str(CPUS)]
    try:
        out = os.path.join(run_dir, "record.json")
        java(cp, "perfbench.Harness",
             ["--mode", "run", *common, "--ops", ",".join(wl.get("ops", [])),
              "--ingest", ingest_dir, "--seed", str(a.seed), "--passes", str(passes),
              "--trace", str(a.trace), "--out", out], run_dir, JVM_TIMEOUT_S)
        record = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected = truth if a.workload == "ingest" else digests["queries"]
    execs = [e for p in record["passes"] for e in p["execs"]]
    failed = [e for e in execs if not e["ok"] or e["check"] != expected.get(e["op"])]
    for e in failed[:5]:
        log(f"FAILED {e['op']} pass {e['pass']}: {e['error'] or 'output ' + e['check']}")
    log("pass walls: " + " ".join(f"{p['wall_s']:.3f}" for p in record["passes"]))
    for op, times in M.per_op(record).items():
        log(f"{op:<28} cold {times[0]:8.3f} s   steady median {M.median(times[1:]):8.3f} s")
    if a.trace:
        found = M.per_layer(record, truth)
    else:
        found = M.end_to_end(record)
    found_info = M.run_info(record, len(failed), len(execs))
    for name, (value, unit) in {**found, **found_info}.items():
        print(f"{a.workload:<10} {name:<28} {value:>14.6f} {unit}")
    print(json.dumps({
        "correct": not failed, "attempted": len(execs), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in found.items()}}))


if __name__ == "__main__":
    main()

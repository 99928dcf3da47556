#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pbetl_ref --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(offline, from source) and caches the launch files under
perfbench/target/launch; later runs start the harness JVM directly.
Each run works in a fresh directory under perfbench/out/ (inputs, work
root, index root, Spark local dir) and deletes the bulky parts of it at
the end, keeping report.json (every metric plus host state), spans.json
(traced runs) and jvm.log.

Extra options: --size tiny (the self-test's small inputs), --plant-mismatch
(corrupts one expected digest, for the self-test), --record PATH (writes
the observed rows and digests, to refresh perfbench/expected/).
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload -> size -> generator arguments
WORKLOADS = {
    "pbetl_ref": {"full": {"n_train": 1000, "n_test": 250},
                  "tiny": {"n_train": 300, "n_test": 100}},
    "queries_heavy": {"full": {"sf": 0.01}, "tiny": {"sf": 0.001}},
}
# the query tables do not vary with the run seed (the seed picks the
# execution order), so their expected digests can be recorded once
TABLE_SEED = 42
SETUP_REPS = 3
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the launch files match the sources."""
    launch = os.path.join(HERE, "target", "launch")
    stamp_file = os.path.join(launch, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's per-user state (server socket, global settings) stays in the
    # checkout; the offline dependency cache is only read
    env["SBT_OPTS"] += (" -Dsbt.server.autostart=false"
                        f" -Dsbt.global.base={os.path.join(HERE, 'target', 'sbt-global')}")
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--plant-mismatch", action="store_true")
    p.add_argument("--record")
    a = p.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise SystemExit(f"engine source missing: {need}")
    launch = build()
    cp = open(os.path.join(launch, "classpath.txt")).read().strip()
    jvm_opts = [l for l in open(os.path.join(launch, "jvm_options.txt")).read().splitlines() if l]

    run_dir = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # set-up: generate the inputs SETUP_REPS times, keep the last copy
    gen_s = []
    for i in range(SETUP_REPS):
        data_dir = os.path.join(run_dir, f"data{i}")
        t = time.perf_counter()
        g = WORKLOADS[a.workload][a.size]
        if a.workload == "pbetl_ref":
            gen.write_pbetl(data_dir, g["n_train"], g["n_test"], a.seed)
        else:
            gen.write_tables(data_dir, g["sf"], TABLE_SEED)
        gen_s.append(time.perf_counter() - t)
        if i + 1 < SETUP_REPS:
            shutil.rmtree(data_dir)
    digests = os.path.join(HERE, "expected",
                           f"{a.workload}{'_tiny' if a.size == 'tiny' else ''}.json")
    index_root = os.path.join(run_dir, "index")
    env = dict(os.environ, GRAFT_INDEX_ROOT=index_root)
    load_before = os.getloadavg()[0]
    launch_ms = int(time.time() * 1000)
    cmd = ["java", *jvm_opts, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}/derby",
           "-cp", cp, "perfbench.Main",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, data_dir,
           str(sorted(gen_s)[len(gen_s) // 2]), str(launch_ms), "1" if a.plant_mismatch else "0",
           digests]
    if a.record:
        cmd.append(os.path.abspath(a.record))

    with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=jl, stderr=jl,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    load_after = os.getloadavg()[0]
    for d in os.listdir(run_dir):
        if os.path.isdir(os.path.join(run_dir, d)):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        log(f"harness exited with {rc}; log tail:\n{tail}")
        raise SystemExit(1)

    res = json.load(open(res_path))
    res["host"].update(load1_before=load_before, load1_after=load_after,
                       workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                       size=a.size)
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    log(f"host {json.dumps(res['host'], sort_keys=True)}")
    log(f"report {run_dir}/report.json")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

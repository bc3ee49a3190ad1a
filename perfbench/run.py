#!/usr/bin/env python3
"""Benchmark of record for graft: one run of one workload.

    python3 perfbench/run.py --workload pig_batch --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the
benchmark (perfbench/build.sbt, which compiles the engine from this
checkout as a dependency) and writes the JVM classpath; later runs start
the JVM directly. The last line of stdout is the run's record:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (spans go to perfbench/.out/). Every
file a run writes lives under perfbench/ (.cache for generated inputs,
.run for the run's work root, deleted at exit, .out for spans) or in
the build output dirs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
DEFAULT_SEED = 1
# A run must end within 180 s; the first one in a checkout may build.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input: sizes and mtimes of the sources."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "build.sbt"),
             os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Builds once per source state; returns (classpath, jvm options)."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    opts_file = os.path.join(target, "jvm-options.txt")
    stamp_file = os.path.join(target, "launch.stamp")
    stamp = source_stamp()
    fresh = all(os.path.exists(f) for f in (cp_file, opts_file, stamp_file))
    if not fresh or open(stamp_file).read() != stamp:
        os.makedirs(os.path.join(BENCH, ".out"), exist_ok=True)
        log = os.path.join(BENCH, ".out", "build.log")
        # no hsperfdata file in the system temp dir
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=os.environ.get("SBT_OPTS", "") + " -XX:-UsePerfData")
        with open(log, "w") as f:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                    cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, env=env,
                    timeout=BUILD_LIMIT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.exists(cp_file):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            fail(f"build failed (log: {log})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [l.strip() for l in f if l.strip()]
    return cp, opts


def check_digests(workload, seed, traced, digests):
    """Compares output digests with those expected.json records for its
    seed; returns (digests compared, mismatches). Digests named
    "ingest: ..." come from the ingest tail, which only traced runs run."""
    with open(os.path.join(BENCH, "expected.json")) as f:
        expected = json.load(f)
    if seed != expected["seed"]:
        return 0, []
    want = {k: v for k, v in expected["digests"].get(workload, {}).items()
            if traced or not k.startswith("ingest: ")}
    return len(want), [f"{k}: expected {v}, got {digests.get(k)}"
                       for k, v in sorted(want.items()) if digests.get(k) != v]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    spec_file = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(os.path.join(REPO, "build.sbt")) or \
            not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail(f"no graft sources around {BENCH}: run from a graft checkout")
    with open(spec_file) as f:
        spec = json.load(f)

    cp, opts = build()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    root = os.path.join(BENCH, ".run", run_id)
    os.makedirs(os.path.join(root, "tmp"))
    record = os.path.join(root, "record.json")
    cmd = ["java", *opts, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={root}/tmp",
           f"-Dderby.system.home={root}",
           f"-Dderby.stream.error.file={root}/derby.log",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--repo", REPO, "--root", root, "--record", record,
           "--cores", str(cores)]
    if args.trace:
        os.makedirs(os.path.join(BENCH, ".out"), exist_ok=True)
        cmd += ["--spans", os.path.join(BENCH, ".out",
                                        f"spans-{args.workload}-s{args.seed}.jsonl")]
    log = os.path.join(root, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start)
    try:
        with open(log, "w") as f:
            try:
                rc = subprocess.run(cmd, cwd=root, stdout=f,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    env=dict(os.environ, LANG="C.UTF-8"),
                                    timeout=max(budget, 30)).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(record):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"{args.workload} run failed ({rc})")
        with open(record) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    compared, mismatches = check_digests(args.workload, args.seed, args.trace,
                                         rec["digests"])
    problems = rec["problems"] + mismatches
    failed = rec["failed"] + len(mismatches)
    attempted = rec["attempted"] + compared
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    group, values = (("per_layer", rec["per_layer"]) if args.trace
                     else ("end_to_end", rec["end_to_end"]))
    metrics = {}
    for m in spec[group]:
        v = values.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run's record")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"perfbench: {args.workload} seed={args.seed} ops={rec['ops']} "
          f"window={rec['window_s']:.1f}s generate={rec['generate_s']:.1f}s setup={rec['setup_s']:.2f}s "
          f"ops_ms={[round(x) for x in rec['ops_ms']]} "
          f"digests={json.dumps(rec['digests'], sort_keys=True)}",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

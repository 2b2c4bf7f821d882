#!/usr/bin/env python3
"""The repository's benchmark: one workload in one JVM, seeded inputs, a
timed phase of whole rounds, correctness checks, one JSON line.

    python3 perfbench/run.py --workload consume|library \\
        --seed <n> --seconds <s> --trace 0|1

Run it from the repository root. The last line of stdout is
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. Progress and the JVM's log go to stderr. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

# Per workload: records per trigger (`cap`), the timed and the warm-up
# backlog per shard, the number of warm-up drains, the least number of
# timed rounds, and the percentile op_tail_ms reports.
WORKLOADS = {
    "consume": {"cap": 400, "per_shard": 1250, "warm_per_shard": 800, "warm_drains": 2,
                "min_rounds": 3, "tail": 75},
    "library": {"min_rounds": 3, "tail": 75},
}

# Queries from three strata of the registry (README.md says why each is
# here). Their run times differ, so the median of a run's 15 query runs
# follows one query and the p75 the two slowest (README.md, figures).
LIBRARY_QUERIES = [
    "q90_graph_pagerank", "q75_cluster_split",
    "q23_dedup_simhash", "q156_media_dedup",
    "q177_repetition_audit",
]

JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def percentile(xs, p):
    """Linear interpolation between closest ranks."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def run_jvm(root, classes, work, args, spec, build_s):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP]
    cmd += ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
            "-cp", classes + ":" + os.path.join(build.jars_dir(), "*"),
            "graft.perfbench.Harness",
            "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--min-rounds", str(spec["min_rounds"])]
    if "cap" in spec:
        cmd += ["--cap", str(spec["cap"]), "--warm-drains", str(spec["warm_drains"])]
    if args.workload == "library":
        cmd += ["--queries", ",".join(LIBRARY_QUERIES)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        done = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                              timeout=JVM_TIMEOUT_S - (time.time() - T_START - build_s))
    with open(log_path) as log:
        text = log.read()
    if done.returncode != 0:
        sys.stderr.write(text[-6000:])
        raise SystemExit("perfbench: the JVM exited with %d" % done.returncode)
    sys.stderr.write("".join(l + "\n" for l in text.splitlines() if l.startswith("[perfbench]")))
    with open(os.path.join(work, "jvm_result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    spec = WORKLOADS[args.workload]

    t_build = time.time()
    classes = build.ensure_built(root)
    build_s = time.time() - t_build  # not set-up: only the first run in a checkout compiles

    work = os.path.join(build.build_dir(root), "work", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "library":
        tables = inputs.library_inputs(args.seed, work)
    else:
        tally = inputs.consume_inputs(args.seed, work, spec["per_shard"], spec["warm_per_shard"])
    res = run_jvm(root, classes, work, args, spec, build_s)

    if args.workload == "consume":
        problems = [p for d in res["round_dirs"] for p in checks.check_consume(os.path.join(d, "sink"), tally)]
        triggers = spec["per_shard"] * inputs.SHARDS // spec["cap"]
        if res["attempted"] != triggers * res["rounds"]:
            problems.append("%d triggers in %d rounds, expected %d per round"
                            % (res["attempted"], res["rounds"], triggers))
    else:
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle = json.load(f)
        problems = checks.check_library(root, tables, os.path.join(work, "results"), oracle)
    for p in problems:
        sys.stderr.write("perfbench: INCORRECT: %s\n" % p)

    ops = res["ops_ms"]
    e2e = {
        "setup_s": res["timed_start_ms"] / 1000.0 - T_START - build_s,
        "wall_s": statistics.median(res["round_wall_s"]),
        "cpu_s": statistics.median(res["round_cpu_s"]),
        "op_p50_ms": statistics.median(ops),
        "op_tail_ms": percentile(ops, spec["tail"]),
    }
    per_round = len(ops) // res["rounds"]
    sys.stderr.write("perfbench: per round wall %s, op p50 %s\n" % (
        " ".join("%.2f" % w for w in res["round_wall_s"]),
        " ".join("%.0f" % statistics.median(ops[i:i + per_round]) for i in range(0, len(ops), per_round))))
    sys.stderr.write("perfbench: %s seed=%d rounds=%d ops=%d %s\n" % (
        args.workload, args.seed, res["rounds"], len(ops),
        " ".join("%s=%.4f" % kv for kv in sorted(e2e.items()))))
    if args.trace:
        values = res["layers"]
        section = declared["per_layer"]
        traces = os.path.join(build.build_dir(root), "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(traces, "%s-seed%d.json" % (args.workload, args.seed)))
    else:
        values = e2e
        section = declared["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

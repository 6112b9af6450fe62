#!/usr/bin/env python3
"""graft's benchmark: one command, three SQL workloads, DuckDB-checked.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (perfbench/build.sbt), runs
one workload in a fresh JVM (set-up, one cold pass, warm passes for
--seconds), checks every query's output against DuckDB, prints a report
and, as the last line, one JSON object with the metrics. --trace 0 gives
the end-to-end metrics, --trace 1 a separate traced run with the
per-layer metrics. The exit code is 0 only when every output was correct.
See perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

import oracle
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# name -> (scale, warm passes, queries). Every query has a DuckDB oracle row
# in SparkEntry.oracleSql. Warm metrics use the last three eighths of the
# warm passes (metrics.measured). olap carries a write and two text-kernel
# queries, so the write path (graft.engine.Dml, file commit) and the
# graft.functions kernels are measured next to the reads they share an
# executor with.
WORKLOADS = {
    "olap": ("sf0.1", 14, ["tpch_q1", "tpch_q13", "win_topn_per_group", "dml_update_roundtrip",
                           "text_token_stats", "sim_topk_brute"]),
    # The SQL-text rows with the largest traced share of rewriting plus
    # Catalyst (perfbench/README.md gives the shares).
    "frontdoor": ("sf0.01", 20, [
        "stmt_show_functions", "stmt_show_tables", "stmt_show_schemas", "stmt_show_columns",
        "stmt_describe_input", "win_sql_exclude_rows_minmax", "mr_funnel", "mr_prev_runs"]),
}

KERNEL_SECONDS = 2.0
# The whole command must end within 180 s (a first run may also build).
JVM_BUDGET_S = 140
ORACLE_BUDGET_S = 165
BUILD_BUDGET_S = 800


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dirs():
    """Scale -> data directory, as TESTDATA.md documents the fixtures."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        die("TESTDATA.md not found: run from a checkout of the repository")
    dirs = {}
    for m in re.finditer(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", open(path).read()):
        dirs["sf" + m.group(1)] = m.group(2).rstrip("/")
    return dirs


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    # The engine build's heap setting, which the harness JVM takes over.
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness (incrementally). Returns the harness's
    JVM options (the engine build's `javaOptions`) and its classpath."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources not found next to perfbench/")
    stamp, launch = source_stamp(), os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        compile_harness(launch)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[:-1], lines[-1]


def compile_harness(launch):
    """Runs the harness build's `launchFile` task and keeps what it wrote."""
    os.makedirs(BUILD, exist_ok=True)
    written = os.path.join(HERE, "target", "launch.txt")
    if os.path.exists(written):
        os.remove(written)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_BUDGET_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    if rc != 0 or not os.path.exists(written):
        die(f"build failed; see {log}")
    shutil.copy(written, launch)


def run_jvm(launch, conf, run_dir, deadline):
    conf_path = os.path.join(run_dir, "harness.conf")
    with open(conf_path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in conf.items())
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    java_opts, classpath = launch
    cmd = [java, *java_opts, f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", classpath, "perfbench.Harness", conf_path]
    # The engine reads SPARK_GRAFT_* tuning variables; a run uses its defaults.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = conf["local_dir"]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the harness JVM ran out of time; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(conf["out"]):
        tail = open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-15:]
        die("the harness JVM failed:\n" + "\n".join(tail))
    with open(conf["out"]) as fh:
        return json.load(fh)


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, summed over cores:
    on a shared host it shows a run that was slowed from outside."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def check_outputs(res, orc):
    """{query: failure text} for every query whose output is wrong: the
    first execution against DuckDB, every later one against the first."""
    bad = {}
    for name, sql in res["oracle_sql"].items():
        ordered = oracle.has_top_level_order_by(sql)
        if name in res["results"]:
            try:
                diff = oracle.compare(res["results"][name], orc.expected(name, sql), ordered)
            except Exception as e:  # the oracle failed or ran out of time
                diff = f"no expected output: {e}"
            if diff:
                bad[name] = diff
        for ex in res["executions"]:
            if ex["name"] == name and ex.get("ok") and \
                    not ex.get("same_order" if ordered else "same_rows", True):
                bad.setdefault(name, f"pass {ex['pass']} returned other rows than pass 0")
    for name in {e["name"] for e in res["executions"]} - set(res["oracle_sql"]):
        bad[name] = "no oracle SQL"
    return bad


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    scale, warm, queries = WORKLOADS[args.workload]
    dirs = data_dirs()
    if scale not in dirs or not os.path.isdir(dirs[scale]):
        die(f"data for {scale} not found")
    data_dir = dirs[scale]
    launch = build()
    t0 = time.monotonic()

    # One seeded permutation per pass: the cold pass, then each warm pass,
    # so no one order's cache and JIT effects repeat through a whole run.
    rng, orders = random.Random(args.seed), []
    for _ in range(1 + warm):
        orders.append(list(queries))
        rng.shuffle(orders[-1])
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, d))
    cores = len(os.sched_getaffinity(0))
    conf = {"data_dir": data_dir, "orders": ";".join(",".join(o) for o in orders),
            "seconds": args.seconds, "min_warm": warm, "trace": args.trace, "cores": cores,
            "kernel_seconds": KERNEL_SECONDS,
            "out": os.path.join(run_dir, "result.json"), "spans": os.path.join(run_dir, "spans.json"),
            "warehouse": os.path.join(run_dir, "warehouse"), "local_dir": os.path.join(run_dir, "local")}
    try:
        steal0 = cpu_steal_s()
        res = run_jvm(launch, conf, run_dir, t0 + JVM_BUDGET_S)
        res["meta"]["cpu_steal_s"] = cpu_steal_s() - steal0
        orc = oracle.Oracle(data_dir, os.path.join(BUILD, "oracle-cache"), t0 + ORACLE_BUDGET_S)
        bad = check_outputs(res, orc)
        spans = json.load(open(conf["spans"])) if args.trace else []
    finally:
        report_dir = os.path.join(BUILD, "reports")
        os.makedirs(report_dir, exist_ok=True)
        for name in ("spans.json", "jvm.log"):
            if os.path.exists(os.path.join(run_dir, name)):
                shutil.copy(os.path.join(run_dir, name),
                            os.path.join(report_dir, f"{args.workload}-trace{args.trace}-{name}"))
        shutil.rmtree(run_dir, ignore_errors=True)

    out = metrics.summarize(res, bad, cores, spans, trace=bool(args.trace),
                            passes=warm // 2 if args.trace else warm)
    meta = dict(res["meta"], workload=args.workload, scale=scale, seed=args.seed,
                orders=orders, git_commit=git_commit(), trace=args.trace)
    with open(os.path.join(report_dir, f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump({"meta": meta, "report": out["report"], "extra": out["extra"], "failures": bad},
                  fh, indent=1)
    metrics.print_report(meta, out, bad)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Metrics of one benchmark run, computed from the harness's raw records.

End-to-end metrics come from untraced passes; per-layer metrics from the
traced passes of a `--trace 1` run. Task, stage, job and SQL-execution
records are assigned to a query execution by their timestamp falling in
the execution's window, so the harness does no aggregation while timing.
"""
import bisect
import math
import statistics

INF = float("inf")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Windows:
    """Query-execution windows [start_ms, end_ms], for timestamp lookup."""

    def __init__(self, executions):
        self.execs = sorted(executions, key=lambda e: e["start_ms"])
        self.starts = [e["start_ms"] for e in self.execs]

    def find(self, ms):
        i = bisect.bisect_right(self.starts, ms) - 1
        if i >= 0 and ms <= self.execs[i]["end_ms"]:
            return self.execs[i]
        return None


def latency(ex, bad):
    """A failed or wrong execution never reads faster than a clean one."""
    return ex["latency_s"] if ex.get("ok") and ex["name"] not in bad else INF


def per_pass(res, kind):
    by = {}
    for ex in res["executions"]:
        if ex["kind"] == kind:
            by.setdefault(ex["pass"], []).append(ex)
    return [by[k] for k in sorted(by)]


def measured(passes, n):
    """Passes 5n/8+1 .. n of a run's n warm passes of one kind. The ones
    before let the JIT and the generated code settle (the prewarm runs of
    benchto): on a busy host the driver-side code of `frontdoor` is still
    getting faster at the twelfth pass. Fixed indices give every run the same
    JVM age whatever the machine's speed."""
    return passes[5 * n // 8:n]


def attribute(res):
    """Adds each execution's tasks, stages, jobs and SQL-plan metrics."""
    win = Windows(res["executions"])
    for ex in res["executions"]:
        ex.update(tasks=[], stages=[], jobs=[], sql_runs=[], plan={})
    for t in res["tasks"]:
        ex = win.find(t[2])
        if ex:
            ex["tasks"].append(t)
    for s in res["stages"]:
        ex = win.find(s[2])
        if ex:
            ex["stages"].append(s)
    for key in ("jobs", "sql_runs"):
        for j in res[key]:
            ex = win.find(j[0])
            if ex:
                ex[key].append(j)
    for q in res["sql_execs"]:
        ex = win.find(q["start_ms"])
        if ex:
            for k, v in q["metrics"].items():
                ex["plan"][k] = ex["plan"].get(k, 0.0) + v


# task record: [stage, launch_ms, finish_ms, run_ms, cpu_ns, gc_ms,
#               shuffle_write_b, shuffle_read_b, spill_b, output_b]
def task_sum(execs, i, scale):
    return sum(t[i] for ex in execs for t in ex["tasks"]) / scale


def in_submit_s(ex):
    """Wall time of the Spark jobs and SQL executions that ran inside the
    query-definition call: eager commands, writes and updates (with their
    file commit) done before the DataFrame is returned. The union of their
    intervals, clipped to the call."""
    lo, hi = ex["start_ms"], ex["start_ms"] + ex.get("submit_s", 0.0) * 1e3
    total, end = 0.0, lo
    for start, stop in sorted(ex["jobs"] + ex["sql_runs"]):
        a, b = max(start, end), min(stop, hi)
        if b > a:
            total += b - a
            end = b
    return total / 1e3


def stragglers(execs):
    total = 0.0
    for ex in execs:
        by_stage = {}
        for t in ex["tasks"]:
            by_stage.setdefault(t[0], []).append(t[2] - t[1])
        for durs in by_stage.values():
            total += (max(durs) - statistics.median(durs)) / 1e3
    return total


def tail(lat):
    """The highest percentile with at least 10 samples beyond it."""
    lat = sorted(lat)
    n = len(lat)
    if n <= 10:
        return lat[-1], 100.0, n
    return lat[n - 11], 100.0 * (n - 10) / n, n


def layer_metrics(execs, cores):
    """Per-layer metrics of one traced pass."""
    def s(key):
        return sum(ex.get(key, 0.0) for ex in execs)

    def phase(name):
        return sum(ex.get("phases", {}).get(name, 0.0) for ex in execs)

    def plan(key):
        return sum(ex["plan"].get(key, 0.0) for ex in execs)

    execute = s("execute_s")
    in_submit = sum(in_submit_s(ex) for ex in execs)
    run = task_sum(execs, 3, 1e3)
    joined_rows = sum(ex.get("rows", 0) for ex in execs if ex["plan"].get("joins", 0) > 0)
    join_out = plan("join_rows_out")
    return {
        "sqlcompat.submit_s": s("submit_s"),
        "sqlcompat.rewrite_s": sum(max(0.0, ex.get("submit_s", 0.0)
                                       - ex.get("phases", {}).get("parsing", 0.0)
                                       - ex.get("phases", {}).get("analysis", 0.0)
                                       - in_submit_s(ex)) for ex in execs),
        "catalyst.parse_calls": s("parse_calls"),
        "catalyst.parsed_kchars": s("parse_chars") / 1e3,
        "catalyst.analyze_s": phase("analysis"),
        "catalyst.optimize_s": phase("optimization"),
        "catalyst.plan_s": phase("planning"),
        "exec.execute_s": execute,
        "exec.in_submit_s": in_submit,
        "exec.jobs": sum(len(ex["jobs"]) for ex in execs),
        "exec.stages": sum(len(ex["stages"]) for ex in execs),
        "exec.tasks": sum(len(ex["tasks"]) for ex in execs),
        "exec.task_run_s": run,
        "exec.gc_s": task_sum(execs, 5, 1e3),
        "exec.task_overhead_s": sum(t[2] - t[1] - t[3] for ex in execs for t in ex["tasks"]) / 1e3,
        "exec.straggler_s": stragglers(execs),
        "exec.core_util": run / ((execute + in_submit) * cores) if execute + in_submit > 0 else 0.0,
        "exec.shuffle_write_mb": task_sum(execs, 6, 1e6),
        "exec.shuffle_read_mb": task_sum(execs, 7, 1e6),
        "exec.spill_mb": task_sum(execs, 8, 1e6),
        "op.scan_rows": plan("scan_rows"),
        "op.scan_s": plan("scan_s"),
        "op.codegen_s": plan("codegen_s"),
        "op.agg_s": plan("agg_s"),
        "op.sort_s": plan("sort_s"),
        "op.join_build_s": plan("join_build_s"),
        "op.shuffle_write_s": plan("shuffle_write_s"),
        "op.join_rows_out": join_out,
        "op.join_yield": joined_rows / join_out if join_out > 0 else 0.0,
        "write.files": plan("write_files"),
        "write.mb": plan("write_bytes") / 1e6,
        "write.rows": plan("write_rows"),
        "write.commit_s": plan("write_commit_s"),
    }


RATIOS = {"exec.core_util", "op.join_yield", "trace.overhead", "trace.stage_coverage"}


def unit_of(name):
    if name.endswith("_mb_s"):
        return "MB/s"
    if name.endswith("_sets_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith("kchars"):
        return "kchar"
    return "ratio" if name in RATIOS else "count"


def self_times(spans):
    """Seconds per span name, each span minus the time its children cover."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_s"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            lo, hi = max(c["start_s"], end, s["start_s"]), min(c["end_s"], s["end_s"])
            if hi > lo:
                covered += hi - lo
                end = hi
        name = "stage" if s["name"].startswith("stage ") else s["name"]
        out[name] = out.get(name, 0.0) + (s["end_s"] - s["start_s"]) - covered
    return out


def stage_coverage(execs, spans):
    """The lowest share, over queries, of a query's task run time whose
    stage has a span under one of that query's phase spans. Below 1 when
    the listener bus lost stage events or a stage started outside every
    phase of its query."""
    staged = {(sp["query_id"], sp["stage_id"]) for sp in spans if "stage_id" in sp}
    run, covered = {}, {}
    for ex in execs:
        for t in ex["tasks"]:
            run[ex["name"]] = run.get(ex["name"], 0) + t[3]
            if (ex["query_id"], t[0]) in staged:
                covered[ex["name"]] = covered.get(ex["name"], 0) + t[3]
    return min((covered.get(n, 0) / r for n, r in run.items() if r > 0), default=1.0)


def summarize(res, bad, cores, spans, trace, passes):
    """{"result": the last-line JSON, "report": every metric with unit}."""
    attribute(res)
    execs = res["executions"]
    failed = sum(1 for ex in execs if latency(ex, bad) == INF)
    cold = per_pass(res, "cold")
    warm = measured(per_pass(res, "warm"), passes)
    warm_lat = [latency(ex, bad) for p in warm for ex in p]
    tail_s, tail_pct, tail_n = tail(warm_lat)
    setup = res["setup"]
    report = {
        "setup_s": (setup["setup_s"], "s"),
        "cold_pass_s": (sum(latency(ex, bad) for ex in cold[0]), "s"),
        "warm_pass_s": (median(sum(latency(ex, bad) for ex in p) for p in warm), "s"),
        "query_p50_s": (median(warm_lat), "s"),
        "query_tail_s": (tail_s, "s"),
        "task_cpu_s": (median(task_sum(p, 4, 1e9) for p in warm), "s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "written_mb": (median(task_sum(p, 9, 1e6) for p in warm), "MB"),
        "failed_frac": (failed / len(execs), "ratio"),
    }
    per_query = {}
    for p in warm:
        for ex in p:
            per_query.setdefault(ex["name"], []).append(latency(ex, bad))
    extra = {"query_tail_percentile": tail_pct, "query_samples": tail_n,
             "warm_passes": [sum(latency(ex, bad) for ex in p) for p in per_pass(res, "warm")],
             "setup": setup,
             "cold_s": {ex["name"]: latency(ex, bad) for ex in cold[0]},
             "warm_median_s": {k: median(v) for k, v in per_query.items()}}
    if trace:
        traced = measured(per_pass(res, "traced"), passes)
        layers = [layer_metrics(p, cores) for p in traced]
        for k in layers[0]:
            report[k] = (median(l[k] for l in layers), unit_of(k))
        report["engine.session_s"] = (setup["session_s"], "s")
        report["engine.register_s"] = (setup["register_s"], "s")
        for k, v in res["kernels"].items():
            report["fn." + k] = (v, unit_of(k))
        traced_wall = median(sum(latency(ex, bad) for ex in p) for p in traced)
        report["trace.overhead"] = (traced_wall / report["warm_pass_s"][0]
                                    if report["warm_pass_s"][0] > 0 else 0.0, "ratio")
        report["trace.stage_coverage"] = (
            stage_coverage([ex for p in traced for ex in p], spans), "ratio")
        ids = {ex["query_id"] for p in traced for ex in p}
        self_s = self_times([s for s in spans if s["query_id"] in ids])
        extra["self_s_per_traced_pass"] = {k: v / max(1, len(traced)) for k, v in self_s.items()}
        # Rewriting plus Catalyst (submit without the jobs run inside it,
        # optimize, plan) as a share of the traced queries' wall time.
        front = {}
        for p in traced:
            for ex in p:
                f = front.setdefault(ex["name"], [0.0, 0.0, 0.0])
                f[0] += ex["submit_s"] - in_submit_s(ex) + ex["optimize_s"] + ex["plan_s"]
                f[1] += ex["latency_s"]
                f[2] += in_submit_s(ex)
        extra["front_door_share"] = (sum(f[0] for f in front.values())
                                     / max(1e-9, sum(f[1] for f in front.values())))
        extra["front_door_by_query"] = {n: (f[0] / f[1], f[2] / len(traced))
                                        for n, f in front.items()}
        names = PER_LAYER
    else:
        names = END_TO_END
    result = {
        "correct": not bad and failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": json_num(report[k][0]), "unit": report[k][1]} for k in names},
    }
    return {"result": result, "report": report, "extra": extra}


def json_num(x):
    """JSON has no infinity: a failed run's times print as null."""
    return x if isinstance(x, (int, float)) and math.isfinite(x) else None


# The metrics BENCHMARK.json declares, in its order. The report also gives
# task_cpu_s, query_p50_s and query_tail_s (their run-to-run spread on a
# shared 4-core host is too wide to bound: executor CPU that differs between
# JVMs, and percentiles of a few queries per pass), written_mb (0 on a
# read-only workload) and failed_frac (0 on a clean run; also the result's
# `failed`).
END_TO_END = ["warm_pass_s", "cold_pass_s", "heap_peak_mb", "setup_s"]
PER_LAYER = [
    "engine.session_s", "engine.register_s",
    "sqlcompat.submit_s", "sqlcompat.rewrite_s",
    "catalyst.parse_calls", "catalyst.parsed_kchars", "catalyst.analyze_s",
    "catalyst.optimize_s", "catalyst.plan_s",
    "exec.execute_s", "exec.in_submit_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.gc_s",
    "exec.task_overhead_s", "exec.straggler_s", "exec.core_util", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb",
    "op.scan_rows", "op.scan_s", "op.codegen_s", "op.agg_s", "op.sort_s", "op.join_build_s",
    "op.shuffle_write_s", "op.join_rows_out", "op.join_yield",
    "fn.norm_ws_mb_s", "fn.shingle_mb_s", "fn.minhash_sets_s", "fn.simhash_mb_s",
    "write.files", "write.mb", "write.rows", "write.commit_s",
    "trace.overhead", "trace.stage_coverage",
]


def print_report(meta, out, bad):
    print(f"perfbench {meta['workload']} ({meta['scale']}, seed {meta['seed']}, "
          f"trace {meta['trace']}) on {meta['cores']} cores, heap {meta['max_heap_mb']:.0f} MB, "
          f"Java {meta['java_version']}, Spark {meta['spark_version']}, commit {meta['git_commit']}")
    print(f"  loadavg start [{meta['loadavg_start']}] end [{meta['loadavg_end']}]; "
          f"CPU stolen by other guests during the JVM {meta['cpu_steal_s']:.2f} s")
    print(f"  query order of the cold pass: {' '.join(meta['orders'][0])}; each warm pass takes "
          f"the next of {len(meta['orders']) - 1} seeded permutations (all in the report file)")
    for name, (value, unit) in out["report"].items():
        print(f"  {name:26s} {value:14.6f} {unit}")
    ex = out["extra"]
    print(f"  query_tail_s is p{ex['query_tail_percentile']:.1f} of {ex['query_samples']} warm "
          f"query executions")
    print(f"  warm passes {ex['warm_passes']}")
    st = ex["setup"]
    print(f"  set-up {st['setup_s']:.3f} s: JVM start to main {st['jvm_s']:.3f} s, "
          f"session {st['session_s']:.3f} s, first register {st['register_s']:.3f} s")
    for k, v in sorted(ex["warm_median_s"].items(), key=lambda kv: -kv[1]):
        print(f"  query {k:32s} cold {ex['cold_s'][k]:9.4f} s  warm median {v:9.4f} s")
    for k, v in ex.get("self_s_per_traced_pass", {}).items():
        print(f"  self time per traced pass: {k:10s} {v:10.6f} s")
    if "front_door_share" in ex:
        print(f"  front-door share of traced wall time (rewriting + Catalyst): "
              f"{ex['front_door_share']:.3f}")
        for k, (share, jobs_s) in sorted(ex["front_door_by_query"].items()):
            print(f"  query {k:32s} front-door share {share:6.3f}  "
                  f"jobs inside submit {jobs_s:8.4f} s per pass")
    for name, why in sorted(bad.items()):
        print(f"  FAILED {name}: {why[:400]}")

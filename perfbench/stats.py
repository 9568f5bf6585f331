"""Metric arithmetic of the benchmark: turns the harness's records and
spans into the end-to-end metrics and the per-layer trace summary.

Everything here is pure Python so the self-tests (tests/test_stats.py) can
check it without a JVM.
"""
import math
import random
import statistics

LAYERS = ("queries", "plans", "scheduler", "executor", "shuffle", "io")

# per-layer metrics: name -> unit (all summed per pass, except utilization)
LAYER_METRICS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.executions": "count",
    "scheduler.outside_jobs_s": "s", "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.task_overhead_s": "s",
    "executor.run_core_s": "core-s", "executor.cpu_core_s": "core-s", "executor.gc_s": "s",
    "executor.spill_bytes": "bytes", "executor.utilization": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.write_records": "count",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "io.input_bytes": "bytes", "io.input_records": "count",
}
# End-to-end metrics a --trace 0 run reports in its result line: name ->
# (unit, better). failed_frac is printed too, but it is 0 whenever the
# program is correct, so the result line carries it as `failed`/`attempted`.
END_TO_END = {
    "setup_s": ("s", "lower"), "pass_s": ("s", "lower"), "query_p50_s": ("s", "lower"),
    "query_geomean_s": ("s", "lower"), "cpu_s": ("core-s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
# Per-layer metrics a --trace 1 run reports in its result line: every layer
# metric but the two that read 0 at this input size (no task spills, and
# shuffle blocks are local, so fetches never wait; both stay in the
# summary), the layers' self times and the traced pass time.
PER_LAYER = {
    **{k: (u, "higher" if k == "executor.utilization" else "lower")
       for k, u in LAYER_METRICS.items()
       if k not in ("executor.spill_bytes", "shuffle.fetch_wait_s")},
    **{f"{layer}.self_s": ("s", "lower") for layer in LAYERS},
    "trace.pass_s": ("s", "lower"),
}
# counts that a later change may cite as counts when they repeat exactly
COUNTS = ("queries.build_jobs", "plans.executions", "scheduler.jobs", "scheduler.stages",
          "scheduler.tasks", "shuffle.write_records", "shuffle.write_bytes",
          "io.input_records", "io.input_bytes")


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def pass_orders(names, seed, count):
    """`count` orders of `names`, each a permutation drawn from `seed`."""
    rng = random.Random(seed)
    orders = []
    for _ in range(count):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders


# --- interval algebra (closed-open intervals as (start, end) pairs) -------

def union(intervals):
    """Sorted, disjoint intervals covering the same points as `intervals`."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def intersect(a, b):
    """Intersection of two interval sets, as a disjoint interval list."""
    a, b, out, i, j = union(a), union(b), [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def complement(intervals, window):
    """The parts of `window` that `intervals` leave uncovered."""
    out, cur = [], window[0]
    for s, e in intersect(intervals, [window]):
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < window[1]:
        out.append((cur, window[1]))
    return out


# --- end-to-end metrics ---------------------------------------------------

def failures(records):
    """(attempted, failed, names of queries that ever failed)."""
    runs = [r for r in records if r["type"] in ("check", "exec")]
    bad = {r["query"] for r in runs if not r["ok"]}
    return len(runs), sum(1 for r in runs if not r["ok"]), bad


def timed_passes(records, traced):
    """{pass: {query: exec record}} of the passes with the given tracing,
    leaving out every query that failed anywhere in the run."""
    _, _, bad = failures(records)
    passes = {}
    for r in records:
        if (r["type"] == "exec" and not r["warmup"] and r["traced"] == traced
                and r["query"] not in bad):
            passes.setdefault(r["pass"], {})[r["query"]] = r
    return passes


def end_to_end(records):
    """The end-to-end metrics of an untraced run: {name: (value, unit)}."""
    attempted, failed, _ = failures(records)
    passes = list(timed_passes(records, traced=False).values())
    if not passes:
        raise ValueError("no query completed a timed execution")
    walls = [e["wall_s"] for p in passes for e in p.values()]
    per_query = {}
    for p in passes:
        for q, e in p.items():
            per_query.setdefault(q, []).append(e["wall_s"])
    one = lambda kind: next(r for r in records if r["type"] == kind)
    return {
        "setup_s": (one("setup")["setup_s"], "s"),
        "pass_s": (median([sum(e["wall_s"] for e in p.values()) for p in passes]), "s"),
        "query_p50_s": (median(walls), "s"),
        "query_geomean_s": (geomean([median(v) for v in per_query.values()]), "s"),
        "cpu_s": (median([sum(e["cpu_s"] for e in p.values()) for p in passes]), "core-s"),
        "peak_rss_mb": (one("end")["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }


# --- per-layer trace ------------------------------------------------------

def exec_layers(ex, children, cores):
    """Per-layer metrics and self times of one traced query execution.

    `ex` is its exec span; `children` maps span kind ("build", "action",
    "job", "stage", "phase") to its spans. The self times split the
    execution's wall time exactly: time outside every Spark job goes to
    plans (Catalyst phases), queries (the rest of the build call) and
    scheduler (the rest of the action call: codegen, job submission);
    time inside jobs is split by the core-seconds tasks spent, divided by
    the core count: shuffle (write + fetch wait), io (scan time the scan
    operators report), executor (the rest of task run time) and scheduler
    (cores not running a task while a job was open).
    """
    window = (ex["start"], ex["end"])
    wall = (window[1] - window[0]) / 1e3
    build, action = children["build"][0], children["action"][0]
    jobs = union(intersect([(j["start"], j["end"]) for j in children["job"]], [window]))
    out = complement(jobs, window)
    phases = union(intersect([(p["start"], p["end"]) for p in children["phase"]], [window]))
    plans_out = intersect(phases, out)
    in_build = lambda iv: length(intersect(iv, [(build["start"], build["end"])])) / 1e3
    in_action = lambda iv: length(intersect(iv, [(action["start"], action["end"])])) / 1e3

    stage = lambda k: sum(s.get(k, 0.0) for s in children["stage"])
    run = stage("run_ms") / 1e3
    in_job = length(jobs) / 1e3
    io_core = min(sum(p.get("scan_ms", 0.0) for p in children["phase"]) / 1e3, run)
    shuffle_core = min(stage("shuffle_write_ns") / 1e9 + stage("fetch_wait_ms") / 1e3, run - io_core)
    scale = min(1.0, in_job * cores / run) if run > 0 else 1.0
    busy = run / cores * scale
    phase = lambda name: sum(p["end"] - p["start"] for p in children["phase"]
                             if p["name"] == f"plans.{name}") / 1e3
    m = {
        "queries.build_s": (build["end"] - build["start"]) / 1e3,
        "queries.build_jobs": sum(1 for j in children["job"] if j["parent"] == build["id"]),
        "plans.analysis_s": phase("analysis"),
        "plans.optimization_s": phase("optimization"),
        "plans.planning_s": phase("planning"),
        "plans.executions": len({p["id"].rsplit(".", 1)[0] for p in children["phase"]
                                 if p["id"].startswith("qe")}),
        "scheduler.outside_jobs_s": length(out) / 1e3,
        "scheduler.jobs": len(children["job"]),
        "scheduler.stages": len(children["stage"]),
        "scheduler.tasks": stage("tasks"),
        "scheduler.task_overhead_s": (stage("task_ms") - stage("run_ms")) / 1e3,
        "executor.run_core_s": run,
        "executor.cpu_core_s": stage("cpu_ns") / 1e9,
        "executor.gc_s": stage("gc_ms") / 1e3,
        "executor.spill_bytes": stage("spill_bytes"),
        "shuffle.write_bytes": stage("shuffle_write_bytes"),
        "shuffle.write_records": stage("shuffle_write_records"),
        "shuffle.read_bytes": stage("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": stage("fetch_wait_ms") / 1e3,
        "io.input_bytes": stage("input_bytes"),
        "io.input_records": stage("input_records"),
        # not a metric of its own: the denominator of executor.utilization
        "in_job_s": in_job,
    }
    self_s = {
        "plans": length(plans_out) / 1e3,
        "queries": in_build(out) - in_build(plans_out),
        "scheduler": in_action(out) - in_action(plans_out) + in_job - busy,
        "shuffle": shuffle_core / cores * scale,
        "io": io_core / cores * scale,
        "executor": (run - io_core - shuffle_core) / cores * scale,
    }
    return m, self_s, wall


def trace_summary(spans, records, cores):
    """Per-layer metrics of a traced run, per pass and per query, plus the
    layers' self times, the tracing overhead and which counts repeated
    exactly between the traced passes."""
    _, _, bad = failures(records)
    kids = {}
    for s in spans:
        k = "phase" if s["name"].startswith("plans.") else s["name"]
        if k in ("build", "action", "job", "stage", "phase") and s["exec"]:
            kids.setdefault(s["exec"], {"build": [], "action": [], "job": [], "stage": [],
                                        "phase": []})[k].append(s)
    passes, per_query = {}, {}
    for ex in (s for s in spans if s["name"] == "exec"):
        query = ex["exec"].split(".", 1)[1]
        if query in bad:
            continue
        m, self_s, wall = exec_layers(ex, kids[ex["exec"]], cores)
        row = dict(m, **{f"{k}.self_s": v for k, v in self_s.items()}, wall_s=wall)
        per_query.setdefault(query, []).append(row)
        p = passes.setdefault(int(ex["pass"]), {})
        for k, v in row.items():
            p[k] = p.get(k, 0.0) + v
    if not passes:
        raise ValueError("the traced run recorded no traced pass")
    for p in passes.values():
        p["executor.utilization"] = (p["executor.run_core_s"] / (p["in_job_s"] * cores)
                                     if p["in_job_s"] > 0 else 0.0)
    metrics = {k: median([p[k] for p in passes.values()]) for k in LAYER_METRICS}
    self_s = {layer: median([p[f"{layer}.self_s"] for p in passes.values()]) for layer in LAYERS}
    traced_pass = median([p["wall_s"] for p in passes.values()])
    untraced = [sum(e["wall_s"] for e in p.values())
                for p in timed_passes(records, traced=False).values()]
    accounted = max(abs(sum(p[f"{layer}.self_s"] for layer in LAYERS) - p["wall_s"])
                    for p in passes.values())
    exact = {c: sorted(q for q, rows in per_query.items() if len({r[c] for r in rows}) == 1)
             for c in COUNTS}
    return {
        "cores": cores,
        "traced_passes": len(passes),
        "untraced_passes": len(untraced),
        "pass_s": {"traced": traced_pass, "untraced": median(untraced),
                   "overhead": traced_pass - median(untraced)},
        "self_s": self_s,
        "self_share": {k: v / traced_pass for k, v in self_s.items()},
        "self_unaccounted_s": accounted,
        "metrics": {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in metrics.items()},
        "counts_repeat_exactly": {
            c: {"all_queries": len(exact[c]) == len(per_query),
                "varying": sorted(set(per_query) - set(exact[c]))} for c in COUNTS},
        "per_query": {q: {k: median([r[k] for r in rows]) for k in rows[0]}
                      for q, rows in sorted(per_query.items())},
        "jobs_outside_executions": sum(1 for s in spans if s["name"] == "job" and not s["exec"]),
    }

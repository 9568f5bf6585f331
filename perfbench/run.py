#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload ragged --seed 1 --seconds 10 --trace 0

Builds the engine and harness if needed (build.py), starts one JVM running
perfbench.Harness on Spark local[N] (N = the cores this process may use),
and prints each metric by name with its unit. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the run also writes its spans and a per-layer summary
to perfbench/out/<workload>-s<seed>-t1/.

The seed only permutes the query order of each timed pass: the input
corpus (data/sf0.01) is fixed, so every query's output can be checked
against the digest stored in expected.json.

    python3 perfbench/run.py --workload ragged --record-digests

re-records expected.json for a workload's queries (after a deliberate
change of a query's output).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
TIMEOUT_S = 170
# A fixed heap with a fixed young generation: eden is fully touched after
# the first collections, so peak resident memory tracks what the old
# generation and native memory hold, not when the collector resized eden.
HEAP = "2g"
YOUNG = "512m"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def java(main, args, tmp):
    """The command that runs `main` on the built classpath, with every
    temporary file under `tmp` (no JVM perf-data file elsewhere either)."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + [f"-Djava.io.tmpdir={tmp}",
                  f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  "-cp", build.classpath(), main] + args


def harness(plan, out, deadline):
    """Runs perfbench.Harness on `plan` and returns its parsed records."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = java("perfbench.Harness", [plan, out], tmp)
    with open(os.path.join(out, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(os.path.join(out, "harness.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"harness exited with {code}")
    with open(os.path.join(out, "records.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()
    deadline = time.monotonic() + TIMEOUT_S

    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload!r}; one of {', '.join(workloads)}")
    queries = workloads[args.workload]["queries"]
    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    if not os.path.isdir(DATA):
        sys.exit(f"[perfbench] input corpus missing: {DATA}")
    expected = {} if args.record_digests else load_json(EXPECTED)
    missing = [q for q in queries if q not in expected and not args.record_digests]
    if missing:
        sys.exit(f"[perfbench] no expected digest for {', '.join(missing)}")
    cores = len(os.sched_getaffinity(0))

    out = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    plan = os.path.join(out, "plan.txt")
    with open(plan, "w") as fh:
        fh.write(f"data {DATA}\ncores {cores}\ntrace {args.trace}\n")
        fh.write(f"seconds {0 if args.record_digests else args.seconds}\n")
        for q in queries:
            fh.write(f"query {q} {expected.get(q, '-1:0').replace(':', ' ')}\n")
        for order in stats.pass_orders(queries, args.seed, 200):
            fh.write("order " + " ".join(order) + "\n")

    try:
        records = harness(plan, out, deadline)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit(f"[perfbench] {e}")

    if args.record_digests:
        digests = load_json(EXPECTED) if os.path.exists(EXPECTED) else {}
        digests.update({r["query"]: r["digest"] for r in records if r["type"] == "check" and r["ok"]})
        with open(EXPECTED, "w") as fh:
            json.dump(dict(sorted(digests.items())), fh, indent=1)
            fh.write("\n")
        print(f"recorded {len(queries)} digests in {EXPECTED}")
        return

    attempted, failed, bad = stats.failures(records)
    for q in sorted(bad):
        print(f"FAILED {q}")
    if args.trace:
        with open(os.path.join(out, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh]
        summary = stats.trace_summary(spans, records, cores)
        summary.update(workload=args.workload, seed=args.seed)
        with open(os.path.join(out, "trace_summary.json"), "w") as fh:
            json.dump(summary, fh, indent=1)
        p = summary["pass_s"]
        print(f"traced pass_s {p['traced']:.4f} s, untraced {p['untraced']:.4f} s, "
              f"tracing overhead {p['overhead']:.4f} s")
        for layer, v in summary["self_s"].items():
            print(f"{layer}.self_s {v:.4f} s ({summary['self_share'][layer]:.1%} of the traced pass)")
        metrics = {k: (m["value"], m["unit"]) for k, m in summary["metrics"].items()}
        metrics.update({f"{k}.self_s": (v, "s") for k, v in summary["self_s"].items()})
        metrics["trace.pass_s"] = (p["traced"], "s")
        reported = stats.PER_LAYER
    else:
        metrics = stats.end_to_end(records)
        reported = stats.END_TO_END
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                                  for k in reported}}))


if __name__ == "__main__":
    main()

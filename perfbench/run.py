#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload graph_ml --seed 1 --seconds 20 --trace 0

Builds the engine and harness (``build.py``), generates the input
tables (``bench/datagen.py``), then runs the workload in one JVM on
``local[<cpus>]``.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics.  Everything the run writes stays under ``.bench_build`` at the
repository root; ``.bench_build/runs/<workload>-s<seed>-t<trace>/`` keeps
the raw record, the JVM log and, for traced runs, the span list.

``--write-pins`` records the run's output digests as the pins later runs
are checked against (run it once per workload on a trusted commit).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from bench import datagen, noise, report, stats  # noqa: E402

WORKLOADS = ("graph_ml", "scan_agg", "kernels", "stream")
SCALE = 0.01
MIN_EXECS = 40          # p75 keeps >= 10 samples above it
MIN_PASSES = 6
PASS_DEADLINE_S = 65    # no timed pass starts this long after the JVM started
QUERY_TIMEOUT_S = 60    # a query running longer is cancelled and failed
RUN_LIMIT_S = 170       # the whole run, build and data included
PINS = os.path.join(HERE, "pins.json")
# outputs that are pinned by row count only (approximate or
# order-dependent values; the engine's own gate checks them the same way)
ROWS_ONLY = {"g15_approx", "m10_layout", "m2_kmeans", "m3_silhouette",
             "m6_louvain", "m9_classifier"}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
              ("query_p75_s", "s"), ("cpu_s", "s"), ("cached_peak_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def shuffle_partitions(data_dir, n_cpus):
    """The engine's bench setting: one shuffle partition per ~64k rows of
    the largest fact table, never more than the cpu count."""
    import pyarrow.parquet as pq
    rows = max(pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
               for t in ("lineitem", "orders", "events"))
    return max(1, min(n_cpus, math.ceil(rows / 64000.0)))


def run_jvm(args, classpath, data_dir, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    records = os.path.join(run_dir, "records.jsonl")
    n_cpus = cpus()
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--out", records, "--cpus", str(n_cpus),
              "--shuffle-partitions", str(shuffle_partitions(data_dir, n_cpus)),
              "--local-dir", os.path.join(tmp, "spark"),
              "--min-execs", str(MIN_EXECS),
              "--min-passes", str(MIN_PASSES),
              "--deadline", str(PASS_DEADLINE_S),
              "--query-timeout", str(QUERY_TIMEOUT_S)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log("run limit reached; stopping the JVM")
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    return proc.returncode, report.load(records) if os.path.exists(records) else []


def load_pins():
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as fh:
        doc = json.load(fh)
    if doc.get("scale") != SCALE or doc.get("data_version") != datagen.VERSION:
        return {}
    return doc["queries"]


def write_pins(recs):
    doc = {"scale": SCALE, "data_version": datagen.VERSION, "queries": {}}
    if os.path.exists(PINS):
        with open(PINS) as fh:
            old = json.load(fh)
        if old.get("scale") == SCALE and old.get("data_version") == datagen.VERSION:
            doc = old
    for d in report.of(recs, "digest"):
        if d.get("error") or d.get("rows") is None:
            raise SystemExit(f"cannot pin {d['q']}: {d.get('error')}")
        pin = {"rows": d["rows"]}
        if d["q"] not in ROWS_ONLY:
            pin["hash"] = d["hash"]
        doc["queries"][d["q"]] = pin
    doc["queries"] = dict(sorted(doc["queries"].items()))
    with open(PINS, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    log(f"pinned {len(report.of(recs, 'digest'))} digests into {PINS}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--write-pins", action="store_true")
    args = ap.parse_args()
    t0 = time.monotonic()
    deadline = t0 + RUN_LIMIT_S

    try:
        classpath = build.ensure(log=sys.stderr)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    data_dir = datagen.ensure(os.path.join(build.BUILD, "data"), SCALE)
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    host = noise.Recorder()
    started = time.monotonic()
    code, recs = run_jvm(args, classpath, data_dir, run_dir, deadline)
    host_rec = host.finish(time.monotonic() - started)
    if not report.timed_execs(recs):
        print(f"[perfbench] the JVM exited {code} without a timed pass; "
              f"see {run_dir}/jvm.log", file=sys.stderr)
        return 3
    if args.write_pins:
        write_pins(recs)

    digest_ok, mismatches = report.digest_check(recs, load_pins())
    for q, m in mismatches.items():
        log(f"output check FAILED for {q}: got {m['got']} pinned {m['pin']}")
    execs = report.timed_execs(recs)
    attempted, failed = stats.count_failures(execs, digest_ok, report.hung(recs))
    for e in execs:
        if not e["ok"]:
            log(f"{e['q']} failed in pass {e['pass']}: {e['error']}")
    failed_frac = failed / attempted
    correct = failed == 0 and code == 0 and bool(report.of(recs, "end"))

    log(f"workload {args.workload} seed {args.seed} trace {args.trace} "
        f"cpus {cpus()} scale sf{SCALE}")
    log("host noise " + json.dumps(host_rec))
    if args.trace == 0:
        e2e, info = report.end_to_end(recs)
        for name, u in END_TO_END:
            log(f"{name} = {e2e[name]:.4f} {u}")
        log(f"failed_frac = {failed_frac:.4f} ratio ({failed} of {attempted})")
        log(f"samples: n={info['n']} timed executions over {info['passes']} passes, "
            f"{info['setups']} set-ups; query percentiles over the median of "
            f"{info['passes']} executions of each of {info['queries']} queries")
        log(f"over all {info['n']} executions: p50 {info['all_p50_s']:.4f} s, "
            f"p75 {info['all_p75_s']:.4f} s (p75 supported: {info['p75_supported']})")
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        layers, queries = report.per_layer(recs, cpus())
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(report.spans(recs), fh)
        with open(os.path.join(run_dir, "queries.json"), "w") as fh:
            json.dump(queries, fh, indent=1)
        units = {name: u for name, u, _ in report.LAYERS}
        for name, v in layers.items():
            log(f"{name} = {v:.4f} {units[name]}")
        worst = max(abs(q["other"]) for q in queries)
        log(f"per-query split builder+plan+codegen+execute+other = wall over "
            f"{len(queries)} executions (largest |other| {worst:.4f} s)")
        metrics = {n: {"value": v, "unit": units[n]} for n, v in layers.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Turns the harness's JSON-lines record of a run into metrics.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one.  Each per-layer metric is computed per traced pass and the
median over those passes is reported, so a run that fits more passes
into its time budget reports the same numbers.
"""
import json

from . import stats

MIB = float(1 << 20)


def load(path):
    recs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                try:
                    recs.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a line cut short by a killed run
                if recs[-1]["kind"] == "exec":
                    e = recs[-1]
                    e["end_ms"] = e["start_ms"] + e["wall_s"] * 1000.0
    return recs


def of(recs, kind):
    return [r for r in recs if r["kind"] == kind]


def digest_check(recs, pins):
    """{query: bool} for every query of the run, and the mismatches."""
    got = {d["q"]: d for d in of(recs, "digest")}
    names = {e["q"] for e in of(recs, "exec")}
    ok, bad = {}, {}
    for q in sorted(names):
        pin = pins.get(q)
        ok[q] = pin is not None and stats.digest_matches(got.get(q), pin)
        if not ok[q]:
            bad[q] = {"got": got.get(q), "pin": pin}
    return ok, bad


def timed_execs(recs, traced=None):
    passes = {p["pass"]: p for p in of(recs, "pass")}
    out = []
    for e in of(recs, "exec"):
        p = passes.get(e["pass"])
        if e["pass"] >= 1 and p is not None and (traced is None or p["traced"] == traced):
            out.append(e)
    return out


def hung(recs):
    """1 if the run stopped inside a timed pass (its last query never
    returned), else 0."""
    if of(recs, "end"):
        return 0
    started = {s["pass"] for s in of(recs, "setup") if s["pass"] >= 1}
    finished = {p["pass"] for p in of(recs, "pass")}
    return 1 if started - finished else 0


def end_to_end(recs):
    """End-to-end metrics of an untraced run.  Pass-level times take the
    fastest timed pass; per-query percentiles are taken over each
    query's median time across the timed passes.  Both discount passes
    slowed by other load on the host or by the JIT compiler still at
    work in the first passes.  The percentiles over every timed
    execution come back with the sample counts, for the log."""
    passes = [p for p in of(recs, "pass") if p["pass"] >= 1 and not p["traced"]]
    execs = timed_execs(recs, traced=False)
    walls = [e["wall_s"] for e in execs]
    per_query = list(stats.median_per_key((e["q"], e["wall_s"]) for e in execs).values())
    setups = [s["s"] for s in of(recs, "setup")]
    if not passes or not walls:
        raise ValueError("the run recorded no timed pass")
    return {
        "setup_s": stats.median(setups),
        "wall_s": min(p["wall_s"] for p in passes),
        "query_p50_s": stats.percentile(per_query, 50),
        "query_p75_s": stats.percentile(per_query, 75),
        "cpu_s": min(p["cpu_s"] for p in passes),
        "cached_peak_mb": stats.median([p["rdd_peak_bytes"] for p in passes]) / MIB,
    }, {"n": len(walls), "queries": len(per_query), "passes": len(passes),
        "setups": len(setups), "all_p50_s": stats.percentile(walls, 50),
        "all_p75_s": stats.percentile(walls, 75),
        "p75_supported": stats.percentile_supported(len(walls), 75)}


def _groups(n, execs):
    """Job group -> (exec, span) for the groups pass ``n`` set."""
    g = {}
    for e in execs:
        g[f"pb-{n}-{e['i']}-b"] = (e, "builder")
        g[f"pb-{n}-{e['i']}-x"] = (e, "execute")
    return g


def _at(execs, t):
    """The execution whose time window holds ``t``, if any."""
    return next((e for e in execs if e["start_ms"] <= t <= e["end_ms"]), None)


def _owner(job, groups, execs):
    """(exec, span) a job belongs to: by its job group when the harness set
    it, else (streaming micro-batches run under their own group) by the
    query whose time window holds the job's start."""
    if job.get("group") in groups:
        return groups[job["group"]]
    e = _at(execs, job["start_ms"])
    if e is None:
        return None, None
    return e, ("builder" if job["start_ms"] <= e["builder_end_ms"] else "execute")


def breakdown(e, phases):
    """Splits one execution's wall time into builder, plan, codegen,
    execute and other, which sum to the wall time.  Plan is the union of
    Catalyst phase intervals inside each span, codegen the compile time
    measured across it (capped at what is left of the span)."""
    s, b, x = e["start_ms"], e["builder_end_ms"], e["end_ms"]
    ivs = [(p["start_ms"], p["end_ms"]) for p in phases]
    plan_b = min(stats.union_length(ivs, s, b) / 1000.0, e["builder_s"])
    plan_x = min(stats.union_length(ivs, b, x) / 1000.0, e["execute_s"])
    cg_b = max(0.0, min(e["codegen_builder_s"], e["builder_s"] - plan_b))
    cg_x = max(0.0, min(e["codegen_execute_s"], e["execute_s"] - plan_x))
    parts = {
        "builder": e["builder_s"] - plan_b - cg_b,
        "plan": plan_b + plan_x,
        "codegen": cg_b + cg_x,
        "execute": e["execute_s"] - plan_x - cg_x,
    }
    parts["other"] = e["wall_s"] - sum(parts.values())
    return parts


def _pass_layers(p, recs, cpus):
    """Per-layer metrics of one traced pass, and its per-query split."""
    n = p["pass"]
    pick = lambda kind: [r for r in of(recs, kind) if r["pass"] == n]
    execs = pick("exec")
    groups = _groups(n, execs)
    qjobs, setup_jobs = [], []
    for j in pick("job"):
        if j.get("group") == f"pb-{n}-setup":
            setup_jobs.append(j)
            continue
        e, part = _owner(j, groups, execs)
        if e is not None:
            qjobs.append((e, part, j))
    qphases = [ph for ph in pick("phase") if _at(execs, ph["start_ms"])]
    qstreams = [s for s in pick("stream") if _at(execs, s["start_ms"])]

    builder_self = 0.0
    split = {"builder": 0.0, "plan": 0.0, "codegen": 0.0, "execute": 0.0, "other": 0.0}
    queries = []
    for e in execs:
        ivs = [(j["start_ms"], j.get("end_ms", e["end_ms"]))
               for (o, part, j) in qjobs if o is e and part == "builder"]
        builder_self += stats.self_time(e["start_ms"], e["builder_end_ms"], ivs) / 1000.0
        parts = breakdown(e, [ph for ph in qphases if _at([e], ph["start_ms"])])
        for k, v in parts.items():
            split[k] += v
        queries.append({"pass": n, "q": e["q"], "wall_s": e["wall_s"], **parts})
    js = [j for (_, _, j) in qjobs]
    tot = lambda k: sum(j[k] for j in js)
    run_s = tot("run_ms") / 1000.0
    phase_s = lambda name: sum((x["end_ms"] - x["start_ms"]) / 1000.0
                               for x in qphases if x["phase"] == name)
    m = {
        "builder.s": sum(e["builder_s"] for e in execs),
        "builder.self_s": builder_self,
        "builder.jobs": sum(1 for (_, part, _) in qjobs if part == "builder"),
        "plan.analysis_s": phase_s("analysis"),
        "plan.optimization_s": phase_s("optimization"),
        "plan.planning_s": phase_s("planning"),
        "plan.executions": sum(1 for x in qphases if x["phase"] == "planning"),
        "codegen.compile_s": sum(e["codegen_builder_s"] + e["codegen_execute_s"] for e in execs),
        "codegen.compiles": sum(e["compiles"] for e in execs),
        "codegen.fallbacks": sum(e["fallbacks"] for e in execs),
        "sched.jobs": len(js),
        "sched.stages": tot("stages"),
        "sched.tasks": tot("tasks"),
        "sched.core_use": run_s / (p["wall_s"] * cpus) if p["wall_s"] > 0 else 0.0,
        "exec.run_s": run_s,
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1000.0,
        "shuffle.write_mb": tot("shuffle_write_bytes") / MIB,
        "shuffle.read_mb": tot("shuffle_read_bytes") / MIB,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1000.0,
        "shuffle.spill_mb": tot("spill_bytes") / MIB,
        "io.read_mb": tot("input_bytes") / MIB,
        "io.read_rows": tot("input_rows"),
        "io.setup_write_mb": sum(j["output_bytes"] for j in setup_jobs) / MIB,
        "storage.peak_mb": p["rdd_peak_bytes"] / MIB,
        "storage.peak_blocks": p["rdd_peak_blocks"],
        "storage.end_mb": p["rdd_bytes"] / MIB,
        "stream.batches": len(qstreams),
        "stream.trigger_s": sum(s["trigger_ms"] for s in qstreams) / 1000.0,
        "stream.commit_s": sum(s["commit_ms"] for s in qstreams) / 1000.0,
        "stream.state_rows_peak": max([s["state_rows"] for s in qstreams], default=0),
        "stream.state_mb_peak": max([s["state_bytes"] for s in qstreams], default=0) / MIB,
        "jvm.gc_s": p["jvm_gc_s"],
    }
    for k, v in split.items():
        m[f"split.{k}_s"] = v
    return m, queries


# Every per-layer metric: (name, unit, which direction is better).
LAYERS = [
    ("builder.s", "s", "lower"), ("builder.self_s", "s", "lower"),
    ("builder.jobs", "count", "lower"),
    ("plan.analysis_s", "s", "lower"), ("plan.optimization_s", "s", "lower"),
    ("plan.planning_s", "s", "lower"), ("plan.executions", "count", "lower"),
    ("codegen.compile_s", "s", "lower"), ("codegen.compiles", "count", "lower"),
    ("codegen.fallbacks", "count", "lower"),
    ("sched.jobs", "count", "lower"), ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"), ("sched.core_use", "ratio", "higher"),
    ("exec.run_s", "s", "lower"), ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("shuffle.write_mb", "MB", "lower"), ("shuffle.read_mb", "MB", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"), ("shuffle.spill_mb", "MB", "lower"),
    ("io.read_mb", "MB", "lower"), ("io.read_rows", "count", "lower"),
    ("io.setup_write_mb", "MB", "lower"),
    ("storage.peak_mb", "MB", "lower"), ("storage.peak_blocks", "count", "lower"),
    ("storage.end_mb", "MB", "lower"),
    ("stream.batches", "count", "lower"), ("stream.trigger_s", "s", "lower"),
    ("stream.commit_s", "s", "lower"), ("stream.state_rows_peak", "count", "lower"),
    ("stream.state_mb_peak", "MB", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("split.builder_s", "s", "lower"), ("split.plan_s", "s", "lower"),
    ("split.codegen_s", "s", "lower"), ("split.execute_s", "s", "lower"),
    ("split.other_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer(recs, cpus):
    """Median over traced passes of every per-layer metric, plus the
    tracing overhead and the per-query split of the traced passes."""
    passes = [p for p in of(recs, "pass") if p["pass"] >= 1]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    if not traced or not untraced:
        raise ValueError("a traced run needs traced and untraced passes")
    per_pass, queries = [], []
    for p in traced:
        m, q = _pass_layers(p, recs, cpus)
        per_pass.append(m)
        queries += q
    out = {k: stats.median([m[k] for m in per_pass]) for k in per_pass[0]}
    # traced minus untraced wall_s, each the fastest pass of its kind
    out["trace.overhead_s"] = (min(p["wall_s"] for p in traced)
                               - min(p["wall_s"] for p in untraced))
    return {name: out[name] for name, _, _ in LAYERS}, queries


def spans(recs):
    """The traced passes as a span list: a set-up span and query spans
    with builder and execute children, each job under the span whose
    group started it, and each Catalyst phase under the span it started
    in."""
    out = []
    for n in sorted(p["pass"] for p in of(recs, "pass") if p["traced"]):
        execs = [e for e in of(recs, "exec") if e["pass"] == n]
        sid = lambda e, part: f"{n}.{e['i']}.{part}"
        setup = next(r for r in of(recs, "setup") if r["pass"] == n)
        out.append({"id": f"{n}.setup", "name": "setup", "parent": None,
                    "start_ms": setup["start_ms"], "end_ms": setup["end_ms"]})
        for e in execs:
            qid = f"{n}.{e['i']}"
            out += [{"id": qid, "name": "query", "q": e["q"], "parent": None,
                     "start_ms": e["start_ms"], "end_ms": e["end_ms"]},
                    {"id": sid(e, "builder"), "name": "builder", "parent": qid,
                     "start_ms": e["start_ms"], "end_ms": e["builder_end_ms"]},
                    {"id": sid(e, "execute"), "name": "execute", "parent": qid,
                     "start_ms": e["builder_end_ms"], "end_ms": e["end_ms"]}]
        groups = _groups(n, execs)
        for j in (r for r in of(recs, "job") if r["pass"] == n):
            e, part = _owner(j, groups, execs)
            parent = sid(e, part) if e else None
            if j.get("group") == f"pb-{n}-setup":
                parent = f"{n}.setup"
            out.append({"id": f"{n}.job{j['job']}", "name": "job", "parent": parent,
                        "start_ms": j["start_ms"], "end_ms": j.get("end_ms"),
                        "stages": j["stages"], "tasks": j["tasks"]})
        for k, ph in enumerate(r for r in of(recs, "phase") if r["pass"] == n):
            e = _at(execs, ph["start_ms"])
            part = e and ("builder" if ph["start_ms"] < e["builder_end_ms"] else "execute")
            parent = sid(e, part) if e else None
            if e is None and setup["start_ms"] <= ph["start_ms"] <= setup["end_ms"]:
                parent = f"{n}.setup"
            out.append({"id": f"{n}.phase{k}", "name": "plan." + ph["phase"],
                        "parent": parent,
                        "start_ms": ph["start_ms"], "end_ms": ph["end_ms"]})
    return out

"""Turns the harness's raw records into the benchmark's metrics."""
import math
import re
import statistics

# layers a Spark job is attributed to, by the package of the innermost
# program frame in its call site; anything else is `other`
JOB_MODULES = ("server", "sources", "queries", "operators", "ext")

_FRAME = re.compile(r"^\s*(?:\S+/)?graft\.([A-Za-z_$][\w$]*)[.$]")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pctl(samples, p):
    """The p-th percentile (nearest rank) of `samples`. A tail percentile is
    reported only when at least ten samples lie beyond it, so p95 needs
    200 samples and p99 needs 1,000; otherwise None."""
    n = len(samples)
    if n == 0:
        return None
    if p > 50 and n * (100 - p) / 100.0 < 10:
        return None
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100.0 * n) - 1)]


def job_module(callsite):
    """The module a job belongs to: the package of the innermost program
    frame (`graft.<module>.…`) in its call site, passing over the shared
    helpers (`graft.functions` and the root package's `Tables`/`SparkEntry`)
    to the module that called them. None when no program frame is there."""
    helper = False
    for line in callsite.splitlines():
        m = _FRAME.match(line)
        if m:
            mod = m.group(1)
            if mod[0].isupper() or mod == "functions":
                helper = True
                continue
            return mod if mod in JOB_MODULES else "other"
    return "other" if helper else None


def spark_layer(trace):
    """Spark execution metrics of one traced JVM: job, stage and task
    counts and times, and job time per module."""
    jobs, stages = trace["jobs"], trace["stages"]
    for j in jobs:
        # a job submitted from one of Spark's own threads takes the call
        # site of the thread that started its SQL execution
        j["module"] = (job_module(j["callsite"])
                       or job_module(trace["executions"].get(j["exec"], ""))
                       or "other")
    m = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "task_s": sum(s["run_ms"] for s in stages) / 1e3,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spill_bytes": sum(s["spill"] for s in stages),
    }
    for mod in JOB_MODULES + ("other",):
        m["spark.job_s." + mod] = sum(
            (j["end"] - j["start"]) / 1e3 for j in jobs if j["module"] == mod)
    return m


def compaction_layer(trace):
    """Compaction as the server's listener saw it: rewrite jobs, their
    time, and the bytes they wrote."""
    stage_bytes = {s["id"]: s["bytes_written"] for s in trace["stages"]}
    jobs = [j for j in trace["jobs"] if j.get("module") == "sources"]
    writes = {j["exec"] for j in jobs
              if sum(stage_bytes.get(s, 0) for s in j["stages"]) > 0}
    return {
        "sources.compactions": len(writes),
        "sources.compaction_s": sum((j["end"] - j["start"]) / 1e3 for j in jobs),
        "sources.bytes_rewritten": sum(
            stage_bytes.get(s, 0) for j in jobs for s in j["stages"]),
    }


def engine_layer(replay):
    """Wire decode, engine monitor and flush metrics from the replay."""
    waits = [w / 1e3 for w in replay["lock_wait_us"]]
    flushes = replay["flush_s"]
    m = {
        "engine.lock_wait_p50_ms": median(waits),
        "engine.lock_wait_p99_ms": pctl(waits, 99) or 0.0,
        "engine.flushes": len(flushes),
        "engine.flush_s": sum(flushes),
        "engine.flush_max_s": max(flushes) if flushes else 0.0,
    }
    if "frames" in replay:
        m["wire.frames"] = replay["frames"]
        m["wire.decode_ns_per_frame"] = replay["decode_ns"] / max(1, replay["frames"])
        m["engine.insert_apply_ns_per_row"] = replay["apply_ns"] / max(1, replay["apply_rows"])
    return m


def get_layer(replay, trace):
    """The GET path, op by op: execute under the monitor, the jobs fired
    while building the plan, planning, the drain, and the DTF body."""
    gets = replay["gets"]
    spans = {g["span"] for g in gets}
    construct_jobs = sum(1 for j in trace["jobs"]
                         if j["span"] in spans and j["phase"] == "construct")
    body = sum(g["body_bytes"] for g in gets)
    rows = sum(g["rows"] for g in gets)
    enc = sum(g["encode_ms"] for g in gets) / 1e3
    dec = sum(g["decode_ms"] for g in gets) / 1e3
    return {
        "engine.get_execute_ms": median([g["execute_ms"] for g in gets]),
        "engine.get_construct_jobs": construct_jobs / max(1, len(gets)),
        "get.plan_ms": median([g["plan_ms"] for g in gets]),
        "get.exec_ms": median([g["exec_ms"] for g in gets]),
        "sources.files_listed_per_get": sum(g["files"] for g in gets) / max(1, len(gets)),
        "dtf.encode_mb_per_s": body / 1e6 / enc if enc else 0.0,
        "dtf.decode_mb_per_s": body / 1e6 / dec if dec else 0.0,
        "dtf.bytes_per_row": body / rows if rows else 0.0,
        "rows_out": rows,
    }


def query_layer(queries, trace, groups):
    """Construction, planning and execution of a query list, and the jobs
    each sharer group's first query fires (builds) versus the later ones
    (0 means the shared intermediate was reused)."""
    construct = {}
    for j in trace["jobs"]:
        if j["phase"] == "construct":
            construct[j["span"]] = construct.get(j["span"], 0) + 1
    order = [q["name"] for q in queries]
    build = reuse = 0
    for members in groups.values():
        ran = [n for n in order if n in members]
        build += sum(construct.get(n, 0) for n in ran[:1])
        reuse += sum(construct.get(n, 0) for n in ran[1:])
    ok = [q for q in queries if q["ok"]]
    return {
        "construct_s": sum(q["construct_s"] for q in ok),
        "construct_jobs": sum(construct.values()),
        "plan_s": sum(q["plan_s"] for q in ok),
        "exec_s": sum(q["exec_s"] for q in ok),
        "rows_out": sum(q["rows"] for q in ok),
        "shared.build_jobs": build,
        "shared.reuse_jobs": reuse,
    }, {q["name"]: construct.get(q["name"], 0) for q in queries}

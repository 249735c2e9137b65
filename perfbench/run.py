"""The repository's benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <ingest|serve|corpus>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program from source
(`build.py`), runs the workload against the program's public entry
points in fresh JVMs, checks every output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` it runs the workload
untraced and then traced and prints the per-layer metrics. The line
before it holds the run's context and the workload's own figures.
See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import queue
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics as M  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = len(os.sched_getaffinity(0))
BOOKS = ["bench_a", "bench_b"]

# Every workload's size is given per second of --seconds, measured to fill
# about that long on a 4-core host at the commit that defined the benchmark.
# The engine configuration of both server workloads, passed field by field
# to the Engine the server (and the replay) constructs.
FLUSH_POLICY = {"autoflush": True, "flush_interval": 10000, "auto_compact": True,
                "compact_max_leaf_files": 16, "compact_target_bytes": 128 << 20}
INGEST = {"rows_per_book_per_s": 12000, "segments": 3, "gap_ms": 30,
          "warm_rows": 40000}
SERVE = {"rows_per_book": 60000, "gap_ms": 300, "ops_per_reader_per_s": 2.4,
         "writer_rate": 2000}
with open(os.path.join(HERE, "queries.json")) as _f:
    QUERIES = json.load(_f)
JVM_OPTS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     "-XX:+UseParallelGC"]
HEAP = {"server": "3g", "client": "1g"}


def policy_args():
    """FLUSH_POLICY as `key=value` arguments of the Scala side."""
    return {k: int(v) for k, v in FLUSH_POLICY.items()}


def e2e(setup_s, work_s, op_p50_ms, peak_rss_mb):
    """The end-to-end metrics of one untraced run (see README.md)."""
    return {"setup_s": setup_s, "work_s": work_s, "op_p50_ms": op_p50_ms,
            "peak_rss_mb": peak_rss_mb}


def metrics_line(values, unit_of):
    """Every metric BENCHMARK.json names, with its unit."""
    return {k: {"value": values[k], "unit": u} for k, u in unit_of.items()}


class Jvm:
    """One JVM of the run. Its stdout carries JSON lines only; its stderr
    (Spark's log) goes to a file under the run directory."""

    def __init__(self, run, role, main, args, heap):
        self.log = os.path.join(run.dir, "%s.log" % role)
        tmp = os.path.join(run.dir, role)
        os.makedirs(tmp, exist_ok=True)
        # a fixed-size heap keeps peak RSS from following the collector's
        # heap-resizing decisions
        cmd = (["java"] + JVM_OPTS + ["-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + tmp,
               "-Dgraft.index.catalog.root=" + os.path.join(tmp, "catalog"),
               "-cp", run.classpath, main]
               + ["%s=%s" % kv for kv in args.items()] + ["cores=%d" % CORES, "tmp=" + tmp])
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=open(self.log, "wb"), cwd=run.dir)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        run.procs.append(self)

    def _pump(self):
        for raw in self.p.stdout:
            try:
                self.lines.put(json.loads(raw))
            except ValueError:
                pass
        self.lines.put(None)

    def expect(self, key, timeout=170):
        deadline = time.time() + timeout
        while True:
            try:
                msg = self.lines.get(timeout=max(0.1, deadline - time.time()))
            except queue.Empty:
                msg = None
            if msg is None:
                tail = open(self.log, errors="replace").read()[-3000:]
                raise RuntimeError("no '%s' from %s:\n%s" % (key, self.log, tail))
            if key in msg:
                return msg[key]

    def send(self, line):
        self.p.stdin.write((line + "\n").encode())
        self.p.stdin.flush()

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()


class Run:
    """Scratch state of one JVM set: a fresh directory inside the checkout
    (engine folder, temp dirs, index catalog), removed at the end."""

    def __init__(self, root, classpath, name):
        self.dir = os.path.join(root, build.BUILD_DIR, "runs", "%s-%d" % (name, os.getpid()))
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.classpath = classpath
        self.procs = []

    def close(self):
        for j in self.procs:
            j.stop()
        shutil.rmtree(self.dir, ignore_errors=True)


def ingest_rows(seconds):
    """Rows per book: a whole number of equal segments."""
    seg = INGEST["segments"]
    return max(seg, int(INGEST["rows_per_book_per_s"] * seconds) // seg * seg)


def run_ingest(root, cp, seed, seconds, trace):
    rows = ingest_rows(seconds)
    common = {"seed": seed, "rows": rows, "gap_ms": INGEST["gap_ms"],
              "segments": INGEST["segments"],
              "books": ",".join(BOOKS), **policy_args()}
    run = Run(root, cp, "ingest")
    try:
        t0 = time.monotonic()
        sut = Jvm(run, "server", "perfbench.Server",
                  dict(common, mode="ingest", folder=os.path.join(run.dir, "dtf"),
                       trace=int(trace)), HEAP["server"])
        port = sut.expect("ready")
        cli = Jvm(run, "client", "perfbench.Client",
                  dict(common, mode="ingest", port=port, warm_rows=INGEST["warm_rows"]),
                  HEAP["client"])
        cli.expect("warm")
        setup = time.monotonic() - t0
        res = cli.expect("result")
        sut.send("finish")
        fin = sut.expect("finish")
    finally:
        run.close()
    lost = res["rows_acked"] - res["rows_readable"]
    seg_s = res["segment_s"]
    # like work_s, the ack median is taken per segment, then across segments
    ack_by_seg = [[u / 1e6 for u in seg] for seg in res["ack_ns"]]
    ack_ms = [a for seg in ack_by_seg for a in seg]
    ack_p50 = M.median([M.median(seg) for seg in ack_by_seg])
    correct = (res["rows_acked"] == res["rows_sent"]
               and res["readable_matches_append_rule"]
               and res["count_all"] == res["count_expected"])
    out = {
        "correct": correct,
        "attempted": res["rows_sent"],
        "failed": res["rows_sent"] - res["rows_acked"] + max(0, lost),
        # the median segment, scaled to the whole stream
        "e2e": e2e(setup, len(seg_s) * M.median(seg_s), ack_p50, fin["peak_rss_mb"]),
        "detail": {
            "ingest_rows_per_s": res["rows_acked"] / sum(seg_s),
            "segment_s": seg_s,
            "ingest_ack_p50_ms": ack_p50,
            "ack_p50_ms_by_segment": [M.median(seg) for seg in ack_by_seg],
            "ingest_ack_p99_ms": M.pctl(ack_ms, 99),
            "ack_samples": len(ack_ms),
            "storage_bytes_per_event": fin["stored_bytes"] / res["rows_expected"],
            "rows_lost_at_flush_boundaries": lost,
            "files_per_book": fin["files_per_book"],
        },
        "context": dict(fin["context"], rows_per_book=rows, **INGEST),
        "sut_trace": fin["trace"],
    }
    return out


def run_serve(root, cp, seed, seconds, trace):
    per_reader = max(5, int(round(SERVE["ops_per_reader_per_s"] * seconds)))
    writer_rows = int(SERVE["writer_rate"] * seconds * 1.5 / len(BOOKS))
    common = {"seed": seed, "rows": SERVE["rows_per_book"], "gap_ms": SERVE["gap_ms"],
              "books": ",".join(BOOKS), **policy_args()}
    run = Run(root, cp, "serve")
    try:
        t0 = time.monotonic()
        sut = Jvm(run, "server", "perfbench.Server",
                  dict(common, mode="serve", folder=os.path.join(run.dir, "dtf"),
                       trace=int(trace)), HEAP["server"])
        port = sut.expect("ready")
        cli = Jvm(run, "client", "perfbench.Client",
                  dict(common, mode="serve", port=port, ops_per_reader=per_reader,
                       writer_rate=SERVE["writer_rate"], writer_rows=writer_rows),
                  HEAP["client"])
        cli.expect("warm")
        setup = time.monotonic() - t0
        res = cli.expect("result")
        sut.send("finish")
        fin = sut.expect("finish")
    finally:
        run.close()
    ops = res["ops"]
    gets = [o["ms"] for o in ops if o["kind"] == "get"]
    ack_ms = [u / 1e3 for u in res["ack_us"]]
    failed = sum(1 for o in ops if not o["ok"]) + res["writes_failed"]
    return {
        "correct": failed == 0,
        "attempted": len(ops) + res["writes_sent"],
        "failed": failed,
        "e2e": e2e(setup, res["work_s"], M.median(gets), fin["peak_rss_mb"]),
        "detail": {
            "get_range_p50_ms": M.median(gets),
            "get_range_p95_ms": M.pctl(gets, 95),
            "get_samples": len(gets),
            "serve_ops_per_s": len(ops) / res["work_s"],
            "ingest_ack_p50_ms": M.median(ack_ms),
            "ingest_ack_p99_ms": M.pctl(ack_ms, 99),
            "ack_samples": len(ack_ms),
            "files_per_book": fin["files_per_book"],
            "op_ms_by_kind": {k: M.median([o["ms"] for o in ops if o["kind"] == k])
                              for k in ("get", "json", "count", "ob")},
        },
        "context": dict(fin["context"], ops_per_reader=per_reader,
                        writer_rows=writer_rows, **SERVE),
        "sut_trace": fin["trace"],
    }


def query_list(workload, seed, seconds):
    """The frozen list in seeded order. The members of each sharer group keep
    their listed order inside the slots the shuffle gave the group, so the
    same query builds each shared intermediate on every seed (letting the
    seed pick which query builds moved the per-query median by 24% between
    seeds).
    A run shorter than the configured one takes a proportional prefix."""
    spec = QUERIES[workload]
    names = list(spec["queries"])
    random.Random(seed).shuffle(names)
    for members in spec["sharer_groups"].values():
        slots = [i for i, n in enumerate(names) if n in members]
        for i, n in zip(slots, members):
            names[i] = n
    k = max(1, min(len(names), round(len(names) * seconds / QUERIES["run_seconds"])))
    return names[:k]


def testdata_dir(root, sf):
    """The directory TESTDATA.md lists for scale factor `sf`."""
    with open(os.path.join(root, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip(" `") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == sf and os.path.isdir(cells[2]):
                return cells[2].rstrip("/")
    raise RuntimeError("no test data directory for sf%s in TESTDATA.md" % sf)


def run_queries(workload, root, cp, seed, seconds, trace):
    data, warm = testdata_dir(root, QUERIES["sf"]), testdata_dir(root, QUERIES["warm_sf"])
    names = query_list(workload, seed, seconds)
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    run = Run(root, cp, workload)
    try:
        t0 = time.monotonic()
        jvm = Jvm(run, "queries", "perfbench.Queries",
                  {"queries": ",".join(names), "dir": data,
                   "warm_dir": warm, "budget_s": QUERIES["budget_s"],
                   "trace": int(trace)}, HEAP["server"])
        jvm.expect("warm")
        setup = time.monotonic() - t0
        res = jvm.expect("result")
    finally:
        run.close()
    qs = res["queries"]
    bad = [q["name"] for q in qs
           if not q["ok"] or goldens.get(q["name"]) != {"rows": q["rows"], "hash": q["hash"]}]
    walls = [q["wall_s"] for q in qs]
    return {
        "correct": not bad,
        "attempted": len(qs),
        "failed": len(bad),
        "e2e": e2e(setup, sum(walls), M.median(walls) * 1e3, res["peak_rss_mb"]),
        "detail": {"query_total_s": sum(walls), "query_p50_s": M.median(walls),
                   "failed_queries": bad,
                   "per_query_s": {q["name"]: round(q["wall_s"], 4) for q in qs}},
        "context": dict(res["context"], queries=len(names)),
        "queries": qs,
        "sut_trace": res["trace"],
    }


def run_replay(root, cp, workload, seed, seconds):
    args = {"mode": workload, "seed": seed, "books": ",".join(BOOKS), **policy_args()}
    if workload == "ingest":
        args.update(rows=ingest_rows(seconds), segments=INGEST["segments"],
                    gap_ms=INGEST["gap_ms"], batch=64,
                    warm_rows=INGEST["warm_rows"])
    else:
        args.update(rows=SERVE["rows_per_book"], gap_ms=SERVE["gap_ms"],
                    ops_per_reader=max(5, int(round(SERVE["ops_per_reader_per_s"] * seconds))),
                    writer_rate=SERVE["writer_rate"],
                    writer_rows=int(SERVE["writer_rate"] * seconds * 1.5 / len(BOOKS)))
    run = Run(root, cp, "replay")
    try:
        args["folder"] = os.path.join(run.dir, "dtf")
        res = Jvm(run, "replay", "perfbench.Replay", args, HEAP["server"]).expect("result")
    finally:
        run.close()
    return res


def run_workload(workload, root, cp, seed, seconds, trace):
    if workload == "ingest":
        return run_ingest(root, cp, seed, seconds, trace)
    if workload == "serve":
        return run_serve(root, cp, seed, seconds, trace)
    return run_queries(workload, root, cp, seed, seconds, trace)


def per_layer(workload, root, cp, seed, seconds, base, traced):
    """Per-layer metrics of a traced run; every name is reported on every
    workload, 0 where the workload does not exercise the layer."""
    names = list(units(root, "per_layer"))
    out = dict.fromkeys(names, 0.0)
    tr = traced["sut_trace"]
    out.update(M.spark_layer(tr))
    attempted, failed, rep = 0, 0, None
    if workload in ("ingest", "serve"):
        out.update(M.compaction_layer(tr))
        out["sources.files_per_book"] = traced["detail"]["files_per_book"]
        rep = run_replay(root, cp, workload, seed, seconds)
        out.update(M.engine_layer(rep))
        if workload == "serve":
            out.update(M.get_layer(rep, rep["trace"]))
            attempted, failed = rep["ops"], rep["ops_failed"]
        else:
            out["sources.bytes_per_event"] = traced["detail"]["storage_bytes_per_event"]
    else:
        layer, per_query = M.query_layer(traced["queries"], tr,
                                         QUERIES[workload]["sharer_groups"])
        out.update(layer)
        traced["detail"]["construct_jobs_per_query"] = per_query
    out["trace.overhead_pct"] = 100.0 * (traced["e2e"]["work_s"] / base["e2e"]["work_s"] - 1)
    missing = set(out) - set(names)
    assert not missing, "metrics outside BENCHMARK.json: %s" % sorted(missing)
    return out, attempted, failed, rep and rep["trace"]


def units(root, section):
    """Metric name -> unit, as BENCHMARK.json defines them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so every started JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    try:
        base = run_workload(a.workload, root, cp, a.seed, a.seconds, False)
        runs = [base]
        if a.trace:
            traced = run_workload(a.workload, root, cp, a.seed, a.seconds, True)
            runs.append(traced)
            values, att, fail, replay_trace = per_layer(
                a.workload, root, cp, a.seed, a.seconds, base, traced)
            section = "per_layer"
        else:
            values, att, fail, section = base["e2e"], 0, 0, "end_to_end"
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    u = units(root, section)
    if a.trace:
        # the trace artifact: spans, jobs and stages of every traced JVM
        out = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "%s-%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump({"sut": runs[-1]["sut_trace"], "replay": replay_trace}, f)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "flush_policy": FLUSH_POLICY, "detail": runs[-1]["detail"],
                      "context": runs[-1]["context"]}))
    print(json.dumps({
        "correct": all(r["correct"] for r in runs) and fail == 0,
        "attempted": sum(r["attempted"] for r in runs) + att,
        "failed": sum(r["failed"] for r in runs) + fail,
        "metrics": metrics_line(values, u),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

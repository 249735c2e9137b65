"""The benchmark's own tests: `python3 -m unittest discover -s perfbench/tests`
from the repository root. They need no JVM."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as M  # noqa: E402
import run  # noqa: E402

# call sites as a traced ingest run records them: the flush's write job runs
# on one of Spark's threads, so only its SQL execution carries Engine.flush
FLUSH_WRITE_JOB = {
    "id": 7, "start": 1000, "end": 1400, "exec": "3", "span": "", "phase": "",
    "stages": [9],
    "callsite": "org.apache.spark.sql.execution.SQLExecution$.$anonfun$"
                "withThreadLocalCaptured$2(SQLExecution.scala:329)\n"
                "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run"
                "(CompletableFuture.java:1768)",
}
FLUSH_EXECUTION = (
    "org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:390)\n"
    "graft.server.Engine.$anonfun$flush$1(Engine.scala:402)\n"
    "graft.server.Engine.flush(Engine.scala:393)\n"
    "graft.server.Engine.execute(Engine.scala:260)\n"
    "perfbench.Replay$.$anonfun$ingest$4(Replay.scala:105)")
COMPACTION_LISTING_JOB = {
    "id": 8, "start": 2000, "end": 2050, "exec": "", "span": "", "phase": "",
    "stages": [10],
    "callsite": "org.apache.spark.sql.classic.DataFrameReader.parquet"
                "(DataFrameReader.scala:57)\n"
                "graft.sources.Compaction$.compact(Compaction.scala:72)\n"
                "graft.server.Engine.compactBook(Engine.scala:485)",
}


def trace(jobs, executions):
    stages = [{"id": s, "tasks": 1, "run_ms": 5, "gc_ms": 0, "shuffle_read": 0,
               "shuffle_write": 0, "spill": 0, "bytes_written": 100}
              for j in jobs for s in j["stages"]]
    return {"jobs": [dict(j) for j in jobs], "stages": stages,
            "executions": executions, "actions": [], "spans": []}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(M.pctl(list(range(199)), 95))
        self.assertEqual(M.pctl(list(range(200)), 95), 189)
        self.assertIsNone(M.pctl(list(range(999)), 99))
        self.assertEqual(M.pctl(list(range(1000)), 99), 989)

    def test_median_is_always_reported(self):
        self.assertEqual(M.pctl([3.0, 1.0, 2.0], 50), 2.0)
        self.assertEqual(M.median([4.0, 1.0, 2.0, 3.0]), 2.5)


class MetricNames(unittest.TestCase):
    def test_end_to_end_metrics_match_benchmark_json(self):
        units = run.units(ROOT, "end_to_end")
        values = run.e2e(1.0, 2.0, 3.0, 4.0)
        self.assertEqual(set(values), set(units))
        line = run.metrics_line(values, units)
        for name, unit in units.items():
            self.assertEqual(line[name], {"value": values[name], "unit": unit})

    def test_layer_metrics_are_named_in_benchmark_json(self):
        names = set(run.units(ROOT, "per_layer"))
        tr = trace([FLUSH_WRITE_JOB, COMPACTION_LISTING_JOB], {"3": FLUSH_EXECUTION})
        replay = {"lock_wait_us": [1.0] * 10, "flush_s": [0.5], "frames": 10,
                  "decode_ns": 100, "apply_ns": 100, "apply_rows": 10,
                  "gets": [{"span": "op1", "execute_ms": 1.0, "plan_ms": 1.0,
                            "exec_ms": 1.0, "encode_ms": 1.0, "decode_ms": 1.0,
                            "rows": 10, "body_bytes": 120, "files": 2}]}
        queries = [{"name": "q_a", "ok": True, "rows": 1, "construct_s": 0.1,
                    "plan_s": 0.1, "exec_s": 0.1, "wall_s": 0.3}]
        produced = {}
        produced.update(M.spark_layer(tr))
        produced.update(M.compaction_layer(tr))
        produced.update(M.engine_layer(replay))
        produced.update(M.get_layer(replay, tr))
        produced.update(M.query_layer(queries, tr, {"g": ["q_a"]})[0])
        self.assertLessEqual(set(produced), names)
        line = run.metrics_line(dict(dict.fromkeys(names, 0.0), **produced),
                                run.units(ROOT, "per_layer"))
        self.assertEqual(set(line), names)
        self.assertTrue(all("unit" in v for v in line.values()))


class CallSiteAttribution(unittest.TestCase):
    def test_flush_job_lands_in_server(self):
        m = M.spark_layer(trace([FLUSH_WRITE_JOB], {"3": FLUSH_EXECUTION}))
        self.assertAlmostEqual(m["spark.job_s.server"], 0.4)
        self.assertEqual(m["spark.job_s.other"], 0)

    def test_compaction_job_lands_in_sources(self):
        m = M.spark_layer(trace([COMPACTION_LISTING_JOB], {}))
        self.assertAlmostEqual(m["spark.job_s.sources"], 0.05)

    def test_helper_frames_defer_to_their_caller(self):
        checkpoint = dict(FLUSH_WRITE_JOB, exec="5")
        execution = (
            "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)\n"
            "graft.functions.package$.checkpointed(package.scala:63)\n"
            "graft.ext.Dedup$.minhashNearDup(Dedup.scala:120)\n"
            "graft.queries.ExtQueries$.$anonfun$build$2(ExtQueries.scala:194)")
        m = M.spark_layer(trace([checkpoint], {"5": execution}))
        self.assertAlmostEqual(m["spark.job_s.ext"], 0.4)
        listing = dict(COMPACTION_LISTING_JOB, callsite=(
            "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)\n"
            "graft.Tables$.table(Tables.scala:60)\n"
            "graft.queries.ExtQueries$.embs(ExtQueries.scala:16)"))
        m = M.spark_layer(trace([listing], {}))
        self.assertAlmostEqual(m["spark.job_s.queries"], 0.05)

    def test_unattributed_job_is_other(self):
        job = dict(FLUSH_WRITE_JOB, exec="")
        m = M.spark_layer(trace([job], {}))
        self.assertAlmostEqual(m["spark.job_s.other"], 0.4)


class QueryLists(unittest.TestCase):
    def test_lists_have_goldens_and_complete_groups(self):
        goldens = json.load(open(os.path.join(os.path.dirname(HERE), "goldens.json")))
        spec = run.QUERIES["corpus"]
        self.assertLessEqual(set(spec["queries"]), set(goldens))
        for members in spec["sharer_groups"].values():
            self.assertLessEqual(set(members), set(spec["queries"]))

    def test_seed_orders_queries_but_each_group_keeps_its_order(self):
        orders = [run.query_list("corpus", seed, run.QUERIES["run_seconds"])
                  for seed in range(5)]
        self.assertGreater(len({tuple(o) for o in orders}), 1)
        for members in run.QUERIES["corpus"]["sharer_groups"].values():
            for o in orders:
                self.assertEqual([n for n in o if n in members], members)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own logic. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def job(jid, start, end, group=None, pool=None, sql_id=None, sites=(), stages=()):
    return {"job": jid, "start_ms": start, "end_ms": end, "group": group,
            "pool": pool, "sql_id": sql_id, "call_sites": list(sites),
            "stages": list(stages)}


def stage(sid, tasks=1, **kw):
    row = {"stage": sid, "tasks": tasks, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
           "input_bytes": 0, "output_bytes": 0}
    row.update(kw)
    return row


class CenterTest(unittest.TestCase):
    def test_iqm_drops_each_outer_quarter(self):
        xs = list(range(1, 34))  # a pass of 33 gates: drop 8 at each end
        self.assertEqual(metrics.iqm(xs), sum(range(9, 26)) / 17)
        self.assertEqual(metrics.iqm(list(range(1, 10))), 5)  # 9 DAG stages: 3..7
        self.assertEqual(metrics.iqm([1, 2, 3, 100]), 2.5)

    def test_iqm_order_free_and_small(self):
        self.assertEqual(metrics.iqm([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.iqm([7.5]), 7.5)
        self.assertEqual(metrics.iqm([3, 1, 2]), 2)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            metrics.iqm([])
        with self.assertRaises(ValueError):
            metrics.tail_mean([])

    def test_tail_mean(self):
        xs = list(range(1, 45))  # a pass of 44 gates: the slowest 11
        self.assertEqual(metrics.tail_mean(xs), sum(range(34, 45)) / 11)
        self.assertEqual(metrics.tail_mean([3, 1, 2]), 3)
        self.assertEqual(metrics.tail_mean(list(range(9))), (8 + 7 + 6) / 3)


class StageWindowTest(unittest.TestCase):
    STAGES = [("extract", 2.0), ("cleanse", 0.5), ("aggregates", 1.0)]

    def test_back_to_back(self):
        w = metrics.stage_windows(1000, self.STAGES)
        self.assertEqual(w, [("extract", 1000.0, 3000.0), ("cleanse", 3000.0, 3500.0),
                             ("aggregates", 3500.0, 4500.0)])

    def test_attribution_is_half_open(self):
        w = metrics.stage_windows(1000, self.STAGES)
        self.assertEqual(metrics.attribute(w, 1000), "extract")
        self.assertEqual(metrics.attribute(w, 2999), "extract")
        self.assertEqual(metrics.attribute(w, 3000), "cleanse")
        self.assertEqual(metrics.attribute(w, 4499), "aggregates")

    def test_outside_every_window(self):
        w = metrics.stage_windows(1000, self.STAGES)
        self.assertIsNone(metrics.attribute(w, 999))
        self.assertIsNone(metrics.attribute(w, 4500))
        self.assertIsNone(metrics.attribute([], 1000))


class NameTest(unittest.TestCase):
    def test_pattern(self):
        for good in ("wall_s", "stage.fact-load_s", "materialize.simhash-cc_s", "0x"):
            self.assertTrue(metrics.NAME_RE.match(good), good)
        for bad in ("", "-lead", ".lead", "a b", "stage/x", "x" * 65, "ü"):
            self.assertFalse(metrics.NAME_RE.match(bad), bad)

    def test_stage_keys_are_names(self):
        for s in metrics.DAG_STAGES:
            self.assertTrue(metrics.NAME_RE.match("stage.%s_s" % metrics.stage_key(s)))
        self.assertEqual(metrics.stage_key("post-load checks"), "post-load-checks")


class SpecTest(unittest.TestCase):
    """BENCHMARK.json against the benchmark contract."""

    def test_keys_and_limits(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertIsInstance(SPEC["run_seconds"], int)
        self.assertTrue(1 <= len(SPEC["paths"]) <= 16)
        for p in SPEC["paths"]:
            self.assertRegex(p, r"\A[A-Za-z0-9_./-]{1,200}\Z")
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
        self.assertTrue(len(SPEC["command"]) <= 32)
        for arg in SPEC["command"]:
            self.assertFalse(arg.startswith("/") or ".." in arg.split("/"))
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])

    def test_metrics(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(metrics.NAME_RE.match(m["name"]), m["name"])
            self.assertTrue(metrics.UNIT_RE.match(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))
        self.assertTrue(1 <= len(SPEC["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(SPEC["per_layer"]) <= 128)


def gates_record():
    ops = [{"name": "g%d" % i, "ok": True, "s": 0.1 * (i + 1), "build_s": 0.04 * (i + 1),
            "exec_s": 0.06 * (i + 1), "rows": i, "start_ms": 10000 + 1000 * i,
            "phases": {"analysis": {"start_ms": 0, "ms": 5},
                       "planning": {"start_ms": 0, "ms": 2}}} for i in range(10)]
    jobs = [
        job(0, 1000, 1500, pool="shingle", stages=[0]),
        job(1, 1200, 4000, pool="vectors", stages=[1]),
        job(2, 3000, 3500, pool="vectors", stages=[2]),
        job(3, 10000, 10100, group="gate:g0:build", sites=["parquet at Tables.scala:20"],
            stages=[3]),
        job(4, 10100, 10200, group="gate:g0:build", sites=["parquet at InterStage.scala:136"],
            sql_id="7", stages=[4]),
        job(5, 10200, 10400, group="gate:g0:exec", sql_id="8", stages=[5, 6]),
        job(6, 99000, 99100, group="gate:g0:build", stages=[7]),  # after the window
    ]
    return {
        "workload": "gates", "seed": 1,
        "setup": {"session_s": 2.0, "inputs_s": [3.0, 1.0, 2.0]},
        "peak_rss_kb": 2048 * 1024,
        "run": {"start_ms": 900, "end_ms": 20000,
                "materialize_s": 3.5, "materialize_bytes": 1234,
                "materialize_error": None, "wall_s": 5.6, "ops": ops},
        "digests": {"g%d" % i: "d%d" % i for i in range(10)},
        "overhead_ab": {"untraced_s": [1.0, 1.0], "traced_s": [1.1, 1.1]},
        "trace": {"jobs": jobs,
                  "stages": [stage(i, tasks=2, run_ms=100, cpu_ns=10 ** 8, gc_ms=10,
                                   shuffle_write_bytes=5) for i in range(8)],
                  "queries": [{"optimization": {"start_ms": 10150, "ms": 30},
                               "analysis": {"start_ms": 10140, "ms": 10}},
                              {"analysis": {"start_ms": 50, "ms": 999}}]},
    }


class EndToEndTest(unittest.TestCase):
    def test_gates(self):
        m = metrics.end_to_end(gates_record(), 11, 0)
        self.assertEqual(set(m), {x["name"] for x in SPEC["end_to_end"]})
        self.assertEqual(m["wall_s"], (5.6, 1))
        self.assertAlmostEqual(m["op_iqm_s"][0], (0.3 + 0.4 + 0.5 + 0.6 + 0.7 + 0.8) / 6)
        self.assertAlmostEqual(m["op_top25_mean_s"][0], (0.9 + 1.0 + 0.8) / 3)
        self.assertEqual(m["op_iqm_s"][1], 10)
        self.assertEqual(m["setup_s"], (4.0, 3))  # session + median input set-up
        self.assertEqual(m["peak_rss_mb"][0], 2048.0)
        self.assertEqual(m["warehouse_bytes"][0], 1234)
        self.assertEqual(m["ops_ok_frac"][0], 1.0)

    def test_failed_ops_lower_ok_fraction(self):
        m = metrics.end_to_end(gates_record(), 11, 1)
        self.assertAlmostEqual(m["ops_ok_frac"][0], 10 / 11)


class LayerTest(unittest.TestCase):
    def test_gates_layers(self):
        m = metrics.layer_metrics(gates_record())
        self.assertEqual(set(m), {x["name"] for x in SPEC["per_layer"]})
        self.assertEqual(m["queries.build_jobs"], 2)
        self.assertAlmostEqual(m["queries.build_job_s"], 0.2)
        self.assertEqual(m["tables.schema_jobs"], 1)
        self.assertEqual(m["interstage.read_jobs"], 0)  # carries an execution id
        self.assertAlmostEqual(m["materialize.vectors_s"], 2.8)
        self.assertAlmostEqual(m["materialize.shingle_s"], 0.5)
        self.assertEqual(m["materialize.bpe_s"], 0.0)
        self.assertEqual(m["sched.jobs"], 6)
        self.assertEqual(m["sched.stages"], 7)
        self.assertEqual(m["sched.tasks"], 14)
        self.assertAlmostEqual(m["exec.task_cpu_s"], 0.7)
        self.assertEqual(m["shuffle.write_bytes"], 35)
        # listener queries inside the window, plus each gate's own phases
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.06)
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.03)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.02)
        self.assertAlmostEqual(m["queries.build_s"] + m["queries.exec_s"], 5.5)
        self.assertAlmostEqual(m["trace.unattributed_frac"], 1 - 5.5 / 5.6)
        self.assertEqual(m["trace.wall_s"], 5.6)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)
        self.assertEqual(m["stage.fact-load_s"], 0.0)
        for v in m.values():
            self.assertTrue(math.isfinite(v))

    def test_dag_stage_windows(self):
        stages = [{"name": s, "s": 1.0} for s in metrics.DAG_STAGES]
        rec = {
            "workload": "dag-batches",
            "run": {"start_ms": 0, "end_ms": 20000,
                    "wall_s": 9.2, "staging_bytes": 10, "fact_files": 4,
                    "appended_rows": 7,
                    "batch": {"batch": 3, "ok": True, "start_ms": 1000,
                              "end_ms": 10200, "stages": stages}},
            "trace": {"jobs": [job(0, 1000, 1100, stages=[0]), job(1, 1999, 2100),
                               job(2, 7500, 7600), job(3, 7600, 7700),
                               job(4, 9999, 10000), job(5, 10000, 10001),
                               # the staging seed, before the run, and the
                               # checks' counts, after it
                               job(6, 100, 900, stages=[1]),
                               job(7, 10300, 10400, stages=[2])],
                      "stages": [stage(i, tasks=10 ** i) for i in range(3)],
                      "queries": [{"analysis": {"start_ms": 500, "ms": 7}},
                                  {"analysis": {"start_ms": 5000, "ms": 3}}]},
        }
        m = metrics.layer_metrics(rec)
        # only the Pipeline.run call's spans count
        self.assertEqual(m["sched.jobs"], 6)
        self.assertEqual(m["sched.stages"], 1)
        self.assertEqual(m["sched.tasks"], 1)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.003)
        self.assertEqual(m["stage.extract.jobs"], 2)
        self.assertEqual(m["stage.fact-load.jobs"], 2)
        self.assertEqual(m["stage.aggregates.jobs"], 1)
        self.assertEqual(m["stage.cleanse.jobs"], 0)
        self.assertEqual(m["stage.aggregates_s"], 1.0)
        self.assertEqual(m["extract.appended_rows"], 7)
        self.assertEqual(m["fact.files"], 4)
        self.assertAlmostEqual(m["trace.unattributed_frac"], 1 - 9.0 / 9.2)
        self.assertEqual(m["trace.overhead_frac"], 0.0)
        rows = metrics.span_rows(rec)
        self.assertEqual([r["name"] for r in rows], metrics.DAG_STAGES)
        self.assertEqual(rows[0]["jobs"], 2)


class CheckTest(unittest.TestCase):
    def test_gates(self):
        rec = gates_record()
        want = {"rows": {"g%d" % i: i for i in range(10)},
                "digests": {"g%d" % i: "d%d" % i for i in range(10)}}
        self.assertEqual(metrics.check_gates(rec, want), (11, 0, []))
        want["rows"]["g3"] = 99
        attempted, failed, problems = metrics.check_gates(rec, want)
        self.assertEqual((attempted, failed), (11, 1))
        self.assertIn("g3", problems[0])
        want["rows"]["g3"] = 3
        # right row count, wrong values
        want["digests"]["g4"] = "other"
        attempted, failed, problems = metrics.check_gates(rec, want)
        self.assertEqual((attempted, failed), (11, 1))
        self.assertIn("g4: output digest d4", problems[0])
        want["digests"]["g4"] = "d4"
        del rec["digests"]["g5"]
        self.assertEqual(metrics.check_gates(rec, want)[:2], (11, 1))
        rec["digests"]["g5"] = "d5"
        want["rows"]["extra"] = 1
        self.assertEqual(metrics.check_gates(rec, want)[:2], (12, 1))
        rec["run"]["ops"][0].update(ok=False, error="boom")
        self.assertEqual(metrics.check_gates(rec, want)[:2], (12, 2))
        rec["run"]["materialize_error"] = "boom"
        self.assertEqual(metrics.check_gates(rec, want)[:2], (12, 3))

    def dag(self, ok=True, **facts):
        run = {"seeded_rows": 20, "materialize_error": None, "fingerprint": "42",
               "fact_rows": 30, "appended_rows": 10,
               "batch": {"batch": 3, "ok": ok, "stages": []}}
        run.update(facts)
        return {"run": run}

    def test_dag(self):
        stages = len(metrics.DAG_STAGES)
        rows = [5, 20, 30]
        self.assertEqual(metrics.check_dag(self.dag(), rows), (1 + stages, 0, []))
        pinned = {"fact_rows": 30, "fingerprint": "42"}
        self.assertEqual(metrics.check_dag(self.dag(), rows, pinned)[1], 0)
        self.assertEqual(metrics.check_dag(self.dag(), rows, dict(pinned, fingerprint="7"))[1], 1)
        self.assertEqual(metrics.check_dag(self.dag(fact_rows=29), rows)[1], 1)
        self.assertEqual(metrics.check_dag(self.dag(fact_rows=29), rows, pinned)[1], 2)
        self.assertEqual(metrics.check_dag(self.dag(appended_rows=30), rows)[1], 1)
        self.assertEqual(metrics.check_dag(self.dag(ok=False), rows, pinned)[1], stages)
        # a seed that staged the wrong rows, and a corpus count that disagrees
        self.assertEqual(metrics.check_dag(self.dag(), [5, 21, 30])[1], 2)
        rec = self.dag()
        rec["run"]["materialize_error"] = "boom"
        self.assertEqual(metrics.check_dag(rec, rows)[1], 1)


class ResultLineTest(unittest.TestCase):
    def values(self):
        return {m["name"]: 1.5 for m in SPEC["end_to_end"]}

    def test_schema(self):
        r = metrics.result_line(SPEC, False, self.values(), 10, 0)
        self.assertEqual(list(r), ["correct", "attempted", "failed", "metrics"])
        self.assertTrue(r["correct"])
        for m in SPEC["end_to_end"]:
            self.assertEqual(r["metrics"][m["name"]], {"value": 1.5, "unit": m["unit"]})
        self.assertFalse(metrics.result_line(SPEC, False, self.values(), 10, 1)["correct"])
        json.dumps(r)

    def test_rejects_bad_records(self):
        v = self.values()
        del v["wall_s"]
        with self.assertRaises(ValueError):
            metrics.result_line(SPEC, False, v, 10, 0)
        for bad in (float("nan"), float("inf"), True, "1"):
            v = self.values()
            v["wall_s"] = bad
            with self.assertRaises(ValueError):
                metrics.result_line(SPEC, False, v, 10, 0)
        v = self.values()
        v["unlisted"] = 1.0
        with self.assertRaises(ValueError):
            metrics.result_line(SPEC, False, v, 10, 0)
        with self.assertRaises(ValueError):
            metrics.result_line(SPEC, False, self.values(), 0, 0)
        with self.assertRaises(ValueError):
            metrics.result_line(SPEC, True, self.values(), 10, 0)  # per_layer expected


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from stats import (median, module_of, module_of_site, quartiles, self_times,  # noqa: E402
                   spread, tail_percentile)


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0]
        self.assertEqual(median(xs), statistics.median(xs))
        q1, q2, q3 = quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(spread(xs), (q3 - q1) / q2)
        self.assertEqual(quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(tail_percentile(list(range(39))))
        self.assertEqual(tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(tail_percentile(list(range(1000)))[0], 99.0)
        p, v = tail_percentile([float(i) for i in range(10000)])
        self.assertEqual(p, 99.9)
        self.assertEqual(v, 9989.0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 30},
            {"id": 3, "parent": 1, "start_us": 20, "end_us": 50},  # overlaps 2
            {"id": 4, "parent": 1, "start_us": 90, "end_us": 120},  # runs past 1
            {"id": 5, "parent": 3, "start_us": 25, "end_us": 35},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 30 - 10)
        self.assertEqual(st[5], 10)

    def test_call_site_frame_to_module(self):
        self.assertEqual(module_of("graft.operators.Dedup$.jaccardPairs(Dedup.scala:80)"),
                         "operators.dedup")
        self.assertEqual(module_of("graft.operators.Graph$$anonfun$1.apply(Graph.scala:9)"),
                         "operators.graph")
        self.assertEqual(module_of("graft.io.Writers$.zone(ZoneIO.scala:66)"), "io")
        self.assertEqual(module_of("graft.etl.Etl$.$anonfun$pipeline$3(Etl.scala:120)"), "etl")
        self.assertEqual(module_of("graft.Sessions$.local(Sessions.scala:180)"), "sessions")
        self.assertIsNone(module_of("graftbench.Main$.main(Main.scala:40)"))
        self.assertIsNone(module_of("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)"))

    def test_call_site_takes_innermost_program_frame(self):
        site = "\n".join([
            "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
            "graft.io.Readers$.zone(ZoneIO.scala:40)",
            "graft.etl.Etl$.jsonToParquet(Etl.scala:34)",
            "graft.pipeline.Pipeline.run(Pipeline.scala:80)",
            "graftbench.Workloads$.$anonfun$etlZones$1(Workloads.scala:50)"])
        self.assertEqual(module_of_site(site), "io")

    def test_benchmark_zone_handoff_falls_to_the_step(self):
        site = "\n".join([
            "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:1)",
            "graft.io.Writers$.write(ZoneIO.scala:57)",
            "graft.io.Writers$.zone(ZoneIO.scala:66)",
            "graftbench.Workloads$.$anonfun$curation$1(Workloads.scala:70)"])
        self.assertIsNone(module_of_site(site))
        self.assertIsNone(module_of_site("graftbench.Main$.main(Main.scala:1)"))


def _span(i, name, layer, parent, a, b):
    return {"id": i, "name": name, "layer": layer, "parent": parent, "pass": 1,
            "start_us": a * 1000, "end_us": b * 1000}


def _task(stage, a, b, run_ms, spill=0):
    return {"stage": stage, "launch_ms": a, "finish_ms": b, "failed": False,
            "run_ms": run_ms, "cpu_ns": run_ms * 1000000, "gc_ms": 0, "sw_bytes": 1048576,
            "sr_bytes": 0, "fetch_wait_ms": 0, "spill_disk": spill, "spill_mem": 0,
            "in_bytes": 2097152, "out_bytes": 1048576}


class LayersTest(unittest.TestCase):
    def test_attribution_idle_and_step_spans(self):
        trace = {
            "spans": [_span(1, "pass", "bench", 0, 1000, 2000),
                      _span(2, "pipeline", "pipeline", 1, 1000, 1600),
                      _span(3, "table_read", "io", 1, 1600, 2000)],
            "jobs": [
                {"job": 0, "start_ms": 1100, "stages": [0], "exec": 7, "site": ""},
                {"job": 1, "start_ms": 1300, "stages": [1], "exec": -1,
                 "site": "graft.checks.Check.assertPasses(Check.scala:1)"},
                {"job": 2, "start_ms": 1700, "stages": [2], "exec": -1, "site": ""},
                {"job": 9, "start_ms": 2500, "stages": [9], "exec": -1, "site": ""}],
            "sql": [{"exec": 7, "site": "graft.io.Readers$.zone(ZoneIO.scala:40)\n"
                                        "graft.etl.Etl$.jsonToParquet(Etl.scala:34)"}],
            "stages": [{"stage": s} for s in (0, 1, 2, 9)],
            "tasks": [_task(0, 1100, 1200, 100), _task(0, 1100, 1300, 200, spill=1048576),
                      _task(1, 1300, 1400, 100), _task(2, 1700, 1800, 100),
                      _task(9, 2500, 2600, 100)],
            "blocks": [{"ms": 900, "rdd_bytes": 1048576}, {"ms": 1500, "rdd_bytes": 3145728},
                       {"ms": 2500, "rdd_bytes": 9 * 1048576}],
            "streams": []}
        p = {"id": 1, "scratch_left_mb": 0.5, "counters": {"pipeline.tasks_failed": 0}}
        m = layers.pass_metrics("etl_zones", p, trace, source_bytes=4 * 1048576)
        self.assertEqual(m["engine.jobs"], 3)  # job 9 starts after the pass
        self.assertEqual(m["engine.tasks"], 4)
        # job 0 via its SQL call site, job 2 via the active step (table_read)
        self.assertAlmostEqual(m["io.task_s"], 0.4)
        self.assertAlmostEqual(m["checks.task_s"], 0.1)
        self.assertAlmostEqual(m["engine.idle_s"], 1.0 - 0.2 - 0.1 - 0.1)
        self.assertAlmostEqual(m["pipeline.idle_s"], 0.6 - 0.3)
        self.assertAlmostEqual(m["pipeline.span_s"], 0.6)
        self.assertAlmostEqual(m["engine.spill_mb"], 1.0)
        self.assertAlmostEqual(m["engine.stored_mb"], 3.0)
        self.assertAlmostEqual(m["io.write_amp"], 1.0)
        self.assertAlmostEqual(m["trace.step_cover"], 1.0)
        self.assertEqual(m["operators.dedup.pairs_s"], 0.0)
        self.assertAlmostEqual(m["engine.skew"], 200 / 150)


class FingerprintTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = oracle.fingerprint(["x", "y"], [(1, 0.1), (2, None)])
        b = oracle.fingerprint(["y", "x"], [(None, 2), (0.1, 1)])
        self.assertEqual(a, b)
        self.assertTrue(a.startswith("rows:2:"))

    def test_doubles_compare_by_bits_and_decimals_never_match(self):
        self.assertNotEqual(oracle.canon(0.1 + 0.2), oracle.canon(0.3))
        self.assertNotEqual(oracle.canon(0.0), oracle.canon(-0.0))
        self.assertEqual(oracle.canon(1.0), "d3ff0000000000000")
        self.assertEqual(oracle.canon(True), "T")
        self.assertEqual(oracle.fingerprint(["n"], [(1,)], decimal_typed=True),
                         "decimal-output")


class GenTest(unittest.TestCase):
    def test_same_seed_same_files_other_seed_other_data(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.generate(os.path.join(d, name), seed, 0.0005, docs=60, chains=20)

            def read(name, t):
                with open(os.path.join(d, name, f"{t}.parquet"), "rb") as fh:
                    return fh.read()
            for t in gen.TABLES:
                self.assertEqual(read("a", t), read("b", t), t)
            self.assertNotEqual(read("a", "lineitem"), read("c", "lineitem"))
            self.assertNotEqual(read("a", "documents"), read("c", "documents"))


def _result(trace):
    steps = [{"name": "pipeline", "gate": "", "ok": True, "fp": "", "error": ""},
             {"name": "table_read", "gate": "o10_pipeline", "ok": True, "fp": "x", "error": ""}]
    passes = [{"id": i, "kind": "cold" if i == 1 else "timed", "traced": False,
               "wall_s": 2.0 + i / 10, "cpu_s": 4.0, "gc_s": 0.1, "jit_s": 1.0,
               "codegen_n": 17, "heap_mb": 70.0 + i,
               "scratch_left_mb": 0.0, "steps": steps, "step_s": {"pipeline": 1.0},
               "counters": {}} for i in (1, 2, 3, 4, 5)]
    return {"workload": "etl_zones", "setup": {"setup_s": 20.0, "session_s": 3.0},
            "passes": passes, "trace": None, "seed": 1, "input_rows": 60000,
            "source_bytes": 1, "gen_s": 0.5, "oracle_s": 0.1}


class OutputTest(unittest.TestCase):
    def test_no_line_claims_the_compact_bench_prefix(self):
        class A:
            seed, trace = 1, 0
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            att, fail, metrics, diag = run.summarize(_result(0), 0)
            run.report("etl_zones", A, metrics, diag)
            print(json.dumps({"correct": fail == 0, "attempted": att, "failed": fail,
                              "metrics": metrics}))
        lines = out.getvalue().splitlines()
        self.assertFalse([ln for ln in lines if ln.lstrip().startswith('{"metric":')])
        last = json.loads(lines[-1])
        self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(set(last["metrics"]),
                         {"pass_s", "rows_per_s", "cpu_s", "setup_s", "retained_heap_mb"})
        self.assertEqual(last["metrics"]["setup_s"]["value"], 20.0)
        # median of the timed passes only: the cold pass is set-up
        self.assertAlmostEqual(last["metrics"]["pass_s"]["value"], 2.35)
        self.assertEqual(last["metrics"]["retained_heap_mb"]["value"], 75.0)
        self.assertEqual(last["attempted"], 10)

    def test_run_lock_excludes_a_second_holder(self):
        saved = run.LOCK_NAME, run.LOCK_WAIT_S
        run.LOCK_NAME, run.LOCK_WAIT_S = b"\0graft-perfbench-test-%d" % os.getpid(), 0
        try:
            with run.run_lock():
                with self.assertRaises(SystemExit):
                    run.run_lock()
            run.run_lock().close()  # released with its holder
        finally:
            run.LOCK_NAME, run.LOCK_WAIT_S = saved

    def test_refuses_a_directory_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curation",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()

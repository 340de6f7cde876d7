"""Self-tests of the benchmark harness's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests

Needs only Python with duckdb, numpy and pyarrow. The end-to-end
fault-injection self-test also needs the built harness and takes about
a minute; it runs when PERFBENCH_E2E=1.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run as runner  # noqa: E402


def op(i, start, end, ok=True, name="", layer="gateway", kind="statement",
       pass_=0, attrs=None):
    return {"id": i, "pass": pass_, "layer": layer, "kind": kind,
            "name": name, "start": start, "end": end, "ok": ok,
            "error": None if ok else "boom", "attrs": attrs or {}}


class Percentiles(unittest.TestCase):
    def test_p90_needs_100_ops(self):
        self.assertIsNone(metrics.p90([float(i) for i in range(99)]))
        self.assertIsNotNone(metrics.p90([float(i) for i in range(100)]))

    def test_p90_value(self):
        # 1..100: the inclusive 90th percentile sits at 90.1
        self.assertAlmostEqual(metrics.p90([float(i) for i in range(1, 101)]),
                               90.1)

    def test_p50(self):
        self.assertEqual(metrics.p50([3.0, 1.0, 2.0]), 2.0)
        self.assertIsNone(metrics.p50([]))


class SelfTime(unittest.TestCase):
    def span(self, i, layer, start, end, parent):
        return {"id": i, "name": layer, "layer": layer, "start": start,
                "end": end, "parent": parent, "op": 0}

    def test_self_time_subtracts_child_union(self):
        spans = [
            self.span(1, "pipeline", 0, 100, 0),
            # two overlapping children cover [10, 50] -> 40 ms
            self.span(2, "spark", 10, 40, 1),
            self.span(3, "spark", 30, 50, 1),
            # a child sticking out of its parent counts only inside it
            self.span(4, "catalyst", 90, 120, 1),
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["pipeline"], 100 - 40 - 10)
        self.assertAlmostEqual(st["spark"], 30 + 20)
        self.assertAlmostEqual(st["catalyst"], 30)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_ms([]), 0)


class Classifier(unittest.TestCase):
    def test_dbt_statement_classes(self):
        cases = {
            "create schema if not exists s": "ddl",
            "show table extended in s like '*'": "introspect",
            "describe extended s.t": "introspect",
            "create or replace view s.v as select 1": "ddl",
            "drop table if exists s.t": "ddl",
            "create table s.t using parquet as select 1": "ctas",
            "create or replace table s.t using delta as select 1": "ctas",
            "create table s.t using parquet partitioned by (d) as\nselect 1":
                "ctas",
            "create temporary view t__dbt_tmp as select 1": "ddl",
            "insert into table s.t select * from t__dbt_tmp": "insert",
            "insert overwrite table s.t select * from x": "insert",
            "set spark.sql.sources.partitionOverwriteMode = DYNAMIC": "ddl",
            "merge into s.t as DBT_INTERNAL_DEST using x": "merge",
            "select count(*) from s.t": "select",
            "with a as (select 1) select * from a": "select",
        }
        for sql, cls in cases.items():
            self.assertEqual(metrics.classify(sql), cls, sql)


class Attribution(unittest.TestCase):
    ops = [op(1, 0, 100, name="create table a as select 1"),
           op(2, 50, 150, name="create table b as select 1"),
           op(3, 200, 300, name="select 1")]

    def test_by_time(self):
        self.assertEqual(metrics.attribute(250, self.ops), 3)
        self.assertEqual(metrics.attribute(10, self.ops), 1)
        # interval ends belong to the op
        self.assertEqual(metrics.attribute(200, self.ops), 3)
        self.assertEqual(metrics.attribute(150, self.ops), 2)

    def test_concurrent_by_statement_text(self):
        self.assertEqual(metrics.attribute(
            75, self.ops, text="create table a as select 1"), 1)
        # no text match: the latest-started containing op
        self.assertEqual(metrics.attribute(75, self.ops), 2)

    def test_outside_any_op(self):
        self.assertEqual(metrics.attribute(175, self.ops), 0)

    def test_jobs_feed_driver_only_time(self):
        stage = {"stage": 7, "submit": 12, "complete": 28, "tasks": 2,
                 "failed_tasks": 0, "task_ms": 30, "wait_ms": 4,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                 "input": 100, "output": 0}
        run = {"passes": [{"pass": 0, "traced": True, "start": 0, "end": 300,
                           "gc_ms": 0, "peak_heap_mb": 1,
                           "live_heap_mb": 1}],
               "ops": [op(1, 0, 100, layer="pipeline", kind="run")],
               "spans": [], "facts": {},
               "spark": {"jobs": [{"job": 0, "start": 10, "end": 30,
                                   "description": "", "stages": [7]},
                                  {"job": 1, "start": 20, "end": 60,
                                   "description": "", "stages": []}],
                         "stages": [stage], "catalyst": []}}
        m, spans = metrics.per_layer(run)
        self.assertEqual((m["spark.jobs"], m["spark.stages"], m["spark.tasks"]),
                         (2, 1, 2))
        # both jobs start inside op 1, so they are attributed to it by
        # time and the op's driver-only time is what they leave free
        self.assertAlmostEqual(m["spark.driver_only_ms"], 100 - 50)
        # job 0 and job 1 hang under the op, the stage under job 0
        parents = {s["name"] + str(s["start"]): s["parent"] for s in spans}
        job0 = next(s["id"] for s in spans if s["name"] == "spark.job"
                    and s["start"] == 10)
        self.assertEqual(parents, {"spark.job10": 1, "spark.job20": 1,
                                   "spark.stage12": job0})


class FailureAccounting(unittest.TestCase):
    def test_thrown_and_wrong_ops_count_as_failed(self):
        run = {"jvm_start": 0.0,
               "passes": [{"pass": 0, "traced": False, "start": 1000.0,
                           "end": 2000.0, "peak_heap_mb": 10.0,
                           "live_heap_mb": 8.0}],
               "ops": [op(1, 1000, 1010), op(2, 1010, 1500, ok=False),
                       op(3, 1500, 1520), op(4, 1520, 1530)],
               "checks": {"c/ok": [3], "c/wrong": [4]}}
        failed = runner.failed_op_ids(run, {"c/ok": None, "c/wrong": "1 row differs"})
        self.assertEqual(failed, {4})
        e2e = metrics.end_to_end(run, failed, inputs_s=0.5)
        self.assertEqual(e2e["attempted"], 4)
        self.assertEqual(e2e["failed"], 2)
        self.assertEqual(e2e["failed_frac"], 0.5)
        # the latencies are those of ops 1 and 3 only
        self.assertEqual(e2e["op_p50_ms"], 15.0)
        self.assertEqual(e2e["setup_s"], 1.5)
        self.assertEqual(e2e["wall_s"], 1.0)

    def test_wrong_read_back_fails_its_check(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.batches(f"{d}/inputs/thrift_batches", 7, 2, 50, 40, 1)
            cid = "thrift/p0/c0/a_orders"
            con = oracle.duckdb.connect()
            for t in ("customers", "orders"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{d}/inputs/thrift_batches/{t}/*.parquet'")
            good = [list(r) for r in con.sql(oracle.thrift_expect("a_orders"))
                    .fetchall()]
            os.makedirs(f"{d}/out/checks/thrift/p0/c0")
            path = f"{d}/out/checks/{cid}.json"
            with open(path, "w") as f:
                json.dump(good, f)
            self.assertEqual(oracle._thrift(d, [cid]), {cid: None})
            good[0][0] += 1
            with open(path, "w") as f:
                json.dump(good, f)
            self.assertIsNotNone(oracle._thrift(d, [cid])[cid])


class Compare(unittest.TestCase):
    def test_typed_columns_compare_as_untyped(self):
        import decimal
        nan = float("nan")
        cols, types = ["a", "b"], ["DOUBLE", "BIGINT"]
        self.assertIsNone(oracle.compare(cols, [(nan, 1)], cols, [(nan, 1)],
                                         types, types))
        self.assertIsNotNone(oracle.compare(cols, [(1.5, 1)], cols, [(1.5, 2)],
                                            types, types))
        # a decimal never equals a double, typed or not
        dec = [(decimal.Decimal("1.5"), 1)]
        self.assertIsNotNone(oracle.compare(cols, dec, cols, [(1.5, 1)]))
        self.assertIsNotNone(oracle.compare(
            cols, dec, cols, [(1.5, 1)], ["DECIMAL(2,1)", "BIGINT"], types))


class Registration(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        root = os.path.dirname(BENCH)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(w["name"] for w in spec["workloads"]),
                         set(runner.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1")
class InjectedFaults(unittest.TestCase):
    def test_one_thrown_op_and_one_wrong_result_both_count(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             "query_keys", "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject-faults"], cwd=os.path.dirname(BENCH),
            stdout=subprocess.PIPE, text=True)
        self.assertEqual(r.returncode, 0)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        # one injected throw + every timed op of the corrupted key
        self.assertEqual(res["failed"], 2)


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests.

    python3 -m unittest discover -s graftbench/tests

The planted-failure tests run the whole benchmark and need its build
(graftbench/.build, made by the first run.py run); they skip without it.
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import genproject  # noqa: E402
import oracle  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def scratch():
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work"))


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_projects(self):
        with scratch() as d:
            for i in (1, 2):
                genproject.write(genproject.pipeline(7, "/data", "/src"),
                                 os.path.join(d, str(i)))
            self.assertTrue(same_tree(os.path.join(d, "1"), os.path.join(d, "2")))

    def test_other_seed_gives_other_project(self):
        a = genproject.pipeline(7, "/data", "/src").files
        b = genproject.pipeline(8, "/data", "/src").files
        self.assertNotEqual(a, b)

    def test_same_seed_gives_same_tables(self):
        a, b = gendata.tables(0.001, 3), gendata.tables(0.001, 3)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(gendata.tables(0.001, 4)["lineitem"].equals(a["lineitem"]))

    def test_rerun_closure_is_the_changed_models_and_descendants(self):
        p = genproject.pipeline(5, "/data", "/src")
        changed = {m for m in p.models if p.models[m]["rendered"] != p.rendered_after[m]}
        self.assertTrue(changed)
        orders = [m for m, d in p.models.items() if "/src/orders" in d["rendered"]]
        self.assertEqual(len(orders), 1)
        self.assertEqual(set(p.closure), set(p.descendants(sorted(changed | set(orders)))))
        self.assertLess(len(p.closure), len(p.models))  # some models must skip
        self.assertIn("t00", p.closure)  # a checked table moves with the macro edit
        self.assertIn("t_inc", p.closure)  # and one with the appended slice
        kinds = {d["mat"] for d in p.models.values()}
        self.assertEqual(kinds, {"view", "table", "incremental", "snapshot"})

    def test_expected_sql_runs_in_duckdb(self):
        with scratch() as d:
            for name, t in gendata.tables(0.001, 1, extensions=False).items():
                gendata.write_table(t, d, name)
            os.rename(os.path.join(d, "orders.parquet"), os.path.join(d, "orders.base.parquet"))
            p = genproject.pipeline(1, d, d, n_models=60)
            for e in p.edits[1:]:
                os.symlink(e["base"], e["target"])
            import duckdb
            con = duckdb.connect()
            for mid in p.order():
                if p.models[mid]["mat"] != "snapshot":
                    con.execute(f"CREATE VIEW {mid} AS {p.models[mid]['rendered']}")
            for t in p.terminals:
                self.assertGreater(con.execute(f"SELECT count(*) FROM {t}").fetchone()[0], 0)


class OracleTest(unittest.TestCase):
    def test_checksum_ignores_row_order_but_not_rows(self):
        rows = [(1, 2, 3), (4, 5, 6), (1, 2, 3)]
        self.assertEqual(oracle.checksum(rows), oracle.checksum(list(reversed(rows))))
        self.assertNotEqual(oracle.checksum(rows), oracle.checksum(rows[:2]))
        self.assertNotEqual(oracle.checksum(rows), oracle.checksum([(1, 2, 3), (4, 5, 7),
                                                                    (1, 2, 3)]))


class SpecTest(unittest.TestCase):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def test_metric_names_and_units(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
                      self.spec["end_to_end"])

    def test_layer_map_names_only_declared_metrics(self):
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        declared = {m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]}
        for row in layers["per_layer"]:
            self.assertIn(row["metric"], declared)
            for e2e in row["moves"]:
                self.assertIn(e2e, declared)
        for w in layers["workloads"]:
            self.assertIn(w, {x["name"] for x in self.spec["workloads"]})


@unittest.skipUnless(os.path.isfile(os.path.join(HERE, ".build", "classpath.txt")),
                     "needs the benchmark's build (run run.py once)")
class PlantedFailureTest(unittest.TestCase):
    def run_planted(self, workload):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--plant-failure"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_planted_model_raises_failed_frac(self):
        res = self.run_planted("pipeline")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)

    def test_planted_query_raises_failed_frac(self):
        res = self.run_planted("query_suite")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()

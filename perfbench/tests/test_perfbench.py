"""The benchmark's own tests.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v

The input and checker cases use small generated inputs. The end-to-end cases
build the program and run every workload as the benchmark runs it (a 4 MB
GEDCOM, tables at scale 0.002, eight registry queries), with a one-second
window, traced and untraced; they take several minutes.
"""
import csv
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen_gedcom  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def write_csv_dir(path, header, rows):
    """One CSV output dir in the dialect Spark writes: header per part file,
    values with newlines quoted, quotes escaped with a backslash."""
    os.makedirs(path, exist_ok=True)
    half = len(rows) // 2
    for i, part in enumerate((rows[:half], rows[half:])):
        with open(os.path.join(path, f"part-0000{i}-x.csv"), "w", newline="") as f:
            w = csv.writer(f, doublequote=False, escapechar="\\", lineterminator="\n")
            w.writerow(header)
            w.writerows(part)


class Inputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_input_new_seed_new_input_same_names(self):
        a = gen_gedcom.generate(os.path.join(self.tmp, "a.ged"), 0.3, 1)
        a2 = gen_gedcom.generate(os.path.join(self.tmp, "a2.ged"), 0.3, 1)
        b = gen_gedcom.generate(os.path.join(self.tmp, "b.ged"), 0.3, 2)
        with open(os.path.join(self.tmp, "a.ged"), "rb") as f1, \
                open(os.path.join(self.tmp, "a2.ged"), "rb") as f2, \
                open(os.path.join(self.tmp, "b.ged"), "rb") as f3:
            ta, ta2, tb = f1.read(), f2.read(), f3.read()
        self.assertEqual(ta, ta2)
        self.assertNotEqual(ta, tb)
        self.assertEqual(a, a2)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a["ancestors"], b["ancestors"])
        self.assertNotEqual(run.registry_queries(1), run.registry_queries(2))
        self.assertEqual(sorted(run.registry_queries(1)), sorted(run.registry_queries(2)))

    def test_tables_follow_the_seed(self):
        t1 = gen_tables.generate(os.path.join(self.tmp, "t1"), 0.0005, 1)
        t2 = gen_tables.generate(os.path.join(self.tmp, "t2"), 0.0005, 2)
        names = sorted(f for f in os.listdir(t1) if f.endswith(".parquet"))
        self.assertEqual(names, sorted(f for f in os.listdir(t2) if f.endswith(".parquet")))
        with open(os.path.join(t1, "orders.parquet"), "rb") as f1, \
                open(os.path.join(t2, "orders.parquet"), "rb") as f2:
            self.assertNotEqual(f1.read(), f2.read())

    def test_expected_answers_hold_their_own_invariants(self):
        e = gen_gedcom.generate(os.path.join(self.tmp, "c.ged"), 0.3, 3)
        self.assertEqual(e["degree_sum"], 2 * e["edges"])
        self.assertEqual(sum(e["edge_rows"].values()), e["edges"])
        self.assertEqual(sum(e["rel_type_rows"].values()), e["edges"])
        for tag, header in e["node_header"].items():
            self.assertEqual(header[-1], ":LABEL", tag)
        self.assertIn("_GRP", e["unused_tags"])


class Checker(unittest.TestCase):
    """The CSV checker accepts a faithful output and rejects damaged ones."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.exp = {
            "node_rows": {"INDI": 3, "FAM": 1},
            "node_header": {"INDI": ["Gedcom Id:ID", "Name", "Note", ":LABEL"],
                            "FAM": ["Gedcom Id:ID", ":LABEL"]},
            "edge_rows": {"HUSB": 1, "FAMS": 2},
        }
        self.out = os.path.join(self.tmp, "csv")
        write_csv_dir(os.path.join(self.out, "nodes-INDI"), self.exp["node_header"]["INDI"], [
            ["I1", "Ann /Berg/", "line one\nline two", "Individual"],
            ["I2", "Bo, Jr /Berg/", "", "Individual"],
            ["I3", "Cy /Berg/", "said \"hi\"", "Individual"]])
        write_csv_dir(os.path.join(self.out, "nodes-FAM"), self.exp["node_header"]["FAM"],
                      [["F1", "Family"]])
        rel = os.path.join(self.out, "relationships")
        write_csv_dir(os.path.join(rel, "rawTag=HUSB"), [":START_ID", ":END_ID", ":TYPE"],
                      [["F1", "I1", "Husband"]])
        write_csv_dir(os.path.join(rel, "rawTag=FAMS"), [":START_ID", ":END_ID", ":TYPE"],
                      [["I1", "F1", "Spouse in Family"], ["I2", "F1", "Spouse in Family"]])

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def part(self, rel):
        d = os.path.join(self.out, rel)
        return os.path.join(d, sorted(os.listdir(d))[-1])

    def test_accepts_faithful_output(self):
        digest, parts = run.check_csvs(self.out, self.exp)
        self.assertEqual(parts, 8)
        self.assertEqual(digest, run.check_csvs(self.out, self.exp)[0])

    def test_rejects_wrong_row_count(self):
        self.exp["node_rows"]["INDI"] = 4
        with self.assertRaisesRegex(run.BenchError, "3 rows, expected 4"):
            run.check_csvs(self.out, self.exp)

    def test_rejects_a_truncated_row(self):
        path = self.part("nodes-INDI")
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(",Individual\n", "\n", 1))
        with self.assertRaisesRegex(run.BenchError, "fields"):
            run.check_csvs(self.out, self.exp)

    def test_rejects_a_changed_header(self):
        path = self.part("relationships/rawTag=FAMS")
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(":END_ID", ":END", 1))
        with self.assertRaises(run.BenchError):
            run.check_csvs(self.out, self.exp)

    def test_rejects_changed_content_across_passes(self):
        digests = []
        op = {"kind": "import", "answer": {"exit_code": 0, "csv_dir": self.out}}
        self.assertIsNone(run.check_import(op, self.exp, digests))
        path = self.part("nodes-INDI")
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace("Cy", "Cz"))
        self.assertRegex(run.check_import(op, self.exp, digests), "differs")

    def test_rejects_a_missing_output(self):
        shutil.rmtree(os.path.join(self.out, "nodes-FAM"))
        with self.assertRaisesRegex(run.BenchError, "missing"):
            run.check_csvs(self.out, self.exp)


class RegistryChecker(unittest.TestCase):
    """Later executions of a query must return the first execution's rows."""

    def setUp(self):
        self.saved = run.oracle_verdicts
        self.wrong = {}
        run.oracle_verdicts = lambda names, tables, results: {
            n: w for n, w in self.wrong.items() if n in names}

    def tearDown(self):
        run.oracle_verdicts = self.saved

    @staticmethod
    def op(query, phase, rows=3, digest="ab"):
        return {"kind": "query", "phase": phase, "ok": True, "error": "",
                "answer": {"query": query, "rows": rows, "digest": digest}}

    def test_accepts_equal_passes(self):
        ops = [self.op("q1", "first"), self.op("q2", "cold"),
               self.op("q1", "warm"), self.op("q2", "warm")]
        self.assertEqual(run.check_registry(ops, "t", "r"), [])

    def test_rejects_a_warm_result_that_differs(self):
        ops = [self.op("q1", "first"), self.op("q1", "warm", digest="cd"),
               self.op("q1", "warm", rows=4)]
        failures = run.check_registry(ops, "t", "r")
        self.assertEqual([f["op"] for f in failures], [1, 2])
        self.assertRegex(failures[0]["why"], "differ")

    def test_names_an_oracle_mismatch_once_per_operation(self):
        self.wrong = {"q99": "row count 3 != 4"}
        ops = [self.op("q1", "first"), self.op("q99", "cold"), self.op("q99", "warm")]
        failures = run.check_registry(ops, "t", "r")
        self.assertEqual([(f["op"], f["query"]) for f in failures], [(1, "q99"), (2, "q99")])


# figures each workload reports by name beside the gated metrics
REPORTED = {
    "ged-import": ["import_first_s", "import_mb_per_s", "pin_ratio", "error_rate"],
    "registry": ["query_p50_s", "query_p90_s", "suite_s", "error_rate"],
}


class EndToEnd(unittest.TestCase):
    """Every workload prints every declared metric, with its unit."""

    def bench(self, workload, trace, seed=1):
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        return json.loads(lines[-2]), json.loads(lines[-1])

    def test_every_workload_prints_every_metric(self):
        spec = declared()
        for w in spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    report, res = self.bench(w["name"], trace)
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"], report["failures"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in spec[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for name in REPORTED[w["name"]]:
                        self.assertIn("unit", report["report"][name])
                    for host_key in ("nproc", "heap_max_bytes", "loadavg_start",
                                     "loadavg_end", "spark_version", "source_sha256"):
                        self.assertIn(host_key, report["host"])

    def test_new_seed_keeps_the_names(self):
        _, a = self.bench("ged-import", 0, seed=1)
        _, b = self.bench("ged-import", 0, seed=2)
        self.assertEqual(sorted(a["metrics"]), sorted(b["metrics"]))


if __name__ == "__main__":
    unittest.main()

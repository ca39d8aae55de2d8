"""The benchmark's own tests: its checks accept correct outputs and
refuse planted wrong ones, and BENCHMARK.json matches what run.py prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No JVM is needed: the ETL tests use a small declared catalog of their own.
"""
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def small_meta():
    """All 12 tables with a key, an upper-cased name, a decimal and a
    timestamp column."""
    def spec(key, one_to_one, extra=()):
        fields = [{"name": key, "type": "string"}] + [{"name": c, "type": "string"}
                                                        for c in extra]
        fields += [{"name": "encoder_fullname", "type": "string"},
                   {"name": "amount", "type": "decimal(10,2)"},
                   {"name": "date_created", "type": "timestamp"}]
        return {"key": key, "one_to_one": one_to_one, "upper": ["encoder_fullname"],
                "schema": {"type": "struct", "fields": fields}}
    farmers = ["farmers_kyc1", "farmers_kyc2", "farmers_kyc3", "farmers_kyc4",
               "farmers_attachments", "farmers_fca", "farmers_form_attachments",
               "farmers_livelihood"]
    tables = {t: spec("rsbsa_no", t.startswith("farmers_kyc")) for t in farmers}
    for t in ("farmparcelactivity", "farmparcelattachments", "farmparcelownership"):
        tables[t] = spec("rsbsa_no", False, ["parcel_id"])
    tables["farmparcel"] = spec("parcel_id", False)
    return {"tables": tables, "oracle": {}}


def plant(path, mutate):
    """Rewrites a parquet file with ``mutate`` applied to its rows."""
    table = pq.read_table(path)
    rows = mutate(table.to_pylist())
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), path)


class EtlCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.meta = small_meta()
        gen.write_etl(self.dir, self.meta, seed=5, n_farmers=40, n_batches=3, batch_rows=30)
        self.snap = os.path.join(self.dir, "snap")
        shutil.copytree(os.path.join(self.dir, "target0"), self.snap)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_unchanged_target_matches(self):
        self.assertEqual(check.EtlModel(self.meta, self.dir).compare(self.snap), [])

    def test_planted_wrong_value_fails(self):
        def wrong(rows):
            rows[0]["encoder_fullname"] = "someone else"
            return rows
        plant(os.path.join(self.snap, "farmers_livelihood.parquet"), wrong)
        problems = check.EtlModel(self.meta, self.dir).compare(self.snap)
        self.assertTrue(any(p.startswith("farmers_livelihood") for p in problems), problems)

    def test_planted_duplicate_key_fails(self):
        plant(os.path.join(self.snap, "farmers_kyc2.parquet"), lambda rows: rows + rows[:1])
        problems = check.EtlModel(self.meta, self.dir).compare(self.snap)
        self.assertTrue(any("more than one row" in p for p in problems), problems)

    def test_replay_counts_invalid_rows_and_cascades(self):
        model = check.EtlModel(self.meta, self.dir)
        total, skipped, extracted = model.apply(
            os.path.join(self.dir, "batches", "b000.parquet"))
        self.assertEqual((total, skipped), (30, 3))
        self.assertEqual(set(extracted), set(gen.BATCH_TABLES) | {"farmparcel"})
        self.assertGreater(extracted["farmparcel"], 0)

    def test_touched_keys_mirror_source_upper_cased(self):
        model = check.EtlModel(self.meta, self.dir)
        batch = os.path.join(self.dir, "b.parquet")
        key = next(iter(model.source["farmers_fca"]))
        pq.write_table(pa.table({"log_id": pa.array([1], pa.int64()), "rsbsa_no": [key],
                                 "table": ["farmers_fca"]}), batch)
        untouched = dict(model.target["farmers_fca"])
        model.apply(batch)
        name = model.columns["farmers_fca"].index("encoder_fullname")
        want = [r[name] and r[name].upper() for r in model.source["farmers_fca"][key]]
        self.assertEqual([r[name] for r in model.target["farmers_fca"][key]], want)
        untouched.pop(key, None)
        self.assertTrue(all(model.target["farmers_fca"][k] == v for k, v in untouched.items()))


class QueryCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        data = os.path.join(self.dir, "data")
        os.makedirs(data)
        pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, None]}),
                       os.path.join(data, "t.parquet"))
        self.meta = {"oracle": {"q": "SELECT k, v * 2 AS w FROM t"}}
        self.data = data

    def tearDown(self):
        shutil.rmtree(self.dir)

    def result(self, rows):
        out = os.path.join(self.dir, "out", "q")
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table({"w": [r[1] for r in rows], "k": [r[0] for r in rows]}),
                       os.path.join(out, "part-0.parquet"))
        answers = check.oracle_answers(self.meta, self.data, ["q"],
                                       os.path.join(self.dir, "oracle.pkl"))
        return check.check_queries(self.meta, self.data, os.path.join(self.dir, "out"),
                                   ["q"], answers)["q"]

    def test_same_rows_in_any_order_pass(self):
        self.assertIsNone(self.result([(3, None), (1, 1.0), (2, 3.0)]))

    def test_planted_wrong_row_fails(self):
        self.assertIn("row", self.result([(1, 1.0), (2, 3.5), (3, None)]))

    def test_missing_row_fails(self):
        self.assertIn("rows", self.result([(1, 1.0), (2, 3.0)]))


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_what_run_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.SIZES))


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark's correctness checks: each check passes on a
right output and fails on a deliberately wrong one.

    python3 perfbench/test_checks.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class Tmp(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".work"))
        self.con = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def path(self, *p):
        full = os.path.join(self.dir, *p)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        return full

    def write(self, rel, cols):
        pq.write_table(pa.table(cols), self.path(rel))


class MedallionCheck(Tmp):
    def layers(self, drop_silver_row=False, gold_off=0, bronze_again_off=False):
        flags = ["clean", "duplicate_suspected", "clean", "incomplete_data", "clean"]
        amount = [10.0, 5.0, 0.0, 20.0, 30.0]
        dates = ["2025-08-01", "2025-08-01", "2025-08-02", "2025-08-02", "2025-08-02"]
        bronze = {"id": list(range(5)), "data_quality_flag": flags, "transaction_amount": amount}
        self.write("bronze/part-0.parquet", bronze)
        keep = [i for i in range(5) if flags[i] != "duplicate_suspected"]
        if drop_silver_row:
            keep = keep[1:]
        for d in sorted(set(dates)):
            ids = [i for i in keep if dates[i] == d]
            self.write(f"silver/interaction_date={d}/part-0.parquet",
                       {"id": ids, "transaction_amount": [amount[i] for i in ids]})
        again = dict(bronze, transaction_amount=amount[:-1] + [31.0]) \
            if bronze_again_off else bronze
        self.write("bronze_again/part-0.parquet", again)
        for d, n in (("2025-08-01", 1), ("2025-08-02", 2 + gold_off)):
            self.write(f"gold/interaction_date={d}/part-0.parquet", {"total_transactions": [n]})
        return {k: os.path.join(self.dir, k) for k in ("bronze", "bronze_again", "silver", "gold")}

    def test_right_output_passes(self):
        self.assertEqual(checks.medallion(self.con, self.layers()), [])

    def test_one_silver_row_dropped(self):
        self.assertTrue(checks.medallion(self.con, self.layers(drop_silver_row=True)))

    def test_gold_transactions_off(self):
        self.assertTrue(checks.medallion(self.con, self.layers(gold_off=1)))

    def test_bronze_not_deterministic(self):
        self.assertTrue(checks.medallion(self.con, self.layers(bronze_again_off=True)))


class DedupCheck(Tmp):
    """Replica 0: doc 0, its exact copy 1, its near copy 2 (one letter
    changed), unrelated docs 3 and 4; replica 1 repeats them with ids
    shifted. Right output keeps 0, 3 and 4."""
    A = " ".join(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"] * 6)
    TEXTS = [A, A, A[:10] + "#" + A[11:],
             " ".join(["kilo", "lima", "mike", "november", "oscar", "papa"] * 7),
             " ".join(["quebec", "romeo", "sierra", "tango", "uniform", "victor"] * 7)]

    def check(self, kept_ids, k1_ids):
        ids, texts = [], []
        for r in range(2):
            ids += [i + r * checks.REPLICA_STRIDE for i in range(len(self.TEXTS))]
            texts += [f"{t} r{r}" for t in self.TEXTS]
        self.write("corpus.parquet", {"doc_id": ids, "text": texts})
        text = dict(zip(ids, texts))
        self.write("kept.parquet/part-0.parquet",
                   {"doc_id": kept_ids, "text": [text[i] for i in kept_ids]})
        c = {"kept": self.path("kept.parquet"), "kept_k1_ids": k1_ids}
        return checks.dedup(self.con, c, self.path("corpus.parquet"), sample=100)

    def test_right_output_passes(self):
        self.assertEqual(self.check([0, 3, 4], [0, 3, 4]), [])

    def test_one_near_duplicate_kept(self):
        self.assertTrue(self.check([0, 2, 3, 4], [0, 3, 4]))
        self.assertTrue(self.check([0, 2, 3, 4], [0, 2, 3, 4]))

    def test_exact_duplicate_kept(self):
        self.assertTrue(self.check([0, 1, 3, 4], [0, 1, 3, 4]))

    def test_replica_kept(self):
        self.assertTrue(self.check([checks.REPLICA_STRIDE, 3, 4], [0, 3, 4]))

    def test_drop_without_near_duplicate(self):
        self.assertTrue(self.check([0, 3], [0, 3]))


class CatalogCheck(Tmp):
    SIZES = {"catalog_rows": 2000, "append_rows": 300, "merge_rows": 100,
             "merge_new_rows": 20, "rounds": 2, "delete_mod": 97}

    def obs(self, model):
        return {"cow": model, "mor": json.loads(json.dumps(model)), "cow_mor_row_diff": 0}

    def cow_table(self, seed):
        """A committed copy-on-write table holding the model's final rows."""
        *_, (_, live) = checks.catalog_states(seed, self.SIZES)
        with open(self.path("wh", "db", "cow", "_current"), "w") as f:
            f.write("v-1\nv-0\n")
        ids = sorted(live)
        self.write("wh/db/cow/v-1/part-0.parquet",
                   {"id": ids, "grp": [i % 16 for i in ids], "v": [live[i] for i in ids]})
        return checks.catalog_model(seed, self.SIZES)

    def run_check(self, obs):
        c = dict(self.SIZES, warehouse=self.path("wh"), passes=[obs])
        return checks.catalog(self.con, c, 3)

    def test_right_output_passes(self):
        self.assertEqual(self.run_check(self.obs(self.cow_table(3))), [])

    def test_table_off_by_one_delete(self):
        obs = self.obs(self.cow_table(3))
        obs["mor"][0]["count"] -= 1
        self.assertTrue(self.run_check(obs))

    def test_read_result_wrong(self):
        obs = self.obs(self.cow_table(3))
        obs["cow"][1]["groups"][0][2] += 1
        self.assertTrue(self.run_check(obs))

    def test_tables_differ(self):
        obs = dict(self.obs(self.cow_table(3)), cow_mor_row_diff=2)
        self.assertTrue(self.run_check(obs))

    def test_committed_files_wrong(self):
        obs = self.obs(self.cow_table(3))
        self.write("wh/db/cow/v-1/part-1.parquet", {"id": [5], "grp": [5], "v": [1]})
        self.assertTrue(self.run_check(obs))


class SqlCheck(Tmp):
    def setUp(self):
        super().setUp()
        gen.write_star_schema(os.path.dirname(self.path("data", "x")), 1, 0.001)
        self.query = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"

    def check(self, change_value):
        self.con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                         f"read_parquet('{self.path('data', 'nation.parquet')}')")
        rows = self.con.execute(self.query + " ORDER BY 1").fetchall()
        if change_value:
            rows[0] = (rows[0][0], rows[0][1] + 1)
        self.write("out/g1/part-0.parquet", {"n_regionkey": pa.array([r[0] for r in rows],
                                                                     pa.int32()),
                                             "n": pa.array([r[1] for r in rows], pa.int64())})
        c = {"out": self.path("out"), "gates": 1, "oracle": {"g1": self.query}}
        return checks.sql(duckdb.connect(), c, self.path("data"))

    def test_right_output_passes(self):
        self.assertEqual(self.check(False), [])

    def test_one_value_changed(self):
        self.assertTrue(self.check(True))


class StageCheck(unittest.TestCase):
    def test_equal_stage_counts_pass(self):
        self.assertEqual(checks.same_stages([12, 12, 12]), [])

    def test_cached_plan_reuse_fails(self):
        self.assertTrue(checks.same_stages([12, 8]))


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         run.per_layer())
        self.assertEqual(tuple(m["name"] for m in b["end_to_end"]), run.END_TO_END)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()

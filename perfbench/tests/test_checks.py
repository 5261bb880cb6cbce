"""Each correctness check accepts a right output and rejects a perturbed one.

    python3 -m unittest discover -s perfbench/tests

The "right" outputs are built here from the generated inputs with
plain Python, the way the program should produce them; each test then
perturbs one thing (a dropped event, a resurrected deleted row, recall
under the floor, a changed value) and expects the check to fail.
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def write_csv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")


WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".work")


class Tmp(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self._tmp = tempfile.TemporaryDirectory(dir=WORK)
        self.dir = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def path(self, name):
        return os.path.join(self.dir, name)


class StreamAndReplay(Tmp):
    def setUp(self):
        super().setUp()
        self.ndjson = self.path("events.ndjson")
        gen.write_events(self.ndjson, gen.rng_for(7, 1), 0, 600, 5, 2, 0.2)
        self.kept = checks.kept_events(self.ndjson)

    def test_stream_accepts_every_event_once(self):
        write_csv(self.path("got.csv"), self.kept)
        self.assertEqual(checks.check_stream(self.kept, self.path("got.csv"), "s"), [])

    def test_stream_rejects_a_dropped_event(self):
        write_csv(self.path("got.csv"), self.kept[:100] + self.kept[101:])
        self.assertTrue(checks.check_stream(self.kept, self.path("got.csv"), "s"))

    def test_stream_rejects_a_duplicate(self):
        # same count and names as the kept events, one id delivered twice
        got = self.kept[:-1] + [self.kept[0]]
        got[-1] = (self.kept[0][0], self.kept[-1][1])
        write_csv(self.path("got.csv"), got)
        self.assertTrue(checks.check_stream(self.kept, self.path("got.csv"), "s"))

    def test_replay_rejects_a_dropped_event(self):
        expected = checks.replay_oracle(self.ndjson, 10)
        write_csv(self.path("ok.csv"), expected)
        self.assertEqual(checks.check_replay(expected, self.path("ok.csv"), "t"), [])
        # the program lost one kept event: its windows shift
        with open(self.ndjson) as f:
            lines = f.read().splitlines()
        drop = next(i for i, l in enumerate(lines) if json.loads(l)["n"] != "noise")
        short = self.path("short.ndjson")
        with open(short, "w") as f:
            f.write("\n".join(lines[:drop] + lines[drop + 1:]) + "\n")
        write_csv(self.path("bad.csv"), checks.replay_oracle(short, 10))
        self.assertTrue(checks.check_replay(expected, self.path("bad.csv"), "t"))


class Lake(Tmp):
    OPS = ["append", "merge", "delete_mor", "delete", "compact", "checkpoint", "vacuum"]

    def program_output(self, ops_dir, cycles):
        """What a correct ManifestLog run writes: the op log, every
        version's change feed and the table after each cycle."""
        model = checks.LakeModel(checks.load_kv(f"{ops_dir}/init.parquet"))
        v = 1
        log = []
        for c in range(cycles):
            for op in self.OPS:
                before = v
                if op in checks.OP_FILES:
                    ins, dels = model.apply(op, f"{ops_dir}/c{c}-{checks.OP_FILES[op]}.parquet")
                    v += 1
                    rows = [(k, x, "insert") for (k, x) in ins.elements()] + \
                           [(k, x, "delete") for (k, x) in dels.elements()]
                    write_csv(self.path(f"lake_cf_{v}.csv"), rows)
                log.append((c, op, before, v))
            write_csv(self.path(f"lake_read_{c}.csv"), sorted(model.rows.items()))
        write_csv(self.path("lake_ops.csv"), log)
        return model

    def setUp(self):
        super().setUp()
        self.ops = self.path("ops")
        gen.lake_ops(self.ops, gen.rng_for(3, 4), 300, 2, 40, 30, 0.1, 20, 1.2, 1)
        self.model = self.program_output(self.ops, 2)

    def test_accepts_the_model_run(self):
        self.assertEqual(checks.check_lake(self.ops, self.dir), [])

    def test_rejects_a_resurrected_deleted_row(self):
        deleted = checks.load_keys(f"{self.ops}/c1-del.parquet")[0]
        rows = checks.read_csv(self.path("lake_read_1.csv")) + [[str(deleted), "12345"]]
        write_csv(self.path("lake_read_1.csv"), rows)
        self.assertTrue(checks.check_lake(self.ops, self.dir))

    def test_rejects_a_change_feed_missing_a_delete(self):
        log = checks.read_csv(self.path("lake_ops.csv"))
        v = next(int(after) for c, op, _, after in log if op == "delete")
        rows = checks.read_csv(self.path(f"lake_cf_{v}.csv"))
        write_csv(self.path(f"lake_cf_{v}.csv"), [r for r in rows if r[2] != "delete"][:-1])
        self.assertTrue(checks.check_lake(self.ops, self.dir))

    def test_serve_rejects_a_wrong_version_read(self):
        serve = self.path("serve")
        ops, ranges = gen.serve_ops(serve, gen.rng_for(3, 5), 500, 50, 1)
        expected = checks.serve_expected(serve, ops, ranges)
        write_csv(self.path("serve.csv"), [l.split(",") for l in expected])
        self.assertEqual(checks.check_serve(expected, self.path("serve.csv")), [])
        bad = [l.split(",") for l in expected]
        bad[1][2] = str(int(bad[1][2]) + 1)  # one more row at version 2
        write_csv(self.path("serve.csv"), bad)
        self.assertTrue(checks.check_serve(expected, self.path("serve.csv")))


class Ann(Tmp):
    def setUp(self):
        super().setUp()
        emb = self.path("emb.parquet")
        gen.embeddings(emb, gen.rng_for(5, 6), 400)
        self.exact = checks.exact_topk(emb)
        self.all = checks.ann_queries("lsh", self.exact)

    def recall_of(self, rows, queries=None):
        write_csv(self.path("got.csv"), rows)
        return checks.recall(self.exact, self.path("got.csv"), queries or self.all)

    def test_recall_floor(self):
        right = [(q, n) for q, ns in self.exact.items() for n in ns]
        r = self.recall_of(right)
        self.assertEqual(r, 1.0)
        self.assertEqual(checks.check_ann({"lsh": r}), [])
        # keep two of each query's five neighbours: recall 0.4
        r = self.recall_of([(q, n) for q, ns in self.exact.items() for n in sorted(ns)[:2]] +
                           [(q, 10_000 + i) for q in self.exact for i in range(3)])
        self.assertAlmostEqual(r, 0.4)
        self.assertTrue(checks.check_ann({"lsh": r}))

    def test_a_dropped_query_counts(self):
        # no rows for 40% of the queries: recall 0.6, under the floor
        kept = set(self.all[: int(len(self.all) * 0.6)])
        r = self.recall_of([(q, n) for q, ns in self.exact.items() if q in kept for n in ns])
        self.assertAlmostEqual(r, 0.6)
        self.assertTrue(checks.check_ann({"ivf": r}))
        # dropping a single query's rows already lowers recall
        one = self.all[0]
        r = self.recall_of([(q, n) for q, ns in self.exact.items() if q != one for n in ns])
        self.assertLess(r, 1.0)

    def test_binary_answers_its_own_queries(self):
        queries = checks.ann_queries("binary", self.exact)
        self.assertEqual(queries, list(range(checks.BINARY_QUERIES)))
        right = [(q, n) for q in queries for n in self.exact[q]]
        self.assertEqual(self.recall_of(right, queries), 1.0)
        # rows for an unknown id count no hits instead of raising
        self.assertAlmostEqual(self.recall_of(right[5:] + [(10**9, 1)], queries), 0.9)


class Battery(Tmp):
    def test_rejects_a_changed_value(self):
        tables = self.path("tables")
        gen.battery_tables(tables, gen.rng_for(2, 7), 50, 20, 30, 3)
        out = self.path("out")
        os.makedirs(f"{out}/q")
        sql = "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 10"
        with open(f"{out}/oracle_sql.json", "w") as f:
            json.dump({"q": sql}, f)
        t = pq.read_table(f"{tables}/customer.parquet").select(["c_custkey", "c_acctbal"])
        t = t.slice(0, 10)
        pq.write_table(t, f"{out}/q/part-0.parquet")
        self.assertEqual(checks.check_battery(tables, out), [])
        bal = t.column("c_acctbal").to_pylist()
        bal[3] += 0.01
        pq.write_table(t.set_column(1, "c_acctbal", pa.array(bal)), f"{out}/q/part-0.parquet")
        self.assertTrue(checks.check_battery(tables, out))


if __name__ == "__main__":
    unittest.main()

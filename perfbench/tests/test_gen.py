"""Seeded generators: determinism, seed sensitivity, Spark bucketing."""
import json
import os
import re
import tempfile
import unittest

import pyarrow.parquet as pq

from pb import gen, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read(path):
    with open(path, "rb") as f:
        return f.read()


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(os.path.join(d, "a"), 7, "check")
            gen.write_tables(os.path.join(d, "b"), 7, "check")
            for t in os.listdir(os.path.join(d, "a")):
                self.assertEqual(_read(os.path.join(d, "a", t)), _read(os.path.join(d, "b", t)), t)

    def test_other_seed_other_inputs(self):
        a = gen.documents(7, 50, gen.doc_id_offset(7))
        b = gen.documents(8, 50, gen.doc_id_offset(8))
        self.assertNotEqual(a.column("text").to_pylist(), b.column("text").to_pylist())
        self.assertNotEqual(a.column("doc_id").to_pylist(), b.column("doc_id").to_pylist())

    def test_other_seed_other_bucket_map(self):
        def bucket_map(seed):
            off = gen.doc_id_offset(seed)
            return [gen.bucket_of(str(off + i), 16) for i in range(5000)]
        self.assertEqual(bucket_map(3), bucket_map(3))
        self.assertNotEqual(bucket_map(3), bucket_map(4))

    def test_doc_ids_leave_room_for_planted_copies(self):
        for seed in range(50):
            self.assertLess(gen.doc_id_offset(seed) + 5000, 1_000_000)

    def test_documents_shape(self):
        t = gen.documents(1, 300, 0)
        words = {w for s in t.column("text").to_pylist() for w in s.split()}
        self.assertLessEqual(words, set(gen.VOCAB) | {"dup"})
        self.assertEqual(t.column("n_chars").to_pylist(), [len(s) for s in t.column("text").to_pylist()])


class SparkHash(unittest.TestCase):
    def test_matches_spark_murmur3(self):
        # Murmur3_x86_32.hashUnsafeBytes(utf8, seed 42), as Spark's hash() computes it
        known = {"": 142593372, "a": 1485273170, "abcd": -396302900, "abcde": 814637928,
                 "123456": 1543825241, "héllo": 1212979866}
        for s, h in known.items():
            self.assertEqual(gen.spark_hash(s), h, s)

    def test_bucket_is_a_non_negative_modulo(self):
        self.assertEqual(gen.bucket_of("abcd", 16), -396302900 % 16)
        self.assertEqual(sum(gen.bucket_counts([str(i) for i in range(1000)], 16)), 1000)


class RealPageVariants(unittest.TestCase):
    html = ("<html><head><script>var words = 'do not touch these words';</script></head><body>"
            "<p>alpha bravo charlie delta echo foxtrot</p><nav>Home</nav>"
            "<div>golf hotel india juliet kilo lima mike</div></body></html>")

    def test_deterministic_and_distinct(self):
        a = gen.page_variant(self.html, 1, 0)
        self.assertEqual(a, gen.page_variant(self.html, 1, 0))
        self.assertNotEqual(a, gen.page_variant(self.html, 1, 1))
        self.assertNotEqual(a, gen.page_variant(self.html, 2, 0))

    def test_edits_only_text_runs(self):
        v = gen.page_variant(self.html, 3, 5)
        tags = re.compile(r"<[^>]*>")
        self.assertEqual(tags.findall(v), tags.findall(self.html))
        self.assertIn("var words = 'do not touch these words';", v)
        self.assertIn("<nav>Home</nav>", v)
        self.assertNotIn("alpha bravo charlie delta echo foxtrot", v)

    def test_doc_rows_round_trip(self):
        rows = gen.real_docs([self.html, self.html], 1, 3)
        self.assertEqual(len(rows), 6)
        self.assertEqual(len({html for _, html in rows}), 6)
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "x.parquet")
            gen.write_doc_rows(p, rows)
            t = pq.read_table(p)
            self.assertEqual(t.schema, gen.DOC_ROW_SCHEMA)
            self.assertEqual(t.num_rows, 6)


class BenchmarkJson(unittest.TestCase):
    """BENCHMARK.json lists exactly the metrics run.py prints."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_workloads(self):
        self.assertEqual({w["name"]: w["why"] for w in self.b["workloads"]}, metrics.WORKLOADS)
        for w in self.b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)

    def test_end_to_end(self):
        got = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in self.b["end_to_end"]}
        self.assertEqual(got, metrics.END_TO_END)
        self.assertEqual(max(m["bound"] for m in self.b["end_to_end"]),
                         metrics.END_TO_END["setup_s"][2])

    def test_per_layer(self):
        got = {m["name"]: (m["unit"], m["better"]) for m in self.b["per_layer"]}
        self.assertEqual(got, metrics.PER_LAYER)
        for m in self.b["per_layer"] + self.b["end_to_end"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


if __name__ == "__main__":
    unittest.main()

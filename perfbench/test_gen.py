"""Tests for the benchmark's input generator.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digests(d):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a, cls.a2, cls.b = (os.path.join(cls.tmp.name, n) for n in ("a", "a2", "b"))
        gen.generate(cls.a, 7)
        gen.generate(cls.a2, 7)
        gen.generate(cls.b, 8)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def read(self, d, t):
        return pq.read_table(os.path.join(d, f"{t}.parquet")).to_pydict()

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(digests(self.a), digests(self.a2))

    def test_other_seed_assigns_ids_differently(self):
        for t, key, col in [("documents", "doc_id", "text"),
                            ("embeddings", "vec_id", "embedding"),
                            ("events", "event_id", "ts"),
                            ("lineitem", "l_orderkey", "l_partkey")]:
            a, b = self.read(self.a, t), self.read(self.b, t)
            self.assertEqual(len(a[key]), len(b[key]), t)
            pairs_a = set(zip(a[key], map(str, a[col])))
            pairs_b = set(zip(b[key], map(str, b[col])))
            self.assertLess(len(pairs_a & pairs_b), len(pairs_a) // 10, t)

    def test_one_single_row_group_file_per_table_with_sf001_counts(self):
        counts = dict(gen.COUNTS, region=5, nation=25)
        self.assertEqual(sorted(os.listdir(self.a)),
                         sorted(f"{t}.parquet" for t in gen.TABLES))
        for t in gen.TABLES:
            meta = pq.ParquetFile(os.path.join(self.a, f"{t}.parquet")).metadata
            self.assertEqual(meta.num_row_groups, 1, t)
            self.assertEqual(meta.num_rows, counts[t], t)

    def test_keys_the_engine_relies_on(self):
        docs = self.read(self.a, "documents")
        emb = self.read(self.a, "embeddings")
        ev = self.read(self.a, "events")
        self.assertTrue(set(emb["vec_id"]) <= set(docs["doc_id"]))
        self.assertEqual(len(set(ev["event_id"])), len(ev["event_id"]))
        self.assertEqual(ev["ts"], sorted(ev["ts"]))
        self.assertTrue(all(len(v) == gen.DIM for v in emb["embedding"]))
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
        dups = [t for t in docs["text"] if t.endswith(" dup")]
        self.assertEqual(len(dups), len(docs["text"]) // 20)
        # most copies still have their original; a few lost it to a later copy
        kept = set(t[:-4] for t in dups) & set(docs["text"])
        self.assertGreaterEqual(len(kept), 0.8 * len(dups))

    def test_schemas_match_the_engine_tables(self):
        want = {
            "documents": "doc_id:int64 text:string lang:string source:string n_chars:int64",
            "embeddings": "vec_id:int64 embedding:list<element: float> label:int32",
            "events": "event_id:int64 ts:timestamp[us] user_id:int64 event_type:string "
                      "value:double props:string",
            "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 "
                        "l_linenumber:int32 l_quantity:double l_extendedprice:double "
                        "l_discount:double l_tax:double l_returnflag:string "
                        "l_linestatus:string l_shipdate:timestamp[us]",
            "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string "
                      "o_totalprice:double o_orderdate:timestamp[us] o_orderpriority:string",
        }
        for t, cols in want.items():
            schema = pq.read_schema(os.path.join(self.a, f"{t}.parquet"))
            self.assertEqual(" ".join(f"{f.name}:{f.type}" for f in schema), cols, t)


if __name__ == "__main__":
    unittest.main()

"""Seeded inputs: the same seed gives byte-identical files, another seed
gives different ones."""
import hashlib
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_snapshot_same_seed_is_byte_identical(self):
        gen.sync_snapshot(self.path("a"), 7, 3)
        gen.sync_snapshot(self.path("b"), 7, 3)
        a, b = digests(self.path("a")), digests(self.path("b"))
        self.assertEqual(len(a), 10)
        self.assertEqual(a, b)

    def test_snapshot_other_seed_or_snapshot_differs(self):
        gen.sync_snapshot(self.path("a"), 7, 3)
        gen.sync_snapshot(self.path("b"), 8, 3)
        gen.sync_snapshot(self.path("c"), 7, 4)
        a, b, c = (digests(self.path(x)) for x in "abc")
        for t in ("orders.parquet", "lineitem.parquet", "documents.parquet",
                  "embeddings.parquet"):
            self.assertNotEqual(a[t], b[t], t)
            self.assertNotEqual(a[t], c[t], t)
        # the fixed dimension tables do not depend on the seed
        self.assertEqual(a["nation.parquet"], b["nation.parquet"])

    def test_crawl_ids_rise_from_snapshot_to_snapshot(self):
        gen.base_crawl(self.path("base"), 7)
        gen.sync_snapshot(self.path("s0"), 7, 0)
        gen.sync_snapshot(self.path("s1"), 7, 1)
        con = duckdb.connect()

        def ids(d, t="documents", c="doc_id"):
            p = self.path(f"{d}/{t}.parquet")
            return {r[0] for r in con.sql(f"SELECT {c} FROM '{p}'").fetchall()}
        base, s0, s1 = ids("base"), ids("s0"), ids("s1")
        self.assertEqual(base, set(range(gen.SF001["documents"])))
        # each snapshot drops some base ids and adds ids above every earlier crawl's
        self.assertTrue(base - s0 and base - s1)
        self.assertGreater(min(s0 - base), max(base))
        self.assertGreater(min(s1 - base), max(s0))
        self.assertEqual(ids("base", "embeddings", "vec_id"),
                         set(range(gen.SF001["embeddings"])))
        self.assertGreater(min(ids("s1", "embeddings", "vec_id") - base), max(s0))
        con.close()

    def test_corpus_seeded(self):
        gen.corpus(self.path("a"), 3, 1, 270)
        gen.corpus(self.path("b"), 3, 1, 270)
        gen.corpus(self.path("c"), 4, 1, 270)
        self.assertEqual(digests(self.path("a")), digests(self.path("b")))
        self.assertNotEqual(digests(self.path("a")), digests(self.path("c")))

    def test_corpora_of_a_sequence_slide_a_tenth(self):
        gen.corpus(self.path("a"), 3, 0, 270)
        gen.corpus(self.path("b"), 3, 1, 270)
        con = duckdb.connect()

        def docs(d):
            return dict(con.sql(f"SELECT doc_id, text FROM "
                                f"'{self.path(d)}/documents.parquet'").fetchall())
        a, b = docs("a"), docs("b")
        con.close()
        self.assertEqual((len(a), len(b)), (270, 270))
        self.assertEqual(set(a) - set(b), set(range(27)))
        self.assertEqual(set(b) - set(a), set(range(270, 297)))
        # a document that stays keeps its text
        self.assertTrue(all(a[x] == b[x] for x in set(a) & set(b)))

    def test_ensure_generates_once(self):
        calls = []

        def make(p):
            calls.append(p)
            gen.corpus(p, 1, 0, 10)
        gen.ensure(self.path("x"), make)
        gen.ensure(self.path("x"), make)
        self.assertEqual(len(calls), 1)
        self.assertTrue(os.path.exists(self.path("x/documents.parquet")))


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's seeded generators and output checks.

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests -v
The image-corpus test builds the benchmark first (perfbench/build.py).
"""
import glob
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402


def tree_bytes(root):
    out = {}
    for p in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


class Generators(unittest.TestCase):
    def parquet_bytes(self, table):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "t.parquet")
            gen.write_parquet(table, p)
            with open(p, "rb") as f:
                return f.read()

    def test_docs_corpus_is_a_function_of_the_seed(self):
        a = self.parquet_bytes(gen.docs_corpus(7, 400))
        self.assertEqual(a, self.parquet_bytes(gen.docs_corpus(7, 400)))
        self.assertNotEqual(a, self.parquet_bytes(gen.docs_corpus(8, 400)))

    def test_docs_corpus_plants_exact_duplicates_and_low_quality(self):
        texts = gen.docs_corpus(7, 400)["text"].to_pylist()
        self.assertGreaterEqual(len(texts) - len(set(texts)), 30)
        self.assertGreaterEqual(sum(check.quality(t) < 0.5 for t in texts), 40)

    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.tables(seed, 0.01, os.path.join(d, name))
            a, b, c = (tree_bytes(os.path.join(d, n)) for n in "abc")
        self.assertEqual(a, b)
        self.assertEqual(sorted(a), sorted(c))
        self.assertNotEqual(a, c)

    def test_vocab_is_a_function_of_the_seed(self):
        self.assertEqual(gen.vocab_json(1, 500), gen.vocab_json(1, 500))
        self.assertNotEqual(gen.vocab_json(1, 500), gen.vocab_json(2, 500))

    def test_image_corpus_is_a_function_of_the_seed(self):
        build.build()
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                subprocess.run(["java", "-cp", build.classpath(), "graft.perfbench.Prep",
                                os.path.join(d, name), str(seed), "12", "40", "90"], check=True)
            a, b, c = (tree_bytes(os.path.join(d, n)) for n in "abc")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        malformed = a["malformed.txt"].decode().split()
        self.assertEqual(len(malformed), 3)
        self.assertEqual(len([k for k in a if k.startswith("images")]), 12 + 3)
        self.assertEqual(a[os.path.join("images", malformed[0])], b"")


class Checks(unittest.TestCase):
    expected = {"d0/a.jpg": "general, tag one", "d1/b.png": "sensitive"}
    malformed = {"d1/bad.png"}
    good_snapshot = {"d0/a.jpg": "general, tag one", "d1/b.png": "sensitive", "d1/bad.png": None}

    def test_correct_sidecars_pass(self):
        self.assertEqual(check.check_tags(self.expected, [self.good_snapshot] * 2, self.malformed),
                         (6, 0))

    def test_corrupted_sidecar_is_caught(self):
        bad = dict(self.good_snapshot, **{"d0/a.jpg": "general, tag on"})
        self.assertEqual(check.check_tags(self.expected, [self.good_snapshot, bad],
                                          self.malformed), (6, 1))

    def test_missing_or_extra_sidecar_is_caught(self):
        missing = dict(self.good_snapshot, **{"d1/b.png": None})
        extra = dict(self.good_snapshot, **{"d1/bad.png": ""})
        self.assertEqual(check.check_tags(self.expected, [missing, extra], self.malformed), (6, 2))

    def reference_survivors(self, corpus):
        good = {i: t for i, t in corpus.items() if check.quality(t) >= 0.5}
        keepers = {}
        for i, t in sorted(good.items()):
            keepers.setdefault(t, i)
        comp = check.near_dup_components({i: good[i] for i in keepers.values()})
        roots = {}
        for i, r in sorted(comp.items()):
            roots.setdefault(r, i)
        return set(roots.values()), comp

    def test_curate_checks_catch_a_dropped_survivor(self):
        t = gen.docs_corpus(11, 300)
        corpus = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        surv, comp = self.reference_survivors(corpus)
        self.assertEqual(check.check_curate(corpus, [surv, set(surv)]), (600, 0))
        lone = next(i for i in sorted(surv) if list(comp.values()).count(comp[i]) == 1)
        # dropped in job 1: it has no kept partner (and the survivor sets
        # differ); a document counts once per job
        self.assertEqual(check.check_curate(corpus, [surv, surv - {lone}]), (600, 1))
        self.assertEqual(check.check_curate(corpus, [surv - {lone}]), (300, 1))

    def test_curate_checks_catch_a_kept_exact_duplicate(self):
        t = gen.docs_corpus(11, 300)
        corpus = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        surv, _ = self.reference_survivors(corpus)
        by_text = {}
        for i, x in corpus.items():
            by_text.setdefault(x, []).append(i)
        dup = next(max(ids) for x, ids in sorted(by_text.items())
                   if len(ids) > 1 and check.quality(x) >= 0.5)
        self.assertEqual(check.check_curate(corpus, [surv | {dup}]), (300, 1))

    def test_wrong_query_hash_is_caught(self):
        records = [{"job": -1, "name": "q", "rows": 3, "hash": 10},
                   {"job": -1, "name": "p", "rows": 1, "hash": 5},
                   {"job": 0, "name": "q", "rows": 3, "hash": 10},
                   {"job": 0, "name": "p", "rows": 1, "hash": 5},
                   {"job": 1, "name": "q", "rows": 3, "hash": 11},
                   {"job": 1, "name": "p", "rows": 1, "hash": 5}]
        self.assertEqual(check.check_queries(records, set()), (4, 1))
        self.assertEqual(check.check_queries(records, {"p"}), (4, 3))


if __name__ == "__main__":
    unittest.main()

"""The input generator: seeded, byte-identical per seed, checks consistent.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SIZES = {
    "incremental_syncs": dict(n_syncs=3, n_warmup=2, events_per_sync=200),
    "query_mix": dict(sf=0.001),
}


def files(d):
    return sorted(os.listdir(d))


class GenTest(unittest.TestCase):
    def make(self, workload, seed):
        d = tempfile.mkdtemp(prefix="perfbench-gen-")
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        gen.generate(workload, seed, d, **SIZES[workload])
        return d

    def test_same_seed_gives_byte_identical_files(self):
        for w in SIZES:
            a, b = self.make(w, 7), self.make(w, 7)
            self.assertEqual(files(a), files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_different_seed_gives_different_files(self):
        for w in SIZES:
            a, b = self.make(w, 7), self.make(w, 8)
            _, mismatch, _ = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertTrue(mismatch, w)

    def test_sync_manifest_matches_the_files(self):
        d = self.make("incremental_syncs", 1)
        m = json.load(open(os.path.join(d, "manifest.json")))
        self.assertEqual(len(m["syncs"]), 3)
        n_events = 0
        for s in m["syncs"]:
            lines = [json.loads(l) for l in open(os.path.join(d, s["file"]))]
            states = [l["value"] for l in lines if l["type"] == "STATE"]
            self.assertEqual(json.dumps(states[-1], separators=(",", ":")), s["state"])
            self.assertEqual(lines[-2], {"type": "ACTIVATE_VERSION", "stream": "plans",
                                         "version": json.loads(s["state"])["bookmarks"]["plans"]["version"]})
            n_events += sum(1 for l in lines if l.get("stream") == "events" and l["type"] == "RECORD")
            self.assertEqual(s["bytes"], os.path.getsize(os.path.join(d, s["file"])))
        self.assertEqual(m["expect"]["events"]["count"], n_events)
        self.assertEqual(m["expect"]["plans"]["version"], 1004)
        self.assertEqual([w["file"] for w in m["warmup_syncs"]],
                         ["warm_0000.jsonl", "warm_0001.jsonl"])

    def test_row_hash_is_crc32_of_joined_fields(self):
        self.assertEqual(gen.row_crc([1, "a", 250]), zlib.crc32(b"1|a|250"))


if __name__ == "__main__":
    unittest.main()

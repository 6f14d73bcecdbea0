#!/usr/bin/env python3
"""Tests of the seeded input generators (run: python3 perfbench/test_gen.py).

The counts the benchmark's output checks rely on are re-derived here from
the written files alone, independently of the generator's bookkeeping.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def snapshot(root):
    """{relative path: (sha256 of bytes, mtime)} for every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = (digest, int(os.stat(p).st_mtime))
    return out


def uid_key(src, rec):
    """The silver asset_uid key string of one bronze record."""
    def canon(v):
        return None if v is None else v.strip(" ").lower()
    if src == "rapid7":
        parts = [canon(rec.get("hostName")), canon(rec.get("ip")),
                 None if rec.get("id") is None else str(rec["id"])]
    else:
        parts = [canon(rec.get("name")), canon(rec.get("accessIp")),
                 rec["_id"]["$oid"]]
    return "|".join(p for p in parts if p is not None)


class BronzeTest(unittest.TestCase):

    def gen(self, workload, seed, warm=False):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        exp = gen.write_bronze(d, workload, seed, warm)
        return d, exp

    def test_same_seed_same_bytes(self):
        for workload in ("ingest_trickle", "ingest_backlog"):
            a, ea = self.gen(workload, 7)
            b, eb = self.gen(workload, 7)
            self.assertEqual(snapshot(os.path.join(a, "bronze")),
                             snapshot(os.path.join(b, "bronze")))
            self.assertEqual(ea, eb)

    def test_other_seed_other_bytes(self):
        a, _ = self.gen("ingest_trickle", 7)
        b, _ = self.gen("ingest_trickle", 8)
        self.assertNotEqual(snapshot(a), snapshot(b))

    def test_expected_counts_match_files(self):
        for workload, warm in (("ingest_backlog", False),
                               ("ingest_trickle", False),
                               ("ingest_backlog", True)):
            root, exp = self.gen(workload, 3, warm)
            events, corrupt, keys, drift = 0, 0, {}, []
            for src in gen.SHAPES[workload]["sources"]:
                d = os.path.join(root, "bronze", f"{src}_assets")
                names = sorted(os.listdir(d))
                for i, name in enumerate(names):
                    with open(os.path.join(d, name)) as f:
                        try:
                            recs = json.load(f)
                        except json.JSONDecodeError:
                            corrupt += 1
                            continue
                    events += len(recs)
                    for r in recs:
                        k = uid_key(src, r)
                        keys[k] = keys.get(k, 0) + 1
                        if src == "rapid7":
                            drift.append((i >= len(names) // 2,
                                          type(r["osCertainty"])))
            self.assertEqual(events, exp["events"])
            self.assertEqual(corrupt, exp["corrupt_files"])
            self.assertGreater(corrupt, 0)
            self.assertEqual(len(keys), exp["distinct_uids"])
            probe = [k for k in keys if hashlib.sha256(k.encode()).hexdigest()
                     == exp["probe_uid"]]
            self.assertEqual(len(probe), 1)
            self.assertEqual(keys[probe[0]], exp["probe_rows"])
            # the drifting field: a string before mid-stream, a number after
            self.assertEqual({t for late, t in drift if not late}, {str})
            self.assertEqual({t for late, t in drift if late}, {float})


class BoardTest(unittest.TestCase):

    def test_board_is_fixed(self):
        a, b = tempfile.mkdtemp(), tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, a)
        self.addCleanup(shutil.rmtree, b)
        gen.board(a)
        gen.board(b)
        sa = {k: v[0] for k, v in snapshot(a).items()}
        sb = {k: v[0] for k, v in snapshot(b).items()}
        self.assertEqual(sa, sb)
        self.assertEqual(len(sa), 10)


if __name__ == "__main__":
    unittest.main()

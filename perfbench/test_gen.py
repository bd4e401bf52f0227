"""Tests of the benchmark's input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

# sha256 of the canonical JSON of everything fleet(0) returns; a change
# to the generator that moves it changes every later measurement
FLEET_0_SHA256 = ("e6fea32045556b2a76d9c26ba427aae0"
                  "55718b5149559290941e4ff1f58a99ab")


def digest(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True)
                          .encode()).hexdigest()


class FleetTest(unittest.TestCase):

    def test_same_seed_same_fleet_and_expectations(self):
        self.assertEqual(digest(gen.fleet(5)), digest(gen.fleet(5)))
        self.assertNotEqual(digest(gen.fleet(5)), digest(gen.fleet(6)))

    def test_seed_zero_is_pinned(self):
        self.assertEqual(digest(gen.fleet(0)), FLEET_0_SHA256)

    def test_refresh_changes_only_perturbed_rows(self):
        plan, fleet, expect = gen.fleet(3)
        pert = expect["perturbed_edges"]
        ch = expect["changed"]
        self.assertEqual([k[0] for k in ch["Edge"]], pert)
        self.assertEqual([k[0] for k in ch["License"]], pert)
        self.assertEqual(sorted(k[0] for k in ch["Links"]), pert)
        for t in ["Customer", "EdgeAttributes", "CustomerAttributes"]:
            self.assertEqual(ch[t], [])
        # new events are inserts: none of them existed in generation A
        a_events = {e["event_id"] for v in plan["vcos"]
                    for e in fleet["A"][v]["event/getEnterpriseEvents"]}
        self.assertTrue(ch["Events"])
        self.assertFalse({k[0] for k in ch["Events"]} & a_events)
        self.assertEqual(len(ch["DailyQOE"]), len(pert))

    def test_faults_cover_retry_and_fallback(self):
        plan, _, _ = gen.fleet(1)
        self.assertGreater(plan["fault_percent"], 0)
        self.assertIn(plan["no_license_vco"], plan["vcos"])


class TablesTest(unittest.TestCase):

    def test_same_seed_same_tables(self):
        import pyarrow.parquet as pq
        sizes = {"documents": 50, "embeddings": 20, "events": 100,
                 "orders": 30}
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.write_tables(9, a, sizes)
            gen.write_tables(9, b, sizes)
            for t in ["documents", "embeddings", "events", "orders",
                      "lineitem"]:
                ta = pq.read_table(os.path.join(a, t + ".parquet"))
                tb = pq.read_table(os.path.join(b, t + ".parquet"))
                self.assertTrue(ta.equals(tb), t)


if __name__ == "__main__":
    unittest.main()

#!/usr/bin/env python3
"""Self-test of the benchmark's output check: a run against an expected
file with one deliberately altered result must report exactly that query
as failed, and the unaltered query beside it as passed.

Usage: python3 perfbench/test_check.py
"""
import json
import shutil
import sys
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


class OutputCheckTest(unittest.TestCase):
    def test_altered_expected_result_fails_its_query(self):
        spec = run.load_json(HERE / "workloads.json")["short_mix"]
        expected = run.load_json(HERE / "expected" / f"{spec['sf']}.json")
        altered_q, kept_q = [q for q in spec["queries"]
                         if expected["queries"][q]["check"] == "hash"][:2]
        work = build.build_dir() / "test_check"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            entry = expected["queries"][altered_q]
            h = entry["sha256"]
            entry["sha256"] = ("0" if h[0] != "0" else "1") + h[1:]
            altered = work / "expected.json"
            altered.write_text(json.dumps(expected))
            r = build.jvm(build.build(), "run",
                        ["--queries", f"{altered_q},{kept_q}",
                         "--data", str(HERE / "data" / spec["sf"]),
                         "--expected", str(altered), "--seed", "0", "--seconds", "0",
                         "--trace", "0", "--t0", repr(time.time() * 1000.0)],
                        work / "run", work / "run.log")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        passes = r["stamp"]["passes"]
        self.assertEqual(r["attempted"], 2 * passes)
        self.assertEqual(r["failed"], passes)
        self.assertEqual({f["query"] for f in r["failures"]}, {altered_q})
        for f in r["failures"]:
            self.assertIn("digest mismatch", f["reason"])
        self.assertEqual(r["end_to_end"]["failed_frac"], 0.5)


if __name__ == "__main__":
    unittest.main()

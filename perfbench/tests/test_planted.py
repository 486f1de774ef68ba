#!/usr/bin/env python3
"""Self-test of the benchmark's output check: a run against an expected
file with a wrong row count for a core query, and wrong digests for a core
query and for a member of the seed's sweep slice, must report each op by
name and must not read as correct.

Run from the repository root:  python3 perfbench/tests/test_planted.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
EXPECTED = os.path.join(BENCH, "expected", "sf0.01.tsv")


def plant(path, rows_of, digests_of):
    with open(EXPECTED) as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        parts = line.split("\t")
        if parts[0] == rows_of:
            parts[1] = str(int(parts[1]) + 1)
        if parts[0] in digests_of:
            parts[2] = "%016x" % (int(parts[2], 16) ^ 1)
        out.append("\t".join(parts))
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")


class PlantedExpectedValue(unittest.TestCase):
    def test_wrong_expected_values_are_reported(self):
        planted = os.path.join(BENCH, ".out", "planted.tsv")
        os.makedirs(os.path.dirname(planted), exist_ok=True)
        # d7_agg_cube and a2_csv_roundtrip are in the cell_storage core;
        # b14_first_key is in the sweep slice of seed 0
        plant(planted, rows_of="d7_agg_cube",
              digests_of=("a2_csv_roundtrip", "b14_first_key"))
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "cell_storage",
             "--seed", "0", "--seconds", "1", "--trace", "0", "--expected", planted],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 3)
        detail = json.loads(next(l for l in lines if l.startswith("perfbench detail "))
                            .split(" ", 2)[2])
        failures = " | ".join(detail["failures"])
        self.assertIn("d7_agg_cube: ", failures)
        self.assertIn("a2_csv_roundtrip: content digest", failures)
        self.assertIn("b14_first_key: content digest", failures)
        self.assertGreater(detail["failed_frac"], 0)


if __name__ == "__main__":
    unittest.main()

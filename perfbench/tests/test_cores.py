#!/usr/bin/env python3
"""Checks that the workload cores in Workloads.scala are the ones the
rank-stratified rule of run.py picks from the recorded query times, so a
core cannot drift from its measurement unnoticed.

Run from the repository root:  python3 perfbench/tests/test_cores.py
"""
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402

WORKLOADS = os.path.join(BENCH, "src", "main", "scala", "graft", "bench", "Workloads.scala")


def scala_cores():
    with open(WORKLOADS) as f:
        src = f.read()
    out = {}
    for m in re.finditer(r'Battery\("(\w+)",[^,]+,\s*Seq\(([^)]*)\),', src):
        out[m.group(1)] = re.findall(r'"(\w+)"', m.group(2))
    return out


class CoresFollowTheRule(unittest.TestCase):
    def test_cores_are_the_rule_picks(self):
        warm = run.read_times()
        cores = scala_cores()
        self.assertEqual(set(cores), set(run.CORES))
        for name, (prefixes, k) in run.CORES.items():
            self.assertEqual(cores[name], run.core_of(warm, prefixes, k), name)


if __name__ == "__main__":
    unittest.main()

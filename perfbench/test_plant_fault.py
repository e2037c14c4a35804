"""The benchmark's own test: a planted fault must be caught and counted.

    python3 perfbench/test_plant_fault.py

Runs one short benchmark per checker (the ETL replication and the registry
oracle) with --plant-fault, which alters one aggregate row or one query
result after the run, and asserts the run reports incorrect with at least
one failed operation.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
                        "--seconds", "1", "--trace", "0", "--plant-fault"],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, p.stdout
    return json.loads(p.stdout.strip().splitlines()[-1])


class PlantedFault(unittest.TestCase):
    def test_etl_checker_catches_altered_aggregate_row(self):
        r = run("etl_peak_day")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)

    def test_registry_checker_catches_altered_query_result(self):
        r = run("registry")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()

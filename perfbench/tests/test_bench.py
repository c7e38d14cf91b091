"""Tests of the benchmark itself: seeded inputs, planted defects, metric names.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import csv
import datetime as dt
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def dir(self, *parts):
        p = os.path.join(self.tmp.name, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def path(self, *parts):
        return os.path.join(self.dir(*parts[:-1]), parts[-1])

    def test_taxi_csv_is_a_function_of_the_seed(self):
        a, b, c = (self.path(n, "taxi.csv") for n in "abc")
        gen.taxi_csv(7, a, 3000)
        gen.taxi_csv(7, b, 3000)
        gen.taxi_csv(8, c, 3000)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_arrival_files_are_a_function_of_the_seed(self):
        def files(seed, name):
            return [digest(p) for p in gen.arrivals(
                seed, gen.documents_table(seed, 400), self.dir(name), 3)]
        self.assertEqual(files(7, "a"), files(7, "b"))
        self.assertNotEqual(files(7, "a"), files(8, "c"))

    def test_star_schema_is_a_function_of_the_seed(self):
        def tables(seed, name):
            out = self.dir(name)
            gen.star_schema(seed, out, customers=60, events=200, n_docs=50, n_vectors=40)
            return {f: digest(os.path.join(out, f)) for f in sorted(os.listdir(out))}
        self.assertEqual(tables(3, "a"), tables(3, "b"))
        self.assertNotEqual(tables(3, "a"), tables(4, "c"))

    def test_planted_defects_give_the_expected_core_count(self):
        p = self.path("t", "taxi.csv")
        exp = gen.taxi_csv(11, p, 5000)
        self.assertEqual(exp["raw_texi"], 5000)
        self.assertEqual(exp["core_texi"], exp["rows"] - exp["duplicates"] - exp["null_dropoff"]
                         - exp["zero_duration"] - exp["over_300_mph"])
        self.assertTrue(all(exp[k] > 0 for k in
                            ("duplicates", "null_dropoff", "zero_duration", "over_300_mph")))
        # recount independently with the core model's rules
        keys = ["VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
                "RateCodeID", "payment_type", "dropoff_longitude", "dropoff_latitude",
                "fare_amount"]
        seen, kept, lines = set(), 0, 0
        with open(p) as f:
            for r in csv.DictReader(f):
                lines += 1
                if not r["tpep_pickup_datetime"] or not r["tpep_dropoff_datetime"]:
                    continue
                key = tuple(r[k] for k in keys)
                if key in seen:
                    continue
                seen.add(key)
                t0, t1 = (dt.datetime.strptime(r[k], "%Y-%m-%d %H:%M:%S")
                          for k in ("tpep_pickup_datetime", "tpep_dropoff_datetime"))
                secs = (t1 - t0).total_seconds()
                if secs > 0 and float(r["trip_distance"]) / (secs / 3600.0) <= 300.0:
                    kept += 1
        self.assertEqual(lines, exp["raw_texi"])
        self.assertEqual(kept, exp["core_texi"])


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_and_units_are_valid(self):
        for group in ("workloads", "end_to_end", "per_layer"):
            names = [m["name"] for m in self.spec[group]]
            self.assertEqual(len(names), len(set(names)), group)
            for n in names:
                self.assertRegex(n, NAME)
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)

    def test_emitted_metrics_are_the_declared_ones(self):
        declared = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(declared, run.END_TO_END)
        declared = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(declared, run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]], sorted(run.WORKLOADS))

    def test_setup_time_is_declared(self):
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in self.spec["end_to_end"])}])


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark's Python side: the metric schema, the
statistics and bound math, and the dedup oracle gate's ability to fail.

    python3 perfbench/run.py --selftest   (also runs the JVM-side gate cases)
"""
import copy
import json
import os
import statistics
import unittest

import pandas as pd

import report

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def spec():
    with open(SPEC) as fh:
        return json.load(fh)


class SchemaTest(unittest.TestCase):
    def test_benchmark_json_is_valid(self):
        report.validate_benchmark(spec())

    def test_every_name_is_unique_and_well_formed(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"] + s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, report.NAME_RE)

    def test_workloads_match_the_harness(self):
        self.assertEqual(tuple(w["name"] for w in spec()["workloads"]), report.WORKLOADS)

    def test_end_to_end_names_match_what_a_run_reports(self):
        n = report.REF_NOMINAL_S
        doc = {"workload": "scan_ocr", "docs_in": 10,
               "session_s": 10.0,
               "setup_rounds": [{"documents_s": 1, "synthesis_s": 1, "warmup_s": 9, "ref_s": n},
                                {"documents_s": 1, "synthesis_s": 1, "warmup_s": 2, "ref_s": n},
                                {"documents_s": 1, "synthesis_s": 1, "warmup_s": 1, "ref_s": n}],
               "samples": {"pass_s": [2.0, 3.0, 4.0], "extract_docs_per_s": [1.0, 2.0, 5.0],
                           "ref_s": [n, n, n]},
               "heap_peak_mb": 100.0}
        got = report.end_to_end(doc)
        self.assertEqual(set(got), {m["name"] for m in spec()["end_to_end"]})
        # the median warm round; session start and the cold round are not set-up
        self.assertEqual(got["setup_s"], 4)
        self.assertEqual(got["pass_s"], 3.0)
        self.assertEqual(got["docs_per_s"], 2.0)

    def test_end_to_end_is_at_reference_speed(self):
        n = report.REF_NOMINAL_S
        doc = {"setup_rounds": [{"documents_s": 1, "synthesis_s": 1, "warmup_s": 2, "ref_s": 2 * n}],
               # the box slows by half in the last pass, and the reference with it
               "samples": {"pass_s": [2.0, 2.0, 3.0], "extract_docs_per_s": [4.0, 4.0, 2.0],
                           "ref_s": [n, n, 1.5 * n]}}
        got = report.end_to_end(doc)
        self.assertAlmostEqual(got["setup_s"], 2.0)
        self.assertAlmostEqual(got["pass_s"], 2.0)
        self.assertAlmostEqual(got["docs_per_s"], 4.0)
        self.assertAlmostEqual(report.wall_figures(doc)["e2e.pass_wall_s"], 2.0)

    def test_rejections(self):
        base = spec()
        breakers = [
            lambda s: s["end_to_end"][0].update(bound=0.3),
            lambda s: s["per_layer"].append(dict(s["per_layer"][0])),
            lambda s: s["per_layer"][0].update(unit="micro seconds"),
            lambda s: s["end_to_end"].remove(next(m for m in s["end_to_end"]
                                                  if m["name"] == "setup_s")),
            lambda s: s.update(run_seconds=61),
            lambda s: s["paths"].append("../elsewhere"),
            lambda s: s["workloads"][0].update(why="x" * 201),
        ]
        for breaker in breakers:
            s = copy.deepcopy(base)
            breaker(s)
            with self.assertRaises(ValueError):
                report.validate_benchmark(s)

    def traced_bulk(self, names):
        """A traced bulk_extract document that emits every layer it should."""
        samples = {"pass_s": [1.0, 1.0, 1.0], "traced_pass_s": [1.5, 1.5, 1.5],
                   "ref_s": [0.1, 0.2, 0.3],
                   "narrow_docs_per_s": [10.0, 30.0, 20.0],
                   "extract_docs_per_s": [5.0, 5.0, 5.0]}
        layers = {n: [1.0] for n in names
                  if report.emitted_by(n) in (None, "bulk_extract")
                  and not n.startswith("trace.")
                  and n not in ("e2e.heap_peak_mb", "e2e.narrow_docs_per_s",
                                "e2e.extract_docs_per_s", "e2e.session_s",
                                "e2e.cold_setup_s", "e2e.pass_wall_s", "e2e.setup_wall_s",
                                "e2e.ref_s")}
        layers.update({"spark.jobs": [3, 4, 5], "e2e.scale_eff": [0.7]})
        return {"workload": "bulk_extract", "heap_peak_mb": 5.0, "session_s": 9.0,
                "cold_setup": {"documents_s": 2, "synthesis_s": 4, "warmup_s": 7},
                "setup_rounds": [{"documents_s": 1, "synthesis_s": 1, "warmup_s": 1, "ref_s": 0.1}],
                "layers": layers, "samples": samples}

    def test_per_layer_fills_other_workloads_layers_and_rejects_unknown_names(self):
        names = [m["name"] for m in spec()["per_layer"]]
        doc = self.traced_bulk(names)
        got = report.per_layer(doc, names)
        self.assertEqual(list(got), names)
        self.assertEqual(got["spark.jobs"], 4)
        self.assertEqual(got["e2e.scale_eff"], 0.7)
        self.assertEqual(got["e2e.narrow_docs_per_s"], 20.0)
        self.assertEqual(got["e2e.cold_setup_s"], 13)
        self.assertEqual(got["e2e.setup_wall_s"], 3)
        self.assertEqual(got["e2e.ref_s"], 0.2)
        self.assertEqual(got["ops.Dedup.d02_s"], 0.0)
        self.assertAlmostEqual(got["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(got["trace.overhead_frac"], 0.5)
        doc["layers"]["not.declared"] = [1]
        with self.assertRaises(ValueError):
            report.per_layer(doc, names)

    def test_per_layer_rejects_a_missing_layer_of_its_own_workload(self):
        names = [m["name"] for m in spec()["per_layer"]]
        for lost in ("pipeline.Kernel.scanned.us_p50", "spark.tasks"):
            doc = self.traced_bulk(names)
            del doc["layers"][lost]
            with self.assertRaises(ValueError):
                report.per_layer(doc, names)


class StatsTest(unittest.TestCase):
    def test_quartiles_follow_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        q1, q2, q3 = report.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, statistics.median(xs))
        self.assertAlmostEqual(report.spread(xs), (q3 - q1) / q2)

    def test_quartiles_of_one_value(self):
        self.assertEqual(report.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(report.spread([2.5]), 0.0)

    def test_spread_of_identical_values_is_zero(self):
        self.assertEqual(report.spread([4.0] * 10), 0.0)

    def test_bound_respects_direction(self):
        self.assertFalse(report.regressed(10.0, 10.9, "lower", 0.1))
        self.assertTrue(report.regressed(10.0, 11.1, "lower", 0.1))
        self.assertFalse(report.regressed(100.0, 91.0, "higher", 0.1))
        self.assertTrue(report.regressed(100.0, 89.0, "higher", 0.1))
        self.assertFalse(report.regressed(10.0, 5.0, "lower", 0.1))

    def test_summary(self):
        self.assertEqual(report.summary([1.0, 2.0, 3.0, 4.0, 5.0]),
                         {"median": 3.0, "q1": 1.5, "q3": 4.5, "n": 5})


class OracleCompareTest(unittest.TestCase):
    def pairs(self):
        return pd.DataFrame({"id_a": [1, 2, 3, 7], "id_b": [4, 5, 6, 8],
                             "jaccard": [0.5, 0.75, 1.0, 0.625]})

    def test_same_rows_in_another_order_pass(self):
        ok, _ = report.compare(self.pairs().iloc[::-1], self.pairs())
        self.assertTrue(ok)

    def test_one_dropped_pair_fails(self):
        ok, detail = report.compare(self.pairs().drop(index=2), self.pairs())
        self.assertFalse(ok)
        self.assertIn("rows=3/4", detail)

    def test_one_changed_value_fails(self):
        bad = self.pairs()
        bad.loc[1, "jaccard"] = 0.76
        self.assertFalse(report.compare(bad, self.pairs())[0])

    def test_schema_difference_fails(self):
        bad = self.pairs().astype({"id_a": "int32"})
        ok, detail = report.compare(bad, self.pairs())
        self.assertFalse(ok)
        self.assertIn("schema=False", detail)


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark's Python side: `python3 perfbench/run.py --selftest`."""
import json
import math
import unittest

import run


class ResultLineTest(unittest.TestCase):
    def test_every_metric_is_emitted_with_its_unit(self):
        bench = run.spec()
        for mode in ("end_to_end", "per_layer"):
            metrics = bench[mode]
            values = {m["name"]: 1.5 for m in metrics}
            line = json.loads(run.result_line(True, 3, 0, values, metrics))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            for m in metrics:
                self.assertEqual(line["metrics"][m["name"]], {"value": 1.5, "unit": m["unit"]})

    def test_a_missing_metric_is_an_error(self):
        metrics = [{"name": "a", "unit": "s"}, {"name": "b", "unit": "ms"}]
        with self.assertRaises(KeyError):
            run.result_line(True, 1, 0, {"a": 1.0}, metrics)

    def test_escaping(self):
        line = run.result_line(False, 1, 1, {'q"\\\n': 2.0}, [{"name": 'q"\\\n', "unit": "s"}])
        self.assertNotIn("\n", line)
        self.assertEqual(json.loads(line)["metrics"]['q"\\\n']["value"], 2.0)


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count_and_tail(self):
        p = run.percentiles(range(1, 1001), [50, 99])
        self.assertEqual(p["n"], 1000)
        self.assertEqual(p["p50"], 500)
        self.assertEqual(p["p99"], 990)
        self.assertEqual(p["above_p99"], 10)

    def test_empty(self):
        p = run.percentiles([], [99])
        self.assertEqual(p["n"], 0)
        self.assertTrue(math.isnan(p["p99"]))


if __name__ == "__main__":
    unittest.main()

"""Span arithmetic, the percentile rule and the per-layer ratios."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import layers  # noqa: E402


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(layers.self_ms((0, 10), []), 10)

    def test_nested_children(self):
        # A job inside another job's interval covers nothing new.
        self.assertEqual(layers.self_ms((0, 100), [(10, 40), (20, 30)]), 70)

    def test_overlapping_children(self):
        # (10, 40) and (30, 60) overlap on 10 ms: covered is 50, not 60.
        self.assertEqual(layers.self_ms((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_clipped_to_parent(self):
        # A job that started before the span and one that outlives it.
        self.assertEqual(layers.self_ms((10, 50), [(0, 20), (45, 70)]), 25)

    def test_tree(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100},
            {"id": 1, "parent": 0, "start": 10, "end": 60},
            {"id": "j1", "parent": 1, "start": 20, "end": 40},
            {"id": "j2", "parent": 1, "start": 30, "end": 50},
            {"id": "j3", "parent": 0, "start": 70, "end": 80},
        ]
        got = {s["id"]: s["self_ms"] for s in layers.with_self_times(spans)}
        self.assertEqual(got, {0: 40, 1: 20, "j1": 20, "j2": 20, "j3": 10})


class PercentileTest(unittest.TestCase):
    def test_no_p90_below_ten_samples_beyond(self):
        p50, p90 = layers.percentiles(list(range(99)))
        self.assertEqual(p50, 49)
        self.assertIsNone(p90)

    def test_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        p50, p90 = layers.percentiles(xs)
        self.assertEqual(p50, 50.5)
        self.assertEqual(p90, 90)
        self.assertEqual(sum(x > p90 for x in xs), 10)

    def test_empty(self):
        self.assertEqual(layers.percentiles([]), (None, None))


class RecordsReadRatioTest(unittest.TestCase):
    def test_two_scan_flow(self):
        """A quarantine count and a transform write each scan all 500 lines."""
        stages = [{"records_read": 500}, {"records_read": 0}, {"records_read": 500}]
        self.assertEqual(layers.records_read_ratio(stages, 500), 2.0)

    def test_nothing_landed(self):
        self.assertEqual(layers.records_read_ratio([{"records_read": 3}], 0), 0.0)


class FhirLayersTest(unittest.TestCase):
    def test_flow_split(self):
        """Two resources: glob -> count -> write -> promote, then the manifest."""
        flow = {"start": 0, "end": 100}
        fs = [
            {"op": "glob", "path": "/z/landing/A-*.json", "start": 0, "end": 2},
            {"op": "glob", "path": "/z/landing/B-*.json", "start": 45, "end": 46},
            {"op": "list", "path": "/z/promoted/A", "start": 90, "end": 91},
            {"op": "list", "path": "/z/promoted/B", "start": 92, "end": 93},
            # committer listings of other directories are ignored
            {"op": "list", "path": "/z/processed/A/_temporary", "start": 30, "end": 31},
        ]
        sql = [
            {"desc": "count at BulkPipeline.scala:144", "start": 5, "end": 15},
            {"desc": "json at Ndjson.scala:62", "start": 18, "end": 40},
            {"desc": "count at BulkPipeline.scala:144", "start": 50, "end": 55},
            {"desc": "json at Ndjson.scala:62", "start": 56, "end": 80},
            {"desc": "head at BulkPipeline.scala:175", "start": 94, "end": 98},
        ]
        got, spans = layers.fhir_layers(flow, sql, fs)
        self.assertEqual(got, {"ingest.read": 5 + 5, "ingest.quarantine": 10 + 5,
                               "transform.write": 25 + 25, "pipeline.promote": 5 + 10,
                               "manifest.build": 10})
        self.assertEqual(sum(got.values()), 100)
        self.assertEqual(len(spans), 9)


if __name__ == "__main__":
    unittest.main()

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import run  # noqa: E402


def raw(jobs, queries):
    return {"tiles": 312, "setup_s": [1.0, 2.0, 3.0], "jobs": jobs, "queries": queries,
            "out_bytes_per_tile": 100.0, "heap_live_mb": 50.0}


class EndToEndTest(unittest.TestCase):
    def test_fastest_round_and_median(self):
        m = run.end_to_end(raw({ml: [2.0, 1.0] for ml in run.ML_TYPES},
                               {"a": [1.0, 3.0], "b": [2.0, 4.0]}))
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["tiles_per_s.classification"], 312.0)
        self.assertEqual(m["query_s.total"], 3.0)
        self.assertEqual(m["query_s.p50"], 2.5)

    def test_operations_that_always_threw_leave_no_gap(self):
        jobs = {ml: [1.0] for ml in run.ML_TYPES}
        jobs["segmentation"] = []
        m = run.end_to_end(raw(jobs, {"a": [1.0, 3.0], "b": []}))
        self.assertEqual(m["tiles_per_s.segmentation"], 0.0)
        self.assertEqual(m["query_s.total"], 1.0)
        self.assertEqual(m["query_s.p50"], 2.0)


if __name__ == "__main__":
    unittest.main()

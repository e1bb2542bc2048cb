"""Self-tests of the benchmark's own logic.

Run from the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import checkpoint, checks, report, stats  # noqa: E402
from benchlib.modules import group_queries  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 90.1)
        self.assertAlmostEqual(stats.percentile(xs, 0.0), 1.0)
        self.assertAlmostEqual(stats.percentile(xs, 1.0), 100.0)

    def test_order_free_and_single_sample(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(stats.percentile([7.0], 0.75), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(40, 0.75), 10)
        self.assertEqual(stats.samples_beyond(30, 0.75), 8)
        self.assertEqual(stats.samples_beyond(1, 0.5), 0)
        self.assertEqual(stats.samples_beyond(0, 0.5), 0)

    def test_highest_supported(self):
        self.assertEqual(stats.highest_supported(100), 0.9)
        self.assertEqual(stats.highest_supported(1000), 0.99)
        self.assertEqual(stats.highest_supported(40), 0.75)
        self.assertIsNone(stats.highest_supported(15))

    def test_quarter_drift(self):
        self.assertAlmostEqual(stats.quarter_drift([1.0] * 8), 1.0)
        self.assertAlmostEqual(stats.quarter_drift([1, 1, 5, 5, 5, 5, 2, 2]), 2.0)
        self.assertEqual(stats.quarter_drift([1.0, 2.0]), 1.0)


def _log_line(name, batch):
    return json.dumps({"path": f"file:///w/wire/{name}", "timestamp": 1, "batchId": batch})


def _progress(batch_id, log_from, log_to, ts="2026-01-01T00:00:00.000Z", trigger=100):
    return {"batchId": batch_id, "timestamp": ts, "numInputRows": 1,
            "durationMs": {"triggerExecution": trigger},
            "sources": [{"startOffset": None if log_from is None else {"logOffset": log_from},
                         "endOffset": {"logOffset": log_to}}]}


class AttributionTest(unittest.TestCase):
    def _checkpoint(self, files):
        d = tempfile.mkdtemp()
        src = os.path.join(d, "sources", "0")
        os.makedirs(src)
        for name, lines in files.items():
            with open(os.path.join(src, name), "w") as f:
                f.write("v1\n" + "\n".join(lines) + "\n")
        return d

    def test_plain_and_compacted_log(self):
        ckpt = self._checkpoint({
            # a compact file folds in every batch up to its own
            "9.compact": [_log_line("a.json", 0), _log_line("b.json", 3), _log_line("c.json", 9)],
            "10": [_log_line("d.json", 10), _log_line("e.json", 10)],
            "11": [_log_line("f.json", 11)],
            ".11.crc": ["garbage"],
        })
        log = checkpoint.read_source_log(ckpt)
        self.assertEqual(log, {"a.json": 0, "b.json": 3, "c.json": 9,
                               "d.json": 10, "e.json": 10, "f.json": 11})

    def test_plain_files_that_a_compaction_kept(self):
        ckpt = self._checkpoint({"0": [_log_line("a.json", 0)],
                                 "1.compact": [_log_line("a.json", 0), _log_line("b.json", 1)]})
        self.assertEqual(checkpoint.read_source_log(ckpt), {"a.json": 0, "b.json": 1})

    def test_missing_checkpoint_is_empty(self):
        self.assertEqual(checkpoint.read_source_log("/nonexistent/ckpt"), {})

    def test_drops_map_to_the_batch_that_read_their_log_offset(self):
        log = {"a.json": 0, "b.json": 1, "c.json": 1, "d.json": 2}
        progress = [
            _progress(0, None, 0),
            _progress(1, 0, 1, ts="2026-01-01T00:00:01.000Z"),
            _progress(1, 1, 1),  # idle report: offsets did not move
            _progress(2, 1, 2, ts="2026-01-01T00:00:02.500Z", trigger=250),
        ]
        drops = [{"name": n} for n in ("a.json", "b.json", "c.json", "d.json", "late.json")]
        got = checkpoint.attribute(drops, log, progress)
        self.assertEqual([p and p["batchId"] for p in got], [0, 1, 1, 2, None])
        self.assertAlmostEqual(checkpoint.commit_ms(got[3]) - checkpoint.commit_ms(got[1]), 1650.0)

    def test_progress_offsets_as_json_strings(self):
        p = _progress(4, None, None)
        p["sources"][0]["startOffset"] = '{"logOffset":3}'
        p["sources"][0]["endOffset"] = '{"logOffset":4}'
        self.assertEqual(checkpoint.batches_by_log_offset([p])[4]["batchId"], 4)


class ModuleGroupingTest(unittest.TestCase):
    SOURCE = """package graft

import graft.cdc.{Cdc, Materialize}
import graft.analytics.{Relational, Sketches}
import graft.text.TextFunctions
import graft.similarity.Ann

object SparkEntry {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_unwrap" -> ((s, d) =>
      Cdc.unwrap(Cdc.parseEnvelope(Cdc.toWire(s, d)))
        .orderBy("user_id")),
    "q1_agg" -> ((s, d) => Relational.q1Agg(s, d)),
    "q_asof_join" -> ((s, d) => graft.operators.TemporalJoins.asofJoin(s, d)),
    "emb_dup" -> ((s, d) => Ann.exactDupVectors(s, d)),
    "text_tokens" -> ((s, d) => TextFunctions.tokens(s, d)),
    "local_only" -> ((s, d) => helper(s, d)),
  )
  def oracleSql: Map[String, String] = Map()
}
"""

    def test_groups_by_package_of_first_call(self):
        got = group_queries(self.SOURCE, ["cdc_unwrap", "q1_agg", "q_asof_join",
                                          "emb_dup", "text_tokens", "local_only", "absent"])
        self.assertEqual(got, {"cdc_unwrap": "cdc", "q1_agg": "analytics",
                               "q_asof_join": "operators", "emb_dup": "similarity",
                               "text_tokens": "text", "local_only": None, "absent": None})

    def test_real_entry_covers_every_mix_query(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")
        if not os.path.exists(path):
            self.skipTest("graft sources not present")
        with open(path) as f:
            got = group_queries(f.read(), ["q1_agg", "q_asof_join", "cdc_parse_envelope", "dedup_exact",
                                           "ann_nndescent_round", "text_quality", "mm_frame_sample"])
        self.assertEqual(list(got.values()), ["analytics", "operators", "cdc", "dedup",
                                              "similarity", "text", "multimodal"])


class FailureCountTest(unittest.TestCase):
    def test_clean_stream(self):
        self.assertEqual(checks.stream_ops(1500, 0, [5, 9], [9, 5]), (1502, 0))

    def test_stream_mismatches_missing_and_extra_dlq(self):
        # 3 keys wrong, offset 9 never reached the DLQ, offset 11 should not be there
        self.assertEqual(checks.stream_ops(100, 3, [5, 9], [5, 11]), (102, 5))

    def test_failed_never_exceeds_attempted(self):
        self.assertEqual(checks.stream_ops(1, 1, [], [1, 2, 3]), (1, 1))

    def test_batch_counts_each_query_once(self):
        errors = {"q2": "timed pass: boom"}
        mismatches = {"q1": None, "q2": "1/3 rows differ", "q3": "rows differ: oracle 2 spark 1"}
        self.assertEqual(checks.batch_ops(["q1", "q2", "q3", "q4"], errors, mismatches), (4, 2))

    def test_ok_share_in_report(self):
        raw = {"walls": [{"query": "q", "start_ms": 0.0, "end_ms": 500.0, "construct_ms": 10.0}],
               "timed_start_ms": 2000.0, "jvm_start_ms": 0.0, "scan_s": [0.2, 0.1, 0.3],
               "peak_rss_mb": 100.0, "cpus": 4}
        e2e, layer = report.batch(raw, {"q": "analytics"}, 4, 1)
        self.assertAlmostEqual(e2e["ok_share"], 0.75)
        self.assertAlmostEqual(e2e["setup_s"], 2.0)
        self.assertAlmostEqual(e2e["read_back_s"], 0.2)
        self.assertAlmostEqual(layer["analytics.wall_s"], 0.5)
        self.assertEqual(set(e2e), set(report.END_TO_END))
        self.assertEqual(set(layer) | {f"traced.{k}" for k in e2e}, set(report.PER_LAYER))


class BatchReportTest(unittest.TestCase):
    def test_query_wall_is_its_median_over_passes(self):
        # pass 1 ran while the host was busy: it moves neither query's wall
        walls = [{"query": q, "pass": p, "start_ms": 0.0, "end_ms": ms, "construct_ms": 0.0}
                 for p, (a, b) in enumerate([(1000.0, 3000.0), (9000.0, 9000.0), (1200.0, 2800.0)])
                 for q, ms in (("qa", a), ("qb", b))]
        raw = {"walls": walls, "timed_start_ms": 0.0, "jvm_start_ms": 0.0, "scan_s": [0.1],
               "peak_rss_mb": 1.0, "cpus": 4}
        e2e, layer = report.batch(raw, {"qa": "analytics", "qb": "text"}, 2, 0)
        self.assertAlmostEqual(e2e["busy_s"], 1.2 + 3.0)
        self.assertAlmostEqual(e2e["throughput_per_s"], 2 / 4.2)
        self.assertAlmostEqual(e2e["latency_p50_s"], (1.2 + 3.0) / 2)
        self.assertAlmostEqual(layer["analytics.wall_s"], 1.2)
        self.assertEqual(layer["latency.samples"], 2)


class FrameCompareTest(unittest.TestCase):
    def test_cell_compare_ignores_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
        self.assertIsNone(checks.compare_frames(a, b))
        self.assertEqual(checks.compare_frames(a, b.assign(y=["b", "c"])), "1/2 rows differ")
        self.assertIn("columns differ", checks.compare_frames(a, b.rename(columns={"x": "z"})))
        self.assertIn("rows differ", checks.compare_frames(a, b.head(1)))


if __name__ == "__main__":
    unittest.main()

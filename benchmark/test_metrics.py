"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import statistics
import unittest

import metrics


class Stats(unittest.TestCase):
    def test_median_even_and_odd(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(metrics.quartiles(xs), (q[0], q[1], q[2]))
        self.assertAlmostEqual(metrics.iqr_share(xs), (q[2] - q[0]) / q[1])

    def test_quartiles_of_one_sample(self):
        self.assertEqual(metrics.quartiles([2.0]), (2.0, 2.0, 2.0))
        self.assertEqual(metrics.iqr_share([2.0]), 0.0)

    def test_percentile_reports_samples_beyond(self):
        xs = list(range(1, 101))
        v, beyond = metrics.percentile(xs, 90)
        self.assertEqual(v, 90)
        self.assertEqual(beyond, 10)
        v, beyond = metrics.percentile([7.0], 90)
        self.assertEqual((v, beyond), (7.0, 0))

    def test_highest_supported_percentile_needs_ten_beyond(self):
        self.assertEqual(metrics.highest_supported_percentile(1000), 99)
        self.assertEqual(metrics.highest_supported_percentile(200), 95)
        self.assertEqual(metrics.highest_supported_percentile(100), 90)
        self.assertEqual(metrics.highest_supported_percentile(99), 75)
        self.assertEqual(metrics.highest_supported_percentile(12), 50)


class Attribution(unittest.TestCase):
    def test_stage_file_from_call_site(self):
        self.assertEqual(metrics.stage_file("count at Dedup.scala:120"), "Dedup")
        self.assertEqual(metrics.stage_file("parquet at CorpusJob.scala:498"), "CorpusJob")
        self.assertEqual(
            metrics.stage_file("$anonfun$recordDeltaOperation$1 at Classifier.scala:77"),
            "Classifier")
        self.assertIsNone(metrics.stage_file("run at ThreadPoolExecutor.java:1136"))
        self.assertIsNone(metrics.stage_file(""))

    def test_job_goes_to_its_result_stage(self):
        stages = {1: {"name": "count at Dedup.scala:1"},
                  2: {"name": "collect at Packing.scala:9"}}
        self.assertEqual(metrics.job_file({"stages": [1, 2]}, stages), "Packing")
        self.assertIsNone(metrics.job_file({"stages": [7]}, stages))


class Spans(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_us": a, "end_us": b}

    def test_self_time_subtracts_merged_children(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),  # overlap
                 self.span(4, 1, 90, 120),                          # clipped
                 self.span(5, 2, 10, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (60 - 10) - (100 - 90))
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 10)

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(metrics.self_times([self.span(1, 0, 5, 9)]), {1: 4})

    def test_spark_spans_nest_under_group(self):
        op = {"id": 7, "parent": 1, "op": 7, "start_us": 0, "end_us": 10**7}
        spark = {"jobs": [{"id": 0, "group": "bench:7", "submit_ms": 1, "end_ms": 5,
                           "stages": [0]},
                          {"id": 1, "group": "other", "submit_ms": 1, "end_ms": 5,
                           "stages": [1]}],
                 "stages": [{"id": 0, "job": 0, "name": "count at X.scala:1",
                             "submit_ms": 2, "end_ms": 4}]}
        ids = iter(range(100, 200))
        out = metrics.spark_spans(spark, {7: op}, lambda: next(ids))
        self.assertEqual([(s["layer"], s["parent"], s["op"]) for s in out],
                         [("spark.job", 7, 7), ("spark.stage", 100, 7)])


class Checks(unittest.TestCase):
    ref = {"queries": {"q1": {"rows": 3, "hash": "12"}},
           "corpus": {"rows": 5, "hash": "9", "funnel": {"input": 10}}}
    suite = {"workload": "query_suite"}
    corpus = {"workload": "corpus", "batches_landed": 2,
              "streams": [{"run_id": "r", "batch": 0}, {"run_id": "r", "batch": 1}]}

    def op(self, name="q1", **obs):
        return {"name": name, "ok": True, "error": "", "observed": obs}

    def test_query_match_and_mismatch(self):
        self.assertIsNone(metrics.check_op(self.op(rows=3, hash="12"), self.suite, self.ref))
        self.assertIn("hash", metrics.check_op(self.op(rows=3, hash="13"), self.suite, self.ref))
        self.assertEqual(metrics.check_op(self.op("q2", rows=1, hash="1"), self.suite, self.ref),
                         "no reference value")

    def test_corpus_funnel_pinned(self):
        good = self.op("CorpusJob.execute", rows=5, hash="9", funnel={"input": 10})
        bad = self.op("CorpusJob.execute", rows=5, hash="9", funnel={"input": 11})
        self.assertIsNone(metrics.check_op(good, self.corpus, self.ref))
        self.assertIn("funnel.input", metrics.check_op(bad, self.corpus, self.ref))

    def test_stream_must_equal_batch(self):
        same = self.op("CorpusStream.run", rows=5, hash="9", equals_batch=True, run_id="r")
        diff = self.op("CorpusStream.run", rows=5, hash="9", equals_batch=False, run_id="r")
        self.assertIsNone(metrics.check_op(same, self.corpus, self.ref))
        self.assertIn("stream != batch", metrics.check_op(diff, self.corpus, self.ref))

    def test_stream_needs_one_epoch_record_per_batch(self):
        op = self.op("CorpusStream.run", rows=5, hash="9", equals_batch=True, run_id="r")
        missing = dict(self.corpus, streams=[{"run_id": "r", "batch": 0}])
        self.assertIn("1 epoch records for 2 batches",
                      metrics.check_op(op, missing, self.ref))

    def test_failed_call_counts(self):
        op = {"name": "q1", "ok": False, "error": "boom", "observed": {}}
        self.assertEqual(metrics.check_op(op, self.suite, self.ref), "boom")

    def test_memo_stats_parse(self):
        stats = {"pairs": "hit=3,miss=1,toks=4/2", "tf": "5/0", "clf": "1/1,sc=2/0"}
        self.assertEqual(metrics.parse_memo(stats), (3 + 4 + 5 + 1 + 2, 1 + 2 + 0 + 1 + 0))


if __name__ == "__main__":
    unittest.main()

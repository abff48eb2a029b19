"""Tests of the harness's own arithmetic and failure accounting. No JVM:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def progress(rows, start_ms=1000, took_ms=500, gap_ms=1000, run_id="r"):
    """Progress events of consecutive triggers with the given input rows."""
    return [dict(run_id=run_id, batch_id=i, timestamp_ms=start_ms + i * gap_ms, input_rows=r,
                 duration_ms={"triggerExecution": took_ms, "addBatch": took_ms - 100,
                              "latestOffset": 60, "walCommit": 40})
            for i, r in enumerate(rows)]


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(19))), (0.0, 0.0, 19))
        pct, val, n = stats.tail(list(range(1, 21)))
        self.assertEqual((pct, val, n), (50.0, 10, 20))
        pct, val, n = stats.tail(list(range(1, 101)))
        self.assertEqual((pct, val, n), (90.0, 90, 100))
        pct, _, n = stats.tail(list(range(1000)))
        self.assertEqual((pct, n), (99.0, 1000))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(stats.percentile([3, 1, 2, 4], 100), 4)
        self.assertEqual(stats.percentile([7], 99.9), 7)


class Attribution(unittest.TestCase):
    def test_segments_to_triggers_by_cumulative_rows(self):
        p = progress([3000, 0, 1000, 2000])
        self.assertEqual(stats.attribute([1000] * 6, p), [0, 0, 0, 2, 3, 3])

    def test_uncovered_segment_is_none(self):
        p = progress([2000])
        self.assertEqual(stats.attribute([1000] * 3, p), [0, 0, None])
        self.assertEqual(stats.attribute([1000], []), [None])

    def test_freshness_from_due_time_to_commit(self):
        res = dict(rows_per_segment=1000, startup_segments=1, live_segments=3, backlog_segments=0,
                   live_warmup_segments=1, due_us=[800_000, 900_000, 2_000_000])
        # live segment 0 is warm-up; segment 1 commits with trigger 0 at
        # 1.5 s, segment 2 with trigger 1 at 3.5 s
        self.assertEqual(metrics.kpi_samples(res, progress([3000, 1000], gap_ms=2000)), [0.6, 1.5])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, name="x"):
        return dict(trace=1, id=i, parent=parent, name=name, start_us=a, end_us=b)

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),
                 self.span(4, 1, 90, 150)]
        st = stats.self_times(spans)
        # children cover [10, 60] and [90, 100] of the parent
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_trigger_phases_are_children_of_the_trigger(self):
        ids = iter(range(1, 100))
        spans = stats.trigger_spans(progress([1000]), lambda: next(ids))
        root = spans[0]
        self.assertEqual(root["end_us"] - root["start_us"], 500_000)
        self.assertEqual(stats.self_times(spans)[root["id"]], 0)
        by_name = stats.self_by_name(spans)
        self.assertAlmostEqual(by_name["trigger.addBatch"], 0.4)


def kpi_result(rows, published=3):
    table = {"got": ["%d|Female" % (rows // 2), "%d|Male" % (rows - rows // 2)],
             "want": ["%d|Female" % (published * 500), "%d|Male" % (published * 500)]}
    return dict(rows_per_segment=1000, startup_segments=1, live_segments=published - 2, backlog_segments=1,
                check={"gender_counts": table})


class FailureAccounting(unittest.TestCase):
    def test_clean_run_has_no_failures(self):
        self.assertEqual(checks.kpi_stream(kpi_result(3000), progress([1000, 2000]))[:2], (3, 0))

    def test_dropped_segment_fails(self):
        attempted, failed, problems = checks.kpi_stream(kpi_result(2000), progress([1000, 1000]))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertTrue(problems)

    def test_segment_committed_twice_fails(self):
        attempted, failed, _ = checks.kpi_stream(kpi_result(4000), progress([1000, 2000, 1000]))
        self.assertEqual(failed, 1)

    def test_corrupted_read_back_fails(self):
        res = kpi_result(3000)
        res["check"]["gender_counts"]["got"] = ["1499|Female", "1501|Male"]
        self.assertEqual(checks.kpi_stream(res, progress([3000]))[1], 1)

    def test_event_state_wrong_table_fails_its_drains(self):
        ok = {"got": ["a"], "want": ["a"]}
        res = dict(drains=[{"operator": "transitions"}, {"operator": "distinct"}],
                   check={"transitions": dict(ok, dropped_late=0), "distinct": dict(ok, approx_rows=0)})
        self.assertEqual(checks.event_state(res)[:2], (2, 0))
        res["check"]["distinct"] = {"got": ["a"], "want": ["b"], "approx_rows": 0}
        self.assertEqual(checks.event_state(res)[:2], (2, 1))

    def test_wrong_registry_result_fails(self):
        import tempfile
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            want = pd.DataFrame({"k": ["a", "b"], "cnt": [1, 2]})
            want.to_parquet(os.path.join(d, "q.parquet"), index=False)
            os.makedirs(os.path.join(d, "out", "q"))
            got = want.copy()
            got.loc[1, "cnt"] = 3
            got.to_parquet(os.path.join(d, "out", "q", "part-0.parquet"), index=False)
            res = dict(output_dir=os.path.join(d, "out"),
                       execs=[dict(query="q", rows=2, error="", write_error="")], floor_execs=[])
            attempted, failed, problems = checks.registry_mix(res, d)
            self.assertEqual((attempted, failed), (1, 1))
            self.assertIn("values of cnt differ", problems[0])
            got.loc[1, "cnt"] = 2
            got.to_parquet(os.path.join(d, "out", "q", "part-0.parquet"), index=False)
            self.assertEqual(checks.registry_mix(res, d)[:2], (1, 0))
            res["execs"][0]["rows"] = 5
            self.assertEqual(checks.registry_mix(res, d)[:2], (1, 1))

    def test_registry_output_checked_for_every_query(self):
        import tempfile
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            for q in ("q", "r"):
                pd.DataFrame({"k": [1]}).to_parquet(os.path.join(d, q + ".parquet"), index=False)
            os.makedirs(os.path.join(d, "out", "q"))
            pd.DataFrame({"k": [1]}).to_parquet(os.path.join(d, "out", "q", "part-0.parquet"), index=False)
            execs = [dict(query=q, rows=1, error="", write_error="") for q in ("q", "r")]
            res = dict(output_dir=os.path.join(d, "out"), execs=execs,
                       floor_execs=[dict(query="q", rows=1, error="")])
            # r's output is missing: its one execution fails, q's two pass
            attempted, failed, problems = checks.registry_mix(res, d)
            self.assertEqual((attempted, failed), (3, 1))
            self.assertIn("r: no output written", problems)
            os.makedirs(os.path.join(d, "out", "r"))
            pd.DataFrame({"k": [2]}).to_parquet(os.path.join(d, "out", "r", "part-0.parquet"), index=False)
            self.assertEqual(checks.registry_mix(res, d)[:2], (3, 1))
            execs[1]["write_error"] = "IOException: disk full"
            self.assertEqual(checks.registry_mix(res, d)[:2], (3, 1))


if __name__ == "__main__":
    unittest.main()

"""Self-tests for the benchmark's own arithmetic and its metric contract.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, name, start, end, op="op"):
    return {"id": i, "parent": parent, "name": name, "op": op, "start": start, "end": end}


def fake_record(trace):
    """A two-round record shaped like perfbench.Main's output."""
    spans = [
        span(1, 0, "delivery", 0.0, 10.0),
        span(2, 1, "orchestrate.run_dag", 0.5, 9.5),
        span(3, 2, "orchestrate.job:a", 0.5, 1.5),
        span(4, 2, "orchestrate.job:b", 2.0, 5.0),
        span(5, 3, "lake.append", 0.6, 1.4),
    ]
    base = {"ops": [{"id": "r-d0", "s": 10.0, "ok": True, "retries": 0, "error": ""}],
            "checks": [{"name": "payment_documents", "ok": True, "got": "c|42|0|0", "want": ""}],
            "wall_s": 11.0, "cpu_s": 20.0, "readback_s": 1.0, "gc_s": 0.1, "jit_s": 0.2,
            "input_bytes": 100, "lake_live_files": 3, "lake_live_bytes": 150}
    traced = dict(base, round=1, traced=True, wall_s=11.5, spans=spans,
                  jobs=[{"id": 0, "span": 5, "start": 0.7, "end": 1.3}],
                  stages=[{"id": 0, "job": 0, "tasks": 2, "run_s": 1.0, "cpu_s": 0.8,
                           "sched_s": 0.01, "input_mb": 0.5, "shuffle_read_mb": 0.0,
                           "shuffle_write_mb": 0.1, "spill_mb": 0.0}],
                  lake={"files_written": 2, "mb_written": 0.2, "mb_rewritten": 0.0},
                  pinned_mb_peak=0.0)
    return {"trace": trace, "cores": 4, "pool_threads": 3,
            "dag": [{"id": "a", "deps": []}, {"id": "b", "deps": ["a"]}],
            "setup": {"session_s": 5.0, "warm_s": 3.0, "prepare_s": [0.5, 0.1, 0.2],
                      "checks": []},
            "rounds": [dict(base, round=0, traced=False)] + ([traced] if trace else []),
            "host": {"steal_s": 0.0, "foreign_s": 0.0}, "peak_rss_mb": 900.0,
            "peak_heap_mb": 300.0}


class Arithmetic(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)

    def test_union_length_merges_and_clips(self):
        self.assertAlmostEqual(metrics.union_length([(1, 3), (2, 5), (7, 8)]), 5.0)
        self.assertAlmostEqual(metrics.union_length([(1, 3), (2, 5)], 2.5, 4), 1.5)
        self.assertEqual(metrics.union_length([]), 0.0)

    def test_self_time_subtracts_overlapping_children_once(self):
        spans = [span(1, 0, "p", 0, 10), span(2, 1, "c", 1, 3), span(3, 1, "c", 2, 5),
                 span(4, 1, "c", 7, 8), span(5, 2, "g", 1, 2)]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[1], 10 - 5)
        self.assertAlmostEqual(selfs[2], 2 - 1)
        self.assertAlmostEqual(selfs[4], 1)

    def test_cpu_util(self):
        self.assertAlmostEqual(metrics.cpu_util(8.0, 4.0, 4), 0.5)
        self.assertEqual(metrics.cpu_util(8.0, 0.0, 4), 0.0)

    def test_critical_path_on_known_dag(self):
        durations = {"gate": 1, "docs": 3, "events": 2, "compact": 4, "dedup": 5}
        deps = {"docs": ["gate"], "events": ["gate"], "compact": ["docs"], "dedup": ["gate"]}
        self.assertEqual(metrics.critical_path(durations, deps), 8)  # gate, docs, compact

    def test_orchestration_metrics(self):
        spans = [span(1, 0, "orchestrate.run_dag", 0, 10),
                 span(2, 1, "orchestrate.job:a", 0, 1), span(3, 1, "orchestrate.job:b", 1.5, 4.5),
                 span(4, 1, "orchestrate.job:c", 1.2, 3.2), span(5, 1, "orchestrate.job:d", 4.6, 8.6)]
        dag = [{"id": "a", "deps": []}, {"id": "b", "deps": ["a"]},
               {"id": "c", "deps": ["a"]}, {"id": "d", "deps": ["b"]}]
        o = metrics.orchestration(spans, dag, 3)
        self.assertAlmostEqual(o["makespan"], 10)
        self.assertAlmostEqual(o["critical"], 8)
        self.assertAlmostEqual(o["wait"], 0.5 + 0.2 + 0.1)
        self.assertAlmostEqual(o["busy"] / o["capacity"], 10 / 30)

    def test_driver_gap(self):
        spans = [span(1, 0, "query", 0, 10), span(2, 1, "queries.build", 0, 5)]
        jobs = [{"start": 1, "end": 2}, {"start": 1.5, "end": 4}, {"start": 11, "end": 12}]
        self.assertAlmostEqual(metrics.driver_gap(spans, jobs), 7)


class Contract(unittest.TestCase):
    """Every name in BENCHMARK.json is emitted, with the unit it declares."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def emitted(self, trace):
        values, _, correct, attempted, failed = metrics.summarize(fake_record(trace))
        self.assertTrue(correct)
        self.assertEqual((attempted, failed), (2 if trace else 1, 0))
        return {k: u for k, (_, u, _) in values.items()}

    def test_end_to_end_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(self.emitted(0), want)
        self.assertEqual(metrics.END_TO_END, want)

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(self.emitted(1), want)

    def test_setup_uses_median_prepare(self):
        values, *_ = metrics.summarize(fake_record(0))
        self.assertAlmostEqual(values["setup_s"][0], 5.0 + 3.0 + 0.2)

    def test_traced_round_layers(self):
        values, *_ = metrics.summarize(fake_record(1))
        self.assertAlmostEqual(values["trace.overhead_s"][0], 0.5)
        self.assertAlmostEqual(values["lake.append_s"][0], 0.8)
        self.assertAlmostEqual(values["orchestrate.critical_path_s"][0], 4.0)
        self.assertAlmostEqual(values["orchestrate.dispatch_overhead_s"][0], 5.0)
        self.assertAlmostEqual(values["spark.driver_gap_s"][0], 10.0 - 0.6)
        self.assertAlmostEqual(values["spark.cpu_util"][0], 0.8 / (11.5 * 4))
        self.assertEqual(values["pipeline.doc_rows"][0], 42)
        self.assertAlmostEqual(values["trace.unattributed_s"][0], 1.0)

    def test_a_mismatch_fails_the_run(self):
        rec = fake_record(0)
        rec["rounds"][0]["checks"][0]["ok"] = False
        _, extras, correct, attempted, failed = metrics.summarize(rec)
        self.assertFalse(correct)
        self.assertEqual(failed, 1)
        self.assertEqual(extras["failed_frac"], "1.0000")


if __name__ == "__main__":
    unittest.main()

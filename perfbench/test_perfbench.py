"""Tests of the benchmark's input generators and metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import tempfile
import unittest

import numpy as np

import gen
import run
import stats


class GeneratorTest(unittest.TestCase):
    def test_documents_are_seeded_and_repeat_at_the_set_share(self):
        a, ra = gen.documents(7, 4000)
        b, rb = gen.documents(7, 4000)
        c, _ = gen.documents(8, 4000)
        self.assertEqual(a, b)
        self.assertEqual(ra, rb)
        self.assertNotEqual(a, c)
        self.assertAlmostEqual(ra / len(a), 0.25, delta=0.03)
        # a repeat copies an EARLIER document, never a later one
        seen = set()
        repeats = 0
        for t in a:
            repeats += t in seen
            seen.add(t)
        self.assertEqual(repeats, ra)
        self.assertTrue(all(set(t.split()) <= set(gen.VOCAB) for t in a))

    def test_archive_corpus_duplicate_share(self):
        with tempfile.TemporaryDirectory() as d:
            paths, total = gen.archive_corpus(3, d, 4, 3, 200_000)
            self.assertEqual(total, sum(os.path.getsize(p) for p in paths))
            data = []
            for p in paths:
                with open(p, "rb") as f:
                    data.append(f.read())
            digest = gen.digest_files(paths)
            with tempfile.TemporaryDirectory() as d2:
                self.assertEqual(digest, gen.digest_files(gen.archive_corpus(3, d2, 4, 3, 200_000)[0]))
        third = len(data[0]) // 3
        # copies 1.. are the shared stream; copy 0 differs only at its tags
        self.assertEqual(data[0][third:2 * third], data[1][third:2 * third])
        diff = sum(x != y for x, y in zip(data[0][:third], data[1][:third]))
        self.assertLess(diff / third, 0.01)
        self.assertGreater(diff, 0)

    def test_ferret_inputs_keep_sf01_bucket_occupancy(self):
        with tempfile.TemporaryDirectory() as d:
            corpus, order = gen.ferret_inputs(5, d, 2000)
            q = np.fromfile(os.path.join(d, "queries.f32"), dtype="<f4").reshape(-1, gen.DIM)
            ids = np.fromfile(os.path.join(d, "query_ids.i64"), dtype="<i8")
        self.assertEqual(sorted(order.tolist()), list(range(2000)))
        np.testing.assert_array_equal(q, corpus[ids])
        np.testing.assert_allclose(np.linalg.norm(corpus, axis=1), 1.0, rtol=1e-5)
        # sf0.1's embeddings give about 10.2 under the same 4 x 8-bit family
        self.assertAlmostEqual(gen.bucket_occupancy(corpus), 10.25, delta=1.0)

    def test_brute_force_topk_excludes_the_query(self):
        r = gen.rng(1, 9)
        v = gen.unit_vectors(r, 50)
        top = gen.brute_force_topk(v, np.array([3, 7]), k=5)
        sims = v @ v.T
        for row, q in zip(top, (3, 7)):
            self.assertNotIn(q, row)
            order = np.argsort(-np.where(np.arange(50) == q, -9, sims[q]))[:5]
            self.assertEqual(list(row), list(order))

    def test_tables_schema_and_keys(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            rows = gen.tables(2, d, 0.002)
            li = pq.read_table(os.path.join(d, "lineitem.parquet")).to_pandas()
            ev = pq.read_table(os.path.join(d, "events.parquet"))
        self.assertEqual(rows["orders"], 3000)
        self.assertFalse(li.duplicated(["l_orderkey", "l_linenumber"]).any())
        self.assertTrue(li.l_linenumber.between(1, 7).all())
        self.assertEqual(str(ev.schema.field("ts").type), "timestamp[us]")


class StatsTest(unittest.TestCase):
    def test_percentile_matches_numpy_linear(self):
        r = np.random.default_rng(0)
        for n in (1, 2, 5, 101):
            xs = r.random(n).tolist()
            for q in (0, 10, 50, 90, 100):
                self.assertAlmostEqual(stats.percentile(xs, q), float(np.percentile(xs, q)))
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_spread_is_iqr_over_median(self):
        xs = [10, 11, 9, 10.5, 9.5, 10, 12, 8, 10, 10]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_covered_ms_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered_ms([(0, 5), (3, 8), (10, 12)], 2, 11), 7)
        self.assertEqual(stats.covered_ms([], 0, 10), 0)

    def test_item_latencies(self):
        slices = [{"first": 0, "n": 2, "sched_ms": 100.0, "drop_ms": 101.0},
                  {"first": 2, "n": 2, "sched_ms": 200.0, "drop_ms": 230.0}]
        commits = [{"batch_id": 0, "start_ms": 110, "end_ms": 300.0},
                   {"batch_id": 1, "start_ms": 300, "end_ms": 450.0}]
        lat, missing = stats.item_latencies(slices, [[0, 0], [1, 0], [2, 1]], commits, 0, 4)
        self.assertEqual(lat, [200.0, 200.0, 250.0])
        self.assertEqual(missing, 1)

    def test_spark_layers_counts_work_inside_units(self):
        listener = {"jobs": [{"start_ms": 0, "end_ms": 40, "stages": 1},
                             {"start_ms": 60, "end_ms": 90, "stages": 2},
                             {"start_ms": 150, "end_ms": 160, "stages": 1}],
                    "tasks": [dict(stage="1.0", launch_ms=1, finish_ms=31, ok=True, run_ms=20,
                                   cpu_ns=1e9, gc_ms=2, deser_ms=3, result_ser_ms=1,
                                   getting_result_ms=0, result_bytes=10, spill_bytes=0,
                                   input_bytes=100, shuffle_read_bytes=5, fetch_wait_ms=0,
                                   shuffle_write_bytes=7),
                              dict(stage="2.0", launch_ms=150, finish_ms=155, ok=False,
                                   run_ms=5, cpu_ns=0, gc_ms=0, deser_ms=0, result_ser_ms=0,
                                   getting_result_ms=0, result_bytes=0, spill_bytes=0,
                                   input_bytes=0, shuffle_read_bytes=0, fetch_wait_ms=0,
                                   shuffle_write_bytes=0)]}
        m = stats.spark_layers(listener, [(0, 100)], 100, 4)
        self.assertEqual(m["spark.jobs_per_item"], 2)
        self.assertEqual(m["spark.tasks_per_item"], 1)
        self.assertEqual(m["spark.driver_gap_ms"], 30)  # 100 - (40 + 30)
        self.assertAlmostEqual(m["spark.cpu_util"], 1.0 / (0.1 * 4))
        self.assertEqual(m["spark.scheduler_delay_ms"], 6)  # 30 - 20 - 3 - 1
        self.assertEqual(m["tables.scan_bytes"], 100)
        self.assertEqual(m["spark.failed_tasks"], 0)

    def test_progress_layers(self):
        progress = [{"batch_id": 1, "start_ms": 250, "rows": 20,
                     "duration_ms": {"addBatch": 80, "walCommit": 10, "triggerExecution": 100}},
                    {"batch_id": 0, "start_ms": 50, "rows": 10,
                     "duration_ms": {"addBatch": 40, "walCommit": 10, "triggerExecution": 50}},
                    {"batch_id": 2, "start_ms": 400, "rows": 0, "duration_ms": {}}]
        slices = [{"drop_ms": t} for t in (0, 100, 200, 300)]
        m = stats.progress_layers(progress, slices, 10)
        self.assertEqual(m["streaming.add_batch_ms"], 60)
        self.assertEqual(m["streaming.rows_per_trigger"], 15)
        self.assertEqual(m["sources.backlog_files"], 1.5)  # 1 then 3 - 1
        self.assertEqual(stats.lateness([{"drop_ms": 12, "sched_ms": 10},
                                         {"drop_ms": 20, "sched_ms": 20}]),
                         {"mean_ms": 1.0, "max_ms": 2})


class ReconcileTest(unittest.TestCase):
    # two triggers: batch 0 at 100..200 ms, batch 1 at 300..420 ms
    PROGRESS = [{"batch_id": 0, "start_ms": 100, "rows": 2,
                 "duration_ms": {"getBatch": 10, "addBatch": 80, "walCommit": 10,
                                 "triggerExecution": 100}},
                {"batch_id": 1, "start_ms": 300, "rows": 2,
                 "duration_ms": {"getBatch": 10, "addBatch": 100, "walCommit": 10,
                                 "triggerExecution": 120}}]
    SLICES = [{"first": 0, "n": 2, "sched_ms": 50.0}, {"first": 2, "n": 2, "sched_ms": 250.0}]
    ITEM_BATCH = [[0, 0], [1, 0], [2, 1], [3, 1]]
    COMMITS = [{"batch_id": 0, "start_ms": 115, "end_ms": 198},
               {"batch_id": 1, "start_ms": 315, "end_ms": 418}]

    def errs(self, spans):
        return stats.reconcile_stream(spans, ("work", "emit"), self.PROGRESS, self.SLICES,
                                      self.ITEM_BATCH, self.COMMITS, 0, 4)

    def test_stream_spans_that_fill_add_batch_reconcile(self):
        spans = [{"name": "work", "start_ms": 115, "end_ms": 175},
                 {"name": "emit", "start_ms": 175, "end_ms": 195},
                 {"name": "work", "start_ms": 315, "end_ms": 405},
                 {"name": "emit", "start_ms": 405, "end_ms": 415}]
        e = self.errs(spans)
        self.assertAlmostEqual(e["spans_vs_add_batch"], 0.0)
        self.assertAlmostEqual(e["phases_vs_trigger"], 0.0)
        # walls 148+148+168+168 against 150+150+170+170
        self.assertAlmostEqual(e["item_wall"], 640 / 632 - 1)
        self.assertTrue(run.reconciled(e)["reconcile_ok"])

    def test_stream_spans_that_miss_add_batch_fail(self):
        # the layer spans cover only half of each trigger's addBatch
        spans = [{"name": "work", "start_ms": 115, "end_ms": 155},
                 {"name": "work", "start_ms": 315, "end_ms": 365}]
        e = self.errs(spans)
        self.assertAlmostEqual(e["spans_vs_add_batch"], 1 - 90 / 180)
        d = run.reconciled(e)
        self.assertFalse(d["reconcile_ok"])
        self.assertEqual(d["reconcile_err"], e["spans_vs_add_batch"])

    def test_stream_with_no_matched_trigger_fails(self):
        self.assertFalse(run.reconciled(self.errs([]))["reconcile_ok"])

    def test_olap_exec_against_listener_and_wall(self):
        spans = [{"name": "operators.build", "start_ms": 0, "end_ms": 5},
                 {"name": "operators.plan", "start_ms": 5, "end_ms": 15},
                 {"name": "operators.exec", "start_ms": 15, "end_ms": 100}]
        e = stats.reconcile_olap(spans, [84.0], [(0, 100)])
        self.assertAlmostEqual(e["exec_vs_listener"], 85 / 84 - 1)
        self.assertAlmostEqual(e["item_wall"], 1 - 99 / 100)
        self.assertTrue(run.reconciled(e)["reconcile_ok"])
        # a collect Spark timed at half the span's length does not reconcile
        self.assertFalse(run.reconciled(stats.reconcile_olap(spans, [42.0], [(0, 100)]))["reconcile_ok"])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_what_run_prints(self):
        import json
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: run.UNITS[k] for k in run.E2E})
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()

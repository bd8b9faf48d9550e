"""Tests of the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import math
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402
from stats import above, median, percentile  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


class SlicerTest(unittest.TestCase):
    fixture = os.path.join(HERE, "fixture")

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def slices(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        inputs.write_day_slices(seed, self.fixture, out)
        return out

    def test_same_seed_gives_byte_identical_landing_files(self):
        a, b = self.slices(7, "a"), self.slices(7, "b")
        for kind in ("docs", "events"):
            names = sorted(os.listdir(os.path.join(a, kind)))
            self.assertEqual(len(names), inputs.N_DAYS)
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, kind), os.path.join(b, kind), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_seed_moves_documents_but_not_events(self):
        a, b = self.slices(7, "c"), self.slices(8, "d")
        self.assertFalse(filecmp.cmp(f"{a}/docs/day=03.parquet", f"{b}/docs/day=03.parquet",
                                     shallow=False))
        self.assertTrue(filecmp.cmp(f"{a}/events/day=03.parquet", f"{b}/events/day=03.parquet",
                                    shallow=False))

    def test_every_document_lands_once(self):
        days = inputs.day_of_docs(3, 500)
        self.assertEqual(len(days), 500)
        self.assertTrue(all(0 <= d < inputs.N_DAYS for d in days))
        self.assertEqual(days, inputs.day_of_docs(3, 500))


class OrderTest(unittest.TestCase):
    OPS = [f"op{i}" for i in range(12)]

    def test_each_pass_runs_every_op_once_in_a_seeded_order(self):
        orders = inputs.pass_orders(5, self.OPS, 20)
        self.assertTrue(all(sorted(o) == sorted(self.OPS) for o in orders))
        self.assertEqual(orders, inputs.pass_orders(5, reversed(self.OPS), 20))
        self.assertNotEqual(orders, inputs.pass_orders(6, self.OPS, 20))
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_ingest_day_runs_writes_then_compactions_then_reads(self):
        kinds = {"t": "trigger", "a1": "append", "a2": "append", "c1": "compact",
                 "r1": "read", "r2": "read"}
        plan = inputs.ingest_orders(1, kinds, range(3, 6), 2)
        self.assertEqual([d for d, _ in plan], [3, 4, 5] * 2)
        for day, ops in plan:
            ks = [kinds[o] for o in ops]
            n_writes = 3 + (1 if day == 5 else 0)
            self.assertEqual(sorted(ks[:3]), ["append", "append", "trigger"])
            self.assertEqual(ks.count("compact"), 1 if day == 5 else 0)
            self.assertEqual(ks[n_writes:], ["read", "read"])
        self.assertEqual(plan, inputs.ingest_orders(1, kinds, range(3, 6), 2))


class StatsTest(unittest.TestCase):
    def test_percentiles_interpolate_between_closest_ranks(self):
        xs = [10, 1, 4, 7, 2, 8, 3, 9, 6, 5]
        self.assertEqual(percentile(xs, 0), 1)
        self.assertEqual(percentile(xs, 100), 10)
        self.assertAlmostEqual(percentile(xs, 90), 9.1)
        self.assertAlmostEqual(percentile(xs, 50), 5.5)
        self.assertEqual(percentile([4.0], 90), 4.0)

    def test_median_agrees_with_statistics(self):
        for xs in ([3, 1, 2], [5, 1, 4, 2], [2.5, 2.5, 9.0, -1.0, 0.0]):
            self.assertEqual(median(xs), statistics.median(xs))

    def test_samples_above_a_percentile(self):
        self.assertEqual(above(list(range(100)), 90), 10)
        self.assertEqual(above([1, 1, 1], 50), 0)

    def test_geometric_mean_of_per_op_medians(self):
        ops = [{"name": n, "ms": ms} for n, ms in
               (("a", 1.0), ("a", 9.0), ("a", 4.0), ("b", 16.0), ("b", 16.0))]
        self.assertAlmostEqual(metrics.gmean_of_medians(ops), 8.0)
        # halving one op's latency moves the mean by the same share,
        # whichever op it is
        half_a = [dict(o, ms=o["ms"] / 2) if o["name"] == "a" else o for o in ops]
        half_b = [dict(o, ms=o["ms"] / 2) if o["name"] == "b" else o for o in ops]
        self.assertAlmostEqual(metrics.gmean_of_medians(half_a), 8.0 / math.sqrt(2))
        self.assertAlmostEqual(metrics.gmean_of_medians(half_b), 8.0 / math.sqrt(2))


def synthetic_records(work):
    """A tiny traced run: an untraced and a traced pass of one read op and
    one load, then an untraced pass."""
    rec = {t: [] for t in ("op", "pass", "span", "job", "job_end", "stage", "plan",
                           "trigger", "block", "jvm_start", "jvm_end", "oracle", "check")}
    rec["setup"] = [{"s": 12.5}]
    rec["rss"] = [{"mb": 900.0}]
    for pid, traced, t0 in ((1, False, 1000), (2, True, 2000)):
        rec["op"] += [{"id": pid, "name": "q", "kind": "read", "pass": pid - 1, "day": 0,
                       "traced": traced, "start": t0, "end": t0 + 100, "ms": 100.0, "ok": True},
                      {"id": pid + 10, "name": "w", "kind": "load", "pass": pid - 1, "day": 0,
                       "traced": traced, "start": t0 + 100, "end": t0 + 150, "ms": 50.0,
                       "ok": True}]
        rec["pass"].append({"pass": pid - 1, "day": 0, "traced": traced, "s": 0.15})
    rec["pass"].append({"pass": 2, "day": 0, "traced": False, "s": 0.15})
    rec["span"] = [{"id": 3, "parent": 2, "kind": "construct", "start": 2000, "end": 2030},
                   {"id": 4, "parent": 2, "kind": "execute", "start": 2030, "end": 2100}]
    rec["job"] = [{"job": 0, "span": "3", "start": 2005, "stages": 1},
                  {"job": 1, "span": "4", "start": 2040, "stages": 1}]
    rec["job_end"] = [{"job": 0, "end": 2025}, {"job": 1, "end": 2090}]
    stage = {"tasks": 4, "empty": 1, "run_ms": 120, "cpu_ms": 100.0, "in_bytes": 1 << 20,
             "in_rows": 1000, "shr_bytes": 0, "shw_bytes": 2048, "spill": 0,
             "out_bytes": 0, "wait_ms": 8}
    rec["stage"] = [dict(stage, stage=0, job=0, span="3", start=2006, end=2024),
                    dict(stage, stage=1, job=1, span="4", start=2041, end=2089)]
    rec["plan"] = [{"start": 2031, "ms": 6}]
    rec["block"] = [{"time": 2010, "added": True, "cached": 4096}]
    rec["jvm_start"] = [{"gc_ms": 10, "heap_peak_mb": 0.0}]
    rec["jvm_end"] = [{"gc_ms": 25, "heap_peak_mb": 300.0}]
    os.makedirs(os.path.join(work, "load", "w"))
    with open(os.path.join(work, "load", "w", "part-0.json"), "w") as f:
        f.write("{}\n")
    return rec


class MetricsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.rec = synthetic_records(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        values, _ = metrics.end_to_end(self.rec, 0, 2)
        self.assertEqual({k: u for k, (_, u) in values.items()},
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
        self.assertTrue(all(v > 0 for v, _ in values.values()))

    def test_per_layer_names_and_units_match_benchmark_json(self):
        values, n = metrics.per_layer(self.rec, self.tmp.name, 4)
        self.assertEqual(n, 1)
        self.assertEqual({k: u for k, (_, u) in values.items()},
                         {m["name"]: m["unit"] for m in SPEC["per_layer"]})

    def test_per_layer_attribution(self):
        v = {k: x for k, (x, _) in metrics.per_layer(self.rec, self.tmp.name, 4)[0].items()}
        self.assertEqual(v["queries.construct_ms"], 30)
        self.assertEqual(v["queries.eager_jobs"], 1)
        self.assertEqual(v["exec.jobs"], 1)
        self.assertEqual(v["exec.tasks"], 4)
        self.assertEqual(v["exec.empty_task_frac"], 0.25)
        self.assertEqual(v["catalyst.plan_ms"], 6)
        self.assertEqual(v["exec.task_run_ms"], 240)
        self.assertAlmostEqual(v["exec.core_util"], 240 / (150 * 4))
        self.assertEqual(v["scan.input_rows"], 2000)
        self.assertEqual(v["load.ms"], 50)
        self.assertEqual(v["load.files"], 1)
        self.assertEqual(v["jvm.gc_ms"], 15)
        self.assertEqual(v["trace.overhead_ratio"], 1.0)

    def test_overhead_pairs_each_traced_day_with_its_untraced_twin(self):
        # day 5 compacts, so it is slow both ways; a median over unpaired
        # passes would count the compaction as tracing overhead. The first
        # untraced cycle (JIT still warming) is left out.
        cycle = lambda traced, scale: [{"day": d, "traced": traced, "s": s * scale}
                                       for d, s in ((3, 1.0), (4, 1.2), (5, 5.0))]
        passes = cycle(False, 1.5) + cycle(True, 1.1) + cycle(False, 1.0)
        self.assertAlmostEqual(metrics.overhead_ratio(passes), 1.1)
        self.assertTrue(math.isnan(metrics.overhead_ratio(passes[:6])))

    def test_self_time_subtracts_the_union_of_children(self):
        tree = {(s["kind"], s["id"]): s for s in metrics.spans(self.rec)}
        self.assertEqual(tree[("op", 2)]["self_ms"], 0)
        self.assertEqual(tree[("construct", 3)]["self_ms"], 30 - 20)
        self.assertEqual(tree[("job", 1)]["self_ms"], 50 - 48)


if __name__ == "__main__":
    unittest.main()

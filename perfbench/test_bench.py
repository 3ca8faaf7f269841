"""Tests of the benchmark's own logic. Run from anywhere:

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import checks
import gen
import metrics as M


class PercentileRule(unittest.TestCase):
    def test_p50_needs_twenty_samples(self):
        self.assertIsNone(M.percentile(range(19), 0.5))
        self.assertEqual(M.percentile(range(1, 21), 0.5), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(M.percentile(range(99), 0.9))
        self.assertEqual(M.percentile(range(1, 101), 0.9), 90)

    def test_empty(self):
        self.assertIsNone(M.percentile([], 0.5))

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)


class SelfTime(unittest.TestCase):
    def span(self, sid, parent, start, end, name="s"):
        return [sid, parent, name, -1, start, end]

    def test_children_are_subtracted(self):
        parent = self.span(1, 0, 0, 100)
        kids = [self.span(2, 1, 10, 30), self.span(3, 1, 50, 60)]
        self.assertEqual(M.length(M.self_intervals(parent, kids)), 70)

    def test_overlapping_children_count_once(self):
        parent = self.span(1, 0, 0, 100)
        kids = [self.span(2, 1, 10, 40), self.span(3, 1, 30, 50)]
        self.assertEqual(M.self_intervals(parent, kids), [(0, 10), (50, 100)])

    def test_children_clipped_to_parent(self):
        parent = self.span(1, 0, 20, 40)
        kids = [self.span(2, 1, 0, 25), self.span(3, 1, 35, 90)]
        self.assertEqual(M.length(M.self_intervals(parent, kids)), 10)

    def test_gap_is_self_time_without_tasks(self):
        trace = {
            "spans": [self.span(1, 0, 0, 100, "cycle"),
                      self.span(2, 1, 0, 60, "cdc"),
                      self.span(3, 2, 40, 60, "publish")],
            "jobs": [[7, 2, 5, 30, "save at x", 2]],
            # a task of cdc's job runs 10-30; another overlaps it
            "tasks": [[2, 1, 10, 30, 20, 0, 0, 0, 0],
                      [2, 1, 20, 35, 15, 0, 0, 0, 0]],
        }
        lay = M.layer_breakdown(trace)
        self.assertEqual(lay["cdc"]["self_ms"], 40)
        self.assertEqual(lay["cdc"]["busy_ms"], 25)
        self.assertEqual(lay["cdc"]["gap_ms"], 15)
        self.assertEqual(lay["cdc"]["tasks"], 2)
        self.assertEqual(lay["cycle"]["self_ms"], 40)
        self.assertAlmostEqual(M.coverage(trace), 0.6)

    def test_coverage_leaves_out_heap_sample_spans(self):
        trace = {"spans": [self.span(1, 0, 0, 100, "cycle"),
                           self.span(2, 1, 0, 50, "cdc"),
                           self.span(3, 1, 50, 60, "check"),
                           self.span(4, 1, 60, 90, "upsert")],
                 "jobs": [], "tasks": []}
        self.assertAlmostEqual(M.coverage(trace), 80 / 90)

    def test_check_spans_are_left_out(self):
        trace = {"spans": [self.span(1, 0, 0, 10, "check"),
                           self.span(2, 1, 0, 5, "inner")],
                 "jobs": [], "tasks": []}
        self.assertEqual(M.layer_breakdown(trace), {})


class Generator(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            h = hashlib.sha256()
            for root, _, files in sorted(os.walk(d)):
                for f in sorted(files):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, d).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
            return h.hexdigest()

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.digest("serve-mix", 5), self.digest("serve-mix", 5))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.digest("serve-mix", 5), self.digest("serve-mix", 6))

    def test_delta_mix_and_op_stream_move_with_the_seed(self):
        import json
        import numpy as np
        runs = []
        for seed in (1, 2):
            with tempfile.TemporaryDirectory() as d:
                rng = np.random.default_rng([seed, 0])
                gen.gen_refresh(rng, d, 200, 3, 0.05,
                                gen.PARAMS["refresh-daily"]["delta_mix"])
                with open(os.path.join(d, "refresh", "expected.json")) as f:
                    exp = json.load(f)
                runs.append((exp, gen.gen_ops(rng, gen.PARAMS["serve-mix"])))
        # sizes are fixed by the workload, content by the seed
        self.assertEqual([e["listing"] for e in runs[0][0]],
                         [e["listing"] for e in runs[1][0]])
        self.assertNotEqual(runs[0][1], runs[1][1])

    def test_refresh_delta_has_one_document_of_each_class(self):
        import json
        with tempfile.TemporaryDirectory() as d:
            gen.generate("refresh-daily", 3, d)
            with open(os.path.join(d, "refresh", "expected.json")) as f:
                exp = json.load(f)
        p = gen.PARAMS["refresh-daily"]
        self.assertEqual(len(exp), 1 + p["timed_cycles"])
        for e in exp[1:]:
            self.assertEqual([e[k] for k in ("new", "modified", "touched", "deleted")],
                             [1, 1, 1, 1])
            self.assertEqual(e["listing"], p["docs"])

    def test_op_stream_follows_the_declared_mix(self):
        import numpy as np
        p = gen.PARAMS["serve-mix"]
        rounds = gen.gen_ops(np.random.default_rng(7), p)
        self.assertEqual(len(rounds), p["timed_rounds"] + 1)
        for ops in rounds:
            kinds = [o[0] for o in ops]
            self.assertEqual(kinds.count("sql"), p["analytics_per_round"])
            self.assertEqual(kinds.count("ann"), p["ann_per_round"])
            self.assertEqual(kinds.count("bm25"), p["bm25_per_round"])
            for i, o in enumerate(ops):
                if o[0] == "write":
                    self.assertEqual(i % p["write_every"], p["write_every"] - 1)
                    self.assertEqual(o[2], p["write_batch"])
                if o[0] == "bm25":
                    self.assertEqual(len(set(o[1:])), p["bm25_terms"])


class WorkloadParams(unittest.TestCase):
    def test_every_value_has_a_source_and_a_reason(self):
        import json
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "workloads.json")) as f:
            doc = json.load(f)
        for group, entries in doc.items():
            if group == "_doc":
                continue
            for name, e in entries.items():
                self.assertEqual(set(e), {"value", "source", "why"}, f"{group}.{name}")
                self.assertTrue(e["source"] and e["why"], f"{group}.{name}")


class Conservation(unittest.TestCase):
    COUNTS = {"cycle": 3, "listing": 100, "process": 6, "delete": 5,
              "reason_new": 3, "reason_updated": 3, "reason_deleted": 2,
              "delete_updated": 3, "delete_with_id": 5, "catalog_in": 99,
              "catalog_out": 100, "catalog_ids_distinct": 100,
              "catalog_paths_distinct": 100, "docs_in": 6, "docs_out": 6,
              "docs_blank": 0, "chunks": 20, "embedded": 20,
              "export_in": 300, "export_out": 305, "export_removed": 15,
              "ann_in": 290, "ann_delta": 18, "ann_replaced": 10,
              "ann_out": 298, "ann_out_distinct": 298,
              "max_section": 4, "max_chunk": 3}
    EXPECTED = {"new": 3, "modified": 3, "deleted": 2, "touched": 1,
                "listing": 100, "unchanged": 94}

    def test_consistent_cycle_passes(self):
        self.assertEqual(checks.conservation_failures(self.COUNTS, self.EXPECTED), [])

    def test_dropped_export_row_fires(self):
        c = dict(self.COUNTS, export_out=304)
        bad = checks.conservation_failures(c, self.EXPECTED)
        self.assertEqual(len(bad), 1)
        self.assertIn("export", bad[0])

    def test_dropped_embedding_row_fires(self):
        c = dict(self.COUNTS, embedded=19)
        self.assertTrue(any("enrich" in b for b in
                            checks.conservation_failures(c, self.EXPECTED)))

    def test_touched_file_reprocessed_fires(self):
        c = dict(self.COUNTS, process=7, reason_updated=4)
        bad = checks.conservation_failures(c, self.EXPECTED)
        self.assertTrue(any("cdc" in b for b in bad))
        self.assertTrue(any("reason_updated" in b for b in bad))


class MetricNames(unittest.TestCase):
    """The names and units run.py prints are the ones BENCHMARK.json and
    layers.json declare."""
    HERE = os.path.dirname(os.path.abspath(__file__))

    def declared(self):
        import json
        with open(os.path.join(self.HERE, "..", "BENCHMARK.json")) as f:
            return json.load(f)

    def test_per_layer(self):
        import json
        import run
        res = {"values": {"gc_s": 0.1, "enrich_requests": 4, "enrich_misses": 3},
               "samples": {"cycle_s": [1.0], "traced_cycle_s": [1.1]},
               "counts": [], "trace": {"spans": [], "jobs": [], "tasks": []}}
        got = {k: u for k, (_, u) in run.per_layer(res, "refresh-daily").items()}
        want = {m["name"]: m["unit"] for m in self.declared()["per_layer"]}
        self.assertEqual(got, want)
        with open(os.path.join(self.HERE, "layers.json")) as f:
            mapped = {k for k in json.load(f) if not k.startswith("_")}
        self.assertEqual(mapped, set(want))

    def test_end_to_end(self):
        import run
        res = {"values": {"setup_s": 3.0, "live_heap_mb": 90.0,
                          "store_bytes": 105, "live_bytes": 100},
               "samples": {"cycle_s": [2.0, 1.0, 3.0]}}
        got = {k: u for k, (_, u) in run.end_to_end(res).items()}
        want = {m["name"]: m["unit"] for m in self.declared()["end_to_end"]}
        self.assertEqual(got, want)
        self.assertEqual(run.end_to_end(res)["cycle_s"][0], 2.0)

    def test_serve_round_counts_every_measured_op(self):
        import run
        s = {"cycle_s": [9.0],
             "analytics_ms": [100.0, 200.0],
             "ann_probe_ms": [50.0, 50.0, 900.0],  # the slow one follows a write
             "bm25_probe_ms": [40.0],
             "write_ms": [300.0]}
        self.assertAlmostEqual(run.cycle_s(s), 1.64)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic and inputs (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import shutil
import tempfile
import unittest

import gen
import run
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")


def tree_files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK, prefix="test-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def corpus(self, name, seed):
        d = os.path.join(self.tmp, name)
        return d, gen.write_corpus(d, seed, docs=300, vocab=500, zipf_s=1.1,
                                   files=8)

    def test_corpus_same_seed_gives_identical_files(self):
        a, sa = self.corpus("a", 7)
        b, sb = self.corpus("b", 7)
        self.assertEqual(sa, sb)
        files = tree_files(a)
        self.assertEqual(files, tree_files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_corpus_seed_changes_content_not_shape(self):
        a, sa = self.corpus("a", 7)
        c, sc = self.corpus("c", 8)
        self.assertEqual(tree_files(a), tree_files(c))
        self.assertEqual((sa["docs"], sa["vocab"], sa["files"]),
                         (sc["docs"], sc["vocab"], sc["files"]))
        self.assertNotEqual(sa["tokens"], sc["tokens"])

    def test_corpus_splits_into_files_and_records_its_size(self):
        d, st = self.corpus("a", 3)
        self.assertEqual(len(tree_files(d)), 8)
        for key in ("docs", "tokens", "text_bytes", "vocab", "top_word_share"):
            self.assertIn(key, st)
        self.assertTrue(20 * 300 <= st["tokens"] <= 99 * 300)

    def test_fixture_is_deterministic(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen.write_fixture(a, 0.001, 42)
        gen.write_fixture(b, 0.001, 42)
        files = tree_files(a)
        self.assertEqual(len(files), len(run.FIXTURE_TABLES))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))


class PercentileTest(unittest.TestCase):
    def test_p75_of_45_leaves_11_beyond(self):
        xs = list(range(1, 46))
        p75 = spans.percentile(xs, 0.75)
        self.assertEqual(sum(1 for x in xs if x > p75), 11)
        self.assertEqual(spans.percentile(xs, 0.5), 23)

    def test_p65_of_29_leaves_10_beyond(self):
        xs = [x / 10 for x in range(29, 0, -1)]
        p65 = spans.percentile(xs, 0.65)
        self.assertEqual(sum(1 for x in xs if x > p65), 10)

    def test_nearest_rank_is_a_sample_and_order_free(self):
        xs = [0.4, 3.0, 1.2, 0.9]
        self.assertEqual(spans.percentile(xs, 0.5), 0.9)
        self.assertEqual(spans.percentile(xs, 0.75), 1.2)
        self.assertEqual(spans.percentile([5.0], 0.75), 5.0)
        with self.assertRaises(ValueError):
            spans.percentile([], 0.5)

    def test_cycles_are_whole_and_error_free(self):
        def op(s, e, err=None):
            return {"start": s * 1e3, "end": e * 1e3, "error": err}
        ops = [op(0, 1), op(1, 3), op(3, 4), op(4, 5, "boom"), op(5, 6),
               op(6, 7), op(7, 8)]
        self.assertEqual(run.op_samples(ops, 1), [1, 2, 1, 1, 1, 1])
        # cycles [0:3] and [3:6]; the second has an error, the tail is partial
        self.assertEqual(run.op_samples(ops, 3), [4])


class SelfTimeTest(unittest.TestCase):
    # an op over [0, 100] ms: construct [0, 30], action [30, 100]
    OP = {"id": 1, "name": "q", "start": 0.0, "construct_end": 30.0,
          "end": 100.0, "compile_ns": 12e6, "compiles": 3}

    def test_parts_sum_to_wall_and_follow_priority(self):
        jobs = [{"id": 1, "group": "op-1", "start": 10, "end": 20, "stages": []},
                {"id": 2, "group": "op-1", "start": 40, "end": 70, "stages": []},
                {"id": 3, "group": "op-1", "start": 60, "end": 80, "stages": []}]
        phases = [{"name": "optimization", "start": 32, "end": 45},
                  {"name": "planning", "start": 85, "end": 88}]
        parts, commit_start = spans.self_times(self.OP, jobs, phases)
        self.assertAlmostEqual(sum(parts.values()), 100.0)
        self.assertEqual(commit_start, 80)
        self.assertEqual(parts["exec"], 10 + 40)        # [10,20] + [40,80]
        self.assertEqual(parts["plan"], 8 + 3)           # [32,40] + [85,88]
        self.assertEqual(parts["commit"], 17)            # [80,100] - [85,88]
        # action remainder [30,32] = 2 ms goes to codegen first, the other
        # 10 ms of compile time comes out of construct's 20 ms remainder
        self.assertEqual(parts["codegen"], 12)
        self.assertEqual(parts["unexplained"], 0)
        self.assertEqual(parts["construct"], 10)

    def test_codegen_is_capped_by_unattributed_time(self):
        op = dict(self.OP, compile_ns=500e6)
        jobs = [{"id": 1, "group": "", "start": 0, "end": 100, "stages": []}]
        parts, _ = spans.self_times(op, jobs, [])
        self.assertEqual(parts["codegen"], 0)
        self.assertEqual(parts["exec"], 100)
        self.assertAlmostEqual(sum(parts.values()), 100.0)

    def test_layer_metrics_attribute_by_group_and_time(self):
        trace = {
            "jobs": [
                {"id": 0, "group": "op-1", "start": 10, "end": 20, "stages": [0]},
                {"id": 1, "group": "", "start": 50, "end": 90, "stages": [1, 0]},
                {"id": 2, "group": "", "start": 150, "end": 160, "stages": [2]}],
            "stages": [{"id": 0, "attempt": 0, "start": 10, "end": 20, "tasks": 1},
                       {"id": 1, "attempt": 0, "start": 50, "end": 90, "tasks": 2},
                       {"id": 2, "attempt": 0, "start": 150, "end": 160, "tasks": 1}],
            "tasks": {"stage": [0, 1, 1, 2], "launch": [0] * 4, "finish": [0] * 4,
                      "run_ms": [10, 30, 90, 5], "cpu_ns": [1e6] * 4,
                      "gc_ms": [1, 2, 3, 4], "shw_bytes": [1e6, 0, 0, 0],
                      "shw_records": [100, 0, 0, 7], "shr_bytes": [0, 5e5, 5e5, 0],
                      "shr_records": [0, 50, 50, 0], "spill_mem": [0] * 4,
                      "spill_disk": [0] * 4},
            "phases": [{"name": "analysis", "start": 31, "end": 33}]}
        m, span_list = spans.layer_metrics([self.OP], trace, cores=2,
                                           tokens_by_op={"q": 50})
        self.assertEqual(m["exec.jobs"], 2)       # job 2 is outside the op
        self.assertEqual(m["construct.jobs"], 1)
        self.assertEqual(m["exec.stages"], 2)     # stage 0 listed twice
        self.assertEqual(m["exec.tasks"], 3)
        self.assertEqual(m["exec.shuffle_records"], 100)
        self.assertEqual(m["exec.shuffle_records_per_token.q"], 2.0)
        self.assertAlmostEqual(m["exec.task_skew"], 90 / 60)
        self.assertAlmostEqual(m["exec.core_busy_frac"], 0.13 / (0.1 * 2))
        self.assertAlmostEqual(sum(m[f"self.{k}_s"] for k in spans.SELF_LAYERS),
                               m["self.wall_s"])
        self.assertEqual({s["op"] for s in span_list}, {1})
        ids = {s["id"] for s in span_list}
        self.assertTrue(all(s["parent"] in ids for s in span_list if s["parent"]))
        parent = {s["id"]: s["parent"] for s in span_list}
        self.assertEqual(parent["1/job0"], "1/construct")
        self.assertEqual(parent["1/job1"], "1/action")
        self.assertEqual(parent["1/stage1.0"], "1/job1")
        self.assertEqual(parent["1/stage0.0"], "1/job0")
        self.assertEqual(len(ids), len(span_list))
        kinds = [s["kind"] for s in span_list]
        for k in ("op", "construct", "action", "commit", "job", "stage", "phase"):
            self.assertIn(k, kinds)


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units_use_the_allowed_charset(self):
        b = self.bench
        metrics = b["end_to_end"] + b["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, spans.NAME_RE)
        for m in metrics:
            self.assertRegex(m["unit"], spans.UNIT_RE)

    def test_file_matches_what_run_py_emits(self):
        b = self.bench
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         {n: run.unit_of(n) for n in run.per_layer_names()})
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests, at sf 0.001 with one pass per run.

    python3 -m unittest discover -s perfbench/tests -v

They build the engine (as the benchmark does) and start Spark, so they take
a few minutes.
"""
import contextlib
import dataclasses
import io
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SF = "0.001"


def bench(workload, trace):
    """Run the benchmark once, on the smallest tables and one pass; return
    (parsed last line, stdout)."""
    stdout = io.StringIO()
    sf, run.SF = run.SF, SF
    try:
        with contextlib.redirect_stdout(stdout):
            run.main(["--workload", workload, "--seed", "5", "--seconds", "0",
                      "--trace", str(trace)])
    finally:
        run.SF = sf
    return json.loads(stdout.getvalue().strip().splitlines()[-1]), stdout.getvalue()


class SeededOperations(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = run.fixture_dir(SF)

    def test_same_seed_same_list_other_seed_other_terms(self):
        for w in workloads.WORKLOADS:
            a = workloads.ops_text(workloads.operations(w, 1, self.data))
            self.assertEqual(a, workloads.ops_text(workloads.operations(w, 1, self.data)))
        one = workloads.operations("sparql_mixed", 1, self.data)
        two = workloads.operations("sparql_mixed", 2, self.data)
        self.assertNotEqual({o.text for o in one}, {o.text for o in two})

    def test_every_text_runs_on_all_four_layouts(self):
        ops = workloads.operations("sparql_mixed", 3, self.data)
        for op_id in {o.id for o in ops}:
            self.assertEqual({o.layout for o in ops if o.id == op_id},
                             set(workloads.LAYOUTS))


class EndToEnd(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_metrics(self, result, stdout, kind):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], stdout)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in self.spec[kind]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        for name, unit in want.items():
            self.assertIn(f"  {name} = ", stdout)
            self.assertIsInstance(result["metrics"][name]["value"], float)

    def test_sparql_untraced_then_corrupted_answer(self):
        result, stdout = bench("sparql_mixed", 0)
        self.assert_metrics(result, stdout, "end_to_end")
        self.assertIn("latency_tail_ms is ", stdout)
        # Re-check the same saved answers with one expected answer made
        # wrong: every timed operation of that query must count as failed.
        data = run.fixture_dir(SF)
        out = os.path.join(build.BUILD, "work", "sparql_mixed", "out")
        ops = workloads.operations("sparql_mixed", 5, data)
        bad = "jn0"  # the chain join counted per supplier
        corrupted = [dataclasses.replace(o, oracle=o.oracle.replace("COUNT(t1.o)", "COUNT(t1.o) + 1"))
                     if o.id == bad else o for o in ops]
        timed = run.read_ops_tsv(os.path.join(out, "ops.tsv"))
        saved = run.read_fingerprints(out)
        self.assertEqual(run.count_failed(timed, run.check(ops, out, data), saved), 0)
        wrong = run.check(corrupted, out, data)
        self.assertEqual(wrong, {bad})
        self.assertEqual(run.count_failed(timed, wrong, saved),
                         sum(1 for r in timed if r["id"] == bad))
        # A timed execution whose result differs from the checked answer
        # (another fingerprint, as from another layout) counts as failed.
        stale = [dict(r, fp="1:1") if i == 0 else r for i, r in enumerate(timed)]
        self.assertEqual(run.count_failed(stale, set(), saved), 1)
        # The saved answer loses a row: the query is wrong.
        copy = os.path.join(build.BUILD, "work", "test_tampered")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(out, copy)
        path = os.path.join(copy, "results", f"{bad}.jsonl")
        with open(path) as f:
            lines = f.readlines()
        with open(path, "w") as f:
            f.writelines(lines[:-1])
        self.assertEqual(run.check(ops, copy, data), {bad})
        shutil.rmtree(copy)

    def test_sparql_traced(self):
        result, stdout = bench("sparql_mixed", 1)
        self.assert_metrics(result, stdout, "per_layer")
        values = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(values["sparql.plan_ms"], 0)
        self.assertGreater(values["core.encode_jobs"], 0)
        self.assertGreater(values["operators.graph_jobs"], 0)
        self.assertGreater(values["exec.jobs"], 0)
        spans = os.path.join(build.BUILD, "work", "sparql_mixed", "out", "spans.jsonl")
        with open(spans) as f:
            names = {json.loads(line)["name"] for line in f}
        self.assertTrue({"setup", "parse", "plan", "sink", "op"} <= names)
        self.assertTrue(any(n.startswith("job:") for n in names))

    def test_pipeline_traced(self):
        result, stdout = bench("pipeline_staged", 1)
        self.assert_metrics(result, stdout, "per_layer")
        values = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(values["queries.run_s"], 0)
        self.assertGreater(values["queries.run_jobs"], 0)


if __name__ == "__main__":
    unittest.main()

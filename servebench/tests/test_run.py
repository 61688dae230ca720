"""Self-tests for the servebench harness.

    python3 -m unittest discover -s servebench/tests

The end-to-end test builds and runs the real benchmark with an injected
failing statement (about a minute); set SERVEBENCH_E2E=1 to include it.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def rec(id_, expect="ok", is_error=False, rows=3, hash_="00000000000000aa", text="",
        kind="query", ms=10.0):
    return {"rid": "r-" + id_, "id": id_, "kind": kind, "expect": expect, "ms": ms,
            "meta_ms": -1.0, "query_ms": -1.0, "well_formed": True, "is_error": is_error,
            "rows": rows, "hash": hash_, "text": text}


def run_output(calls, check=None):
    return {"setup_s": [9.0, 1.2, 1.1], "batch_s": 5.0, "window_s": 10.0, "rss_peak_mb": 900.0,
            "check": check or [], "warm": [], "calls": calls}


DIGESTS = {"q": {"rows": 3, "hash": "00000000000000aa"},
           "m": {"rows": 3, "hash": "00000000000000aa"}}


class PercentileTest(unittest.TestCase):
    def test_known_sample(self):
        sample = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(run.percentile(sample, 50), 50)
        self.assertEqual(run.percentile(sample, 90), 90)
        self.assertEqual(run.percentile(sample, 99), 99)
        self.assertEqual(run.percentile(sample, 100), 100)

    def test_small_samples(self):
        self.assertEqual(run.percentile([7.0], 99), 7.0)
        self.assertEqual(run.percentile([1, 2, 3, 4], 50), 2)
        self.assertEqual(run.percentile([1, 2, 3, 4], 99), 4)
        with self.assertRaises(run.BenchError):
            run.percentile([], 50)


class PipelineTotalsTest(unittest.TestCase):
    def test_latencies_are_per_query_percentiles_summed(self):
        calls = []
        for q, walls in (("a", [100.0, 300.0, 200.0]), ("b", [10.0, 30.0, 20.0])):
            for i, ms in enumerate(walls):
                calls.append(dict(rec(q, kind="pipeline", ms=ms), rid=f"p{i}-{q}",
                                  meta_ms=ms / 4, query_ms=3 * ms / 4))
        digests = {"a": DIGESTS["q"], "b": DIGESTS["q"]}
        result, details, code = run.summarize(run_output(calls), "pipeline_batch", 0, digests)
        self.assertEqual(code, 0)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m["call_p50_ms"], 220.0)
        self.assertEqual(m["call_p90_ms"], 330.0)
        self.assertEqual(m["meta_p50_ms"], 55.0)
        self.assertEqual(m["query_p50_ms"], 165.0)
        self.assertEqual(details["samples"]["queries"], 2)
        self.assertEqual(details["samples"]["passes"], 3)


class AgentQueryLatencyTest(unittest.TestCase):
    def test_query_latency_averages_each_statements_median(self):
        calls = [dict(rec("a", ms=ms), rid=f"a{i}") for i, ms in enumerate([10.0, 30.0, 20.0])]
        calls += [dict(rec("b", ms=ms), rid=f"b{i}") for i, ms in enumerate([200.0, 100.0])]
        calls += [rec("m", kind="meta", ms=5.0)]
        digests = dict(DIGESTS, a=DIGESTS["q"], b=DIGESTS["q"])
        result, details, _ = run.summarize(run_output(calls), "agent_explore", 0, digests)
        # statement a: median 20; b (nearest rank of two): 100
        self.assertEqual(result["metrics"]["query_p50_ms"]["value"], 60.0)
        self.assertEqual(result["metrics"]["meta_p50_ms"]["value"], 5.0)
        self.assertEqual(details["samples"]["query_calls"], 5)


class CheckTest(unittest.TestCase):
    def test_matching_reply_passes(self):
        self.assertIsNone(run.check_record(rec("q"), DIGESTS))

    def test_tampered_digest_is_caught(self):
        tampered = {"q": {"rows": 3, "hash": "00000000000000ab"}}
        self.assertIn("digest", run.check_record(rec("q"), tampered))
        self.assertIn("rows", run.check_record(rec("q"), {"q": {"rows": 4, "hash": ""}}))

    def test_tampered_digest_file_fails_the_run(self):
        out = run_output([rec("q"), rec("m", kind="meta")])
        _, _, code = run.summarize(out, "agent_explore", 0, DIGESTS)
        self.assertEqual(code, 0)
        tampered = dict(DIGESTS, m={"rows": 3, "hash": "ffffffffffffffff"})
        result, details, code = run.summarize(out, "agent_explore", 0, tampered)
        self.assertEqual(code, 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertEqual(details["failures"][0]["id"], "m")

    def test_refusals_must_carry_the_message(self):
        ok = rec("w", expect="guard", is_error=True,
                 text="security restriction: only SELECT, SHOW, DESCRIBE, and EXPLAIN")
        self.assertIsNone(run.check_record(ok, {}))
        wrong = rec("w", expect="guard", is_error=True, text="query execution failed: boom")
        self.assertIsNotNone(run.check_record(wrong, {}))
        served = rec("w", expect="allowlist", is_error=False)
        self.assertIsNotNone(run.check_record(served, {}))

    def test_malformed_reply_fails(self):
        bad = dict(rec("q"), well_formed=False, text="HTTP 500")
        self.assertIn("malformed", run.check_record(bad, DIGESTS))


class InjectedFailureTest(unittest.TestCase):
    def test_throwing_statement_raises_error_rate_and_exit_code(self):
        thrown = rec("inject:missing_column", is_error=True,
                     text="query execution failed: [UNRESOLVED_COLUMN.WITHOUT_SUGGESTION]")
        out = run_output([rec("q"), thrown, rec("m", kind="meta")])
        result, details, code = run.summarize(out, "agent_explore", 0, DIGESTS)
        self.assertEqual(code, 1)
        self.assertEqual(result["failed"], 1)
        self.assertGreater(details["error_rate"], 0)
        # the failed call is not a fast success: it is counted as failed,
        # and the metrics still come from every call
        self.assertEqual(details["samples"]["calls"], 3)

    @unittest.skipUnless(os.environ.get("SERVEBENCH_E2E") == "1", "set SERVEBENCH_E2E=1")
    def test_end_to_end_injection_exits_non_zero(self):
        p = subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "run.py"),
                            "--workload", "agent_explore", "--seed", "5", "--seconds", "2",
                            "--trace", "0", "--inject-failure"],
                           cwd=os.path.dirname(os.path.dirname(HERE)),
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        details = json.loads(p.stdout.strip().splitlines()[-2])["details"]
        self.assertGreater(details["error_rate"], 0)
        self.assertTrue(any(f["id"] == "inject:missing_column" for f in details["failures"]))


class ResultLineTest(unittest.TestCase):
    def test_result_line_has_exactly_the_contract_keys(self):
        out = run_output([rec("q"), rec("m", kind="meta")])
        result, _, _ = run.summarize(out, "agent_explore", 0, DIGESTS)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), set(run.END_TO_END))
        traced = dict(out, layers={"mcp.handle_ms": 2.5})
        result, _, _ = run.summarize(traced, "agent_explore", 1, DIGESTS)
        self.assertEqual(set(result["metrics"]), set(run.PER_LAYER))
        self.assertEqual(result["metrics"]["mcp.handle_ms"]["value"], 2.5)

    def test_benchmark_json_names_the_same_metrics(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()

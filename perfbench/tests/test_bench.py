"""The benchmark's own tests: checker, stub server, generator, span summary.

    python3 -m unittest discover -s perfbench/tests
"""
import http.client
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from stub import StubServer  # noqa: E402

MODEL = "bench-model"


def make_rows(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "in.csv")
        rows, props, fail = gen.make(workload, seed, path)
        with open(path, "rb") as f:
            data = f.read()
    return rows, props, fail, data


def perfect_records(rows, group_col):
    expected = check.expected_answers(rows, group_col, MODEL)
    return [dict(r, response=expected[r["id"]]) for r in rows], expected


class CheckerTest(unittest.TestCase):
    def test_flat_dropped_row_and_wrong_answer_fail(self):
        rows, _, _, _ = make_rows("enrich_flat", 3)
        records, expected = perfect_records(rows, None)
        self.assertEqual(check.check_records(rows, expected, records)[0], 0)
        broken = records[:10] + records[11:]          # one row dropped
        broken[20] = dict(broken[20], response="[bench-model] WRONG")
        failed, problems = check.check_records(rows, expected, broken)
        self.assertEqual(failed, 2)
        self.assertGreater(failed / len(rows), 0)
        self.assertTrue(any("missing" in p for p in problems))
        self.assertTrue(any("wrong response" in p for p in problems))

    def test_conversation_history_is_checked(self):
        rows, _, _, _ = make_rows("enrich_conversations", 3)
        records, expected = perfect_records(rows, "conversation")
        self.assertEqual(check.check_records(rows, expected, records)[0], 0)
        # an answer computed without the conversation's history fails
        first_turns = {}
        for r in rows:
            first_turns.setdefault(r["conversation"], r["id"])
        later = next(r for r in records if first_turns[r["conversation"]] != r["id"])
        stateless = check.expected_answers([later], None, MODEL)[later["id"]]
        broken = [dict(r, response=stateless) if r is later else r for r in records]
        self.assertEqual(check.check_records(rows, expected, broken)[0], 1)

    def test_out_of_order_and_duplicate_rows_fail(self):
        rows, _, _, _ = make_rows("enrich_flat", 4)
        records, expected = perfect_records(rows, None)
        swapped = records[:5] + [records[6], records[5]] + records[7:]
        self.assertGreater(check.check_records(rows, expected, swapped)[0], 0)
        doubled = records + [records[0]]
        self.assertGreater(check.check_records(rows, expected, doubled)[0], 0)

    def test_query_failures_count_and_are_named(self):
        passes = [{"queries": [{"name": "qa", "rows": 5}, {"name": "qb", "rows": 7}]},
                  {"queries": [{"name": "qa", "rows": 5}, {"name": "qb", "error": "boom"}]},
                  {"queries": [{"name": "qa", "rows": 6}, {"name": "qb", "rows": 7}]}]
        attempted, failed, names = check.check_query_passes(passes, {"qa": 5})
        self.assertEqual((attempted, failed, names), (6, 2, ["qa", "qb"]))
        attempted, failed, names = check.check_query_passes(passes[:1], {"qa": 4})
        self.assertEqual((failed, names), (1, ["qa"]))


def drive(stub, rows):
    """A closed-loop client that retries a 503 once, as RetryPolicy does."""
    conn = http.client.HTTPConnection("127.0.0.1", stub.port)
    statuses = []
    for r in rows:
        body = json.dumps({"model": MODEL, "messages": [
            {"role": "user", "content": gen.prompt(r["id"], r["text"])}]})
        while True:
            conn.request("POST", "/v1/chat/completions", body,
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            payload = json.loads(resp.read())
            statuses.append((int(r["id"]), resp.status))
            if resp.status == 200:
                content = payload["choices"][0]["message"]["content"]
                assert content == check.expected_answers([r], None, MODEL)[r["id"]]
                break
    conn.close()
    return statuses


class StubTest(unittest.TestCase):
    def run_once(self, seed, rows):
        fail = gen.inject_ids(seed, [int(r["id"]) for r in rows], 3)
        stub = StubServer(latency_ms=1, fail_ids=fail).start()
        try:
            statuses = drive(stub, rows)
        finally:
            stub.stop()
        return fail, statuses, stub.log()

    def test_calls_equal_rows_plus_retries_and_repeat(self):
        rows = make_rows("enrich_flat", 11)[0][:150]
        fail, statuses, log = self.run_once(11, rows)
        self.assertEqual(len(log), len(rows) + len(fail))
        self.assertEqual(sum(1 for r in log if r["status"] == 503), len(fail))
        self.assertTrue(all(r["done_us"] - r["arrival_us"] >= 1000 for r in log))
        again = self.run_once(11, rows)
        self.assertEqual(again[1], statuses)
        self.assertEqual([(r["row"], r["status"], r["bytes"]) for r in again[2]],
                         [(r["row"], r["status"], r["bytes"]) for r in log])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_input(self):
        for workload in ("enrich_flat", "enrich_conversations"):
            a, b, c = (make_rows(workload, s) for s in (5, 5, 6))
            self.assertEqual(a[3], b[3])
            self.assertEqual(a[2], b[2])
            self.assertNotEqual(a[3], c[3])

    def test_conversation_sizes_follow_zipf(self):
        _, props, _, _ = make_rows("enrich_conversations", 1)
        sizes = gen.zipf_sizes(gen.CONV_ROWS, gen.CONV_GROUPS)
        self.assertEqual(sum(sizes), gen.CONV_ROWS)
        self.assertEqual(props["groups"], gen.CONV_GROUPS)
        self.assertEqual(props["longest_group"], sizes[0])


class BenchmarkJsonTest(unittest.TestCase):
    def test_declared_metrics_are_the_ones_run_prints(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.per_layer_units())
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"]))


class TraceTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [{"id": 1, "parent": 0, "name": "cycle", "start_us": 0, "end_us": 10_000_000},
                 {"id": 2, "parent": 1, "name": "exec", "start_us": 1_000_000,
                  "end_us": 5_000_000},
                 {"id": 3, "parent": 2, "name": "call", "start_us": 2_000_000,
                  "end_us": 4_000_000},
                 {"id": 4, "parent": 2, "name": "call", "start_us": 3_000_000,
                  "end_us": 4_500_000}]
        s = run.self_times(spans)
        self.assertAlmostEqual(s["cycle"], 6.0)
        self.assertAlmostEqual(s["exec"], 1.5)
        self.assertAlmostEqual(s["call"], 3.5)


if __name__ == "__main__":
    unittest.main()

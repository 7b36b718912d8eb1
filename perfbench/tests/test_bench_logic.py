"""Tests for the benchmark's own logic (not graft's).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_empty(self):
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))

    def test_ten_beyond(self):
        # 0..100: p90 is the highest percentile with ten samples above it
        v, pct, n = metrics.tail(list(range(101)))
        self.assertEqual((v, pct, n), (90, 90.0, 101))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        # 13 samples: index 2 leaves exactly ten above it
        self.assertEqual(metrics.tail(xs)[0], 2.0)

    def test_eleven_samples_is_the_minimum(self):
        v, pct, _ = metrics.tail([float(i) for i in range(11)])
        self.assertEqual((v, pct), (0.0, 0.0))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


def span(i, name, parent, start, end, **c):
    return {"id": i, "name": name, "parent": parent, "op": 0,
            "start_s": start, "end_s": end, "c": c}


class SelfTimeTest(unittest.TestCase):
    spans = [
        span(0, "op.refresh", -1, 0.0, 10.0, jobs=1),
        span(1, "ivm.view", 0, 0.0, 2.0, jobs=2),
        span(2, "ivm.maintain", 0, 2.0, 7.0, jobs=3),
        span(3, "inner", 2, 3.0, 4.5, jobs=4),
        span(4, "ivm.materialize", 0, 7.0, 9.5),
    ]

    def test_self_is_span_minus_children(self):
        own = metrics.self_times(self.spans)
        self.assertAlmostEqual(own[0], 10.0 - 2.0 - 5.0 - 2.5)
        self.assertAlmostEqual(own[2], 5.0 - 1.5)
        self.assertAlmostEqual(own[3], 1.5)

    def test_self_times_sum_to_the_root(self):
        own = metrics.self_times(self.spans)
        self.assertAlmostEqual(sum(own.values()), 10.0)

    def test_inclusive_counters(self):
        inc = metrics.inclusive(self.spans)
        self.assertEqual(inc[0]["jobs"], 10)
        self.assertEqual(inc[2]["jobs"], 7)
        self.assertEqual(inc[4].get("jobs", 0), 0)


class EndToEndTest(unittest.TestCase):
    def test_warm_passes_only(self):
        ops = [{"id": i, "kind": "read", "name": "q", "pass": p,
                "start_s": 0.0, "end_s": d}
               for i, (p, d) in enumerate([(0, 9.0), (1, 1.0), (1, 3.0), (2, 2.0)])]
        ops.append({"id": 9, "kind": "advance", "name": "a", "pass": 1,
                    "start_s": 0.0, "end_s": 50.0})
        res = {"ops": ops, "setup_s": [9.0, 2.0, 3.0], "heap_live_mb": 10.0,
               "passes": [{"pass": 0, "start_s": 0, "end_s": 9},
                          {"pass": 1, "start_s": 9, "end_s": 13},
                          {"pass": 2, "start_s": 13, "end_s": 14},
                          {"pass": 3, "start_s": 14, "end_s": 24}]}
        m, meta = metrics.end_to_end(res, failed=1)
        self.assertEqual(m["setup_s"][0], 3.0)
        self.assertEqual(m["cold_pass_s"][0], 9.0)
        # the mean warm pass (4, 1 and 10 s), not the median
        self.assertEqual(m["pass_s"][0], 5.0)
        self.assertEqual(m["ok_frac"][0], 4 / 5)
        self.assertEqual(meta["op_p50_s"], 2.0)
        self.assertEqual(meta["tail_samples"], 3)


class TraceOverheadTest(unittest.TestCase):
    def test_matched_by_op_name(self):
        def op(name, p, d):
            return {"name": name, "pass": p, "start_s": 0.0, "end_s": d}
        # traced passes ran only the slow op once; untraced ran both
        ops = [op("fast", 1, 1.0), op("slow", 1, 4.0), op("slow", 2, 4.4),
               op("slow", 3, 4.2), op("fast", 4, 1.0), op("cold", 0, 50.0)]
        self.assertAlmostEqual(metrics.trace_overhead(ops, {3}, {1, 2, 4}), 0.0)
        self.assertAlmostEqual(metrics.trace_overhead(ops, {2}, {1}), 0.1)
        self.assertEqual(metrics.trace_overhead(ops, {4}, {3}), 0.0)


def digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_tables_are_a_function_of_the_seed(self):
        a, b = gen.make_tables(0.002, 7), gen.make_tables(0.002, 7)
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        c = gen.make_tables(0.002, 8)
        self.assertFalse(a["orders"].equals(c["orders"]))

    def test_schema_matches_the_engine_layout(self):
        t = gen.make_tables(0.002, 1)
        self.assertEqual(str(t["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(t["nation"].schema.field("n_nationkey").type), "int32")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")
        self.assertEqual(t["lineitem"].num_rows, 4 * t["orders"].num_rows)

    def test_ivm_inputs_are_deterministic(self):
        with tempfile.TemporaryDirectory() as x, tempfile.TemporaryDirectory() as y:
            sa = gen.ivm_inputs(x, 0.002, 3, 4, 10)
            sb = gen.ivm_inputs(y, 0.002, 3, 4, 10)
            self.assertEqual(sa, sb)
            self.assertEqual(digest(x), digest(y))
            self.assertEqual(len(os.listdir(os.path.join(x, "pool"))), 8)

    def test_op_streams_are_deterministic(self):
        self.assertEqual(gen.lake_ops(5, 15, 1000, 50), gen.lake_ops(5, 15, 1000, 50))
        self.assertNotEqual(gen.lake_ops(5, 15, 1000, 50), gen.lake_ops(6, 15, 1000, 50))
        names = ["a", "b", "c", "d"]
        self.assertEqual(gen.query_orders(5, names, 4), gen.query_orders(5, names, 4))
        self.assertNotEqual(gen.query_orders(5, names, 4), gen.query_orders(6, names, 4))
        for order in gen.query_orders(5, names, 4):
            self.assertEqual(sorted(order), names)

    def test_every_ten_lake_ops_give_each_table_every_kind(self):
        ops = gen.lake_ops(1, 40, 1000, 50)
        for start in range(0, 40, 10):
            block = ops[start:start + 10]
            self.assertEqual(sorted((o["kind"], o["fmt"]) for o in block),
                             sorted((k, f) for k in gen.LAKE_KINDS
                                    for f in ("delta", "iceberg")))
        self.assertTrue(all(o["kind"] == "maintenance" for o in ops[4::5]))
        fmts = [o["fmt"] for o in ops]
        self.assertTrue(all(a != b for a, b in zip(fmts, fmts[1:])))

    def test_merge_keys_are_unique(self):
        for op in gen.lake_ops(2, 20, 1000, 50):
            if op["kind"] == "merge":
                keys = [r[0] for r in op["rows"]]
                self.assertEqual(len(keys), len(set(keys)))


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark's own logic; no Spark, no JVM.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from stats import median, self_times, space_amp, tail, write_amp  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond(self):
        for n in (11, 12, 20, 37, 50, 100, 1000):
            xs = list(range(n))
            v, p, m = tail(xs)
            self.assertEqual(m, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(tail(list(range(100))), (89, 90, 100))
        self.assertEqual(tail(list(range(11))), (0, 9, 11))
        self.assertEqual(tail(list(range(1000))), (989, 99, 1000))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100, 3))

    def test_order_does_not_matter(self):
        self.assertEqual(tail([5, 1, 4, 2, 3] * 5), tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


def span(i, parent, name, a, b):
    return {"id": i, "parent": parent, "op": 0, "name": name,
            "start_ns": int(a * 1e9), "end_ns": int(b * 1e9)}


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(0, -1, "op", 0, 10),
                 span(1, 0, "a", 1, 4), span(2, 0, "a", 3, 6),  # overlap: covers 1..6
                 span(3, 0, "b", 8, 12),                        # clipped to 8..10
                 span(4, 3, "c", 8.5, 9)]                       # grandchild: b's, not op's
        t = self_times(spans)
        self.assertAlmostEqual(t["op"][0], 10)
        self.assertAlmostEqual(t["op"][1], 3)
        self.assertAlmostEqual(t["a"][0], 6)
        self.assertAlmostEqual(t["a"][1], 6)
        self.assertAlmostEqual(t["b"][1], 3.5)
        self.assertAlmostEqual(t["c"][1], 0.5)

    def test_leaf_self_is_duration(self):
        self.assertAlmostEqual(self_times([span(0, -1, "x", 2, 5)])["x"][1], 3)


class Amplification(unittest.TestCase):
    def test_ratios(self):
        self.assertAlmostEqual(write_amp(3_000, 1_000), 3.0)
        self.assertAlmostEqual(space_amp(24_000_000, 10_000_000), 2.4)

    def test_empty_denominators_are_refused(self):
        with self.assertRaises(ValueError):
            write_amp(1, 0)
        with self.assertRaises(ValueError):
            space_amp(1, 0)


def aggregate(rows):
    """Reference for the model's running sums: count, sum(l_quantity),
    sum(l_orderkey), sum(l_linenumber)."""
    return [len(rows), float(sum(r[4] for r in rows)), sum(r[0] for r in rows),
            sum(r[3] for r in rows)]


def replay(base, plan, upto):
    """Reference table state (key -> row) after rounds 0..upto of `plan`."""
    state = {(r[0], r[3]): r for r in base}
    for rnd in plan[:upto + 1]:
        for r in rnd["upsert"]:
            state[(r[0], r[3])] = r
        for r in rnd["delete"]:
            state.pop((r[0], r[3]), None)
    return state


class QueryTables(unittest.TestCase):
    def test_one_seed_one_set_of_tables(self):
        import tempfile
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 4), ("b", 4), ("c", 5)):
                os.mkdir(os.path.join(d, sub))
                gen.write_tables(os.path.join(d, sub), seed, 0.001)
            for t in oracle.TABLES:
                a, b, c = (pq.read_table(os.path.join(d, sub, f"{t}.parquet")) for sub in "abc")
                self.assertTrue(a.equals(b), t)
                if t not in ("region", "nation"):
                    self.assertFalse(a.equals(c), t)


def op(name, pass_, traced, wall):
    return {"name": name, "pass": pass_, "traced": traced, "wall_s": wall}


class TraceOverhead(unittest.TestCase):
    def test_linear_drift_cancels(self):
        # speed drifts by 0.1 s a pass; tracing adds nothing
        ops = [op("q", p, p in (1, 4), 1.0 + 0.1 * p) for p in range(1, 5)]
        self.assertAlmostEqual(metrics.overhead(ops, 1), 0.0)

    def test_partial_blocks_are_left_out(self):
        ops = [op("q", p, p in (1, 4), 1.1 if p in (1, 4) else 1.0) for p in range(1, 5)]
        ops += [op("r", 5, True, 2.0), op("r", 6, False, 1.0)]  # an unfinished block
        self.assertAlmostEqual(metrics.overhead(ops, 1), 0.1)


class EndToEnd(unittest.TestCase):
    def test_warm_up_passes_and_cold_set_up(self):
        w = {"kind": "sweep", "warm_passes": 2}
        ops = [dict(op(n, p, False, 9.0 if p < 2 else 1.0), ok=True)
               for p in range(6) for n in ("a", "b")]
        res = {"ops": ops, "setup": [{"total_s": 12.0}, {"total_s": 0.5}, {"total_s": 0.7}]}
        m = metrics.end_to_end(w, res, {})
        self.assertEqual(m["setup_s"]["value"], 0.6)
        self.assertEqual(m["setup_cold_s"]["value"], 12.0)
        self.assertEqual(m["op_p50_s"]["value"], 1.0)
        self.assertEqual(m["op_tail_s"]["value"], 1.0)
        self.assertEqual(m["pass_s"]["value"], 2.0)


class Canon(unittest.TestCase):
    def test_canonical_form(self):
        import pandas as pd
        a = pd.DataFrame({"b": [2.0000001, 1.5], "a": ["x", "y"]})
        b = pd.DataFrame({"a": ["y", "x"], "b": [1.5, 2.0]})
        self.assertEqual(oracle.canon(a), oracle.canon(b))
        self.assertEqual(oracle.canon(a)[0], ["a", "b"])

    def test_decimals_keep_their_scale(self):
        # as in tools/compare.py: str() of a decimal, so 7.20 != 7.2
        import decimal
        import pandas as pd
        a = pd.DataFrame({"a": [decimal.Decimal("7.20")]})
        b = pd.DataFrame({"a": [decimal.Decimal("7.2")]})
        self.assertNotEqual(oracle.canon(a), oracle.canon(b))

    def test_non_scalar_cells_are_refused(self):
        import pandas as pd
        with self.assertRaises(oracle.NonScalarCell):
            oracle.canon(pd.DataFrame({"a": [[1, 2]]}))


class CdcPlan(unittest.TestCase):
    N, ROUNDS, LOOKUPS = 5_000, 6, 6

    def test_one_seed_one_plan(self):
        a = gen.cdc_plan(7, self.N, self.ROUNDS, self.LOOKUPS)
        b = gen.cdc_plan(7, self.N, self.ROUNDS, self.LOOKUPS)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.cdc_plan(8, self.N, self.ROUNDS, self.LOOKUPS))

    def test_batches_and_lookups(self):
        base, plan = gen.cdc_plan(3, self.N, self.ROUNDS, self.LOOKUPS)
        self.assertEqual(len({(r[0], r[3]) for r in base}), self.N)
        state = {(r[0], r[3]): r for r in base}
        for rnd in plan:
            keys = [(r[0], r[3]) for r in rnd["upsert"]]
            self.assertEqual(len(keys), len(set(keys)))
            updated = [k for k in keys if k in state]
            self.assertAlmostEqual(len(updated) / len(state), 0.02, delta=0.002)
            hot = sum(1 for k in updated if state[k][11] == gen.YEARS[-1])
            self.assertGreater(hot / len(updated), 0.6)
            for r in rnd["upsert"]:
                k = (r[0], r[3])
                if k in state:  # an update keeps its key's ship date and partition
                    self.assertEqual(r[10:], state[k][10:])
                state[k] = r
            for r in rnd["delete"]:
                self.assertEqual(state.pop((r[0], r[3])), r)
            self.assertEqual(len(rnd["lookups"]), self.LOOKUPS)
        self.assertEqual(state, replay(base, plan, self.ROUNDS - 1))
        probes = [k for rnd in plan for k in rnd["lookups"]]
        absent = [k for k in probes if k[1] >= gen.ABSENT_ORDERKEY]
        self.assertEqual(len(absent), len(probes) // 10)

    def test_model_matches_replay(self):
        base, plan = gen.cdc_plan(5, self.N, self.ROUNDS, self.LOOKUPS)
        m = oracle.Model(base)
        for i, rnd in enumerate(plan):
            m.apply(rnd)
            state = replay(base, plan, i)
            self.assertEqual(m.state, state)
            rows = list(state.values())
            self.assertEqual(m.full, aggregate(rows))
            self.assertEqual(m.hot, aggregate([r for r in rows if r[11] == gen.YEARS[-1]]))
            for key in rnd["lookups"]:
                y, o, l = key
                want = [list(state[(o, l)])] if (o, l) in state and state[(o, l)][11] == y else []
                self.assertEqual(m.lookup(key), want)


if __name__ == "__main__":
    unittest.main()

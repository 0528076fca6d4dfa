"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        for n in (20, 37, 100, 1000):
            values = list(range(n, 0, -1))
            value, pct, count = stats.tail(values)
            self.assertEqual(count, n)
            self.assertEqual(sum(v > value for v in values), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_percentile_rises_with_sample_count(self):
        self.assertEqual(stats.tail(list(range(100)))[:2], (89, 90.0))
        self.assertEqual(stats.tail(list(range(1000)))[:2], (989, 99.0))

    def test_small_sample_falls_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))
        self.assertEqual(stats.tail([float(v) for v in range(19)]), (9.0, 50.0, 19))
        self.assertEqual(stats.tail([float(v) for v in range(20)]), (9.0, 50.0, 20))


def span(sid, parent, start, end, name="s", op="op-0"):
    return {"id": sid, "parent": parent, "start_ns": start, "end_ns": end, "name": name, "op": op}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90), span(4, 3, 60, 70)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 20, 3: 30, 4: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(1, 0, 0, 1000), span(2, 1, 100, 400), span(3, 2, 150, 300),
                 span(4, 1, 500, 900), span(5, 4, 600, 700), span(6, 4, 700, 800)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)

    def test_span_layers_count_outermost_only(self):
        ms = 1_000_000
        spans = [
            span(1, 0, 0, 100 * ms, "op"),
            span(2, 1, 0, 2 * ms, "contracts.store.listVersions"),
            span(3, 1, 10 * ms, 20 * ms, "governance.record"),
            span(4, 3, 11 * ms, 12 * ms, "governance.store.put"),
            span(5, 0, 0, 50 * ms, "replay", op="replay-0"),
            span(6, 5, 0, 5 * ms, "governance.record", op="replay-0"),
            span(7, 6, 1 * ms, 3 * ms, "governance.record", op="replay-0"),
            span(8, 5, 5 * ms, 9 * ms, "align.build", op="replay-0"),
        ]
        got = stats.span_layers(spans, "op-0", "replay-0")
        self.assertEqual(got["contracts.store_calls"], 2)
        self.assertAlmostEqual(got["contracts.resolve_ms"], 2.0)
        self.assertAlmostEqual(got["governance.record_ms"], 10.0)
        self.assertAlmostEqual(got["align.build_ms"], 4.0)


class PairedOverheadTest(unittest.TestCase):
    def test_drift_cancels(self):
        # op times fall by 0.1 s an iteration; traced pairs 2-3, 6-7 cost 0.05 s more
        ops = {i: 2.0 - 0.1 * i + (0.05 if i // 2 % 2 else 0.0) for i in range(10)}
        traced = {i: v for i, v in ops.items() if i // 2 % 2}
        untraced = {i: v for i, v in ops.items() if not i // 2 % 2}
        self.assertAlmostEqual(stats.paired_overhead(untraced, traced, gap=2), 0.05)

    def test_last_traced_op_pairs_with_one_neighbour(self):
        self.assertAlmostEqual(stats.paired_overhead({0: 1.0}, {1: 1.5}, gap=1), 0.5)


class EndToEndTest(unittest.TestCase):
    def test_rows_per_s_is_throughput_of_the_timed_loop(self):
        raw = {"loop_s": 12.0, "jobs": {"op-0": 9, "op-1": 9, "op-2": 10, "op-3": 9, "": 40},
               "ops": [{"i": i, "governed_s": g, "plain_s": 0.5} for i, g in enumerate((1.0, 2.0, 3.0, 4.0))]}
        m, _ = run.governed_metrics(raw, {"rows": 1000})
        self.assertAlmostEqual(m["op_p50_s"], 2.5)
        self.assertAlmostEqual(m["rows_per_s"], 4 * 1000 / 12.0)
        self.assertAlmostEqual(m["overhead_x"], 5.0)
        # jobs outside any op's group (plain ops, output checks) do not count
        self.assertEqual(m["jobs_per_op"], 9)

    def test_cold_overhead_is_total_cold_over_total_warm(self):
        def op(q, p, cold, warm):
            return {"query": q, "pass": p, "cold_s": cold, "warm_s": warm}
        raw = {"loop_s": 10.0, "queries": ["a", "b"],
               "jobs": {"a-0/construct": 3, "a-0/execute": 1, "b-0/construct": 1, "b-0/execute": 5,
                        "a-0/warm/construct": 2, "a-1/construct": 3, "a-1/execute": 1,
                        "b-1/construct": 1, "b-1/execute": 5},
               "passes": [{"pass": 0, "ops": [op("a", 0, 2.0, 1.0), op("b", 0, 1.0, 1.0)]},
                          {"pass": 1, "ops": [op("b", 1, 3.0, 1.0), op("a", 1, 2.0, 1.0)]}]}
        m, _ = run.cold_metrics(raw, 100)
        self.assertAlmostEqual(m["overhead_x"], 8.0 / 4.0)
        # construction and execution jobs of a cold query; warm reruns excluded
        self.assertAlmostEqual(m["jobs_per_op"], 5.0)
        self.assertAlmostEqual(m["pass_s"], 4.0)

    def test_setup_runs_from_process_start_to_first_timed_op(self):
        self.assertAlmostEqual(run.setup_seconds({"timed_start_ms": 105_500}, 2.0, 100.0), 7.5)


class PlantedTruthTest(unittest.TestCase):
    """The manifest's planted counts equal an independent recount: DuckDB
    predicates over the written parquet, spelled here from the contracts'
    rules, not from the generator's planted row sets."""

    LINEITEM_RULES = {
        "not_null_l_orderkey": "l_orderkey IS NULL",
        "gt_l_quantity": "NOT (l_quantity > 0)",
        "le_l_quantity": "NOT (l_quantity <= 50)",
        "ge_l_discount": "NOT (l_discount >= 0)",
        "lt_l_discount": "NOT (l_discount < 0.11)",
        "enum_l_returnflag": "l_returnflag NOT IN ('A', 'N', 'R')",
        "regex_l_partcode": "NOT regexp_matches(l_partcode, '^P-[0-9]{6}$')",
    }
    ORDERS_RULES = {
        "not_null_o_custkey": "o_custkey IS NULL",
        "enum_o_orderstatus": "o_orderstatus NOT IN ('F', 'O', 'P')",
        "gt_o_totalprice": "NOT (o_totalprice > 0)",
        "regex_o_orderpriority": "NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$')",
        "ge_o_shippriority": "NOT (o_shippriority >= 0)",
    }

    def recount(self, workload, rules, seed):
        with tempfile.TemporaryDirectory() as lake:
            manifest = gen.generate(workload, seed, lake)
            path = os.path.join(lake, manifest["dataset"], "1.0.0", "*.parquet")
            con = duckdb.connect()
            con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}')")
            one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
            counts = {k: one(f"SELECT count(*) FROM t WHERE {p}") for k, p in rules.items()}
            any_rule = " OR ".join(f"coalesce({p}, false)" for p in rules.values())
            violating = one(f"SELECT count(*) FROM t WHERE {any_rule}")
            rows = one("SELECT count(*) FROM t")
            key = "o_orderkey" if workload == "pipeline_split" else "l_orderkey"
            dups = one(f"SELECT count({key}) - count(DISTINCT {key}) FROM t")
            types = dict(con.execute("SELECT column_name, column_type FROM (DESCRIBE t)").fetchall())
            con.close()
        return manifest, counts, violating, rows, dups, types

    def test_lineitem_batch(self):
        for seed in (1, 7):
            m, counts, violating, rows, dups, _ = self.recount("write_flag", self.LINEITEM_RULES, seed)
            self.assertEqual(counts, m["planted"])
            self.assertEqual(violating, m["violating_rows"])
            self.assertEqual(rows, m["rows"])
            self.assertEqual(dups, m["duplicate_keys"])

    def test_orders_source(self):
        for seed in (1, 7):
            m, counts, violating, rows, dups, types = self.recount("pipeline_split", self.ORDERS_RULES, seed)
            self.assertEqual(counts, m["planted"])
            self.assertEqual(violating, m["violating_rows"])
            self.assertEqual(rows, m["rows"])
            self.assertEqual(dups, m["duplicate_keys"])
            self.assertGreater(dups, 0)
            duck = {"INTEGER": "int", "SMALLINT": "smallint"}
            for column, (physical, _) in m["type_drift"].items():
                self.assertEqual(duck.get(types.get(column), "missing"), physical)

    def test_same_seed_same_inputs(self):
        a, b = gen.lineitem(5, n=2000)[0], gen.lineitem(5, n=2000)[0]
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(gen.lineitem(6, n=2000)[0]))


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic: the tail rule, error_ratio
accounting, write_amp/space_amp byte accounting on a tiny fixture, and
the traced run's self-time reconciliation.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import metrics


def listing(root):
    """{relative path: size} of the regular files under root, the shape
    of the listings the JVM records for tx-upsert."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class TailRule(unittest.TestCase):
    def test_no_tail_below_twenty_distinct_samples(self):
        # p50 of 1..19 is 10, with only 9 samples beyond it.
        self.assertIsNone(metrics.tail(list(range(1, 20))))

    def test_median_is_the_tail_at_twenty_samples(self):
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10, 10))

    def test_highest_level_with_ten_beyond(self):
        xs = list(range(1, 201))
        level, value, beyond = metrics.tail(xs)
        self.assertEqual((level, value, beyond), (95.0, 190, 10))
        # p99 = 198 leaves only 2 beyond, so it is not the tail.
        self.assertEqual(sum(1 for x in xs if x > metrics.percentile(xs, 99)), 2)

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(metrics.tail([1.0] * 100))
        level, value, beyond = metrics.tail([1.0] * 90 + [2.0] * 10)
        self.assertEqual((level, value, beyond), (90.0, 1.0, 10))

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 8
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class ErrorRatio(unittest.TestCase):
    def op(self, kind, ok=True):
        return {"kind": kind, "ok": ok}

    def test_raised_and_wrong_ops_both_count(self):
        ops = [self.op("q1"), self.op("q2", ok=False), self.op("q3"), self.op("q3")]
        self.assertEqual(metrics.error_ratio(ops, wrong_kinds={"q3"}), (4, 3, 0.75))

    def test_clean_run_is_zero(self):
        ops = [self.op("matmul")] * 5
        self.assertEqual(metrics.error_ratio(ops), (5, 0, 0.0))

    def test_an_op_wrong_twice_counts_once(self):
        ops = [self.op("q1", ok=False)]
        self.assertEqual(metrics.error_ratio(ops, wrong_kinds={"q1"}), (1, 1, 1.0))


class ByteAccounting(unittest.TestCase):
    def test_write_and_space_amp_on_a_tiny_table(self):
        with tempfile.TemporaryDirectory() as root:
            def put(rel, n):
                p = os.path.join(root, rel)
                os.makedirs(os.path.dirname(p), exist_ok=True)
                with open(p, "wb") as f:
                    f.write(b"x" * n)

            put("data/a.parquet", 100)
            put("_log/1.json", 10)
            snaps = [listing(root)]
            # Round 1 rewrites a.parquet as b.parquet and adds a log entry.
            put("data/b.parquet", 120)
            put("_log/2.json", 12)
            snaps.append(listing(root))
            # Round 2 writes a deletion vector; vacuum removes a.parquet.
            put("data/a.dv.parquet", 8)
            put("_log/3.json", 11)
            os.remove(os.path.join(root, "data/a.parquet"))
            snaps.append(listing(root))

        written = metrics.bytes_written(snaps)
        self.assertEqual(written, 120 + 12 + 8 + 11)
        # The rounds submitted 30 logical bytes of rows and 8 of keys.
        self.assertAlmostEqual(metrics.write_amp(written, 38), 151 / 38)
        disk = sum(snaps[-1].values())
        self.assertEqual(disk, 120 + 8 + 10 + 12 + 11)
        self.assertEqual(metrics.log_bytes(snaps[-1]), 33)
        # 50 logical bytes of live rows.
        self.assertAlmostEqual(metrics.space_amp(disk, 50), 161 / 50)

    def test_nothing_written_without_new_files(self):
        snap = {"data/a.parquet": 100}
        self.assertEqual(metrics.bytes_written([snap, dict(snap), dict(snap)]), 0)


class Reconciliation(unittest.TestCase):
    def test_self_times_sum_to_wall(self):
        spans = [("tx.merge", 1, 0, 60), ("scheduler.job", 2, 10, 50),
                 ("scheduler.stage", 3, 10, 30), ("scheduler.stage", 3, 20, 40),
                 ("catalyst.planning", 2, 2, 8)]
        st, outside = metrics.self_times(0, 100, spans)
        self.assertAlmostEqual(sum(st.values()), 100)
        self.assertEqual(outside, 0)
        self.assertAlmostEqual(st["op"], 40)
        self.assertAlmostEqual(st["catalyst.planning"], 6)
        # job self = its 40 ms minus the 30 ms its stages cover.
        self.assertAlmostEqual(st["scheduler.job"], 10)
        # 10-20 and 30-40 one stage each, 20-30 both: split evenly.
        self.assertAlmostEqual(st["scheduler.stage"], 30)
        self.assertAlmostEqual(st["tx.merge"], 60 - 6 - 40)

    def test_span_outside_its_op_is_the_error(self):
        st, outside = metrics.self_times(0, 100, [("scheduler.job", 2, 90, 130)])
        self.assertAlmostEqual(outside, 30)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 0, 25), 20)


if __name__ == "__main__":
    unittest.main()

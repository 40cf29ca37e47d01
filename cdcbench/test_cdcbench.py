"""Tests of the benchmark's own generator and oracle.

    python3 -m unittest discover -s cdcbench -p 'test_*.py'
"""

import base64
import filecmp
import os
import tempfile
import unittest

import gen
import oracle

DESTS = ["db.inv.a", "db.inv.b"]


def _row(key, op, ts, note="x"):
    """A row image in gen.COLUMNS order (without `loyalty`)."""
    return (key, "cust", 12345, 1, 2.5, True, 10, 20, note, "r01", op, ts)


class GeneratorTest(unittest.TestCase):

    def _write(self, root, seed):
        env = os.path.join(root, "env")
        rec = gen.envelope_files(env, seed, DESTS, 1000, 200, 3, 50, added_from_file=2)
        return env, rec

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            env_a, rec_a = self._write(a, 42)
            env_b, rec_b = self._write(b, 42)
            names = sorted(os.listdir(env_a))
            self.assertEqual(names, sorted(os.listdir(env_b)))
            self.assertEqual(len(names), 3)
            match, mismatch, errors = filecmp.cmpfiles(env_a, env_b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(rec_a, rec_b)

    def test_another_seed_gives_other_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            env_a, _ = self._write(a, 1)
            env_b, _ = self._write(b, 2)
            f = sorted(os.listdir(env_a))[0]
            self.assertFalse(filecmp.cmp(os.path.join(env_a, f), os.path.join(env_b, f), shallow=False))

    def test_no_partial_files_are_left_behind(self):
        with tempfile.TemporaryDirectory() as a:
            env, _ = self._write(a, 3)
            self.assertFalse([f for f in os.listdir(env) if f.startswith(".")])

    def test_column_added_from_the_named_file(self):
        with tempfile.TemporaryDirectory() as a:
            _, rec = self._write(a, 4)
            self.assertEqual({len(e[4]) for e in rec[1]}, {len(gen.COLUMNS) - 1})
            self.assertEqual({len(e[4]) for e in rec[2]}, {len(gen.COLUMNS)})

    def test_op_mix_and_key_reuse(self):
        with tempfile.TemporaryDirectory() as a:
            rec = gen.envelope_files(a, 5, DESTS, 1000, 300, 4, 500)
            ops = [e[2] for f in rec for e in f]
            for op, share in gen.OP_MIX:
                self.assertAlmostEqual(ops.count(op) / len(ops), share, delta=0.05)

    def test_decimal_wire_form_is_twos_complement(self):
        for v in (0, 1, -1, 127, 128, -128, -129, 10_000_000, -100_000):
            raw = base64.b64decode(gen.decimal_b64(v))
            self.assertEqual(int.from_bytes(raw, "big", signed=True), v)


class FoldTest(unittest.TestCase):
    """The oracle's fold on hand-written event scripts."""

    def test_same_timestamp_update_and_delete_the_delete_wins(self):
        state = oracle.fold_all([[
            ("t", 1, "c", 100, _row(1, "c", 100)),
            ("t", 1, "d", 200, _row(1, "d", 200)),
            ("t", 1, "u", 200, _row(1, "u", 200)),  # arrives later, lower priority
        ]])
        self.assertEqual(state.get("t", {}), {})

    def test_delete_then_reinsert_keeps_the_new_row(self):
        state = oracle.fold_all([
            [("t", 1, "c", 100, _row(1, "c", 100, "old"))],
            [("t", 1, "d", 200, _row(1, "d", 200, "old")),
             ("t", 1, "c", 300, _row(1, "c", 300, "new"))],
        ])
        self.assertEqual(state["t"], {1: _row(1, "c", 300, "new")})

    def test_insert_and_delete_in_one_batch_leave_nothing(self):
        state = oracle.fold_all([[
            ("t", 7, "c", 100, _row(7, "c", 100)),
            ("t", 7, "d", 101, _row(7, "d", 101)),
        ]])
        self.assertEqual(state.get("t", {}), {})

    def test_full_tie_goes_to_the_later_arrival(self):
        state = oracle.fold_all([[
            ("t", 1, "u", 100, _row(1, "u", 100, "first")),
            ("t", 1, "u", 100, _row(1, "u", 100, "second")),
        ]])
        self.assertEqual(state["t"][1][8], "second")

    def test_later_timestamp_wins_over_arrival_order(self):
        state = oracle.fold_all([[
            ("t", 1, "u", 300, _row(1, "u", 300, "newest")),
            ("t", 1, "u", 200, _row(1, "u", 200, "stale")),
        ]])
        self.assertEqual(state["t"][1][8], "newest")

    def test_a_later_batch_overrides_regardless_of_timestamp(self):
        state = oracle.fold_all([
            [("t", 1, "d", 500, _row(1, "d", 500))],
            [("t", 1, "u", 400, _row(1, "u", 400))],
        ])
        self.assertIn(1, state["t"])

    def test_destinations_are_independent(self):
        state = oracle.fold_all([[
            ("a", 1, "c", 1, _row(1, "c", 1)),
            ("b", 1, "c", 1, _row(1, "c", 1)),
            ("b", 1, "d", 2, _row(1, "d", 2)),
        ]])
        self.assertEqual(list(state["a"]), [1])
        self.assertEqual(state["b"], {})


class DigestTest(unittest.TestCase):

    def test_canonical_text(self):
        cols = gen.COLUMNS
        row = (5, "c", -50, 3, 12.125, False, 1_600_000_000_000_001, 19000, None, "r02", "u",
               1_700_000_000_000, None)
        self.assertEqual(oracle.canonical(row, cols),
                         "5|c|-0.50|3|12.125|false|1600000000000001|19000|\\N|r02|u|1700000000000|\\N")

    def test_digest_ignores_row_order(self):
        cols = gen.COLUMNS[:-1]
        rows = [_row(1, "u", 1), _row(2, "c", 2), _row(3, "u", 3)]
        self.assertEqual(oracle.table_hash(rows, cols), oracle.table_hash(rows[::-1], cols))
        self.assertNotEqual(oracle.table_hash(rows, cols), oracle.table_hash(rows[:2], cols))


if __name__ == "__main__":
    unittest.main()

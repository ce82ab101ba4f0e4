"""Tests of the gate-battery tables: `cd perfbench && python3 -m unittest test_gates`."""
import unittest

import gates


class TablesTest(unittest.TestCase):

    def test_tables_are_a_function_of_the_seed(self):
        a, b, c = gates.tables(7), gates.tables(7), gates.tables(8)
        self.assertEqual(sorted(a), sorted(gates.TABLES))
        self.assertTrue(all(a[t].equals(b[t]) for t in gates.TABLES))
        self.assertFalse(a["documents"].equals(c["documents"]))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_row_counts_and_text_volume_do_not_depend_on_the_seed(self):
        for seed in (1, 2):
            t = gates.tables(seed)
            for name, n in gates.ROWS.items():
                self.assertEqual(t[name].num_rows, n)
            words = sum(len(x.split(" ")) for x in t["documents"]["text"].to_pylist())
            self.assertEqual(words, sum(10 + 90 * i // 499 for i in range(500)))


if __name__ == "__main__":
    unittest.main()

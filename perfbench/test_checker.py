#!/usr/bin/env python3
"""Tests of the benchmark's own output checks.

    python3 perfbench/test_checker.py          # checker unit tests (seconds)
    python3 perfbench/test_checker.py --full   # also: each fault planted in a
                                               # real run must exit non-zero

Each fault must be detected: a missing key, an unsorted file, a key in two
files, and a changed oracle row.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checker  # noqa: E402

ANSWERS = {"apple": 3, "banana": 1, "cherry": 7, "date": 2, "elder": 5, "fig": 4}


def write_parts(d, parts):
    os.makedirs(d, exist_ok=True)
    for i, lines in enumerate(parts):
        with open(os.path.join(d, f"part-{i:05d}.txt"), "w") as fh:
            fh.writelines(f"{k} {v}\n" for k, v in lines)


def good_parts():
    """Three key-sorted files, each key in exactly one of them."""
    keys = sorted(ANSWERS)
    return [[(k, ANSWERS[k]) for i, k in enumerate(keys) if i % 3 == r] for r in range(3)]


class MapReduceOutput(unittest.TestCase):
    def check(self, parts, n_files=3):
        with tempfile.TemporaryDirectory() as d:
            write_parts(d, parts)
            return checker.check_mr_output(d, n_files, ANSWERS)

    def test_correct_output_passes(self):
        self.assertEqual(self.check(good_parts()), [])

    def test_missing_key(self):
        parts = good_parts()
        parts[1] = parts[1][1:]
        errs = self.check(parts)
        self.assertTrue(any("missing" in e for e in errs), errs)

    def test_unsorted_file(self):
        parts = good_parts()
        parts[0] = parts[0][::-1]
        errs = self.check(parts)
        self.assertTrue(any("not after" in e for e in errs), errs)

    def test_key_in_two_files(self):
        parts = good_parts()
        parts[2] = sorted(parts[2] + [parts[0][0]])
        errs = self.check(parts)
        self.assertTrue(any("in both" in e for e in errs), errs)

    def test_wrong_file_count(self):
        errs = self.check(good_parts(), n_files=4)
        self.assertTrue(any("output files" in e for e in errs), errs)

    def test_wrong_value(self):
        parts = good_parts()
        k, v = parts[0][0]
        parts[0][0] = (k, v + 1)
        errs = self.check(parts)
        self.assertTrue(any("wrong values" in e for e in errs), errs)


class OracleCompare(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        sql = "SELECT * FROM (VALUES (1::BIGINT, 'a', 0.5::DOUBLE), (2, 'b', 'nan'::DOUBLE)) t(id, s, x)"
        os.makedirs(os.path.join(d, "ours"))
        self.con.execute(f"COPY ({sql}) TO '{d}/ours/part-0.parquet' (FORMAT PARQUET)")
        self.con.execute(f"COPY ({sql}) TO '{d}/oracle.parquet' (FORMAT PARQUET)")
        with open(f"{d}/oracle.json", "w") as fh:
            fh.write('{"cols": ["id", "s", "x"], "types": ["BIGINT", "VARCHAR", "DOUBLE"]}')
        self.oracle = checker.load_oracle(self.con, f"{d}/oracle.parquet", f"{d}/oracle.json")
        self.ours = os.path.join(d, "ours")

    def tearDown(self):
        self.tmp.cleanup()

    def test_equal_result_passes(self):
        self.assertEqual(checker.check_oracle(self.con, self.ours, self.oracle), [])

    def test_changed_oracle_row(self):
        cols, types, rows = self.oracle
        changed = (cols, types, [(rows[0][0], "z", rows[0][2])] + rows[1:])
        errs = checker.check_oracle(self.con, self.ours, changed)
        self.assertTrue(errs and "first diff at row 0" in errs[0], errs)

    def test_missing_row(self):
        cols, types, rows = self.oracle
        errs = checker.check_oracle(self.con, self.ours, (cols, types, rows[:1]))
        self.assertTrue(errs and "rowcount" in errs[0], errs)

    def test_type_kind_mismatch(self):
        cols, types, rows = self.oracle
        errs = checker.check_oracle(self.con, self.ours, (cols, ["INTEGER"] + types[1:], rows))
        self.assertTrue(errs and "type-kind" in errs[0], errs)


def full_runs():
    """Plants each fault in a real run; every one must exit non-zero."""
    cases = [("mr_wordcount", "missing_key"), ("mr_wordcount", "unsorted"),
             ("mr_wordcount", "dup_key"), ("llm_curation", "oracle_row")]
    bad = 0
    for workload, fault in cases:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--inject", fault],
                           capture_output=True, text=True)
        wrong = [ln for ln in p.stdout.splitlines() if ln.startswith("WRONG")]
        ok = p.returncode == 1 and wrong
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {workload} --inject {fault}: exit {p.returncode}; "
              f"{wrong[0] if wrong else 'no WRONG line'}")
    return bad


if __name__ == "__main__":
    full = "--full" in sys.argv
    result = unittest.main(argv=[sys.argv[0]], exit=False).result
    failed = not result.wasSuccessful()
    if full:
        failed |= full_runs() > 0
    sys.exit(1 if failed else 0)

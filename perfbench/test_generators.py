"""Tests of the benchmark's input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.dont_write_bytecode = True

import checks  # noqa: E402
import mefgen  # noqa: E402
import tablegen  # noqa: E402


def digest(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(Path(d).iterdir())}


class MefGenTest(unittest.TestCase):
    def gen(self, d, seed):
        return mefgen.full_load_files(d, seed, 2000)

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ta, tb = self.gen(a, 7), self.gen(b, 7)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(ta, tb)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.gen(a, 7)
            self.gen(b, 8)
            self.assertNotEqual(digest(a), digest(b))

    def test_traps_present_and_counted(self):
        with tempfile.TemporaryDirectory() as d:
            files = self.gen(d, 3)
            by_name = {t["name"]: t for t in files}
            self.assertTrue(by_name["2019-Gasto.csv"]["legacy"])
            self.assertEqual(by_name["2020-Gasto-Mensual.csv"]["encoding"], "latin-1")
            self.assertTrue(by_name["2021-Gasto-Mensual.csv"]["bom"])
            self.assertTrue(by_name["2022-Gasto-Mensual.csv"]["padded_header"])
            raw = Path(d, "2021-Gasto-Mensual.csv").read_bytes()
            self.assertTrue(raw.startswith(b"\xef\xbb\xbf"))
            with self.assertRaises(UnicodeDecodeError):
                Path(d, "2020-Gasto-Mensual.csv").read_bytes().decode("utf-8")
            for t in files:
                self.assertGreater(t["bad_month_rows"], 0)
                self.assertGreater(t["bad_measure_cells"], 0)
                self.assertGreater(t["dup_grain_rows"], 0)
            # the tallies agree with an independent parse of the files
            con = checks.read_csvs([Path(d, t["name"]) for t in files])
            n_valid = con.execute("SELECT count(*) FROM raw").fetchone()[0]
            self.assertEqual(n_valid, sum(t["rows"] - t["bad_month_rows"] for t in files))
            bad = con.execute(
                "SELECT " + " + ".join(f"count(*) FILTER (WHERE {m} IS NULL)" for m in mefgen.MEASURES)
                + " FROM raw").fetchone()[0]
            valid_bad = sum(t["bad_measure_cells"] for t in files)
            self.assertLessEqual(bad, valid_bad)
            self.assertGreater(bad, 0)
            grain = ", ".join(["ANO_EJE", "MES_EJE"] + checks.KEY_COLS)
            grains = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {grain} FROM raw)").fetchone()[0]
            self.assertEqual(grains, sum(t["grains"] for t in files))
            dev = con.execute("SELECT ANO_EJE, SECTOR_NOMBRE, sum(coalesce(MONTO_DEVENGADO, 0)) "
                              "FROM raw GROUP BY 1, 2").fetchall()
            want = {(t["year"], s): v[5] for t in files for s, v in t["totals"].items()}
            self.assertEqual(len(dev), len(want))
            for y, s, x in dev:
                self.assertAlmostEqual(x, want[(y, s)], delta=0.05)

    def test_monthly_batches_bring_new_keys(self):
        with tempfile.TemporaryDirectory() as d:
            base, months = mefgen.monthly_files(d, 5, 2000, 300, 6)
            self.assertEqual(len(months), 6)
            self.assertEqual([m["year"] for m in months], [2021] * 6)
            con = checks.read_csvs([Path(d, base["name"])])
            known = {r[0] for r in con.execute("SELECT DISTINCT SEC_EJEC FROM raw").fetchall()}
            con = checks.read_csvs([Path(d, m["name"]) for m in months])
            later = {r[0] for r in con.execute("SELECT DISTINCT SEC_EJEC FROM raw").fetchall()}
            self.assertTrue(later - known)


class TableGenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra = tablegen.generate(a, 11, 0.1)
            rb = tablegen.generate(b, 11, 0.1)
            self.assertEqual(ra, rb)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(set(ra), set(tablegen.TABLES))


if __name__ == "__main__":
    unittest.main()

"""Checks of the seeded input generator.

    python3 -m unittest discover -s bench/tests
"""
import datetime as dt
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402

FORMATS = ["%d-%b-%y", "%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y"]  # dates.referenceFormats order


def parse(s):
    """First-match parse in the program's format order; None if none fits."""
    for f in FORMATS:
        try:
            return dt.datetime.strptime(s, f).date()
        except ValueError:
            pass
    return None


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(seed, out):
    hist = gen.history(seed, 300)
    gen.write_bronze(hist, os.path.join(out, "bronze"))
    gen.catalog_tables(seed, os.path.join(out, "tables"), 0.05)
    gen.index_inputs(seed, os.path.join(out, "index"), 200, 2, 20, 2)
    return tree_digest(out)


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.assertEqual(generate(7, a), generate(7, b))
            self.assertNotEqual(generate(7, a), generate(8, c))

    def test_expected_keys_follow_ingest_semantics(self):
        """Replays the ingest rules (null-key filter, first-match date
        parse, merge-key dedup) over the bronze rows; the result must be
        exactly the key sets the generator reports."""
        hist = gen.history(3, 500)
        for entity, rows in hist.rows.items():
            header = gen.HEADERS[entity]
            keys = set()
            for row in rows:
                rec = dict(zip(header, row))
                if any(v == "" for v in row):
                    continue
                if "Date" in rec:
                    d = parse(rec["Date"])
                    if d is None:
                        continue
                    rec["Date"] = d.isoformat()
                if entity in ("accounts", "account_details"):
                    keys.add((rec["Acc no"], rec["Date"], row[2]))
                elif entity == "person":
                    keys.add((rec["Acc no"], rec["Person"]))
                elif entity == "person_profile":
                    keys.add((rec["Person"], rec["Date"], rec["Name"]))
                else:
                    keys.add((rec["Person"], rec["Id"], rec["Date"]))
            self.assertEqual(keys, hist.keys[entity], entity)

    def test_dirty_mix_is_present(self):
        hist = gen.history(5, 500)
        dates = [r[1] for r in hist.rows["accounts"]]
        self.assertTrue(any(r[0] == "" or r[2] == "" for r in hist.rows["accounts"]), "null keys")
        self.assertTrue(any(parse(d) is None and d != "" for d in dates), "unparseable dates")
        for f in FORMATS:
            self.assertTrue(any(_fits_first(d, f) for d in dates), f"format {f}")
        rows = [tuple(r) for r in hist.rows["accounts"]]
        self.assertLess(len(set(rows)), len(rows), "exact re-deliveries")

    def test_planted_near_duplicates_point_at_base_rows(self):
        with tempfile.TemporaryDirectory() as d:
            planted = gen.index_inputs(4, d, 200, 3, 20, 2)
            import pyarrow.parquet as pq
            base = set(pq.read_table(os.path.join(d, "base_documents.parquet"))["doc_id"].to_pylist())
            for k, p in enumerate(planted):
                ids = set(pq.read_table(os.path.join(d, f"slice_{k:04d}_documents.parquet"))["doc_id"]
                          .to_pylist())
                for new, old in p["documents"] + p["embeddings"]:
                    self.assertIn(new, ids)
                    self.assertIn(old, base)


def _fits_first(s, f):
    """True when `s` parses first under format `f`."""
    for g in FORMATS:
        try:
            dt.datetime.strptime(s, g)
            return g == f
        except ValueError:
            pass
    return False


if __name__ == "__main__":
    unittest.main()

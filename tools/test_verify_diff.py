"""Tests of the Verify output bit diff: python3 tools/test_verify_diff.py"""
import contextlib
import io
import os
import struct
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

from verify_diff import diff_query, main


def nan_with_payload(payload):
    return struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000000 | payload))[0]


class VerifyDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, root, query, **cols):
        os.makedirs(os.path.join(root, query), exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(root, query, "part-0.parquet"))

    def same(self, query):
        return diff_query(os.path.join(self.a, query), os.path.join(self.b, query))[0]

    def test_row_order_does_not_count(self):
        self.write(self.a, "q", k=[1, 2, 3], v=[0.5, None, 2.0])
        self.write(self.b, "q", k=[3, 1, 2], v=[2.0, 0.5, None])
        self.assertTrue(self.same("q"))

    def test_signed_zero_counts(self):
        self.write(self.a, "q", v=[0.0])
        self.write(self.b, "q", v=[-0.0])
        self.assertFalse(self.same("q"))

    def test_nan_payload_counts_and_null_is_not_nan(self):
        self.write(self.a, "q", v=[nan_with_payload(1)])
        self.write(self.b, "q", v=[nan_with_payload(2)])
        self.assertFalse(self.same("q"))
        self.write(self.b, "q", v=[nan_with_payload(1)])
        self.assertTrue(self.same("q"))
        self.write(self.b, "q", v=pa.array([None], pa.float64()))
        self.assertFalse(self.same("q"))

    def test_one_ulp_and_schema_changes_count(self):
        self.write(self.a, "q", v=[1.0])
        self.write(self.b, "q", v=[1.0000000000000002])
        self.assertFalse(self.same("q"))
        self.write(self.b, "q", w=[1.0])
        self.assertFalse(self.same("q"))
        self.write(self.b, "q", v=pa.array([1.0], pa.float32()))
        self.assertFalse(self.same("q"))

    def test_exit_code_and_missing_queries(self):
        self.write(self.a, "q", v=[1.0])
        self.write(self.b, "q", v=[1.0])
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            self.assertEqual(main(["verify_diff.py", self.a, self.b]), 0)
        self.assertIn("q: identical", out.getvalue())
        self.write(self.a, "only_a", v=[1.0])
        with contextlib.redirect_stdout(out):
            self.assertEqual(main(["verify_diff.py", self.a, self.b]), 1)
        self.assertIn("only_a: missing in B", out.getvalue())


if __name__ == "__main__":
    unittest.main()

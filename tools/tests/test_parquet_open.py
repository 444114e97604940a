"""Guard: graft opens parquet in one place. `read.parquet(` may appear under
src/main/scala only in graft/io/Tables.scala; every other open goes through
`Tables.parquet(spark, path)`, which supplies the footer's schema so the open
starts no Spark job.

    python3 -m unittest discover -s tools/tests
"""
import os
import unittest

from test_session_builder import MAIN, files_containing

TABLES = os.path.join("graft", "io", "Tables.scala")


class ParquetOpenGuard(unittest.TestCase):
    def test_parquet_read_only_in_tables(self):
        self.assertEqual(files_containing(MAIN, "read.parquet("), [TABLES])


if __name__ == "__main__":
    unittest.main()

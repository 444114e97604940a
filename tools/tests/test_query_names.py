"""Guard: each driver query is declared once. A quoted query name
(`"q<digits>_<name>"`) may occur only once across src/main/scala, in its
`QueryDecl` in graft/queries/OracleCatalog.scala; the query map, the oracle
map and the session caches' consumer sets are derived from the declarations.

    python3 -m unittest discover -s tools/tests
"""
import collections
import os
import re
import unittest

from test_session_builder import MAIN, files_containing

NAME = re.compile(r'"(q\d+_[a-z0-9_]+)"')


def name_counts(main_dir):
    """Occurrences of each quoted query name across the .scala files."""
    counts = collections.Counter()
    for rel in files_containing(main_dir, '"q'):
        with open(os.path.join(main_dir, rel), encoding="utf-8") as f:
            counts.update(NAME.findall(f.read()))
    return counts


class QueryNamesGuard(unittest.TestCase):
    def test_each_query_name_written_once(self):
        counts = name_counts(MAIN)
        self.assertTrue(counts, "no query name found under src/main/scala")
        repeated = sorted(n for n, c in counts.items() if c > 1)
        self.assertEqual(repeated, [])


if __name__ == "__main__":
    unittest.main()

"""Guard: graft verifies integer-threshold Jaccard in one place. The predicate
`inter * thrDen >= union_sz * thrNum` is written once under src/main/scala, in
Dedup's shared verify, and every pair path (the exact prefix join, the LSH
shape, sorted neighborhood) calls it. The PPJoin+ suffix probe
`sorted_count_less_from` was deleted with the suffix filter and stays gone.

    python3 -m unittest discover -s tools/tests
"""
import os
import unittest

from test_session_builder import MAIN, files_containing

PREDICATE = '"union_sz") * thrNum'


def occurrences(main_dir, needle):
    """Total count of needle across the .scala files under main_dir."""
    total = 0
    for rel in files_containing(main_dir, needle):
        with open(os.path.join(main_dir, rel), encoding="utf-8") as f:
            total += f.read().count(needle)
    return total


class JaccardVerifyGuard(unittest.TestCase):
    def test_verify_predicate_written_once(self):
        self.assertEqual(occurrences(MAIN, PREDICATE), 1)

    def test_suffix_probe_gone(self):
        self.assertEqual(files_containing(MAIN, "sorted_count_less_from"), [])


if __name__ == "__main__":
    unittest.main()

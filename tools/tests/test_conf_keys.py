"""Guard: graft's session confs are deployment budgets only. A `"spark.graft.`
literal may appear under src/main/scala only as one of the three pair-space
budgets in graft/dedup/Dedup.scala; engine choices are constants or per-call
`force`/`stats` parameters, never session dials.

    python3 -m unittest discover -s tools/tests
"""
import os
import re
import unittest

from test_session_builder import MAIN, files_containing

DEDUP = os.path.join("graft", "dedup", "Dedup.scala")
ALLOWED = {
    "spark.graft.prefix.broadcastVerifyBytes",
    "spark.graft.prefix.maxPairShuffleBytes",
    "spark.graft.prefix.pairShuffleWarnBytes",
}


class ConfKeyGuard(unittest.TestCase):
    def test_conf_keys_only_in_dedup(self):
        self.assertEqual(files_containing(MAIN, '"spark.graft.'), [DEDUP])

    def test_only_the_pair_space_budgets(self):
        with open(os.path.join(MAIN, DEDUP), encoding="utf-8") as f:
            keys = set(re.findall(r'"(spark\.graft\.[^"]*)"', f.read()))
        self.assertEqual(keys, ALLOWED)


if __name__ == "__main__":
    unittest.main()

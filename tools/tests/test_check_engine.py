"""Guard: graft has one check engine. The only thread pool under
src/main/scala is `CheckSuite.evaluateAll`'s, in graft/checks/Checks.scala;
a query that gates tables (q23) evaluates `Check` values there instead of
running its own pool over hand-written aggregates.

    python3 -m unittest discover -s tools/tests
"""
import os
import unittest

from test_session_builder import MAIN, files_containing

CHECKS = os.path.join("graft", "checks", "Checks.scala")


class CheckEngineGuard(unittest.TestCase):
    def test_thread_pool_only_in_check_suite(self):
        self.assertEqual(files_containing(MAIN, "newFixedThreadPool"), [CHECKS])


if __name__ == "__main__":
    unittest.main()

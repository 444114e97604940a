"""Guard: no driver-side stream of a data-sized frame. `.toLocalIterator(`
pulls a frame through the driver partition by partition; graft's operators
keep data-sized work on the executors (a broadcast-sized table reaches the
executors through a broadcast() hint on a join, not a driver-built index),
so no file under src/main/scala may call it.

    python3 -m unittest discover -s tools/tests
"""
import unittest

from test_session_builder import MAIN, files_containing


class DriverStreamGuard(unittest.TestCase):
    def test_no_to_local_iterator(self):
        self.assertEqual(files_containing(MAIN, ".toLocalIterator("), [])


if __name__ == "__main__":
    unittest.main()

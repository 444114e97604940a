"""Guard: the session-conf policy lives in one module. `SparkSession.builder`
may appear under src/main/scala only in graft/Harness.scala; every main gets
its session from `Harness.session(n)`.

    python3 -m unittest discover -s tools/tests
"""
import os
import unittest

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
MAIN = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join("graft", "Harness.scala")


def builder_files(main_dir):
    """Paths, relative to main_dir, of the .scala files naming the builder."""
    hits = []
    for dirpath, _, files in os.walk(main_dir):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    if "SparkSession.builder" in f.read():
                        hits.append(os.path.relpath(path, main_dir))
    return sorted(hits)


class SessionBuilderGuard(unittest.TestCase):
    def test_builder_only_in_harness(self):
        self.assertEqual(builder_files(MAIN), [HARNESS])


if __name__ == "__main__":
    unittest.main()

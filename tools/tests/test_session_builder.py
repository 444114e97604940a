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


def files_containing(main_dir, needle):
    """Paths, relative to main_dir, of the .scala files containing needle."""
    hits = []
    for dirpath, _, files in os.walk(main_dir):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    if needle in f.read():
                        hits.append(os.path.relpath(path, main_dir))
    return sorted(hits)


class SessionBuilderGuard(unittest.TestCase):
    def test_builder_only_in_harness(self):
        self.assertEqual(files_containing(MAIN, "SparkSession.builder"), [HARNESS])


if __name__ == "__main__":
    unittest.main()

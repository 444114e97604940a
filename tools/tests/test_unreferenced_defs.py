"""Guard: no dead code in the engine. Every non-`override` `def` under
src/main/scala must be named somewhere besides its own definition, in src/
(main or test) or in the benchmark harness under perfbench/harness/src. A
name that appears only where it is defined has no caller and no spec.

    python3 -m unittest discover -s tools/tests
"""
import collections
import os
import re
import unittest

from test_session_builder import MAIN, ROOT

SEARCHED = [os.path.join(ROOT, "src"), os.path.join(ROOT, "perfbench", "harness", "src")]
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"^\s*((?:[a-z]+(?:\[[^\]]*\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)


def scala_files(roots):
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for name in files:
                if name.endswith(".scala"):
                    yield os.path.join(dirpath, name)


def unreferenced_defs():
    """Sorted `path:name` of the non-override defs under MAIN whose name
    occurs no more often in SEARCHED than it is defined under MAIN."""
    words = collections.Counter()
    defs = collections.defaultdict(list)
    for path in scala_files(SEARCHED):
        with open(path, encoding="utf-8") as f:
            text = f.read()
        words.update(WORD.findall(text))
        if os.path.commonpath([path, MAIN]) == MAIN:
            for mods, name in DEF.findall(text):
                if "override" not in mods.split():
                    defs[name].append(os.path.relpath(path, MAIN))
    return sorted(f"{p}:{name}" for name, paths in defs.items()
                  if words[name] <= len(paths) for p in paths)


class UnreferencedDefGuard(unittest.TestCase):
    def test_every_def_is_referenced(self):
        self.assertEqual(unreferenced_defs(), [])


if __name__ == "__main__":
    unittest.main()

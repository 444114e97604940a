"""Guard: graft materializes through one lifecycle owner. `.localCheckpoint(`
may appear under src/main/scala only in graft/dedup/Checkpoints.scala; every
other eager materialization goes through `Checkpoints.tracked` or
`Checkpoints.output`, so its blocks have a named release.

    python3 -m unittest discover -s tools/tests
"""
import os
import unittest

from test_session_builder import MAIN, files_containing

CHECKPOINTS = os.path.join("graft", "dedup", "Checkpoints.scala")


class CheckpointSiteGuard(unittest.TestCase):
    def test_local_checkpoint_only_in_checkpoints(self):
        self.assertEqual(files_containing(MAIN, ".localCheckpoint("), [CHECKPOINTS])


if __name__ == "__main__":
    unittest.main()

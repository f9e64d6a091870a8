"""The row-loss accounting can fail: a playback whose file is truncated
mid-play delivers fewer rows than its offsets advance over, and the
benchmark's counter must report them. Needs the JVM build (about a
minute on first use).

    python3 -m unittest perfbench/tests/test_rowloss.py
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import build  # noqa: E402
import metrics  # noqa: E402


class TruncatedFileTest(unittest.TestCase):
    def test_short_read_is_counted(self):
        built = build.build()
        work = os.path.join(build.OUT, "work", "rowloss-test-%d" % os.getpid())
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "out.json")
        try:
            cmd = build.java_cmd(built) + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                            "perfbench.Harness", "truncate", "7", work, out]
            with open(os.path.join(work, "jvm.log"), "w") as log:
                subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=170, check=True)
            import json
            with open(out) as fh:
                doc = json.load(fh)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        batches = doc["legs"]["truncated"]["batches"]
        self.assertGreaterEqual(len(batches), 6)
        # the batch before the truncation is whole
        self.assertEqual(metrics.row_loss(batches[:1]), (0, 0))
        lost, mismatched = metrics.row_loss(batches)
        self.assertGreater(lost, 0)
        self.assertGreater(mismatched, 0)


if __name__ == "__main__":
    unittest.main()

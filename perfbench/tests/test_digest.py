"""Checks that the output digest ignores row order and partitioning and
changes when a value or a row changes.  Builds the harness if needed
and starts one small local Spark session (about half a minute).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import run  # noqa: E402


class DigestOrderTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath = build.ensure()
        with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
            cmd = (["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
                   + [x for p in run.JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                   + ["-cp", os.pathsep.join(classpath), "perfbench.Digest"])
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=300, check=True)
        cls.digests = {}
        for line in out.stdout.splitlines():
            if line.startswith("{"):
                d = json.loads(line)
                cls.digests[d["frame"]] = (d["rows"], d["hash"])

    def test_row_order_and_partitioning_do_not_change_the_digest(self):
        base = self.digests["original"]
        self.assertEqual(base[0], 200)
        for frame in ("reversed", "repartitioned", "sorted_desc"):
            self.assertEqual(self.digests[frame], base, frame)

    def test_a_changed_value_or_row_changes_the_digest(self):
        base = self.digests["original"]
        self.assertNotEqual(self.digests["one_value_changed"], base)
        self.assertEqual(self.digests["one_value_changed"][0], 200)
        self.assertEqual(self.digests["one_row_dropped"][0], 199)


if __name__ == "__main__":
    unittest.main()

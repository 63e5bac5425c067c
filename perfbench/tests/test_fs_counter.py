"""Self-test of the traced run's filesystem operation counter.

    python3 perfbench/tests/test_fs_counter.py      # from the checkout root

Builds the benchmark if needed and runs `graftbench.SelfTest`: writing k
files shows k creates, and checksum, rename and delete semantics are those
of Hadoop's LocalFileSystem.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import run  # noqa: E402


class FsCounterTest(unittest.TestCase):
    def test_k_files_show_k_creates(self):
        root = os.getcwd()
        cp = build.ensure_built(root)
        work = os.path.join(root, ".bench_work", f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            cmd = ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
            for p in run.ADD_OPENS:
                cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
            r = subprocess.run(cmd + ["-cp", cp, "graftbench.SelfTest", work],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=170, cwd=work)
            self.assertEqual(r.returncode, 0, r.stdout[-3000:])
            self.assertIn("selftest ok", r.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()

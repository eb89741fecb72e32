"""Generator determinism test: the same seed gives byte-identical inputs and
another seed different ones, for every workload.

Run from the repository root:

    python3 -m unittest perfbench/test_inputs.py
"""

import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        jars = run.spark_jars()
        classes, _ = run.build(jars)
        opens = [x for p in run.ADD_OPENS
                 for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        tmp = run.BUILD / f"test-tmp-{os.getpid()}"
        tmp.mkdir(parents=True, exist_ok=True)
        try:
            r = subprocess.run(
                ["java"] + opens + ["-XX:-UsePerfData", "-Xmx1g", f"-Djava.io.tmpdir={tmp}",
                                    "-cp", f"{classes}:{jars}/*",
                                    "perfbench.InputsCheck"],
                capture_output=True, text=True, timeout=300)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        lines = [l for l in r.stdout.splitlines() if "seed1=" in l]
        self.assertEqual(len(lines), 2, r.stdout)


if __name__ == "__main__":
    unittest.main()

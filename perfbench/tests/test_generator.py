"""The cdc_stream generator is a pure function of its seed.

Run: python3 -m unittest discover -s perfbench/tests
(builds the harness on first use)
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def digest(seed, seconds=12):
    cp = run.build()
    out = subprocess.run(
        ["java", "-cp", cp, "graft.perfbench.Main", "--gen-digest",
         "--seed", str(seed), "--seconds", str(seconds)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return out.strip().splitlines()[-1]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(digest(7), digest(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(digest(7), digest(8))


class TableGeneratorTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        import hashlib
        import tempfile
        import gen_tables

        def files(d):
            out = {}
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f] = hashlib.sha256(fh.read()).hexdigest()
            return out
        with tempfile.TemporaryDirectory(dir=run.WORK if os.path.isdir(run.WORK) else None) as t:
            gen_tables.generate(os.path.join(t, "a"), 0.001)
            gen_tables.generate(os.path.join(t, "b"), 0.001)
            gen_tables.generate(os.path.join(t, "c"), 0.001, seed=43)
            self.assertEqual(files(os.path.join(t, "a")), files(os.path.join(t, "b")))
            self.assertNotEqual(files(os.path.join(t, "a")), files(os.path.join(t, "c")))


if __name__ == "__main__":
    unittest.main()

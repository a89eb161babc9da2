"""Tests of the benchmark itself.

Run from the root of the checkout:
  python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test runs the `ingest` workload once (about a minute, longer
when the harness must be built first).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402


def tree_bytes(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):

    def generate(self, seed):
        with tempfile.TemporaryDirectory() as d:
            expected = gen.generate(seed, d)
            return expected, tree_bytes(d)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.generate(7)[1], self.generate(7)[1])

    def test_other_seed_other_bytes(self):
        a, b = self.generate(7)[1], self.generate(8)[1]
        self.assertNotEqual(a, b)
        self.assertNotEqual(a["chapters.jsonl"], b["chapters.jsonl"])

    def test_expected_counts_match_pages(self):
        expected, files = self.generate(7)
        chapters = [json.loads(line) for line in files["chapters.jsonl"].decode().splitlines()]
        self.assertEqual(len(chapters), 3 * gen.CHAPTERS_PER_ADAPTER + 1)
        for c in chapters:
            want = expected[c["chapter"]]
            page = os.path.join("pages", c["adapter"], c["chapter"] + ".ndjson")
            if c["adapter"] == gen.UNREGISTERED:
                self.assertNotIn(page, files)
                self.assertEqual(want, {"ok": 0, "err": 1})
                continue
            events = [json.loads(line) for line in files[page].decode().splitlines()]
            self.assertEqual(want["ok"] + want["err"], len(events))
            self.assertTrue(all(e["chapter"] == c["chapter"] for e in events))
            self.assertEqual(want["err"], gen.MALFORMED_PER_CHAPTER)
        self.assertEqual(sum(c["adapter"] == gen.UNREGISTERED for c in chapters), 1)


class CommandTest(unittest.TestCase):

    def test_fails_without_program_sources(self):
        """With only BENCHMARK.json and the benchmark's own files, the
        command fails fast and prints no result."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("out", "target", "project"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")

    @unittest.skipUnless(shutil.which("git") and subprocess.run(
        ["git", "rev-parse", "--is-inside-work-tree"], cwd=ROOT,
        capture_output=True).returncode == 0, "not a git work tree")
    def test_run_leaves_git_status_clean(self):
        def status():
            return subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                                  cwd=ROOT, capture_output=True, text=True, check=True).stdout
        before = status()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                            "--seed", "1", "--seconds", "1", "--trace", "1"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(result["failed"], 0)
        self.assertEqual(status(), before)


if __name__ == "__main__":
    unittest.main()

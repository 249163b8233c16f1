#!/usr/bin/env python3
"""watch_checkpoints.py on a log that already ends in an earlier run's
`exit 0`: the watcher must keep waiting, then charge the new run's rdd-*
dirs to the new run's query. Linux only (inotify).

    python3 scripts/test_watch_checkpoints.py
"""
import json
import os
import subprocess
import sys
import tempfile
import time
import unittest

WATCHER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "watch_checkpoints.py")


class StaleExit(unittest.TestCase):

    def run_watcher(self, truncate):
        with tempfile.TemporaryDirectory() as tmp:
            err, ckpt, out = (os.path.join(tmp, n) for n in ("verify.err", "ckpt", "out.json"))
            with open(err, "w") as f:
                f.write("[verify] start q_old\nexit 0\n")
            p = subprocess.Popen([sys.executable, WATCHER, ckpt, err, out])
            try:
                time.sleep(2.5)
                self.assertIsNone(p.poll(), "the watcher stopped on the earlier run's exit line")
                # the new run: Verify's `2>` truncates the log, `2>>` appends
                with open(err, "w" if truncate else "a") as f:
                    f.write("[verify] start q_new\n")
                time.sleep(1.5)
                root = os.path.join(ckpt, "ctx-uuid")
                os.mkdir(root)
                time.sleep(0.5)
                os.mkdir(os.path.join(root, "rdd-1"))
                os.mkdir(os.path.join(root, "rdd-2"))
                time.sleep(1.5)
                self.assertIsNone(p.poll(), "the watcher stopped before the new run's exit line")
                with open(err, "a") as f:
                    f.write("exit 0\n")
                self.assertEqual(p.wait(timeout=15), 0)
            finally:
                if p.poll() is None:
                    p.kill()
            with open(out) as f:
                got = json.load(f)
            self.assertEqual({k: sorted(v) for k, v in got["by_query"].items()},
                             {"q_new": ["rdd-1", "rdd-2"]})

    def test_truncated_log(self):
        self.run_watcher(truncate=True)

    def test_appended_log(self):
        self.run_watcher(truncate=False)


if __name__ == "__main__":
    unittest.main(verbosity=2)

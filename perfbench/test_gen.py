"""Checks of the seeded frame generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import hashlib
import json
import os
import socket
import subprocess
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SUPPLY_MS = 12000


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_stream(self):
        for workload in gen.BURSTS:
            a = gen.stream_bytes(workload, 7, SUPPLY_MS)
            b = gen.stream_bytes(workload, 7, SUPPLY_MS)
            self.assertEqual(hashlib.sha256(a).hexdigest(),
                             hashlib.sha256(b).hexdigest(), workload)

    def test_other_seed_gives_other_stream(self):
        self.assertNotEqual(gen.stream_bytes("replay_churn", 7, SUPPLY_MS),
                            gen.stream_bytes("replay_churn", 8, SUPPLY_MS))

    def test_schedule_is_in_due_order(self):
        for workload in gen.BURSTS:
            dues = [f.due_ms for f in gen.frames(workload, 3, SUPPLY_MS)]
            self.assertEqual(dues, sorted(dues), workload)

    def test_traffic_mix(self):
        kinds = collections.Counter(
            f.kind for f in gen.base_feed(5, 60000))
        n = sum(kinds.values())
        self.assertEqual(n, 60 * gen.BASE_RATE)
        kept = kinds["edit"] + kinds["new"]
        self.assertAlmostEqual(kept / n, 0.66, delta=0.05)
        for k in ("log", "categorize", "corrupt", "no_bot", "late", "dup"):
            self.assertGreater(kinds[k], 0, k)

    def test_frames_parse_like_the_pipeline_expects(self):
        for f in gen.frames("replay_churn", 9, SUPPLY_MS):
            if f.kind.endswith("corrupt"):
                with self.assertRaises(ValueError):
                    json.loads(f.data)
                continue
            obj = json.loads(f.data)
            if f.key is None:
                self.assertTrue(obj["type"] in ("log", "categorize")
                                or "bot" not in obj, f.kind)
                continue
            self.assertIn(obj["type"], ("edit", "new"))
            self.assertEqual(f.key, (obj["timestamp"], obj["user"],
                                     obj["title"]))
            self.assertEqual(obj["meta"]["dt"], gen.iso(obj["timestamp"]))

    def test_duplicates_repeat_an_earlier_kept_frame(self):
        frames = gen.frames("replay_churn", 4, SUPPLY_MS)
        seen = set()
        for f in frames:
            if f.kind == "dup" or f.kind.startswith("replay_"):
                self.assertIn(f.data, seen)
            seen.add(f.data)

    def test_late_frames_are_behind_the_watermark(self):
        for f in gen.base_feed(6, SUPPLY_MS):
            if f.kind == "late":
                now = gen.EVENT_EPOCH_S + f.due_ms // 1000
                self.assertGreaterEqual(now - f.key[0], gen.LATE_BEHIND_S)

    def test_served_stream_equals_generated_stream(self):
        with tempfile.TemporaryDirectory() as d:
            summary = os.path.join(d, "gen.json")
            p = subprocess.Popen(
                [sys.executable, gen.__file__, "serve", "--workload",
                 "replay_churn", "--seed", "2", "--supply-ms", "3000",
                 "--summary", summary], stdout=subprocess.PIPE)
            try:
                port = int(p.stdout.readline())
                s = socket.create_connection(("127.0.0.1", port))
                s.sendall(b"GET /v2/stream/recentchange HTTP/1.1\r\n"
                          b"Host: localhost\r\n\r\n")
                want = gen.stream_bytes("replay_churn", 2, 3000)
                got, deadline = b"", time.time() + 20
                while len(got) < len(want) + 200 and time.time() < deadline:
                    s.settimeout(max(0.1, deadline - time.time()))
                    chunk = s.recv(65536)
                    if not chunk:
                        break
                    got += chunk
                    if got.endswith(want):
                        break
                s.close()
            finally:
                p.wait(10)
            head, _, body = got.partition(b"\r\n\r\n")
            self.assertTrue(head.startswith(b"HTTP/1.1 200"))
            self.assertEqual(body, want)
            with open(summary) as fh:
                self.assertEqual(json.load(fh)["frames_sent"],
                                 len(gen.frames("replay_churn", 2, 3000)))


if __name__ == "__main__":
    unittest.main()

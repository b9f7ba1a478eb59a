"""The benchmark's input generators are pure functions of the seed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen_data
import gen_frames

def digest(d):
    h = hashlib.sha256()
    for dp, dn, fn in sorted(os.walk(d)):
        dn.sort()
        for f in sorted(fn):
            h.update(f.encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class FramesTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = [gen_frames.frame(7, i) for i in range(300)]
        self.assertEqual(a, [gen_frames.frame(7, i) for i in range(300)])

    def test_other_seed_other_bytes(self):
        self.assertNotEqual([gen_frames.frame(7, i) for i in range(50)],
                            [gen_frames.frame(8, i) for i in range(50)])

    def test_frames_straddle_the_read_chunk_and_include_empties(self):
        sizes = [len(gen_frames.frame(3, i)) for i in range(2000)]
        self.assertIn(0, sizes)
        self.assertTrue(any(0 < s < 4096 for s in sizes))
        self.assertTrue(any(s > 4096 for s in sizes))
        self.assertTrue(any(b >= 0x80 or b < 0x20 for b in gen_frames.frame(3, 5)))

    def test_payload_carries_its_index(self):
        for i in range(200):
            p = gen_frames.frame(5, i)
            self.assertEqual(gen_frames.frame_index(p), i if p else None)


class DataTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            ".bench_build")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, seed, name):
        out = os.path.join(self.tmp, name)
        gen_data.generate(seed, out, docs=200, drops=4, drop_docs=40, reissue=0.25)
        return out

    def test_same_seed_same_bytes(self):
        self.assertEqual(digest(self.gen(11, "a")), digest(self.gen(11, "b")))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(digest(self.gen(11, "a")), digest(self.gen(12, "b")))

    def test_drops_rise_and_reissue_earlier_texts(self):
        out = self.gen(11, "a")
        drops = [pq.read_table(os.path.join(out, "drops", f"drop{i:03d}.parquet"))
                 for i in range(4)]
        top = -1
        seen = set()
        for i, d in enumerate(drops):
            ids = d.column("doc_id").to_pylist()
            self.assertGreater(min(ids), top)
            top = max(ids)
            texts = d.column("text").to_pylist()
            if i:
                self.assertEqual(sum(t in seen for t in texts) >= 10, True)
            seen.update(texts)


if __name__ == "__main__":
    unittest.main()

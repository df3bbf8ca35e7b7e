import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import layers  # noqa: E402


def span(i, parent, name, start_ms, end_ms, **attrs):
    return {"kind": "span", "run": "r", "id": i, "parent": parent, "name": name,
            "start_us": start_ms * 1000, "end_us": end_ms * 1000, "ok": True,
            "attrs": attrs}


def job(i, span_id, start_ms, end_ms, listing=False, cpu_ns=0, shuffle=0, out=0):
    return {"kind": "job", "run": "r", "id": i, "span": span_id, "start_ms": start_ms,
            "end_ms": end_ms, "ok": True, "listing": listing, "cpu_ns": cpu_ns,
            "run_ms": 0, "shuffle_read": 0, "shuffle_write": shuffle, "spill": 0,
            "bytes_out": out, "records_out": 0}


def qe(at_ms, analysis):
    return {"kind": "qe", "run": "r", "at_ms": at_ms, "func": "collect",
            "phases_ms": {"analysis": analysis, "optimization": 1, "planning": 1},
            "ok": True}


class LayersTest(unittest.TestCase):
    def load(self, recs):
        d = tempfile.mkdtemp(dir=Path(__file__).resolve().parent)
        p = Path(d) / "trace.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
        try:
            spans, jobs, qes = layers.load(p)
        finally:
            p.unlink()
            Path(d).rmdir()
        layers.attribute(spans, jobs, qes)
        return spans

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(layers._union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(layers._union_ms([(0, 10), (5, 20)], 8, 12), 4)
        self.assertEqual(layers._union_ms([], 0, 10), 0)

    def test_driver_gap_and_self_time(self):
        spans = self.load([
            span(0, -1, "streaming.drain", 0, 100, commits=2, events=10),
            span(1, 0, "streaming.batch", 0, 40),
            span(2, 0, "streaming.batch", 40, 90),
            # jobs carry the drain's id; time places them in a batch
            job(0, 0, 5, 25), job(1, 0, 20, 30), job(2, 0, 50, 80),
            job(3, 0, 92, 95, listing=True),
            qe(45, analysis=7),
        ])
        drain = layers.span_costs(spans[0])
        self.assertEqual(drain["wall_ms"], 100)
        self.assertEqual(drain["self_ms"], 10)  # 90..100 has no child
        self.assertEqual(drain["jobs"], 4)
        self.assertEqual(drain["driver_gap_ms"], 100 - (25 + 30 + 3))
        self.assertEqual(drain["listing_jobs"], 1)
        b1, b2 = layers.span_costs(spans[1]), layers.span_costs(spans[2])
        self.assertEqual((b1["jobs"], b2["jobs"]), (2, 1))
        self.assertEqual(b1["driver_gap_ms"], 40 - 25)
        self.assertEqual(b2["catalyst_ms"], 9)

    def test_job_without_span_is_placed_by_time(self):
        spans = self.load([span(0, -1, "table.scan", 0, 10), job(0, -1, 2, 4)])
        self.assertEqual(layers.span_costs(spans[0])["jobs"], 1)


if __name__ == "__main__":
    unittest.main()

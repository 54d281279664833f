"""bench.py stdout contract: the driver json-parses the TAIL of the
bench output, so the printed summary must stay one compact line with
the gate-bearing fields — this is what went unverifiable for four
rounds (BENCH_r03-r06 "parsed": null) when the full per-query map was
inlined."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import summarize


def _fake_run(n: int) -> dict[str, float]:
    # realistic name lengths/values: the registry's longest names are
    # ~28 chars, timings are 3-decimal seconds
    return {
        f"q_{'x' * 24}_{i:04d}": round(0.05 * (i % 40) + 0.123, 3)
        for i in range(n)
    }


class TestBenchSummaryContract:
    def test_compact_parseable_and_bounded(self):
        s = summarize(_fake_run(250), "0.1")
        line = json.dumps(s)
        assert json.loads(line) == s
        # hard bound: stays far inside any reasonable tail window even
        # at a registry far larger than today's
        assert len(line) < 1200, len(line)
        assert "\n" not in line

    def test_gate_fields_present_and_consistent(self):
        pq = _fake_run(60)
        s = summarize(pq, "0.1")
        assert s["metric"] == "query_suite_wall_clock"
        assert s["unit"] == "sec"
        assert s["sf"] == 0.1
        assert s["n_queries"] == 60
        assert s["value"] == round(sum(pq.values()), 3)
        # worst-8 inlined, sorted worst-first
        assert len(s["queries"]) == 8
        vals = list(s["queries"].values())
        assert vals == sorted(vals, reverse=True)
        assert vals[0] == max(pq.values())

    def test_small_suite_and_nonnumeric_sf(self):
        s = summarize({"a": 1.0, "b": 2.0}, "custom")
        assert s["queries"] == {"b": 2.0, "a": 1.0}
        assert s["sf"] == "custom"

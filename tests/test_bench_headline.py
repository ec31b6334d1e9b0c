"""bench.py's last stdout line stays short and parseable however many
queries the run times."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_headline_is_compact_json_with_200_queries():
    times = {"extraction_e2e": 1.25}
    times.update({"some_rather_long_query_name_%03d" % i: 123.456 + i for i in range(199)})
    line = bench.headline(3456.789, times, 0.1, 2000, 48)
    assert "\n" not in line
    assert len(line.encode()) < 1500
    parsed = json.loads(line)
    assert json.dumps(parsed) == line  # round-trips unchanged
    assert parsed["metric"] == "e2e_wall_sec" and parsed["value"] == 3456.789
    assert parsed["sf"] == 0.1
    assert parsed["extraction_docs"] == 2000
    assert parsed["docs_per_sec_extraction"] == 1600.0
    assert parsed["eval_pages"] == 48
    assert parsed["n_queries"] == 200

"""bench.py's stdout backstop: one bounded JSON line whatever fails."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _line(n_sections: int, failed: dict | None = None) -> dict:
    queries = {f"section_with_a_long_name_{i:02d}": 12.345 for i in range(n_sections)}
    line = {
        "metric": "imgfact_spark headline suite (KG construct + operators)",
        "value": 123.456, "unit": "sec", "queries": queries, "sf": "0.1",
        "cpus": 32, "n_docs": 100000, "reps": 3, "median": dict(queries),
        "throughput": {"kg_docs_per_sec": 9999.9, "lsh_recall": 0.99},
    }
    if failed:
        line["failed_sections"] = failed
    return line


def test_small_record_is_printed_whole():
    line = _line(3)
    assert json.loads(bench.final_line(dict(line))) == line


def test_oversized_record_is_capped():
    out = bench.final_line(_line(60))
    assert len(out.encode()) <= bench.LINE_CAP
    parsed = json.loads(out)
    assert parsed["value"] == 123.456 and parsed["n_docs"] == 100000
    assert "median" not in parsed


def test_failed_section_is_recorded_and_the_run_goes_on():
    timings, reps_detail, failed = {}, {}, {}

    def boom():
        raise RuntimeError("executor lost " + "x" * 1000)

    bench.run_section("broken", boom, 3, 1, timings, reps_detail, failed)
    bench.run_section("fine", lambda: None, 2, 1, timings, reps_detail, failed)
    assert "broken" not in timings and "broken" not in reps_detail
    assert failed["broken"].startswith("RuntimeError: executor lost")
    assert len(failed["broken"]) <= 160
    assert set(timings) == {"fine"} and len(reps_detail["fine"]) == 2

    # many long failures still fit: messages are cut to section names
    many = {f"section_{i:02d}": failed["broken"] for i in range(21)}
    out = bench.final_line(_line(21, many))
    assert len(out.encode()) <= bench.LINE_CAP
    assert json.loads(out)["failed_sections"] == sorted(many)

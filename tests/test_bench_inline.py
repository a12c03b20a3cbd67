"""The one-line bench JSON's inline ``queries`` dict must be a
DETERMINISTIC, additions-only surface: the
driver's PERF comparison reads it, and the old cost-ordered fill
manufactured "dropped" queries every round — 5 of r15's 9 phantom
drops were that round's own wins falling out because they got faster.
"""

import json

import pytest

import bench


BASE = {"metric": "headline_queries_total", "value": 1.0, "unit": "sec",
        "sf": 0.1, "n_queries": 300, "repeat": 3,
        "registry_total": 2.0, "queries_full": "bench_result.json"}


def test_pinned_names_always_shown_and_budget_respected():
    timings = {f"query_name_number_{i:03d}": 0.001 + i * 0.01
               for i in range(300)}
    core = ["query_name_number_000", "query_name_number_001"]
    # pin the CHEAPEST 40 names — under cost-ordering they would all
    # fall out; the pin contract keeps every one of them in
    pinned = [f"query_name_number_{i:03d}" for i in range(2, 42)]
    line = bench.build_inline_line(BASE, timings, core, pinned)
    assert len(line) <= 1900
    shown = json.loads(line)["queries"]
    for n in core + pinned:
        assert n in shown, n
    # remaining budget filled slowest-first
    extras = [n for n in shown if n not in core and n not in pinned]
    assert extras
    floor = min(timings[n] for n in extras)
    hidden = [n for n in timings if n not in shown]
    assert all(timings[n] <= floor for n in hidden)


def test_precision_falls_back_when_pin_set_overflows():
    # 150 long-named pinned queries cannot fit at 3 decimals in 1900
    # chars; the builder must retry at 2 decimals rather than silently
    # dropping pinned names before exhausting precision
    timings = {f"an_extremely_long_query_name_padding_{i:04d}": 123.456
               for i in range(150)}
    pinned = sorted(timings)
    line = bench.build_inline_line(BASE, timings, [], pinned)
    assert len(line) <= 1900
    shown = json.loads(line)["queries"]
    # every shown value is at the 2-decimal fallback precision
    assert all(round(v, 2) == v for v in shown.values())


def test_previous_inline_names_reads_latest_artifact(tmp_path):
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(
        {"parsed": {"queries": {"old_q": 1.0}}}))
    (tmp_path / "BENCH_r12.json").write_text(json.dumps(
        {"parsed": {"queries": {"new_q": 2.0, "other_q": 3.0}}}))
    assert bench.previous_inline_names(str(tmp_path)) == ["new_q",
                                                          "other_q"]
    # bare one-line artifacts (no driver wrapper) also parse
    (tmp_path / "BENCH_r13.json").write_text(json.dumps(
        {"queries": {"bare_q": 2.0}}))
    assert bench.previous_inline_names(str(tmp_path)) == ["bare_q"]
    assert bench.previous_inline_names(str(tmp_path / "nope")) == []
    # a corrupt newest artifact fails loudly instead of emptying the pins
    (tmp_path / "BENCH_r14.json").write_text('{"queries": {"bare_q": 2.')
    with pytest.raises(ValueError):
        bench.previous_inline_names(str(tmp_path))


def test_truncation_at_two_decimals_is_marked():
    # the same overflowing pin set: names that do not fit even at 2
    # decimals are counted in a "truncated" field inside the budget
    timings = {f"an_extremely_long_query_name_padding_{i:04d}": 123.456
               for i in range(150)}
    pinned = sorted(timings)
    line = bench.build_inline_line(BASE, timings, [], pinned)
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["truncated"] == 150 - len(out["queries"]) > 0
    # a line that fits carries no marker
    small = {n: timings[n] for n in pinned[:3]}
    assert "truncated" not in json.loads(
        bench.build_inline_line(BASE, small, [], sorted(small)))

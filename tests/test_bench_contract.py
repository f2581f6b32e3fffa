"""bench.py stdout contract: the driver captures a 2000-char stdout TAIL
and parses the JSON it finds there. BENCH_r07/r08 recorded parsed=null
because the single detail line outgrew the tail (r08 verdict item 1).
Pin: bench emits the detail line first and a compact headline LAST, the
headline stays <1500 chars at realistic payload sizes, and
truncate-to-2000-then-parse-last-line recovers the graded value.

Round 11 (r10 verdict item 1): the headline additionally carries the
full per-query best dict ("queries") — PERF_r10 had per_query={}, no
geomean and an empty scaling table because that dict lived only in the
detail record, outside the tail capture. The fixture uses MORE queries
than the real bench set (30 vs 21) with realistic name lengths so
growth headroom under the <1500 guard stays pinned.
"""

import json

import bench


def _lines(n_queries=30, n_scale=12):
    # Deliberately larger than today's real sets (21 bench / 8 scale)
    # so growth headroom is part of the pin; name lengths match the
    # real registry's (~15-26 chars).
    timings = {f"some_query_name_{i:03d}": 123.456
               for i in range(n_queries)}
    return bench.result_lines(
        sf="0.1", repeats=3, timings=timings, spread=dict(timings),
        base_total=15.262, full_total=34.567,
        throughput=3.03, throughput16=6.21,
        scale_timings={f"scale_query_name_{i:02d}": 100.123
                       for i in range(n_scale)},
        scale_dir="/root/repo/.localdata/sf1zipf",
        tp_runs={"4": [2.9, 3.03], "16": [6.21, 5.8]},
        scale_spread={f"scale_query_name_{i:02d}": 1.5
                      for i in range(n_scale)},
        codegen={name: [3, 0, 0] for name in timings})


def test_headline_is_last_and_short():
    detail, headline = _lines()
    assert len(headline) < 1500
    # detail is the one that historically overflowed; it must come first
    assert len(detail) > len(headline)


def test_tail_truncation_recovers_headline():
    lines = _lines()
    stdout = "\n".join(lines) + "\n"
    assert len(stdout) > 2000, "fixture must actually exercise truncation"
    tail = stdout[-2000:]
    parsed = json.loads(tail.strip().splitlines()[-1])
    assert parsed["value"] == 15.262
    assert parsed["full_value"] == 34.567
    assert parsed["unit"] == "sec"
    assert parsed["throughput_qps"] == 3.03
    assert parsed["scale_value"] == round(100.123 * 12, 3)
    assert parsed["sf"] == 0.1
    # r10 verdict item 1: per-query bests must survive the tail capture
    assert parsed["queries"]["some_query_name_000"] == 123.456
    assert len(parsed["queries"]) == 30


def test_headline_none_series():
    # sf without scale dir / throughput disabled: None fields still parse
    detail, headline = bench.result_lines(
        sf="0.01", repeats=3, timings={"q": 1.0}, spread={"q": 0.1},
        base_total=1.0, full_total=1.0, throughput=None,
        throughput16=None, scale_timings=None, scale_dir=None)
    parsed = json.loads(headline)
    assert parsed["scale_value"] is None
    assert parsed["queries"] == {"q": 1.0}
    assert json.loads(detail)["floor_s"] is None
    assert json.loads(detail)["band_qps4"] is None
    assert json.loads(detail)["scale_spread"] is None
    assert json.loads(detail)["scale_repeats"] is None


def test_detail_carries_qps_runs_and_bands():
    # r09 verdict item 1: the per-repeat qps readings + frozen idle
    # bands live in the DETAIL record (qps analogue of floor_s); the
    # headline stays compact and carries only the best-of-N values.
    detail, headline = _lines()
    d = json.loads(detail)
    assert d["throughput_runs"] == {"4": [2.9, 3.03], "16": [6.21, 5.8]}
    assert d["band_qps4"] == list(bench.BAND_QPS4)
    assert d["band_qps16"] == list(bench.BAND_QPS16)
    h = json.loads(headline)
    assert "throughput_runs" not in h
    assert h["throughput_qps"] == 3.03


def test_detail_carries_scale_spread():
    # r10 verdict item 6: the scale series is best-of-SCALE_REPEATS
    # with its max-min on record so single-run movers are classifiable.
    detail, headline = _lines()
    d = json.loads(detail)
    assert d["scale_spread"]["scale_query_name_00"] == 1.5
    assert d["scale_repeats"] == bench.SCALE_REPEATS
    assert "scale_spread" not in json.loads(headline)


def test_detail_carries_codegen_compiles():
    # Janino compilations per timed repeat live in the detail record
    # only; the headline and its size contract are unchanged.
    detail, headline = _lines()
    assert json.loads(detail)["codegen_compiles"][
        "some_query_name_000"] == [3, 0, 0]
    assert "codegen_compiles" not in json.loads(headline)

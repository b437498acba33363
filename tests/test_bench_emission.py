"""The driver-visible bench contract (VERDICT r15 #2): the final
stdout line must (a) print a SUPERSET of the prior round's per-query
names — PRINT_FLOOR — so no entry ever loses its prev/now comparison,
(b) carry the effective core count, and (c) stay inside the driver's
~2000-char tail capture. Pure-python: no Spark session."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench


def _r15_like_inputs():
    """Headline fields + timings shaped like the committed r15 run —
    the worst realistic line size (A/B fields, phases, one alarm)."""
    timings = {n: 0.57 for n in bench.HEADLINE}
    timings["dedup_admission_pipeline"] = 12.25
    phases = {
        "ann_ivfpq_index_persisted": {
            "build": 5.921, "serve": 1.599,
            "a_build": 6.505, "a_serve": 1.282,
            "serve_ratio": 1.247, "build_ratio": 0.91,
        },
        "text_bm25_index_persisted": {
            "build": 1.421, "serve": 0.564,
            "a_build": 1.881, "a_serve": 0.502,
            "serve_ratio": 1.122, "build_ratio": 0.755,
        },
    }
    out = {
        "metric": "headline_queries_total_sec",
        "value": 147.504,
        "unit": "sec",
        "sf": 0.1,
        "runs": 3,
        "sd": 7.016,
        "cpus_effective": 32,
        "phases": phases,
        "ab_baseline_ref": "73c7172e1234",
        "ab_median_ratio": 1.025,
        "ab_median_min_ratio": 1.025,
        "ab_median_cpu_ratio": 1.019,
        "cpu_alarms": ["stats_quantile_bins"],
        "value_shared": 147.504,
    }
    return out, phases, timings


def test_print_floor_is_headline_subset_and_unique():
    assert set(bench.PRINT_FLOOR) <= set(bench.HEADLINE)
    assert len(bench.PRINT_FLOOR) == len(set(bench.PRINT_FLOOR))
    # r15's printed set was 49 names + the 3 displaced graph/KMV ones
    assert len(bench.PRINT_FLOOR) >= 52


def test_final_line_keeps_floor_and_fits_tail_capture():
    out, phases, timings = _r15_like_inputs()
    line = bench._final_line(out, phases, timings)
    assert len(line) <= 1990
    parsed = json.loads(line)
    missing = [n for n in bench.PRINT_FLOOR if n not in parsed["queries"]]
    assert not missing, f"floor names fell off the printed tail: {missing}"
    assert parsed["cpus_effective"] == 32
    # phases compacted to [build, serve, build_ratio, serve_ratio]
    assert parsed["phases"]["ann_ivfpq_index_persisted"] == [
        5.921, 1.599, 0.91, 1.247
    ]
    assert parsed["queries_omitted"] == len(bench.HEADLINE) - len(
        parsed["queries"]
    )


def test_final_line_caps_alarms_but_never_floor():
    out, phases, timings = _r15_like_inputs()
    out["cpu_alarms"] = [f"some_long_query_name_{i}" for i in range(8)]
    line = bench._final_line(out, phases, timings)
    parsed = json.loads(line)
    assert len(parsed["cpu_alarms"]) == 3
    assert all(n in parsed["queries"] for n in bench.PRINT_FLOOR)
    assert len(line) <= 1990


def test_final_line_without_ab_side():
    """SPARK_GRAFT_AB=0 runs have no phases ratios / ab fields."""
    out, phases, timings = _r15_like_inputs()
    for k in (
        "phases", "ab_baseline_ref", "ab_median_ratio",
        "ab_median_min_ratio", "ab_median_cpu_ratio", "cpu_alarms",
        "value_shared",
    ):
        out.pop(k, None)
    line = bench._final_line(out, {}, timings)
    parsed = json.loads(line)
    assert "phases" not in parsed
    assert all(n in parsed["queries"] for n in bench.PRINT_FLOOR)


def test_final_line_degrades_oversized_timings_before_floor_names():
    """Over-long values overflow the tail capture: the line rounds them
    and drops phases, alarms and non-floor names, keeping every floor
    name, instead of failing the run."""
    out, phases, timings = _r15_like_inputs()
    timings = {n: 12345.678912345 for n in bench.HEADLINE}
    line = bench._final_line(out, phases, timings)
    assert len(line) <= 1990
    parsed = json.loads(line)
    assert all(parsed["queries"][n] == 12345.68 for n in bench.PRINT_FLOOR)
    assert "missing_floor" not in parsed
    assert parsed["queries_omitted"] == len(bench.HEADLINE) - len(
        parsed["queries"]
    )


def test_final_line_lists_floor_names_that_cannot_fit():
    """Headline fields alone leave too little room for the floor: the
    floor names that do not fit are listed in missing_floor."""
    out, phases, timings = _r15_like_inputs()
    out["ab_baseline_ref"] = "x" * 450
    line = bench._final_line(out, phases, timings)
    assert len(line) <= 1990
    parsed = json.loads(line)
    assert "phases" not in parsed and "cpu_alarms" not in parsed
    missing = parsed["missing_floor"]
    assert missing
    assert set(missing).isdisjoint(parsed["queries"])
    assert set(missing) | set(parsed["queries"]) == set(bench.PRINT_FLOOR)
    assert parsed["queries_omitted"] == len(bench.HEADLINE) - len(
        parsed["queries"]
    )

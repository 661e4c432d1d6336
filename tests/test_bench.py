"""bench.py harness pieces that must never cost the suite: the contention
sentinel's gate (pure, no Spark), its probe job under ANSI mode, and the
one-line stdout contract of a whole (narrowed) run."""

from __future__ import annotations

import json
from pathlib import Path

import bench
from bench import SENTINEL_CEILING_S, flag_rows


def test_flag_rows_quiet_window_flags_nothing():
    assert flag_rows(["a", "b", "c"], [0.05, 0.06, 0.05, 0.07]) == ([], 0.06)


def test_flag_rows_spike_flags_both_neighbours():
    # readings i and i+1 bracket row i: a spike after "b" flags "b" and "c"
    flagged, med = flag_rows(["a", "b", "c"], [0.1, 0.1, 0.45, 0.1])
    assert (flagged, med) == (["b", "c"], 0.1)


def test_flag_rows_gate_is_strictly_greater():
    # 3 x 0.1 median = 0.3: a reading of exactly 0.3 does not flag
    assert flag_rows(["a", "b"], [0.1, 0.3, 0.1])[0] == []
    assert flag_rows(["a", "b"], [0.1, 0.30001, 0.1])[0] == ["a", "b"]


def test_flag_rows_floor_ignores_fast_jitter():
    # 10x the median but under the 0.15 s floor
    assert flag_rows(["a"], [0.01, 0.1, 0.01])[0] == []


def test_flag_rows_ceiling_flags_a_window_slow_throughout():
    slow = SENTINEL_CEILING_S + 0.1
    flagged, med = flag_rows(["a", "b"], [slow, slow, slow])
    assert flagged == ["a", "b"]
    assert med == round(slow, 4)


def test_flag_rows_failed_readings_never_flag():
    assert flag_rows(["a", "b"], [None, None, None]) == ([], None)
    assert flag_rows(["a", "b"], [0.1, None, 0.9]) == (["b"], 0.9)


def test_sentinel_aggregate_runs_under_ansi(spark):
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        (row,) = bench.sentinel_df(spark).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert isinstance(row.h, int)


def test_main_prints_the_contract_line_and_keeps_the_committed_json(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    from duckdb_ml_spark import session

    committed = Path(bench.__file__).parent / "bench" / "BENCH_FULL_latest.json"
    before = committed.read_bytes()
    rows = {"pricing_summary", "events_hourly"}
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("BENCH_ONLY", ",".join(sorted(rows)))
    monkeypatch.setenv("BENCH_RUNS", "1")
    # the run's full JSON goes under tmp_path; the fixture session serves it
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)

    assert bench.main() == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result["queries"]) == rows
    assert result["n_failed"] == 0
    assert isinstance(result["sentinel_flagged"], list)
    full = json.loads((tmp_path / "bench" / "BENCH_FULL_latest.json").read_text())
    assert full["queries"] == result["queries"]
    assert committed.read_bytes() == before

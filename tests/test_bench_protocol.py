"""Unit tests for bench.py's measurement protocol: the ledger loop,
rep accounting and the executor-CPU/job-count regression gate, which
otherwise only fail as mis-adjudicated rounds."""

from __future__ import annotations

import json

import bench
from flight_delay_prediction_using_pyspark_spark.plans.queries import ORACLES, QUERIES

STAMP = {"cpus": 4, "pyspark": "4.1.2", "java": "17.0.1", "sf": 0.1, "steal_share": 0.01}


def _rec(wall: float, cpu: float, jobs: int) -> dict:
    return {"wall_s": wall, "reps": [wall], "executor_cpu_s": cpu, "jobs": jobs, "tasks": 8 * jobs}


def _report(tmp_path, monkeypatch, records: dict, baseline: dict | None) -> str:
    """bench._report_regressions against `baseline` (None: no file)."""
    base = tmp_path / "base.json"
    if baseline is not None:
        base.write_text(json.dumps(baseline))
    monkeypatch.setenv("SPARK_GRAFT_BASELINE", str(base))
    monkeypatch.setattr(bench, "REPO_ROOT", str(tmp_path))
    bench._report_regressions(records, STAMP)
    return (tmp_path / "bench_regressions.txt").read_text()


def test_headline_entries_exist_and_are_baselined():
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"headline names not in catalog: {missing}"
    base = bench._baseline()["queries"]
    unbaselined = [n for n in bench.HEADLINE if n not in base]
    assert not unbaselined, (
        "headline entries without a committed baseline (the gate "
        f"silently skips them): {unbaselined}"
    )


def test_memo_build_gets_one_cold_rep(spark):
    """A query records its one COLD rep exactly when its first rep
    added a session memo entry (min-of-reps would silently drop the
    build cost from the headline — round-8 ADVICE). From a cold graph
    memo, the first co-purchase consumer builds the edge frame; a
    rerun and a sibling consumer only hit it and keep min-of-reps."""
    from flight_delay_prediction_using_pyspark_spark.plans import queries as Q
    from tests.conftest import SF_CORRECTNESS_DIR as sf

    edges = Q._MEMO.get(spark.sparkContext, {}).pop(("graph", sf), None)
    if edges is not None:
        edges.unpersist()
    size = Q.memo_size(spark)
    assert len(bench._query_reps(spark, sf, "copurchase_triangle_stats")) == 1
    assert Q.memo_size(spark) == size + 1
    assert len(bench._query_reps(spark, sf, "copurchase_triangle_stats")) >= 2
    assert len(bench._query_reps(spark, sf, "copurchase_pagerank_top10")) >= 2
    assert Q.memo_size(spark) == size + 1


def test_ledger_battery_attributes_every_job(spark):
    """The per-query loop joins Spark's own job and stage records to its
    rep spans: every job the battery starts (the warm-up's included)
    lands in a span, each query records jobs and executor CPU, and a
    cold memo build still keeps exactly one rep."""
    from flight_delay_prediction_using_pyspark_spark.plans import queries as Q
    from tests.conftest import SF_CORRECTNESS_DIR as sf

    edges = Q._MEMO.get(spark.sparkContext, {}).pop(("graph", sf), None)
    if edges is not None:
        edges.unpersist()
    names = ["tpch_q6_forecast_revenue", "copurchase_triangle_stats"]
    records, attribution = bench._battery(spark, sf, names)
    assert attribution["jobs_attributed"] == attribution["jobs_total"] > 0
    for name in names:
        assert records[name]["jobs"] > 0, name
        assert records[name]["executor_cpu_s"] > 0, name
        assert records[name]["tasks"] >= records[name]["jobs"], name
    assert len(records["copurchase_triangle_stats"]["reps"]) == 1
    assert len(records["tpch_q6_forecast_revenue"]["reps"]) >= 2


def test_gate_flags_cpu_and_jobs_not_wall(tmp_path, monkeypatch):
    """A 2x executor-CPU regression and one extra job are flagged; 2x
    wall with CPU and jobs unchanged is host load, never flagged."""
    base = {
        "stamp": STAMP,
        "queries": {n: _rec(2.0, 2.0, 3) for n in ("q_cpu", "q_jobs", "q_wall", "q_small")},
    }
    text = _report(tmp_path, monkeypatch, {
        "q_cpu": _rec(2.1, 4.0, 3),
        "q_jobs": _rec(2.0, 2.0, 4),
        "q_wall": _rec(4.0, 2.0, 3),
        "q_small": _rec(2.0, 2.4, 3),  # +20%: under both thresholds
        "q_new": _rec(9.0, 9.0, 9),  # no baseline entry
    }, base)
    assert "REGRESSION q_cpu: executor_cpu_s 2.00 -> 4.00 (wall_s 2.00 -> 2.10)" in text
    assert "REGRESSION q_jobs: jobs 3 -> 4" in text
    assert text.count("REGRESSION") == 2
    assert "q_wall" not in text and "q_small" not in text and "q_new" not in text


def test_gate_compares_nothing_across_stamps(tmp_path, monkeypatch):
    """A baseline from another configuration is never compared, however
    far its numbers are from this run's."""
    base = {"stamp": {**STAMP, "cpus": 32}, "queries": {"q": _rec(1.0, 1.0, 1)}}
    text = _report(tmp_path, monkeypatch, {"q": _rec(9.0, 9.0, 9)}, base)
    assert "REGRESSION" not in text
    assert text.startswith("not compared: baseline stamp {")
    assert '"cpus": 32' in text and '"cpus": 4' in text


def test_regression_file_rewritten_without_comparable_baseline(tmp_path, monkeypatch):
    """A missing or other-SF baseline still rewrites the file, so an
    earlier run's verdict never survives to read as current."""
    stale = tmp_path / "bench_regressions.txt"
    stale.write_text("REGRESSION old_query: stale\n")
    text = _report(tmp_path, monkeypatch, {"q": _rec(1.0, 1.0, 1)}, None)
    assert "old_query" not in text
    assert text.startswith("not compared: baseline stamp null vs this run {")
    stale.write_text("REGRESSION old_query: stale\n")
    base = {"stamp": {**STAMP, "sf": 0.01}, "queries": {"q": _rec(1.0, 1.0, 1)}}
    text = _report(tmp_path, monkeypatch, {"q": _rec(1.0, 1.0, 1)}, base)
    assert "old_query" not in text
    assert '"sf": 0.01' in text and '"sf": 0.1' in text


def test_quiet_run_regression_file_carries_stamp(tmp_path, monkeypatch):
    """Host steal differs between any two runs, so it is stamped but
    does not block the comparison."""
    base = {"stamp": {**STAMP, "steal_share": 0.2}, "queries": {"q": _rec(1.0, 1.0, 1)}}
    text = _report(tmp_path, monkeypatch, {"q": _rec(1.0, 1.0, 1)}, base)
    assert text.splitlines()[0] == "bench: no regressions vs baseline"
    assert text.splitlines()[1] == f"stamp={json.dumps(STAMP)}"


def test_coverage_doc_counts_match_catalog():
    """Round-12 verdict item 5: COVERAGE.md's header counts drifted
    (said 303/286 when the catalog was 307/292). Pin the literal
    header numbers to the live catalog so the docs cannot drift
    again."""
    import os
    import re

    with open(os.path.join(bench.REPO_ROOT, "COVERAGE.md")) as f:
        head = f.read(2000)
    m = re.search(r"(\d+) catalog queries, (\d+) oracle-backed", head)
    assert m, "COVERAGE.md header must state 'N catalog queries, M oracle-backed'"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md says {m.group(1)} queries, catalog has {len(QUERIES)}"
    )
    assert int(m.group(2)) == len(ORACLES), (
        f"COVERAGE.md says {m.group(2)} oracle-backed, catalog has {len(ORACLES)}"
    )


def test_catalog_queries_are_baselined_and_rotated_by_cost():
    """Every catalog query has a committed baseline record, and the
    driver rotation is _MUST_HAVE first, then each tier in ascending
    baseline wall."""
    import __spark_entry__ as E

    base = bench._baseline()["queries"]
    unbaselined = sorted(set(QUERIES) - set(base))
    assert not unbaselined, f"queries without a baseline entry: {unbaselined}"
    for name, rec in base.items():
        assert set(bench.LEDGER_FIELDS) | {"wall_s"} <= set(rec), name
    order = list(E.queries())
    assert sorted(order) == sorted(QUERIES)
    must = [n for n in E._MUST_HAVE if n in QUERIES]
    assert order[: len(must)] == must
    attempted = E._driver_attempted()

    def tier(n: str) -> int:
        if n in attempted:
            return 3 + (n not in ORACLES)
        return 2 if n in E._DEFER else int(n not in ORACLES)

    keys = [(tier(n), base[n]["wall_s"]) for n in order[len(must):]]
    assert keys == sorted(keys)

"""Unit tests for bench.py's measurement protocol — the contamination
gate and rep accounting, which otherwise only fail as mis-adjudicated
rounds (round-11 verdict cycle)."""

from __future__ import annotations

import bench
from flight_delay_prediction_using_pyspark_spark.plans.queries import ORACLES, QUERIES


def test_headline_entries_exist_and_are_baselined():
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"headline names not in catalog: {missing}"
    base = bench._baseline_queries()
    unbaselined = [n for n in bench.HEADLINE if n not in base]
    assert not unbaselined, (
        "headline entries without a committed baseline (the derived "
        f"quiet reference silently shrinks): {unbaselined}"
    )


def test_derived_quiet_reference_tracks_baselines():
    """Round-11 ADVICE: the total-quiet reference derives from the
    committed baselines (0.75 x their sum over baselined headline
    queries) instead of a hand-pinned constant, so HEADLINE growth
    cannot silently exhaust the contamination gate's headroom."""
    base = bench._baseline_queries()
    adjudicated = set(bench.HEADLINE) & set(base)
    ref = bench.TOTAL_QUIET_RATIO * sum(base[n] for n in adjudicated)
    # sanity band: the round-11/12 quiet-run totals sat at 355-480 s;
    # a ref outside [250, 800] means either baselines or the ratio
    # regressed in a way adjudication would misread
    assert 250.0 < ref < 800.0, ref
    assert bench.TOTAL_QUIET_RATIO == 0.75


def test_streaming_min3_members_are_catalog_queries():
    ghosts = [n for n in bench.STREAMING_MIN3 if n not in QUERIES]
    assert not ghosts, ghosts


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


def test_contamination_gate_constants_pinned():
    """Round-12 verdict item 1: the fresh-session canary reference and
    the loadavg-start gate exist and sit in their measured bands —
    fresh-session canary floor measured 15.9-18.4 s warm-cache on a
    quiet box (36 s first-ever cold-cache), mid-battery 9.0 s; the
    loadavg gate must clear a retry process' own decayed load (~e^-3
    of a 32-thread battery after the 180 s retry sleep) but catch the
    loadavg 4.7-7.9 band that contaminated the r12 8M soak."""
    assert bench.CANARY_QUIET_REF_SEC == 9.0
    assert 13.0 <= bench.CANARY_FRESH_SESSION_REF_SEC <= 26.0
    assert bench.CANARY_FRESH_SESSION_REF_SEC > bench.CANARY_QUIET_REF_SEC
    assert 2.0 < bench.LOADAVG_START_MAX <= 8.0


def test_regression_lines_carry_load_evidence(tmp_path, monkeypatch):
    """Every REGRESSION line carries the 1-min loadavg sampled at that
    query's completion, and the file ends with the battery start/end
    loadavg — so adjudication reads load artifacts off the file
    instead of burning a re-measure cycle (rounds 11 AND 12 each
    spent theirs proving driver flags were host load)."""
    import json

    base = tmp_path / "base.json"
    base.write_text(json.dumps({"sf": 0.1, "queries": {"q_slow": 1.0, "q_ok": 1.0}}))
    monkeypatch.setenv("SPARK_GRAFT_BASELINE", str(base))
    monkeypatch.setattr(bench, "REPO_ROOT", str(tmp_path))
    bench._report_regressions(
        {"q_slow": 2.5, "q_ok": 1.1},
        0.1,
        load_start=[0.5, 0.4, 0.3],
        load_end=[12.0, 6.0, 3.0],
        load1={"q_slow": 14.5, "q_ok": 11.0},
    )
    text = (tmp_path / "bench_regressions.txt").read_text()
    assert "REGRESSION q_slow: 1.00s -> 2.50s (load1@query=14.5)" in text
    assert "q_ok" not in text.split("loadavg_start")[0]
    assert "loadavg_start=[0.5, 0.4, 0.3]" in text
    assert "loadavg_end=[12.0, 6.0, 3.0]" in text


def test_quiet_run_regression_file_still_carries_load(tmp_path, monkeypatch):
    import json

    base = tmp_path / "base.json"
    base.write_text(json.dumps({"sf": 0.1, "queries": {"q": 1.0}}))
    monkeypatch.setenv("SPARK_GRAFT_BASELINE", str(base))
    monkeypatch.setattr(bench, "REPO_ROOT", str(tmp_path))
    bench._report_regressions(
        {"q": 1.0}, 0.1, load_start=[0.1, 0.2, 0.3], load_end=[9.0, 4.0, 2.0]
    )
    text = (tmp_path / "bench_regressions.txt").read_text()
    assert "no regressions" in text
    assert "loadavg_start=[0.1, 0.2, 0.3]" in text


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


def test_catalog_cost_hints_cover_every_query():
    import json
    import os

    with open(os.path.join(bench.REPO_ROOT, "catalog_cost_hints.json")) as f:
        hints = json.load(f)["queries"]
    unhinted = sorted(set(QUERIES) - set(hints))
    # new queries default to 0.3s in the rotation — a missing hint is
    # not fatal, but the round's additions should land with hints so
    # the 50-slot window orders honestly
    assert not unhinted, f"queries without cost hints: {unhinted}"
    assert set(ORACLES) <= set(QUERIES)

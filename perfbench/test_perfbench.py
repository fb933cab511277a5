"""Self-tests for the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import spans as sp  # noqa: E402
from checks import landing_ctes, result_hash, same_relation  # noqa: E402
from run import END_TO_END, per_layer_names, unit_of  # noqa: E402


# -- generator ---------------------------------------------------------------


def test_feeds_are_a_function_of_the_seed():
    assert gen.rhino_rows(7, 2, 3) == gen.rhino_rows(7, 2, 3)
    assert gen.rhino_rows(7, 2, 3) != gen.rhino_rows(8, 2, 3)
    assert gen.census_rows(7) == gen.census_rows(7)
    assert gen.fluview_rows(7, 2) == gen.fluview_rows(7, 2)


def test_operator_tables_are_a_function_of_the_seed():
    a, b, c = (gen.operator_tables(s) for s in (7, 7, 8))
    for name in a:
        for col in a[name]:
            assert repr(list(a[name][col])) == repr(list(b[name][col])), (name, col)
    assert list(a["documents"]["text"]) != list(c["documents"]["text"])


def test_feeds_cover_the_pipeline_edge_cases():
    rows = gen.rhino_rows(3, 2, 2)
    locations = {r[5] for r in rows}
    assert {"Statewide", "Unassigned ACH Region", "Pierce County ACH"} <= locations
    # Spokane sits in two ACH regions
    assert {"Better Health Together", "Greater Health Now"} <= locations
    pcts = [r[9] for r in rows]
    assert "" in pcts and "   " in pcts
    assert any(p in ("suppressed", "N/A", "<5", "--") for p in pcts)
    last_fluview = max(r[2] for r in gen.fluview_rows(3, 2))
    epiweeks = {int(r[3][:4]) * 100 + r[4] for r in rows}
    assert max(epiweeks) > last_fluview
    # year(Week End) || Week is a key: one (start, end) per epiweek
    assert len(epiweeks) == len({(r[2], r[3]) for r in rows})
    assert any(d is None for _, d in gen.census_rows(3))


def test_landing_ctes_point_the_raw_ctes_at_the_csvs():
    ctes = landing_ctes({"rhino": "r.csv", "census": "c.csv", "fluview": "f.csv"})
    for path in ("r.csv", "c.csv", "f.csv"):
        assert f"read_csv('{path}'" in ctes
    assert "VALUES" not in ctes.split("ach_map AS")[0]


# -- statistics and spans ----------------------------------------------------


def test_result_hash_ignores_row_and_column_order_and_float_noise():
    a = result_hash(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = result_hash(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b
    assert a != result_hash(["x", "y"], [(1, 0.31), (2, None)])


def test_same_relation_takes_float_sums_across_a_rounding_boundary():
    import duckdb

    with duckdb.connect() as con:
        a = "SELECT * FROM (VALUES (1, 13.4984375::DOUBLE), (2, NULL)) t(k, x)"
        b = "SELECT x, k FROM (VALUES (2, NULL), (1, 13.498437499999999::DOUBLE)) t(k, x)"
        assert same_relation(con, a, b)
        assert not same_relation(con, a, a.replace("13.4984375", "13.4984385"))
        assert not same_relation(con, a, a.replace(", (2, NULL)", ""))


def test_union_length_merges_overlaps():
    assert sp.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert sp.union_length([]) == 0
    assert sp.clip([(0, 10)], 2, 4) == [(2, 4)]


def test_attribution_takes_the_ids_created_during_the_call():
    jobs = [{"jobId": i, "submissionTime": 1000 * i, "completionTime": 1000 * i + 500}
            for i in range(10)]
    stages = [{"stageId": i, "status": "SKIPPED" if i == 5 else "COMPLETE",
               "executorCpuTime": 10**9, "executorRunTime": 2000,
               "peakExecutionMemory": i * 2**20} for i in range(12)]
    mine_j = sp.attribute(jobs, "jobId", 3, 6)
    mine_s = sp.attribute(stages, "stageId", 4, 7)
    assert [j["jobId"] for j in mine_j] == [4, 5, 6]
    w = sp.summarize(mine_j, mine_s)
    assert w["jobs"] == 3 and w["stages"] == 2  # stage 5 was skipped
    assert w["cpu_s"] == 2.0 and w["run_s"] == 4.0
    assert w["peak_exec_mem_mb"] == 7.0
    assert w["job_intervals"] == [(4.0, 4.5), (5.0, 5.5), (6.0, 6.5)]


def test_self_time_subtracts_children():
    tr = sp.Tracer(True)
    with tr.span("outer") as outer:
        time.sleep(0.02)
        with tr.span("inner") as inner:
            time.sleep(0.03)
    selfs = tr.self_times()
    assert inner.parent == outer.sid
    assert abs(selfs[outer.sid] - (outer.duration - inner.duration)) < 1e-9
    assert selfs[inner.sid] == inner.duration


def test_disabled_tracer_records_nothing():
    tr = sp.Tracer(False)
    with tr.span("x", work=True) as s:
        pass
    assert s.duration == 0.0 and s.work == {} and tr.spans == []


# -- the benchmark file ------------------------------------------------------


def test_benchmark_json_matches_what_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    names = per_layer_names()
    assert [m["name"] for m in bench["per_layer"]] == names
    assert len(names) <= 128
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == unit_of(m["name"]), m


def test_normalized_metrics_scale_by_the_reference_job():
    from types import SimpleNamespace

    import workloads as wk

    wl = wk.Workload(SimpleNamespace(spark=None, tracer=sp.OFF))
    wl.times = {"a": [1.0, 3.0, 2.0], "b": [4.0], "b~traced": [9.0]}
    wl.ref_times = [0.2, 0.25, 0.3]
    got = wl.summary()
    assert got["work_s"] == 6.0 and got["ref_ms"] == 250.0
    scale = wk.REF_NOMINAL_MS / 250.0
    assert abs(got["work_norm_s"] - 6.0 * scale) < 1e-9
    assert abs(got["geomean_norm_ms"] - 1000 * (2.0 * 4.0) ** 0.5 * scale) < 1e-6

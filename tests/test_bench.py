"""Unit tests for bench.py: the work verdict against the previous
reading, the sidecar, the printed record's contract keys, the job
labels that attribute every job to its query, and the per-run compile
count."""

from __future__ import annotations

import importlib.util
import json
import os

from .conftest import SF_SMOKE

_spec = importlib.util.spec_from_file_location(
    "bench_mod",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench.py",
    ),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _work(cpu_s, jobs=3):
    return {"cpu_s": cpu_s, "jobs": jobs, "shuffle_bytes": 0,
            "spill_bytes": 0, "peak_exec_mem_mb": 0.0, "compiles": 0}


def test_verdict_no_prior():
    assert bench.verdict({"a": _work(1.0)}, None) == ("no-prior", {})
    # an anchor sharing no query with this reading anchors nothing
    assert bench.verdict({"a": _work(1.0)}, {"b": _work(1.0)})[0] == "no-prior"


def test_verdict_flat_within_threshold():
    prior = {"a": _work(1.0), "b": _work(2.0)}
    cur = {"a": _work(1.05), "b": _work(2.05, jobs=2)}  # fewer jobs is fine
    call, detail = bench.verdict(cur, prior)
    assert call == "flat"
    assert detail["queries"] == 2
    assert detail["cpu_ratio"] == round(3.1 / 3.0, 4)
    assert detail["jobs_rose"] == []


def test_verdict_regression_on_summed_cpu():
    prior = {"a": _work(1.0), "b": _work(2.0)}
    t = bench.CPU_REGRESSION_RATIO
    cur = {"a": _work(1.0), "b": _work(2.0 * t + 0.5)}
    call, detail = bench.verdict(cur, prior)
    assert call == "work-regression"
    assert detail["cpu_ratio"] > t
    assert detail["jobs_rose"] == []


def test_verdict_regression_on_one_query_jobs():
    # one more job on one query is a new barrier even at flat CPU
    prior = {"a": _work(1.0, jobs=3), "b": _work(2.0, jobs=5)}
    cur = {"a": _work(1.0, jobs=4), "b": _work(2.0, jobs=5)}
    call, detail = bench.verdict(cur, prior)
    assert call == "work-regression"
    assert detail["cpu_ratio"] == 1.0
    assert detail["jobs_rose"] == ["a"]


def test_verdict_compares_only_shared_queries():
    # the anchor came from `bench.py a`: the full sweep's other queries
    # (here a heavy one with more jobs) must not enter the comparison
    prior = {"a": _work(1.0)}
    cur = {"a": _work(1.02), "heavy": _work(50.0, jobs=40)}
    call, detail = bench.verdict(cur, prior)
    assert call == "flat"
    assert detail["queries"] == 1
    assert detail["cpu_s"] == 1.02


def test_bench_sidecar_roundtrip(tmp_path):
    # the record survives stdout-tail truncation via the bench_last.json
    # sidecar, and anchors the next reading at its sf
    rec = {"metric": "m", "value": 1.0, "queries": {}, "sf": 0.1,
           "work": {"a": _work(1.0), "b": _work(2.0)}}
    bench._write_sidecar(str(tmp_path), rec, merge=False)
    with open(tmp_path / "bench_last.json") as fh:
        assert json.loads(fh.read()) == rec
    assert bench._read_sidecar(str(tmp_path), 0.1) == rec["work"]
    assert bench._read_sidecar(str(tmp_path), 0.01) is None
    # a named-subset run merges its work into the same-sf anchor, so the
    # next full sweep is still compared over every query
    sub = {**rec, "work": {"a": _work(1.5)}}
    bench._write_sidecar(str(tmp_path), sub, merge=True)
    assert bench._read_sidecar(str(tmp_path), 0.1) == {
        "a": _work(1.5), "b": _work(2.0)}
    # a subset at another sf replaces it, and so does a full sweep
    bench._write_sidecar(str(tmp_path), {**sub, "sf": 0.01}, merge=True)
    assert bench._read_sidecar(str(tmp_path), 0.01) == {"a": _work(1.5)}
    assert bench._read_sidecar(str(tmp_path), 0.1) is None
    bench._write_sidecar(str(tmp_path), rec, merge=False)
    bench._write_sidecar(str(tmp_path), {**rec, "work": {"c": _work(3.0)}},
                         merge=False)
    assert bench._read_sidecar(str(tmp_path), 0.1) == {"c": _work(3.0)}
    # a sidecar from before the work block, or a torn one, anchors nothing
    for text in (json.dumps({"sf": 0.1, "value": 1.0}), '{"sf": 0.1, "wo'):
        (tmp_path / "bench_last.json").write_text(text)
        assert bench._read_sidecar(str(tmp_path), 0.1) is None


def test_median_work_is_per_key():
    runs = [_work(c, jobs=j) for c, j in ((0.3, 4), (0.1, 5), (0.2, 4))]
    runs[1]["peak_exec_mem_mb"] = 64.0
    runs[2]["compiles"] = 3
    assert bench.median_work(runs) == {
        "cpu_s": 0.2, "jobs": 4, "shuffle_bytes": 0, "spill_bytes": 0,
        "peak_exec_mem_mb": 0.0, "compiles": 0,
    }


def test_unknown_query_names_are_rejected(capsys):
    assert bench.main(["pricing_summary", "no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err


def test_sweep_record_keeps_contract_keys(spark, tmp_path):
    rec = bench.sweep(spark, SF_SMOKE, ["pricing_summary"], repo=str(tmp_path))
    line = json.loads(json.dumps(rec))
    for key in ("metric", "value", "unit", "queries", "sf",
                "queries_median", "value_median"):
        assert key in line, key
    assert line["sf"] == 0.001
    assert set(line["work"]["pricing_summary"]) == set(bench.WORK_KEYS)
    assert line["work"]["pricing_summary"]["jobs"] >= 1
    assert line["verdict"] == "no-prior"


def test_jobs_from_overlap_threads_carry_the_label(spark):
    from flu_data_pipeline_spark.operators.materialize import overlap
    from perfbench.spans import StatusStore

    store = StatusStore(spark)
    _, one = bench.measure(spark, store, lambda: spark.range(100).count())
    token = store.mark()
    with bench.job_label(spark, "bench-label-test"):
        _, work = bench.measure(spark, store, lambda: overlap(
            lambda: spark.range(100).count(),
            lambda: spark.range(200).count(),
        ))
    assert work["jobs"] == 2 * one["jobs"]
    jobs, _ = store._read()
    labelled = [j for j in jobs if j["jobId"] > token[0]]
    assert len(labelled) == work["jobs"]
    assert {j.get("description") for j in labelled} == {"bench-label-test"}
    # the label is cleared after the block
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_warmed_query_timed_runs_compile_nothing(spark):
    """``compiles`` counts the generated classes a run compiles: a
    projection no earlier query used compiles some, and the timed runs
    of a warmed registry query compile none (its classes stay in the
    codegen class cache)."""
    from perfbench.spans import StatusStore

    store = StatusStore(spark)
    unseen = spark.range(1).selectExpr("id * 48611 + 104729 AS unseen")
    _, fresh = bench.measure(
        spark, store, lambda: unseen.write.format("noop").mode("overwrite").save()
    )
    assert fresh["compiles"] >= 1

    qd = bench.REGISTRY["pricing_summary"]

    def run():
        qd.builder(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    run()
    runs = [bench.measure(spark, store, run)[1] for _ in range(3)]
    assert [r["compiles"] for r in runs] == [0, 0, 0]
    assert bench.median_work(runs)["compiles"] == 0


def _profile_query():
    spec = importlib.util.spec_from_file_location(
        "profile_query_mod",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "profile_query.py"),
    )
    pq = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pq)
    return pq


def test_profile_query_rows_sum_to_the_pass(spark, tmp_path):
    """``scripts/profile_query.py``: one row per barrier plus the query's
    other jobs, whose jobs sum to the profiled pass's, and one input-plan
    file per barrier checkpoint, each the plan before the checkpoint."""
    pq = _profile_query()
    rows = pq.profile(spark, "huber_irls_regression", SF_SMOKE, str(tmp_path))
    *parts, total = rows
    assert total["label"] == "total"
    assert [r["label"] for r in parts] == ["pts", "irls0", "irls1", "(query)"]
    assert sum(r["jobs"] for r in parts) == total["jobs"] > 0
    files = sorted(os.listdir(tmp_path))
    assert files == ["00_pts.txt", "01_irls0.txt", "02_irls1.txt"]
    # the first barrier's input is the lineitem scan itself; later ones
    # read the rows a previous checkpoint pinned
    assert "Scan parquet" in (tmp_path / "00_pts.txt").read_text()
    assert "Scan ExistingRDD" in (tmp_path / "01_irls0.txt").read_text()


def test_plans_md_writes_each_query_once():
    """``PLANS.md`` writes every bench query, then every ``SHOWCASE``
    query, so a showcase name that is also a bench query would be a
    second copy of the same section."""
    pq = _profile_query()
    bench_names = {n for n, q in pq.REGISTRY.items() if q.bench}
    assert not bench_names & set(pq.SHOWCASE)
    assert len(set(pq.SHOWCASE)) == len(pq.SHOWCASE)
    assert set(pq.SHOWCASE) <= set(pq.REGISTRY)


def _scaling_check():
    spec = importlib.util.spec_from_file_location(
        "scaling_check_mod",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "scaling_check.py"),
    )
    sc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sc)
    return sc


def _cell(s, jobs=3):
    return {"s": s, **_work(0.1, jobs), "shuffle_bytes": 2_500_000,
            "peak_exec_mem_mb": 64.4}


def test_scaling_render_rows_ratios_and_errors():
    """``scripts/scaling_check.py``'s table: a header naming each sf's
    wall column, each decade's ratio of the medians and the per-sf work
    columns, then one row per query; an errored cell shows its exception
    class and leaves the ratios it would feed blank."""
    sc = _scaling_check()
    results = {
        "q_ok": {"sf0.001": _cell(0.5), "sf0.01": _cell(1.0), "sf0.1": _cell(4.0)},
        "q_err": {"sf0.001": _cell(0.5), "sf0.01": {"error": "Py4JJavaError"},
                  "sf0.1": _cell(2.0, jobs=4)},
    }
    header, sep, *rows = sc.render(results).splitlines()
    assert header == (
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | r10_1 | r100_10 "
        "| jobs sf0.001/sf0.01/sf0.1 | shuffle MB sf0.001/sf0.01/sf0.1 "
        "| peak MB sf0.001/sf0.01/sf0.1 |")
    assert sep == "|---" * 9 + "|"
    assert rows == [
        "| q_ok | 0.500 | 1.000 | 4.000 | 2.00 | 4.00 | 3/3/3 | 2.50/2.50/2.50 "
        "| 64/64/64 |",
        "| q_err | 0.500 | Py4JJavaError | 2.000 | - | - | 3/-/4 | 2.50/-/2.50 "
        "| 64/-/64 |",
    ]


def test_scaling_jobs_must_not_vary_with_sf_unless_listed():
    sc = _scaling_check()
    results = {
        "flat": {"sf0.001": _cell(0.5), "sf0.01": _cell(1.0)},
        "loop": {"sf0.001": _cell(0.5, jobs=5), "sf0.01": _cell(1.0, jobs=7)},
        "err": {"sf0.001": _cell(0.5), "sf0.01": {"error": "Py4JJavaError"}},
    }
    assert sc.jobs_vary_unlisted(results, {"loop": "converges in more rounds"}) == []
    assert sc.jobs_vary_unlisted(results, {}) == ["loop"]

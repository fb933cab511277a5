"""Unit tests for bench.py: the work verdict against the previous
reading, the sidecar, the printed record's contract keys, and the job
labels that attribute every job to its query."""

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
            "spill_bytes": 0, "peak_exec_mem_mb": 0.0}


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
    # the JSON line survives stdout-tail truncation via the
    # bench_last.json sidecar, and anchors the next reading at its sf
    line = json.dumps({"metric": "m", "value": 1.0, "queries": {},
                       "sf": 0.1, "work": {"a": _work(1.0)}})
    bench._write_sidecar(str(tmp_path), line)
    with open(tmp_path / "bench_last.json") as fh:
        assert json.loads(fh.read()) == json.loads(line)
    assert bench._read_sidecar(str(tmp_path), 0.1) == {"a": _work(1.0)}
    assert bench._read_sidecar(str(tmp_path), 0.01) is None
    # a sidecar from before the work block, or a torn one, anchors nothing
    bench._write_sidecar(str(tmp_path), json.dumps({"sf": 0.1, "value": 1.0}))
    assert bench._read_sidecar(str(tmp_path), 0.1) is None
    bench._write_sidecar(str(tmp_path), '{"sf": 0.1, "wo')
    assert bench._read_sidecar(str(tmp_path), 0.1) is None


def test_median_work_is_per_key():
    runs = [_work(c, jobs=j) for c, j in ((0.3, 4), (0.1, 5), (0.2, 4))]
    runs[1]["peak_exec_mem_mb"] = 64.0
    assert bench.median_work(runs) == {
        "cpu_s": 0.2, "jobs": 4, "shuffle_bytes": 0, "spill_bytes": 0,
        "peak_exec_mem_mb": 0.0,
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
    _, one = bench.measure(store, lambda: spark.range(100).count())
    token = store.mark()
    with bench.job_label(spark, "bench-label-test"):
        _, work = bench.measure(store, lambda: overlap(
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

"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider

(from the repository root; the Spark-backed test starts one local session)
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import workloads  # noqa: E402
from families import FAMILIES, SWEEP, family  # noqa: E402
from tracing import EventLog  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _parquet_bytes(table: pa.Table, path) -> bytes:
    pq.write_table(table, path)
    with open(path, "rb") as f:
        return f.read()


# -- seeded inputs -----------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda s: inputs.documents(s, 300),
        lambda s: inputs.resampled_documents(s, 1000, base=200),
        lambda s: inputs.longtail_corpus(s, 30, median_bytes=2000)[0],
        lambda s: inputs.gate_tables(s)["lineitem"],
        lambda s: inputs.gate_tables(s)["embeddings"],
    ],
)
def test_same_seed_gives_byte_identical_inputs(make, tmp_path):
    a = _parquet_bytes(make(5), tmp_path / "a.parquet")
    b = _parquet_bytes(make(5), tmp_path / "b.parquet")
    c = _parquet_bytes(make(6), tmp_path / "c.parquet")
    assert a == b
    assert a != c


def test_gate_tables_are_byte_identical_per_seed(tmp_path):
    one, two = inputs.gate_tables(9), inputs.gate_tables(9)
    assert sorted(one) == sorted(
        "region nation supplier customer part orders lineitem events documents "
        "embeddings".split()
    )
    for name in one:
        assert _parquet_bytes(one[name], tmp_path / f"{name}1") == _parquet_bytes(
            two[name], tmp_path / f"{name}2"
        ), name


def test_documents_text_is_plain_word_soup():
    texts = inputs.documents(3, 2000).column("text").to_pylist()
    assert all(re.fullmatch(r"[a-z]+( [a-z]+)*", t) for t in texts)
    assert sum("dup" in t.split(" ") for t in texts) > 20  # planted near-dups


def test_longtail_expectations_match_core_oracle():
    from html_parser_spark.core import oracle

    table, expected = inputs.longtail_corpus(11, 60, median_bytes=3000)
    statuses = {e.status for e in expected.values()}
    assert statuses == {"ok", "error", "divergent"}
    for doc_id, spans in zip(table.column("doc_id").to_pylist(),
                             table.column("spans").to_pylist()):
        out, status, error = oracle.process_document(
            [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        )
        n_chars = sum(len(t) for _, t, _, _ in out if t is not None)
        assert inputs.Expected(status, error, len(out), n_chars) == expected[doc_id], doc_id


def test_longtail_sizes_are_stratified_and_capped():
    sizes = inputs.lognormal_sizes(1000, 20_000)
    assert sizes == sorted(sizes)
    assert sizes[500] == pytest.approx(20_000, rel=0.01)
    assert max(inputs.lognormal_sizes(100_000, 20_000)) == inputs.LONGTAIL_CAP_BYTES


# -- gate families -----------------------------------------------------------


def test_every_gate_query_has_one_family_and_the_sweep_is_balanced():
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert len(names) == 110
    counts = {f: sum(family(q) == f for q in names) for f in FAMILIES}
    assert counts == {"extract": 14, "media": 18, "dedup": 18, "corpus": 40, "sql": 20}
    assert len(set(SWEEP)) == len(SWEEP) == 5
    assert set(SWEEP) <= set(names)
    assert {f: sum(family(q) == f for q in SWEEP) for f in FAMILIES} == dict.fromkeys(
        FAMILIES, 1
    )


# -- BENCHMARK.json and the printed line -------------------------------------


def test_benchmark_json_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert SPEC["command"][:2] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_line_prints_exactly_the_named_metrics():
    res = workloads.Result("x")
    with pytest.raises(RuntimeError):
        res.line(trace=False)
    res.e2e = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    res.e2e["not_in_spec"] = 2.0
    res.attempted = 3
    line = res.line(trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {
        m["name"]: {"value": 1.5, "unit": m["unit"]} for m in SPEC["end_to_end"]
    }
    workloads._zero_layers(res)
    assert set(res.line(trace=True)["metrics"]) == {m["name"] for m in SPEC["per_layer"]}


def test_every_layer_metric_the_code_sets_is_named():
    """Per-layer metric names written in the workload code are all in
    BENCHMARK.json (the printed line drops any that are not)."""
    layer = {m["name"] for m in SPEC["per_layer"]}
    with open(os.path.join(HERE, "workloads.py")) as f:
        src = f.read()
    literal = set(re.findall(r'"((?:[a-z_]+\.)+[a-z_]+|jvm_peak_rss_mb)":', src))
    literal |= set(re.findall(r'res\.layer\["([^"{]+)"\]', src))
    assert literal and literal <= layer, literal - layer
    families = {f"family.{f}.{k}" for f in FAMILIES
                for k in ("wall_s", "jobs", "stages", "exchanges", "py_run_s", "cpu_s")}
    assert families <= layer


def test_percentile_interpolates():
    assert workloads.percentile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.5
    assert workloads.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0.75) == 4.0
    assert workloads.percentile([7.0], 0.75) == 7.0


# -- event log reader ----------------------------------------------------------


def _events():
    plan = {"nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [
        {"nodeName": "MapInArrow", "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"}],
         "children": [{"nodeName": "Exchange", "metrics": [], "children": []}]}]}

    def task(stage, run_ms, py_ms, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Info": {"Accumulables": [{"ID": 7, "Update": py_ms},
                                               {"ID": 8, "Update": 1000}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 2e9,
                                 "JVM GC Time": 10,
                                 "Shuffle Read Metrics": {"Total Records Read": stage}}}

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "timed:0:q1",
                                          "spark.sql.execution.id": "0"}},
        task(0, 100, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [1, 0], "Properties": {"spark.jobGroup.id": "timed:0:q1",
                                             "spark.sql.execution.id": "0"}},
        task(1, 100, 0), task(1, 100, 0), task(1, 400, 0, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "check"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4100},
    ]


def test_event_log_attributes_jobs_stages_and_python_time(tmp_path):
    log_dir = tmp_path / "eventlog_v2_app"
    log_dir.mkdir()
    with open(log_dir / "events_1_app", "w") as f:
        for e in _events():
            f.write(json.dumps(e) + "\n")
    log = EventLog(str(tmp_path))
    jobs = log.job_ids("timed:0")
    assert jobs == [0, 1] and log.job_ids("timed") == [0, 1] and log.job_ids("check") == [2]
    s = log.summary(jobs)
    assert (s["jobs"], s["stages"], s["tasks"], s["failed_tasks"], s["exchanges"]) == (
        2, 2, 4, 1, 1)
    assert s["py_run_s"] == pytest.approx(0.05)
    assert s["py_sent_bytes"] == 4000
    assert s["cpu_s"] == pytest.approx(8.0)
    assert log.busy_s(jobs) == pytest.approx(1.5)
    assert log.task_skew(jobs) == pytest.approx(4.0)  # stage 1: 400 ms vs median 100


def test_a_job_after_the_extra_queries_stays_out_of_their_records(tmp_path):
    """In a traced gate run every Spark job carries the tag of its own step:
    a job tagged after the last extra query is not counted in that query."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "extra:q9"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "timed:0:q1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1400,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "check"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1500},
    ]
    with open(tmp_path / "events_1_app", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    log = EventLog(str(tmp_path))
    assert log.summary(log.job_ids("extra:q9"))["jobs"] == 1
    assert log.summary(log.job_ids("extra:q9"))["stages"] == 1
    assert log.job_ids("timed") == [1]


def test_oracle_mismatch_catches_type_drift():
    """A query whose values match but whose column type drifts from the
    oracle's fails, as it does in tools/gate_check.py."""
    import duckdb
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class Frame:  # the two DataFrame attributes the check reads
        def __init__(self, dtype):
            self.columns = ["n"]
            self.schema = StructType([StructField("n", dtype)])

    con = duckdb.connect()
    sql = "SELECT CAST(3 AS BIGINT) AS n"
    assert workloads.oracle_mismatch(con, sql, Frame(LongType()), [(3,)]) is None
    assert workloads.oracle_mismatch(con, sql, Frame(DoubleType()), [(3,)]).startswith(
        "type drift")
    assert workloads.oracle_mismatch(con, sql, Frame(LongType()), [(4,)]) == "values differ"
    assert workloads.oracle_mismatch(con, sql, Frame(LongType()), []).startswith("rowcount")


# -- the command ---------------------------------------------------------------


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "gate_sweep", "--seed", "1", "--seconds", "1",
                           "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_small_docs_run_prints_every_named_metric(tmp_path, monkeypatch):
    """One short untraced and one traced run of the small-docs workload on a
    2000-doc corpus (the traced one with a 12-doc, 2-group checkpoint job),
    in-process."""
    import run as entry

    monkeypatch.setattr(workloads, "SMALL_DOCS", 2000)
    monkeypatch.setattr(workloads, "MIN_PASSES", 1)
    monkeypatch.setattr(workloads, "LONGTAIL_DOCS", 12)
    monkeypatch.setattr(workloads, "LONGTAIL_GROUPS", 2)
    monkeypatch.setattr(workloads, "SETUP_REPS", 1)
    monkeypatch.setattr(workloads, "LAYER_REPS", 1)
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([ROOT, HERE]))
    for trace in (False, True):
        work = tmp_path / f"work{int(trace)}"
        spark = entry.build_session(2, str(work), trace)
        try:
            run = workloads.Run(spark, 3, 0.1, trace, str(work), 2, 1.0)
            res = workloads.extract_small_docs(run)
        finally:
            spark.stop()
        if trace:
            res.finish_trace(run)
        line = res.line(trace)
        attempted = 2000 + (12 + 2 if trace else 0)  # + long-tail docs and groups
        assert line["correct"] and line["attempted"] == attempted and line["failed"] == 0
        want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        assert set(line["metrics"]) == {m["name"] for m in want}
        assert all(v["value"] >= 0 for v in line["metrics"].values())
        if trace:
            _, expected = inputs.longtail_corpus(3, 12)
            assert line["metrics"]["out.spans"]["value"] == 5 * 2000 + sum(
                e.n_spans for e in expected.values())
            assert line["metrics"]["spark.jobs"]["value"] >= 1
            assert line["metrics"]["checkpoint.jobs"]["value"] >= 2 * 3
            assert line["metrics"]["checkpoint.scan_ratio"]["value"] >= 2
        else:
            assert all(v["value"] > 0 for v in line["metrics"].values())

"""Self-test of the benchmark: its output checks reject corrupted
outputs, its metric names are valid and match BENCHMARK.json, its
report prints every end-to-end metric, and its event-log reader sums
SQL metrics in the right units. No Spark is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, corpus, eventlog, run

ROOT = Path(__file__).resolve().parents[2]
BUCKETS = 4
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def labels() -> list[dict]:
    from dataprof_spark.pipeline import labeler

    return labeler.label_rows(corpus.generate(seed=7, pages=120))


def _bucket(url: str) -> int:
    return sum(url.encode()) % BUCKETS


def _write_output(labels: list[dict], out: Path) -> None:
    """A pipeline-shaped output (decisions by part_key + manifests)."""
    rows = sorted(labels, key=lambda r: r["url"])
    table = pa.table({
        "url": [r["url"] for r in rows],
        "keep": [r["keep"] for r in rows],
        "drop_reason": pa.array([r["drop_reason"] for r in rows], pa.string()),
        "scrubbed_text": [r["scrubbed_text"] for r in rows],
        "scrub_counts": pa.array(
            [list(r["scrub_counts"].items()) for r in rows],
            pa.map_(pa.string(), pa.int64())),
        "quality_score": [r["quality_score"] for r in rows],
        "part_key": [_bucket(r["url"]) for r in rows],
    })
    pq.write_to_dataset(table, str(out / "decisions"),
                        partition_cols=["part_key"])
    (out / "_manifest").mkdir()
    for k in range(BUCKETS):
        mine = [r for r in rows if _bucket(r["url"]) == k]
        reasons = Counter(r["drop_reason"] for r in mine if not r["keep"])
        (out / "_manifest" / f"part_{k}.json").write_text(json.dumps({
            "run_id": "t", "partition_id": k, "n_buckets": BUCKETS,
            "docs_in": len(mine), "docs_out": sum(r["keep"] for r in mine),
            "drop_reason_counts": dict(reasons), "wall_ms": 1,
            "status": "done"}))


def _rewrite_decisions(out: Path, edit) -> None:
    """Apply ``edit(list_of_row_dicts)`` to the first non-empty bucket."""
    for f in sorted((out / "decisions").rglob("*.parquet")):
        table = pq.read_table(f)
        if table.num_rows:
            rows = table.to_pylist()
            edit(rows)
            pq.write_table(pa.Table.from_pylist(rows, table.schema), f)
            return


@pytest.fixture()
def output(labels, tmp_path) -> Path:
    out = tmp_path / "out"
    _write_output(labels, out)
    assert checks.check_ingest(str(out), labels, BUCKETS) == []
    return out


def test_ingest_check_rejects_flipped_keep(labels, output):
    def flip(rows):
        rows[0]["keep"] = not rows[0]["keep"]

    _rewrite_decisions(output, flip)
    assert checks.check_ingest(str(output), labels, BUCKETS)


def test_ingest_check_rejects_altered_scrubbed_text(labels, output):
    def alter(rows):
        rows[0]["scrubbed_text"] += " "

    _rewrite_decisions(output, alter)
    assert checks.check_ingest(str(output), labels, BUCKETS)


def test_ingest_check_rejects_missing_manifest(labels, output):
    os.remove(output / "_manifest" / "part_1.json")
    assert checks.check_ingest(str(output), labels, BUCKETS)


def test_ingest_check_rejects_broken_conservation(labels, output):
    path = output / "_manifest" / "part_0.json"
    row = json.loads(path.read_text())
    row["docs_out"] += 1
    path.write_text(json.dumps(row))
    assert checks.check_ingest(str(output), labels, BUCKETS)


def test_resume_check_needs_identical_decisions(output, tmp_path):
    copy = tmp_path / "copy"
    shutil.copytree(output, copy)
    path = copy / "_manifest" / "part_2.json"
    row = json.loads(path.read_text())
    row["run_id"], row["wall_ms"] = "other", 99
    path.write_text(json.dumps(row))
    assert checks.check_resume(str(copy), str(output)) == []

    def alter(rows):
        rows[-1]["quality_score"] += 1e-12

    _rewrite_decisions(copy, alter)
    assert checks.check_resume(str(copy), str(output))


def test_dedup_check_matches_references(labels, tmp_path):
    from dataprof_spark.pipeline import dedup_stage

    rows = corpus.generate(seed=7, pages=120)
    exact = [r["url"] for r in rows if r["_class"] == "exact_dup_copy"]
    _pairs, near = checks.near_dup_oracle(labels, 16, 0.7)
    deduped = []
    for r in dedup_stage.label_exact_duplicates(labels):
        if r["url"] in near:
            r = {**r, "keep": False, "drop_reason": "near_duplicate"}
        deduped.append(r)
    out = tmp_path / "deduped"
    out.mkdir()

    def write(rs):
        pq.write_table(pa.Table.from_pylist(
            [{k: r[k] for k in ("url", "keep", "drop_reason")} for r in rs],
            pa.schema([("url", pa.string()), ("keep", pa.bool_()),
                       ("drop_reason", pa.string())])),
            out / "part-0.parquet")

    write(deduped)
    problems, demoted = checks.check_dedup(str(out), labels, exact, near)
    assert problems == []
    assert exact and all(demoted.get(u) == "exact_duplicate" for u in exact)

    victim = next(i for i, r in enumerate(deduped)
                  if r["drop_reason"] == "exact_duplicate")
    deduped[victim] = {**deduped[victim], "keep": True, "drop_reason": None}
    write(deduped)
    problems, _ = checks.check_dedup(str(out), labels, exact, near)
    assert problems


def test_metric_names_and_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    for group, table in (("end_to_end", run.END_TO_END),
                         ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in spec[group]}
        assert listed == table, group
        for name, unit in listed.items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(unit), unit
    assert "setup_s" in run.END_TO_END


def test_report_prints_every_end_to_end_metric():
    units = run.END_TO_END | run.TREE
    samples = [dict.fromkeys(units, 2.0) | {"ok": True},
               dict.fromkeys(units, 4.0) | {"ok": True},
               dict.fromkeys(units, 9.0) | {"ok": False}]
    medians, lines = run.summarize("ingest", samples)
    assert medians == dict.fromkeys(units, 3.0)
    for name, unit in units.items():
        assert any(line.startswith(f"# ingest {name} = 3 {unit} ")
                   and "median of 2 samples" in line for line in lines), name


def test_eventlog_sums_sql_metrics_in_seconds_and_bytes():
    plan = {"nodeName": "WholeStageCodegen (2)",
            "metrics": [{"name": "duration", "accumulatorId": 1,
                         "metricType": "timing"}],
            "children": [{
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "time to run Python workers",
                     "accumulatorId": 2, "metricType": "timing"},
                    {"name": "data sent to Python workers",
                     "accumulatorId": 3, "metricType": "size"}],
                "children": []}]}

    def task(updates):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                "Stage Attempt ID": 0, "Task End Reason": {"Reason": "Success"},
                "Task Info": {"Launch Time": 0, "Finish Time": 1000,
                              "Accumulables": [{"ID": i, "Update": v}
                                               for i, v in updates]},
                "Task Metrics": {"Executor Run Time": 900}}

    log = eventlog.EventLog([
        {"Event": eventlog.SQL_START, "executionId": 0, "sparkPlanInfo": plan},
        task([(1, 1500), (2, 1200), (3, 10)]),
        task([(1, 500), (2, 300), (3, 5)]),
    ])
    assert log.node_metric("ArrowEvalPython",
                           "time to run Python workers") == pytest.approx(1.5)
    assert log.node_metric("ArrowEvalPython",
                           "data sent to Python workers") == 15
    assert log.codegen_above("ArrowEvalPython") == pytest.approx(2.0)
    assert sum(t["run"] for t in log.tasks) == pytest.approx(1.8)

"""TRUE spark-submit --py-files deployment smoke (north rule: 'run
via spark-submit --py-files on multi-executor clusters').

The in-process test (test_pipeline_run) exercises main()'s logic;
this one exercises the DEPLOYMENT path: the library zipimported from
dist-style --py-files in a fresh driver JVM, from a cwd where the
repo package is NOT importable, with the master given on the SUBMIT
line — which get_spark must respect, not stomp with local[32]
(PYSPARK_GATEWAY_PORT gating in session.py).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from dataprof_spark.pipeline import checkpoint, dedup_stage, fixtures, run


def _submit(spark, tmp_path, rows, *args):
    """Write ``rows`` as the pages input, spark-submit run.py over it
    at local[3] with ``args`` appended, and return (summary, output
    dir)."""
    spark_submit = shutil.which("spark-submit")
    if not spark_submit:
        pytest.skip("spark-submit not on PATH")

    src = tmp_path / "pages_in"
    fixtures.pages_df(spark, rows).write.parquet(str(src))
    zip_path = run.make_zip(str(tmp_path / "dist"))
    app = tmp_path / "app.py"
    shutil.copy(
        os.path.join(os.path.dirname(run.__file__), "run.py"), app
    )

    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[3]",
            "--py-files", zip_path,
            str(app),
            "--input", str(src),
            "--output", str(out_dir),
            "--buckets", "2",
            "--run-id", "submit-smoke",
            *args,
        ],
        cwd=tmp_path,  # repo not importable from here: zip or bust
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), out_dir


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    summary, _ = _submit(spark, tmp_path, fixtures.generate_pages(n=80))
    assert summary["docs_in"] == 80
    assert summary["partitions_processed"] == 2
    # the submit-line master must win — a forced local[32] default
    # here would mean a real `--master yarn` submit runs single-node
    assert summary["master"] == "local[3]"


def test_spark_submit_dedup_near(spark, tmp_path):
    """``--dedup near`` through spark-submit, the one path that runs
    at Spark's default of 200 shuffle partitions (get_spark leaves
    them to the submit line). The demotions must equal the in-process
    dedup stage over the same decisions."""
    rows = fixtures.inject_duplicates(fixtures.generate_pages(n=80))
    summary, out_dir = _submit(
        spark, tmp_path, rows, "--dedup", "near"
    )
    assert summary["docs_in"] == len(rows)
    dedup_out = str(out_dir) + "_deduped"
    want = dedup_stage.mark_near_duplicates(
        dedup_stage.mark_exact_duplicates(
            checkpoint.read_decisions(spark, str(out_dir))
        )
    ).collect()
    assert summary["dedup"] == {
        "mode": "near",
        "output": dedup_out,
        "docs_kept_after_dedup": sum(r["keep"] for r in want),
    }
    got = spark.read.parquet(dedup_out).select("url", "keep", "drop_reason")
    assert sorted(map(tuple, got.collect())) == sorted(
        (r["url"], r["keep"], r["drop_reason"]) for r in want
    )
    assert {r["drop_reason"] for r in want} >= {
        "exact_duplicate", "near_duplicate"
    }

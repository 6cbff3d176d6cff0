"""The application the benchmark hands to spark-submit.

It imports ``dataprof_spark`` only from the ``--py-files`` zip and runs
the shipped entry point, ``dataprof_spark.pipeline.run.main``, unchanged.
The benchmark's instruments are wrappers installed around public calls
before main() runs; the package itself is never edited.

    app.py pipeline STAMP -- <pipeline.run args>
        Timed run. Records when the app started, when the SparkSession
        became usable and when the app ended.
    app.py traced STAMP SPANS -- <pipeline.run args>
        Traced run. Each wrapped public call becomes a span (name,
        start, end, parent) and runs under its own Spark job group, so
        the event log's jobs map back to spans. Spans go to SPANS.
    app.py prep-half CORPUS OUT N_BUCKETS
        Pipeline phase 1 killed after half the buckets:
        checkpoint.run(..., max_partitions=N_BUCKETS // 2).
    app.py pairs OUT RESULT
        Near-dup candidate and verified pair counts over the decisions
        kept after exact dedup.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time

NEAR_THRESHOLD = 0.7  # pipeline.run --near-threshold default
NEAR_PERM = 16  # dedup_stage.mark_near_duplicates default


class Tracer:
    """In-memory spans; each one owns a Spark job group while open."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def _set_group(self) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None and self.stack:
            sid = self.stack[-1]
            sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._set_group()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

        setattr(owner, attr, traced)


def _stamp_session(stamp: dict) -> None:
    from dataprof_spark import session

    get_spark = session.get_spark

    @functools.wraps(get_spark)
    def stamped(*args, **kwargs):
        spark = get_spark(*args, **kwargs)
        stamp["session_ready"] = time.time()
        return spark

    session.get_spark = stamped


def _force(df) -> None:
    """Evaluate a lazy result once, so its span holds its cost."""
    df.write.format("noop").mode("overwrite").save()


def _install_tracer(tracer: Tracer) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from dataprof_spark import session
    from dataprof_spark.pipeline import checkpoint, dedup_stage

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(DataFrameReader, "parquet", "reader.parquet")
    tracer.wrap(DataFrameWriter, "parquet", "writer.parquet")
    tracer.wrap(DataFrame, "count", "dataframe.count")
    tracer.wrap(SparkSession, "stop", "session.stop")
    tracer.wrap(checkpoint, "run", "checkpoint.run")
    tracer.wrap(checkpoint, "read_decisions", "checkpoint.read_decisions")
    # mark_exact_duplicates only builds a plan; forcing it inside its
    # span gives the exact stage its own measured cost (traced run only)
    tracer.wrap(dedup_stage, "mark_exact_duplicates", "dedup.exact",
                after=_force)
    tracer.wrap(dedup_stage, "mark_near_duplicates", "dedup.near")


def _pipeline(argv: list[str], stamp_path: str,
              spans_path: str | None) -> int:
    stamp = {"entry": time.time()}
    tracer = Tracer()
    try:
        with tracer.span("app"):
            if spans_path is not None:
                _install_tracer(tracer)
            _stamp_session(stamp)
            from dataprof_spark.pipeline import run

            rc = run.main(argv)
    finally:
        stamp["exit"] = time.time()
        with open(stamp_path, "w") as f:
            json.dump(stamp, f)
        if spans_path is not None:
            with open(spans_path, "w") as f:
                json.dump(tracer.spans, f)
    return rc


def _prep_half(corpus: str, out: str, n_buckets: int) -> int:
    from dataprof_spark.pipeline import checkpoint
    from dataprof_spark.session import get_spark

    spark = get_spark(app_name="perfbench_prep")
    try:
        pages = spark.read.parquet(corpus)
        checkpoint.run(pages, out, n_buckets=n_buckets,
                       max_partitions=n_buckets // 2)
    finally:
        spark.stop()
    return 0


def _pairs(out: str, result: str) -> int:
    from pyspark.sql import functions as F

    from dataprof_spark.operators import dedup
    from dataprof_spark.pipeline import checkpoint, dedup_stage
    from dataprof_spark.session import get_spark

    spark = get_spark(app_name="perfbench_pairs")
    try:
        dec = dedup_stage.mark_exact_duplicates(
            checkpoint.read_decisions(spark, out)
        )
        kept = dec.filter(F.col("keep")).select("url", "scrubbed_text")
        n_bands = dedup.bands_for_threshold(NEAR_PERM, NEAR_THRESHOLD)
        counts = {
            "candidate_pairs": dedup.lsh_candidate_pairs(
                kept, "url", "scrubbed_text", NEAR_PERM, n_bands
            ).count(),
            "verified_pairs": dedup.near_dup_minhash(
                kept, "url", "scrubbed_text",
                threshold=NEAR_THRESHOLD, n_perm=NEAR_PERM,
            ).count(),
        }
    finally:
        spark.stop()
    with open(result, "w") as f:
        json.dump(counts, f)
    return 0


def main(argv: list[str]) -> int:
    mode, rest = argv[0], argv[1:]
    if mode == "pipeline":
        return _pipeline(rest[2:], rest[0], None)
    if mode == "traced":
        return _pipeline(rest[3:], rest[0], rest[1])
    if mode == "prep-half":
        return _prep_half(rest[0], rest[1], int(rest[2]))
    if mode == "pairs":
        return _pairs(rest[0], rest[1])
    raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

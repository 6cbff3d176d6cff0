"""Seeded input corpus and its single-node reference labels.

The corpus is the fixture mixture of ``pipeline.fixtures`` (every gate
class plus injected exact and near duplicates), written as parquet
files with the pipeline's input schema. The reference labels come from
``pipeline.labeler`` — plain Python over the same rows, no Spark — and
are what the ingest check compares the pipeline's decisions against.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from dataprof_spark.pipeline import fixtures, labeler

PAGES = 10_000
FILES = 8  # input splits: more than a 4-core box has slots, so tasks queue
INJECTED = ("exact_dup_copy", "near_dup_copy")


def generate(seed: int, pages: int = PAGES) -> list[dict]:
    """Pages plus injected duplicates; the same seed gives the same rows."""
    return fixtures.inject_duplicates(
        fixtures.generate_pages(pages, seed=seed), seed=seed
    )


def write_parquet(rows: list[dict], path: str) -> None:
    """The rows as FILES parquet files of consecutive rows."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array(
                [r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    step = -(-len(rows) // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def prepare(seed: int, dest: str) -> dict:
    """Write the corpus under ``dest/corpus`` and the reference labels
    plus corpus facts to ``dest/reference.json``; returns the latter."""
    rows = generate(seed)
    write_parquet(rows, os.path.join(dest, "corpus"))
    ref = {
        "seed": seed,
        "pages": PAGES,
        "docs": len(rows),
        "text_bytes": sum(len(r["text"].encode("utf-8")) for r in rows),
        "injected": {
            cls: sorted(r["url"] for r in rows if r["_class"] == cls)
            for cls in INJECTED
        },
        "labels": labeler.label_rows(rows),
    }
    tmp = os.path.join(dest, "reference.json.tmp")
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, os.path.join(dest, "reference.json"))
    return ref


def load(dest: str) -> dict:
    with open(os.path.join(dest, "reference.json")) as f:
        return json.load(f)

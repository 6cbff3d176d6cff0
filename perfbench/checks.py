"""Output checks for every benchmark run.

Each check returns a list of problems; an empty list means the output
is correct. Outputs are read with pyarrow, outside Spark, so a check
can never share a defect with the engine that wrote the output.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from dataprof_spark.pipeline import dedup_stage

MAX_PROBLEMS = 20
SCORE_TOL = 1e-9
# manifest fields that legitimately differ between two runs
VOLATILE_MANIFEST_KEYS = ("run_id", "wall_ms")


def read_rows(path: str, columns: list[str]) -> list[dict]:
    """Rows of a (hive-partitioned) parquet directory."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )
    return table.to_pylist()


def read_manifests(out_dir: str) -> dict[int, dict]:
    mdir = os.path.join(out_dir, "_manifest")
    rows = {}
    for name in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                row = json.load(f)
            rows[int(row["partition_id"])] = row
    return rows


def check_manifests(out_dir: str, n_buckets: int, docs: int) -> list[str]:
    """Every bucket has a ``done`` manifest, each obeys
    docs_in = docs_out + Σ drop_reason_counts, and docs_in sums to the
    corpus size."""
    problems = []
    manifests = read_manifests(out_dir)
    missing = sorted(set(range(n_buckets)) - set(manifests))
    if missing:
        problems.append(f"missing manifests for buckets {missing[:10]}")
    for k, m in manifests.items():
        if m.get("status") != "done":
            problems.append(f"bucket {k}: status {m.get('status')!r}")
        dropped = sum(m["drop_reason_counts"].values())
        if m["docs_in"] != m["docs_out"] + dropped:
            problems.append(
                f"bucket {k}: docs_in {m['docs_in']} != docs_out "
                f"{m['docs_out']} + dropped {dropped}"
            )
    total = sum(m["docs_in"] for m in manifests.values())
    if not missing and total != docs:
        problems.append(f"manifests count {total} docs, corpus has {docs}")
    return problems


def check_ingest(out_dir: str, labels: list[dict], n_buckets: int) -> list[str]:
    """Decisions equal the single-node labeler: keep, drop_reason,
    scrubbed_text and scrub_counts exactly, quality_score within 1e-9;
    manifests complete and conserving."""
    problems = check_manifests(out_dir, n_buckets, len(labels))
    want = {r["url"]: r for r in labels}
    got = read_rows(
        os.path.join(out_dir, "decisions"),
        ["url", "keep", "drop_reason", "scrubbed_text", "scrub_counts",
         "quality_score"],
    )
    if len(got) != len(want):
        problems.append(f"{len(got)} decision rows, expected {len(want)}")
    seen = set()
    for row in got:
        url = row["url"]
        ref = want.get(url)
        if ref is None or url in seen:
            problems.append(f"unexpected or repeated url {url}")
            continue
        seen.add(url)
        for col in ("keep", "drop_reason", "scrubbed_text"):
            if row[col] != ref[col]:
                problems.append(f"{url}: {col} {row[col]!r} != {ref[col]!r}")
        if dict(row["scrub_counts"] or []) != ref["scrub_counts"]:
            problems.append(f"{url}: scrub_counts differ")
        if abs(row["quality_score"] - ref["quality_score"]) > SCORE_TOL:
            problems.append(f"{url}: quality_score differs")
        if len(problems) >= MAX_PROBLEMS:
            break
    return problems[:MAX_PROBLEMS]


def _bucket_digests(decisions_dir: str) -> dict[str, list[str]]:
    """Digest of every data file's schema, key-value metadata and rows
    in file order, grouped by partition directory. Raw bytes are not
    comparable across JVMs: parquet-mr writes each column chunk's
    encoding list from a hash set, whose order changes run to run."""
    out: dict[str, list[str]] = {}
    for part in sorted(os.listdir(decisions_dir)):
        pdir = os.path.join(decisions_dir, part)
        if not os.path.isdir(pdir):
            continue
        digests = []
        for name in os.listdir(pdir):
            if name.endswith(".parquet"):
                pf = pq.ParquetFile(os.path.join(pdir, name))
                h = hashlib.sha256(str(pf.schema_arrow).encode())
                h.update(repr(sorted(pf.metadata.metadata.items())).encode())
                h.update(repr(pf.read().to_pylist()).encode())
                digests.append(h.hexdigest())
        out[part] = sorted(digests)
    return out


def check_resume(out_dir: str, reference_dir: str) -> list[str]:
    """A resumed output equals an uninterrupted one: every bucket's
    decision files (schema, metadata, rows in order), and every
    manifest field apart from run_id and wall_ms."""
    problems = []
    got = _bucket_digests(os.path.join(out_dir, "decisions"))
    want = _bucket_digests(os.path.join(reference_dir, "decisions"))
    if set(got) != set(want):
        problems.append(
            f"bucket dirs differ: {sorted(set(got) ^ set(want))[:10]}"
        )
    for part in sorted(set(got) & set(want)):
        if got[part] != want[part]:
            problems.append(f"{part}: decisions differ")
    got_m, want_m = read_manifests(out_dir), read_manifests(reference_dir)
    if set(got_m) != set(want_m):
        problems.append("manifest bucket sets differ")
    for k in sorted(set(got_m) & set(want_m)):
        a = {x: v for x, v in got_m[k].items() if x not in VOLATILE_MANIFEST_KEYS}
        b = {x: v for x, v in want_m[k].items() if x not in VOLATILE_MANIFEST_KEYS}
        if a != b:
            problems.append(f"bucket {k}: manifest counters differ")
    return problems[:MAX_PROBLEMS]


def near_dup_oracle(labels: list[dict], n_perm: int,
                    threshold: float) -> tuple[int, set[str]]:
    """Verified near-dup pairs and the urls they demote, computed by the
    DuckDB twin of the MinHash-LSH stage (queries_dedup) over the
    labeler's decisions after exact dedup. Returns (pairs, losers)."""
    from unittest import mock

    import duckdb
    import pyarrow as pa

    from dataprof_spark import queries_dedup
    from dataprof_spark.operators import dedup

    kept = [r for r in dedup_stage.label_exact_duplicates(labels)
            if r["keep"]]
    docs = pa.table({"doc_id": [r["url"] for r in kept],
                     "text": [r["scrubbed_text"] for r in kept]})
    n_bands = dedup.bands_for_threshold(n_perm, threshold)
    with mock.patch.multiple(queries_dedup, N_PERM=n_perm, N_BANDS=n_bands):
        sql = queries_dedup._ddb_near_dup_sql(threshold)
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        pairs = con.execute(sql).fetchall()
    finally:
        con.close()
    return len(pairs), {b for _a, b, _j in pairs}


def check_dedup(dedup_dir: str, labels: list[dict], exact_copies: list[str],
                near_losers: set[str]) -> tuple[list[str], dict[str, str]]:
    """Every injected exact copy is dropped; the exact demotions equal
    ``dedup_stage.label_exact_duplicates`` over the reference labels and
    the near demotions equal the DuckDB twin's. Returns (problems,
    url -> demotion reason)."""
    problems = []
    rows = read_rows(dedup_dir, ["url", "keep", "drop_reason"])
    if len(rows) != len(labels):
        problems.append(f"{len(rows)} deduped rows, expected {len(labels)}")
    kept = {r["url"] for r in rows if r["keep"]}
    still_kept = [u for u in exact_copies if u in kept]
    if still_kept:
        problems.append(
            f"{len(still_kept)} injected exact copies kept, "
            f"e.g. {still_kept[0]}"
        )
    demoted = {
        r["url"]: r["drop_reason"]
        for r in rows
        if r["drop_reason"] in ("exact_duplicate", "near_duplicate")
    }
    want_exact = {
        r["url"]
        for r in dedup_stage.label_exact_duplicates(labels)
        if r["drop_reason"] == "exact_duplicate"
    }
    for why, want in (("exact_duplicate", want_exact),
                      ("near_duplicate", near_losers)):
        got = {u for u, w in demoted.items() if w == why}
        if got != want:
            problems.append(
                f"{why} demotions differ from the reference: "
                f"{len(got - want)} extra, {len(want - got)} missing"
            )
    return problems, demoted


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total

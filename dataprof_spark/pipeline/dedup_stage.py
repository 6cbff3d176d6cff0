"""Corpus-level dedup pass — phase 2 of the pipeline.

Per-document decisions (phase 1, pipeline/checkpoint.py) are pure
functions and resume per partition. Cross-document deduplication
inherently needs a corpus-wide view, so it runs as a SEPARATE pass
over the phase-1 output: deterministic (canonical = smallest url per
fingerprint group, a total order — never first-seen), so re-running
phase 2 after a resume yields byte-identical results.

At 100 TB: one hash-partitioned shuffle on a 32-char fingerprint —
the md5 key is uniform, so no skew; the window degenerates to a
per-group min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mark_exact_duplicates(
    decisions: DataFrame,
    text_col: str = "scrubbed_text",
    url_col: str = "url",
) -> DataFrame:
    """Demote non-canonical members of identical-text groups:
    keep=false, drop_reason='exact_duplicate'. Only previously-kept
    documents participate (a dropped doc can't shadow a kept one).

    Shape (same as mark_near_duplicates, deliberately): fingerprint
    ONLY the kept rows, groupBy the uniform md5 key to find the
    canonical (min url) of each multi-member group, derive the loser
    url set, and left-join it back onto the full decisions table.
    Dropped documents never enter the aggregation, so no task ever
    owns "every dropped doc" — the earlier window-over-nullable-key
    formulation put all non-kept rows (30-60% of a web corpus) in a
    single NULL partition, a one-task straggler at 10^12 docs.
    Cost: one shuffle on md5 (kept rows only, skew-free), one
    aggregate, one join back on url (loser side shrunk to
    duplicate-group members before the join; AQE sizes it)."""
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )
    kept = decisions.filter(F.col("keep")).select(
        F.col(url_col), fp.alias("__fp")
    )
    groups = (
        kept.groupBy("__fp")
        .agg(
            F.min(url_col).alias("__canonical_url"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") > 1)
    )
    losers = (
        kept.join(groups, "__fp")
        .filter(F.col(url_col) != F.col("__canonical_url"))
        .select(F.col(url_col))
    )
    return _demote(decisions, losers, url_col, "exact_duplicate")


def mark_near_duplicates(
    decisions: DataFrame,
    threshold: float = 0.7,
    n_perm: int = 16,
    n_bands: int | None = None,
    text_col: str = "scrubbed_text",
    url_col: str = "url",
) -> DataFrame:
    """Phase 2b: demote near-duplicates among KEPT documents via
    MinHash-LSH candidates + exact shingle-Jaccard verify
    (operators/dedup.near_dup_minhash; banding derived from the
    verify threshold when n_bands is None).

    Demotion rule, chosen for determinism WITHOUT a connected-
    components pass (iterative CC is the one thing this pipeline
    refuses to pay at 10^12 docs): in every verified pair the
    lexicographically larger url is demoted. Relative to true
    clustering this can only over-demote (both directions of a chain
    collapse toward the smallest url) — conservative in the right
    direction for training data, and re-running after a resume gives
    byte-identical output. Plan: bucket-join candidates (never
    all-pairs), one distinct on the loser urls, one shuffle join back
    on url."""
    from dataprof_spark.operators import dedup

    kept = decisions.filter(F.col("keep")).select(
        F.col(url_col), F.col(text_col)
    )
    pairs = dedup.near_dup_minhash(
        kept, id_col=url_col, text_col=text_col,
        threshold=threshold, n_perm=n_perm, n_bands=n_bands,
    )
    losers = pairs.select(F.col("id_b").alias(url_col)).distinct()
    return _demote(decisions, losers, url_col, "near_duplicate")


def _demote(
    decisions: DataFrame, losers: DataFrame, url_col: str, reason: str
) -> DataFrame:
    """Left-join the loser urls back onto the full decisions
    table and demote them: keep=false, drop_reason=reason."""
    marked = losers.withColumn("__dup", F.lit(True))
    return (
        decisions.join(marked, url_col, "left")
        .withColumns(
            {
                # losers are by construction previously-kept docs
                "keep": F.col("keep") & F.col("__dup").isNull(),
                "drop_reason": F.when(
                    F.col("__dup").isNotNull(), F.lit(reason)
                ).otherwise(F.col("drop_reason")),
            }
        )
        .drop("__dup")
    )


def label_exact_duplicates(rows: list[dict]) -> list[dict]:
    """Single-node twin for the labeler (same canonical rule)."""
    import hashlib
    import re

    def fp(text: str) -> str:
        # dialect parity with the Spark side (regexp_replace + trim):
        # Java \s is ASCII-only — Python's Unicode \s would collapse
        # NBSP etc. and fingerprint DIFFERENTLY on such docs — and
        # F.trim strips only 0x20, so strip(" "), not strip()
        norm = re.sub(
            r"\s+", " ", text.lower(), flags=re.ASCII
        ).strip(" ")
        return hashlib.md5(norm.encode("utf-8")).hexdigest()

    canonical: dict[str, str] = {}
    for r in rows:
        if not r["keep"]:
            continue
        h = fp(r["scrubbed_text"])
        if h not in canonical or r["url"] < canonical[h]:
            canonical[h] = r["url"]
    out = []
    for r in rows:
        r = dict(r)
        if r["keep"]:
            h = fp(r["scrubbed_text"])
            if canonical[h] != r["url"]:
                r["keep"] = False
                r["drop_reason"] = "exact_duplicate"
        out.append(r)
    return out

"""Native Spark expressions must equal the pure-Python signal core on
the same rows — the engine-parity oracle (SURVEY.md §5.2 recast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprof_spark.core import textsignals as ts
from dataprof_spark.functions import exprs
from dataprof_spark.pipeline import fixtures

ROWS = fixtures.generate_pages(n=200)


@pytest.fixture(scope="module")
def sdf(spark):
    return fixtures.pages_df(spark, ROWS).cache()


def _collect(sdf, col):
    return {
        r["url"]: r["v"]
        for r in sdf.select("url", col.alias("v")).collect()
    }


@pytest.mark.parametrize(
    "expr_fn,py_fn",
    [
        (exprs.word_count, ts.word_count),
        (exprs.letter_count, ts.letter_count),
        (exprs.symbol_count, ts.symbol_count),
        (exprs.ellipsis_count, ts.ellipsis_count),
        (exprs.stopword_count, ts.stopword_count),
        (exprs.mojibake_count, ts.mojibake_count),
    ],
    ids=["words", "letters", "symbols", "ellipsis", "stopwords", "mojibake"],
)
def test_count_parity(sdf, expr_fn, py_fn):
    got = _collect(sdf, expr_fn(F.col("text")))
    for r in ROWS:
        assert got[r["url"]] == py_fn(r["text"]), r["_class"]


@pytest.mark.parametrize(
    "expr_fn,py_fn",
    [
        (exprs.mean_word_length, ts.mean_word_length),
        (exprs.symbol_ratio, ts.symbol_ratio),
        (exprs.dup_line_fraction, ts.dup_line_fraction),
    ],
    ids=["mwl", "symratio", "dupline"],
)
def test_ratio_parity(sdf, expr_fn, py_fn):
    got = _collect(sdf, expr_fn(F.col("text")))
    for r in ROWS:
        assert got[r["url"]] == pytest.approx(
            py_fn(r["text"]), abs=1e-12
        ), r["_class"]


def test_symbol_count_nonascii_whitespace_parity(spark):
    """ADVICE r1: NBSP/NEL and other non-ASCII whitespace (common in
    real web text) must count as SYMBOLS in all three engines — the
    Python twin compiles with re.ASCII so \\s means the same ASCII set
    as Spark's translate-delete and Java/RE2 regex."""
    texts = [
        "plain ascii text",
        "nbsp here and there",       # U+00A0 no-break space
        "nelline",                        # U+0085 next line
        "ideographic　space",               # U+3000
        "thin space mixed with tab\t",
        "vtab\x0b and formfeed\x0c stay whitespace",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {
        r["text"]: r["v"]
        for r in sdf.select(
            "text", exprs.symbol_count(F.col("text")).alias("v")
        ).collect()
    }
    for t in texts:
        assert got[t] == ts.symbol_count(t), repr(t)
    # NBSP is a symbol, not whitespace, in both engines
    assert ts.symbol_count("a b") == 1


def _crlf(text: str) -> str:
    """The same document with CRLF line breaks: existing lines keep
    their content, single-line text is wrapped every 8 words."""
    if "\n" in text:
        return text.replace("\n", "\r\n")
    ws = text.split(" ")
    return "\r\n".join(" ".join(ws[i:i + 8]) for i in range(0, len(ws), 8))


# Input classes no fixture carries: NULL, empty,
# whitespace-only and CRLF text (a CRLF variant of every fixture row,
# so each gate class is also seen with \r\n breaks).
EDGE_ROWS = [
    ("edge://null-en", None, "en"),
    ("edge://null-de", None, "de"),
    ("edge://empty", "", "en"),
    ("edge://spaces", "   ", "en"),
    ("edge://ws-mixed", " \t\n \r\n\f", "de"),
] + [
    (f"crlf:{r['url']}", _crlf(r["text"]), r["lang"]) for r in ROWS
]


def test_heuristic_reason_parity(spark):
    """Both native entry points of the ONE gate cascade — the
    per-branch heuristic_reason (doc_gates) and the fused gate+score
    struct (gates.decide) — equal the labeler's cascade on the fixture
    rows and the edge rows."""
    from dataprof_spark import config
    from dataprof_spark.core import gates as pygates
    from dataprof_spark.operators import gates as sgates

    rows = [(r["url"], r["text"], r["lang"]) for r in ROWS] + EDGE_ROWS
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    fused = exprs.heuristic_reason_and_pnum(
        F.col("text"),
        english=F.col("lang") == "en",
        weights=config.QUALITY_WEIGHTS,
    )
    got = {
        r["url"]: (r["lazy"], r["fused"])
        for r in df.select(
            "url",
            sgates.heuristic_reason_col("text", "lang").alias("lazy"),
            fused["reason"].alias("fused"),
        ).collect()
    }
    assert len(got) == len(rows)
    expected = {}
    for url, text, lang in rows:
        expect = pygates.heuristic_reason(text, english=(lang == "en"))
        expected[url] = expect
        assert got[url] == (expect, expect), (url, (text or "")[:80])
    # non-vacuous: NULL/blank text drops as too_short, and the CRLF
    # rows pass and trip every gate
    assert {expected[u] for u, _, _ in EDGE_ROWS[:5]} == {"too_short"}
    crlf = {expected[u] for u, _, _ in EDGE_ROWS[5:]}
    assert crlf == {None, *config.DROP_REASONS[:7]}, crlf

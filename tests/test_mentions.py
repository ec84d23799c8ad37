"""The Column-expression mention extractor against the reference's
per-anchor Python loop (reference_oracle._extract_one), row by row,
plus the one pinned divergence and the no-Python plan shape."""

from __future__ import annotations

import datetime as dt
import random
import unicodedata

from tempel_spark.functions.mentions import extract_mentions
from tests.reference_oracle import _extract_one

SCHEMA = "conv_id string, turn_idx int, snapshot_ts timestamp, text string"

# Code points whose upper case differs between the JVM and Python
# (test_upper_case_divergence_pinned); the fuzz never draws them.
_UPPER_DIVERGENT = {"\u019b", "\u0264"}

# anchor syntax, rule triggers and characters where Java and Python
# regex / whitespace / case semantics differ
_TOKENS = [
    "[[", "[[", "[[", "]]", "]]", "]]", "]]]", "[[[", "|", "|", "||", "a|b|c",
    "(dab)", " (x) ", "(a)(b)", "ns:", "File:", "file:", "en:", "Category:", "a:b", ":",
    " ", "  ", "\t", "\n", "\r", "\r\n", "\x0b", "\x1c", "\x1f", "\x85", "\xa0",
    "\u1680", "\u2000", "\u200b", "\u2028", "\u2029", "\u3000",
    "\xdf", "\u0149", "\u01c5", "\u212a", "\ufb01", "\u0130", "\u0131", "\u017f", "\xe9", "\u0390",
    "\U0001d400", "\U0001f600", "\U00010428",
    "abc", "Word", "x y", "_", "-", "pre",
]


def _assigned() -> list[str]:
    return [
        c for c in map(chr, range(0x110000))
        if unicodedata.category(c) not in ("Cn", "Cs") and c not in _UPPER_DIVERGENT
    ]


def _turns(seed: int, n: int) -> list[str]:
    """Random text; about half the pieces are anchor-shaped
    ("[[" + pieces + "]]") so most turns yield a mention."""
    rng = random.Random(seed)
    assigned = _assigned()

    def piece() -> str:
        if rng.random() < 0.3:
            return "".join(rng.choice(assigned) for _ in range(rng.randrange(1, 4)))
        return rng.choice(_TOKENS)

    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randrange(1, 8)):
            if rng.random() < 0.5:
                parts.append("[[" + "".join(piece() for _ in range(rng.randrange(0, 5))) + "]]")
            else:
                parts.append(piece())
        out.append("".join(parts))
    return out


def _rows(spark, texts: list[str]):
    ts = dt.datetime(2013, 1, 1)
    return spark.createDataFrame([(f"c{i}", i, ts, t) for i, t in enumerate(texts)], SCHEMA)


def _compare(spark, texts: list[str]) -> int:
    got = sorted(
        (r.turn_idx, r.span_start, r.span_end, r.mention_text, r.target_id)
        for r in extract_mentions(_rows(spark, texts)).collect()
    )
    want = sorted((i, s, e, m, t) for i, text in enumerate(texts) for t, m, s, e in _extract_one(text))
    assert got == want
    return len(want)


def test_extract_mentions_matches_reference_cases(spark):
    texts = [
        "see [[Python (language)|]] and [[file:x.png]] plus [[plain link]]",
        "[[a [[b]] c]] [[unclosed [[x|y]]] [[]] [[|]] [[ | ]] [[t|]]",
        "[[a|b|c]] [[A (dab)|]] [[ns:Title (x)|]] [[en:Paris]] [[Help: me]] [[wp:x|]]",
        "[[x\ny]] [[x\ry]] [[x\x85y]] [[x\u2028y]] [[\x1c pad \x1c]] [[\xa0nb\xa0|\u3000m\u3000]]",
        "[[\xdftra\xdfe]] [[\u0149]] [[\u01c5emal]] [[\u212aelvin]] [[\u212a\u212a:x]] [[\u017f\u017f:y]] [[\u0131:z]]",
        "\U0001f600 [[\U0001d400bc|\U0001f600]] [[\U00010428x]] [[x (\U0001f600)|]]",
        None,
        "no anchors here",
    ]
    assert _compare(spark, texts) >= 20


def test_extract_mentions_matches_reference_fuzz(spark):
    assert _compare(spark, _turns(seed=4, n=20_000)) > 10_000


def test_upper_case_divergence_pinned(spark):
    """Spark upper-cases with ICU, whose case tables are newer than the
    Unicode 14.0 tables of Python 3.11 that the reference runs on:
    Garay (Unicode 16; U+10D70 → U+10D50) and two Unicode 16 upper
    cases of older letters (U+019B → U+A7DC, U+0264 → U+A7CB). Only
    the target's first letter is upper-cased, so only it can differ."""
    cases = {"\U00010d70x": "\U00010d50x", "\u019bx": "\ua7dcx", "\u0264x": "\ua7cbx"}
    texts = [f"[[{k}]]" for k in cases]
    got = {r.mention_text: r.target_id for r in extract_mentions(_rows(spark, texts)).collect()}
    assert got == cases
    assert {t[0][0] for t in map(_extract_one, texts)} == set(cases)


def test_mention_stage_runs_no_python(spark):
    from tempel_spark.plans.pipeline import extract_mention_table

    ts = dt.datetime(2013, 6, 1)
    trans = spark.createDataFrame(
        [("c1", 0, "user", "hi [[Ember Granite|ember]]", ts)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    df = extract_mention_table(trans, ["2014-01-01 00:00:00"])
    assert df.count() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan

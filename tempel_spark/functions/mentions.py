"""Mention extraction from turn text (SURVEY.md §2.8 F1).

The reference scans page wikitext for `[[target|mention]]` anchors
with pipe-trick / namespace / capitalization rules
(s01_wikipedia_clean_and_tokenize.py:117-274, get_mention 136-206,
parse_mentions_from_source 209-253; regexes misc/compiled_regexes.py:3-9).

``extract_mentions`` carries the full rule set (pipe trick, namespace
skip, first-letter capitalization, underscore canonicalization) plus
span offsets as Column expressions only, so the stage runs in the JVM
with no Python worker. It returns the reference's rows exactly
(tests/test_mentions.py fuzzes it against the reference loop); the
patterns make Java's regex engine behave as Python's `re` does:

* ``(?d)`` (UNIX_LINES): Python's ``.`` stops only at ``\\n``; Java's
  also stops at ``\\r``, U+0085, U+2028 and U+2029.
* ``_PY_SPACE``: Python's ``str.strip()`` and ``\\s`` use
  ``str.isspace()``; Spark's ``trim`` and Java's ``\\s`` use other sets.
* ``(?iu)``: Python's ``(?i)`` is Unicode-aware (``\\u212a`` matches k).

The one known divergence is the upper case of a target's first letter:
Spark's case tables (ICU, Unicode 16) are newer than those of the
Python the reference runs on (3.11: Unicode 14.0), so U+019B, U+0264
and the Garay letters U+10D70.. are upper-cased here and left alone
there (pinned by test_upper_case_divergence_pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["extract_mentions", "MENTION_SCHEMA"]

ANCHOR_RE = r"(?d)\[\[(.*?)\]\]"

# every character with str.isspace()
_PY_SPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_SPACE_CLASS = "[" + "".join(f"\\x{{{ord(c):X}}}" for c in _PY_SPACE) + "]"
# pipe trick: [[Title (dab)|]] → "Title" (s01:136-206)
_DAB_SUFFIX = rf"(?d){_SPACE_CLASS}*\(.*?\){_SPACE_CLASS}*$"
# namespaces the reference skips (s01:136-206 ignore rules)
_SKIP_PREFIX = r"(?iu)^(file|image|category|wikipedia|help|template|special|media|portal|book|draft|user|talk|[a-z\-]{2,3}):"

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, snapshot_ts timestamp, "
    "mention_text string, target_id string, span_start int, span_end int"
)


def extract_mentions(df: DataFrame) -> DataFrame:
    """Every `[[target|mention]]` (or `[[target]]`) anchor of ``text``
    → one ``MENTION_SCHEMA`` row, span offsets 1-based inclusive in
    code points. Anchors with an empty or namespaced target are
    skipped.

    Input needs columns conv_id, turn_idx, snapshot_ts, text.
    """
    keys = ["conv_id", "turn_idx", "snapshot_ts"]
    # a turn without "[[" can't yield a mention
    turns = df.select(*keys, "text").filter(F.col("text").contains("[["))
    arrays = turns.select(
        *keys,
        F.regexp_extract_all("text", F.lit(ANCHOR_RE), 1).alias("inner"),
        F.split("text", ANCHOR_RE, -1).alias("pieces"),
    )
    # anchor k ends after the text before it, itself and every earlier
    # anchor: split keeps one piece before each match, so "[[" + inner
    # + "]]" plus that piece is the k-th step of a running sum
    steps = arrays.select(
        *keys,
        "inner",
        F.zip_with(
            "inner", F.slice("pieces", 1, F.size("inner")),
            lambda x, p: F.length(p) + F.length(x) + 4,
        ).alias("steps"),
    )
    ends = F.transform("steps", lambda _, i: F.aggregate(F.slice("steps", 1, i + 1), F.lit(0), lambda a, b: a + b))
    anchors = steps.select(*keys, F.inline(F.arrays_zip(F.col("inner"), ends.alias("end"))))

    parts = F.split("inner", r"\|", 2)
    target = F.get(parts, 0)
    pipe_trick = F.element_at(F.split(F.regexp_replace(target, _DAB_SUFFIX, ""), ":", -1), -1)
    mention = F.when(F.size(parts) == 1, target).when(F.get(parts, 1) == "", pipe_trick).otherwise(F.get(parts, 1))
    spaces = F.lit(_PY_SPACE)
    ruled = anchors.select(
        *keys,
        F.btrim(target, spaces).alias("target"),
        F.btrim(mention, spaces).alias("mention_text"),
        (F.col("end") - F.length("inner") - 3).alias("span_start"),
        F.col("end").alias("span_end"),
    ).filter((F.col("target") != "") & (F.col("mention_text") != "") & ~F.col("target").rlike(_SKIP_PREFIX))
    # page-title canonicalization: first letter upper, space → underscore (s01:197-206)
    t = F.col("target")
    target_id = F.translate(F.concat(F.upper(F.substring(t, 1, 1)), t.substr(F.lit(2), F.length(t))), " ", "_")
    out = ruled.withColumn("target_id", target_id)
    # the declared types, whatever the input's key types were
    return out.select(
        *(F.col(name).cast(typ).alias(name) for name, typ in (c.split(" ") for c in MENTION_SCHEMA.split(", ")))
    )

"""Gopher-style document repetition / quality signals (Rae et al.
2021 §A1.1 — the filter battery behind MassiveText, and the standard
pre-training curation gate alongside exact/near dedup).

Word-salad and template spam slip past unigram quality scores
(plans/testdata_queries_text.q_quality_score covers those ratios);
the Gopher signals catch REPETITION: a document dominated by one
repeated phrase has a high top-n-gram character fraction, and
boilerplate stitched from recycled sentences has a high duplicate-
n-gram character fraction.

Pinned definitions (both engines compute exactly these):
* words = single-space split of the text, empty tokens dropped;
* an n-gram's characters = its joined length (spaces included),
  counted once per OCCURRENCE;
* top_ngram_frac  = occurrences(top n-gram) · len(top n-gram)
                    / len(text)   — top = max count, ties to the
  lexicographically smallest gram (deterministic);
* dup_ngram_frac  = Σ over distinct n-grams seen ≥2× of
  count · len(gram) / len(text);
* mean_word_len, alpha_word_frac (≥1 ASCII letter) round out the
  battery.

Scale posture: one explode per n-gram size feeding a hash aggregate
on (doc, gram); the top-gram pick is a per-document window over that
doc's grams (bounded by document length, never corpus-wide); all
fractions are per-document arithmetic. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["repetition_signals"]

ROUND_DP = 6  # every fraction and mean is rounded to this


def _grams(n: int):
    """n-gram strings over the internal `_w` words column (the name is
    part of this module's private contract — `repetition_signals`
    always stages words under `_w` before calling this)."""
    if n == 1:
        return F.col("_w")
    return F.when(
        F.size("_w") >= n,
        F.expr(
            f"transform(sequence(1, size(_w) - {n - 1}), "
            f"i -> array_join(slice(_w, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(df: DataFrame) -> DataFrame:
    """Per-document repetition battery over (doc_id, text): n_words,
    mean_word_len, alpha_word_frac, top_2gram_frac, dup_5gram_frac.
    Documents shorter than the gram size report 0 for that fraction."""
    base = df.select(
        "doc_id",
        F.length(F.col("text")).alias("_chars"),
        F.filter(F.split(F.col("text"), " "), lambda w: w != "").alias("_w"),
    )
    words = base.select(
        "doc_id",
        F.size("_w").alias("n_words"),
        F.round(
            F.aggregate("_w", F.lit(0), lambda a, w: a + F.length(w)).cast("double")
            / F.greatest(F.size("_w"), F.lit(1)),
            ROUND_DP,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter("_w", lambda w: w.rlike("[A-Za-z]")))
            / F.greatest(F.size("_w"), F.lit(1)),
            ROUND_DP,
        ).alias("alpha_word_frac"),
    )

    def gram_stats(n: int, top: bool) -> DataFrame:
        g = base.select(
            "doc_id", "_chars", F.explode(_grams(n)).alias("_g")
        )
        counts = g.groupBy("doc_id", "_chars", "_g").agg(
            F.count(F.lit(1)).alias("_c")
        )
        if top:
            w = Window.partitionBy("doc_id").orderBy(F.desc("_c"), F.asc("_g"))
            picked = counts.withColumn("_rn", F.row_number().over(w)).filter(
                F.col("_rn") == 1
            )
            frac = F.col("_c") * F.length("_g") / F.col("_chars")
            return picked.select(
                "doc_id", F.round(frac, ROUND_DP).alias(f"top_{n}gram_frac")
            )
        dup = counts.filter(F.col("_c") >= 2)
        return dup.groupBy("doc_id").agg(
            F.round(
                F.sum(F.col("_c") * F.length("_g")) / F.first("_chars"), ROUND_DP
            ).alias(f"dup_{n}gram_frac")
        )

    out = (
        words.join(gram_stats(2, top=True), "doc_id", "left")
        .join(gram_stats(5, top=False), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "alpha_word_frac",
            F.coalesce(F.col("top_2gram_frac"), F.lit(0.0)).alias("top_2gram_frac"),
            F.coalesce(F.col("dup_5gram_frac"), F.lit(0.0)).alias("dup_5gram_frac"),
        )
    )
    return out

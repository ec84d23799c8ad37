"""Deduplication operator family (build-contract first-class ops).

All variants follow the same shape — derive a deterministic key or
candidate pair set, decide, keep min-id representative — so any of
them can slot into the ER pipeline's blocking stage.

* exact_dedup           — hash-groupBy on normalized content
* ngram_jaccard_dedup   — char-n-gram Jaccard ≥ τ within LSH blocks
* simhash64 / simhash_dedup — 64-bit SimHash + Hamming ≤ r within
                          rotated-band blocks
* repeated_passages     — exact duplicated token-n-gram SPANS across
                          the corpus (substring-level dedup à la
                          "Deduplicating Training Data Makes LMs
                          Better", Lee et al. 2022 — the operator a
                          training-data pipeline runs to excise
                          boilerplate, not just drop whole docs)
* excise_spans          — the excision half: cut (id, start, end)
                          token ranges out of the text, native HOFs
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tempel_spark.functions.similarity import set_jaccard
from tempel_spark.functions.text import normalize_mention
from tempel_spark.operators.blocking import candidate_pairs, char_shingles, lsh_band_blocks

__all__ = [
    "exact_dedup",
    "ngram_jaccard_dedup",
    "simhash64",
    "simhash64_agg",
    "simhash_dedup",
    "repeated_passages",
    "excise_spans",
    "passage_dedup",
    "winnow_fingerprints",
    "winnow_similar_pairs",
]

# the substring-dedup family (repeated_passages, passage_dedup): token
# n-gram length, and the corpus-wide count that makes a gram duplicated
GRAM_N = 8
GRAM_MIN_COUNT = 2


def exact_dedup(df: DataFrame, id_col: str, text_col: str, max_ids: int = 0) -> DataFrame:
    """(content_hash, keep_id, n_copies[, sample_ids]) — one map-side-
    combinable groupBy; the representative is min(id) (deterministic).

    The member-id list is OFF by default (max_ids=0): a mega-
    duplicated document (boilerplate at 10^9 copies in a web corpus)
    would otherwise materialize a 10^9-element array on one reducer.
    min/count stay partially aggregable, so the default plan never
    builds a per-key buffer at all. With max_ids>0 a window
    row_number caps membership BEFORE collect_list (the window and
    the groupBy share the content_hash partitioning — one shuffle),
    so the output row and the aggregation buffer are both bounded;
    callers needing every id should join df back on content_hash."""
    hashed = df.select(
        F.col(id_col), F.md5(normalize_mention(text_col)).alias("content_hash")
    )
    if max_ids <= 0:
        return hashed.groupBy("content_hash").agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= max_ids, F.col(id_col)))
            ).alias("sample_ids"),
        )
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs: LSH-blocked candidates (6 MinHashes in 3 bands,
    at most 1,000 rows per band key) verified by exact char-3-gram
    Jaccard ≥ threshold. Output (id_a, id_b, jaccard).

    The distinct shingle set is computed ONCE PER DOC before blocking
    and carried through the pair join as the payload — shingling the
    raw text per candidate PAIR re-ran the normalize+substring chain
    ~pair_fanout× per doc (r6; same fix as the flagship ER scorer)."""
    shingled = df.select(
        id_col, text_col,
        F.array_distinct(char_shingles(text_col)).alias("_sh"),
    )
    blocked = lsh_band_blocks(shingled, text_col)
    blocked = blocked.withColumn("_bk", F.concat_ws(":", F.col("band_id"), F.col("block_key")))
    pairs = candidate_pairs(blocked, ["_bk"], id_col, ["_sh"], cap=1000, group_cols=[])
    return (
        pairs.withColumn("jaccard", set_jaccard(F.col("_sh_a"), F.col("_sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(text_col: Column | str) -> Column:
    """64-bit SimHash of the char-3-gram multiset, fully native:

    bit_j = sign( Σ_g  (md5-bit_j(g) ? +1 : -1) )

    Each shingle contributes ±1 per bit from its md5; the per-bit sums
    are majority votes. Built as 64 aggregate() folds over the shingle
    array — heavy-ish expression but stays in codegen, no Python."""
    def _voter(j: int):
        # closure factory, NOT `lambda acc, w, j=j`: a default arg adds
        # a third lambda parameter, which pyspark rejects/misbinds for
        # higher-order functions (see blocking.minhash_signature note)
        return lambda acc, w: acc + F.when(
            F.shiftright(w, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sh = F.array_distinct(char_shingles(text_col))
    word = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"))
    bits = []
    for j in range(60):  # 60 usable bits from 15 hex chars
        vote = F.aggregate(word, F.lit(0), _voter(j))
        bits.append(F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint") * F.lit(2**j).cast("bigint"))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash64_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
) -> DataFrame:
    """SimHash as explode → native hash aggregation — the SCALE form
    of `simhash64`, bit-identical to it (parity-tested).

    The expression form folds 60 interpreted higher-order lambdas
    over the shingle array, which is fine for short keys but costs
    ~60·|shingles| interpreted ops per row — measured 46 s vs 5.8 s
    on 2,000 ~300-char docs (8×). This form explodes distinct
    shingles to rows, hashes each ONCE with native md5 (whole-stage
    codegen), and majority-votes per bit with 60 `sum((w>>j)&1)`
    aggregates in a single partial-aggregating groupBy — map-side
    combine shrinks the shuffle to one 61-column row per document,
    so it holds at any document length. Use this for corpus
    fingerprinting; keep `simhash64` for short normalized keys
    inside larger projections."""
    # explode_outer: char_shingles never yields an EMPTY array for
    # non-null text (it floors the length at 1, so "" hashes through
    # its "" shingle exactly like the expression form) — the only
    # shingle-less rows are NULL text, which survive as one
    # null-shingle row so the id is not dropped and hash to 0 like
    # the expression form's empty fold. One pass, no re-scan, no join.
    ex = (
        df.select(
            id_col,
            F.explode_outer(F.array_distinct(char_shingles(text_col))).alias("_s"),
        )
        .select(id_col, F.conv(F.substring(F.md5("_s"), 1, 15), 16, 10).cast("bigint").alias("_w"))
    )
    agg = ex.groupBy(id_col).agg(
        F.count("_w").alias("_n"),  # counts non-null shingle hashes only
        *[
            F.sum(F.shiftright(F.col("_w"), j).bitwiseAND(F.lit(1))).alias(f"_b{j}")
            for j in range(60)
        ],
    )
    h = None
    for j in range(60):
        term = (
            F.when(2 * F.col(f"_b{j}") > F.col("_n"), F.lit(2**j).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
        h = term if h is None else h + term
    # NULL text: _n = 0 and every vote is NULL → every when() falls to
    # otherwise(0) → hash 0, matching the expression form's fold over
    # its empty accumulator (verified by the parity test's NULL row)
    return agg.select(id_col, h.alias(out_col))


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: Hamming(simhash_a, simhash_b) ≤ max_hamming.
    Blocking = the pigeonhole bands trick: a pair within Hamming r
    must agree exactly on at least one of r+1 disjoint bands — so
    there are max_hamming+1 bands (fewer bands silently loses recall),
    and candidates come from band-key equi-joins, never a cross join.

    A cap of 2,000 rows bounds any single hot band to ≤ 2×10^6 pairs.
    A pathological band (all-zero simhashes from near-empty documents)
    otherwise produces O(n²) at web scale; members past the cap are
    hash-ranked out deterministically — lower recall on that one
    degenerate band, never a blowup."""
    n_bands = max_hamming + 1
    bits_per_band = 60 // n_bands
    # agg form: 8× cheaper than the expression fold on document-length
    # text and bit-identical (see simhash64_agg)
    with_hash = simhash64_agg(df, id_col, text_col, out_col="_sh")
    # one explode over the band-key array instead of an n_bands-way
    # union — the union re-derived the whole explode+61-agg simhash
    # chain once per band (r6; the band keys are cheap bit ops on the
    # already-computed hash)
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                F.shiftright("_sh", b * bits_per_band)
                .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                .cast("string"),
            )
            for b in range(n_bands)
        ]
    )
    blocked = with_hash.select(id_col, "_sh", F.explode(band_keys).alias("_band"))
    pairs = candidate_pairs(blocked, ["_band"], id_col, ["_sh"], cap=2_000, group_cols=[])
    ham = F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _dup_gram_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_gh, id_col, pos) for every token GRAM_N-gram (split on " ")
    whose xxhash64 occurs ≥ GRAM_MIN_COUNT times corpus-wide; pos is
    the gram's 1-based first-token position. The duplicated-gram scan
    of `repeated_passages` and `passage_dedup`."""
    tk = F.split(F.col(text_col), " ")
    npos = F.size(tk) - (GRAM_N - 1)
    # guard: sequence(1, 0) is DESCENDING [1, 0], not empty — docs
    # shorter than GRAM_N tokens must yield NULL (dropped by posexplode)
    grams = F.when(
        npos >= 1,
        F.transform(
            F.sequence(F.lit(1), npos),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tk, i, GRAM_N))),
        ),
    )
    g = df.select(F.col(id_col), F.posexplode(grams).alias("_p0", "_gh")).select(
        id_col, (F.col("_p0") + 1).alias("pos"), "_gh"
    )
    dup = g.groupBy("_gh").agg(F.count(F.lit(1)).alias("_cnt")).filter(
        F.col("_cnt") >= GRAM_MIN_COUNT
    )
    return g.join(dup.select("_gh"), "_gh")


def _excise_tokens(
    joined: DataFrame,
    text_col: str,
    removed: Callable[[Column], Column],
    drop: tuple[str, ...],
) -> DataFrame:
    """The excision tail of `passage_dedup` and `excise_spans`: split
    ``text_col`` on " ", keep each token whose 0-based index i fails
    ``removed(i)``, rejoin the survivors into ``text_clean`` and count
    ``n_tokens_removed`` (both NULL for NULL text), then drop the
    caller's helper columns ``drop``."""
    kept = F.filter(F.col("_tk"), lambda t, i: ~removed(i))
    return (
        joined.withColumn("_tk", F.split(F.col(text_col), " "))
        .withColumn("_kept", kept)
        .withColumn(
            "text_clean",
            F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
                F.array_join(F.col("_kept"), " ")
            ),
        )
        .withColumn(
            "n_tokens_removed",
            F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
                F.size("_tk") - F.size("_kept")
            ),
        )
        .drop(*drop, "_tk", "_kept")
    )


def repeated_passages(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Maximal duplicated token-n-gram spans per document — exact
    substring-level dedup (Lee et al. 2022): a token n-gram
    (n = GRAM_N = 8) is *duplicated* when it occurs ≥ GRAM_MIN_COUNT
    (2) times corpus-wide
    (across documents or repeated within one), and consecutive
    duplicated positions coalesce into one maximal span, the unit a
    training pipeline excises or down-weights.

    Spark shape (all native expressions, no Python in the hot path):

    1. per doc, hash each of the ``size-n+1`` n-grams JVM-side
       (``transform`` over a position sequence → ``xxhash64`` of the
       joined slice) and ``posexplode`` — corpus-linear, no shuffle;
    2. one hash aggregation on the 64-bit gram hash → occurrence
       count, filtered to ≥ GRAM_MIN_COUNT (map-side partial combine does
       the heavy lifting: singleton grams — the vast majority —
       never leave their executor at full multiplicity);
    3. equi-join positions to the surviving hash set (AQE handles
       the skew a viral boilerplate gram creates) and run
       gaps-and-islands per doc (``pos − row_number()``) — one
       window partitioned by document, no cross-doc state.

    64-bit hashing is the 100 TB path (grams never ship as strings);
    at 10^12 grams birthday collisions are possible but only ever
    create false *duplicates*, never misses — acceptable for an
    excision operator, and the verify step of the Jaccard family can
    re-check spans exactly if needed.

    Output: id, span_start/span_end (1-based first-token position of
    the first/last duplicated gram), n_dup_grams, n_tokens (span
    length in tokens, = span_end − span_start + GRAM_N).
    """
    d = _dup_gram_positions(df, id_col, text_col).select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = d.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .withColumn("n_tokens", F.col("span_end") - F.col("span_start") + GRAM_N)
        .drop("_grp")
    )


def passage_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Policy-complete substring dedup (Lee et al. 2022 semantics):
    for every duplicated token-n-gram (repeated_passages' GRAM_N and
    GRAM_MIN_COUNT), KEEP the first occurrence
    corpus-wide and excise all later ones. `repeated_passages` finds
    spans and `excise_spans` cuts caller-chosen ranges; this operator
    is the composed keep-first policy as one unit.

    "First" is the lexicographic minimum of (id, position) — a pure
    value function of the corpus, so the output is deterministic
    under any partitioning, core count, or task retry. The pick is a
    `min(struct(id, pos))` hash aggregation per gram hash —
    map-side-combinable and skew-free (a viral boilerplate gram with
    10^6 occurrences folds to one row without a single-partition
    window; this is why it is NOT row_number over the gram).

    Excision is token-level with a keep-override: a token is removed
    iff some non-first occurrence covers it AND no first occurrence
    covers it — the override is what guarantees the kept copy
    survives INTACT even where later self-overlapping occurrences
    (e.g. a run of identical tokens) cover its tokens.

    Output: df columns + text_clean + n_tokens_removed (same shape as
    `excise_spans`).
    """
    occ = _dup_gram_positions(df, id_col, text_col)
    first = occ.groupBy("_gh").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("_f")
    )
    occf = occ.join(first, "_gh").withColumn(
        "_is_first",
        (F.col("_f.i") == F.col(id_col)) & (F.col("_f.p") == F.col("pos")),
    )
    keep = (
        occf.filter(F.col("_is_first"))
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_keep"))
    )
    cut = (
        occf.filter(~F.col("_is_first"))
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_cut"))
    )
    joined = df.join(cut, id_col, "left").join(keep, id_col, "left")

    def _covered(arr, i):
        # token index i (0-based) covered by an occurrence starting at
        # 1-based pos p iff p ≤ i+1 ≤ p+GRAM_N−1; collect_list order
        # is partition-dependent but exists() is order-insensitive
        return F.coalesce(
            F.exists(arr, lambda p: (i + 1 >= p) & (i + 1 <= p + (GRAM_N - 1))),
            F.lit(False),
        )

    return _excise_tokens(
        joined,
        text_col,
        lambda i: _covered(F.col("_cut"), i) & ~_covered(F.col("_keep"), i),
        ("_cut", "_keep"),
    )


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Remove token ranges from documents — the excision half of
    substring-level dedup (`repeated_passages` finds the spans; a
    policy layer picks which occurrences to keep; this operator cuts
    the rest). `spans` holds (id, start_tok, end_tok) 1-based
    inclusive token ranges; overlapping ranges are fine (a token is
    dropped when ANY range covers it).

    All native: spans collect to one bounded per-doc array (≤
    tokens/n entries by construction), join once, and a single
    `filter((t, i) → ¬∃ span covering i+1)` over the token array
    keeps survivors — the deliberate (element, index) two-parameter
    HOF overload, no Python, no shuffle beyond the one span join.
    Token reconstruction `array_join(…, ' ')` is the exact inverse
    of the `split(text, ' ')` tokenization (empty tokens from runs
    of spaces round-trip), so an untouched document returns
    byte-identical text.

    Output: df columns + text_clean + n_tokens_removed.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("start_tok").alias("s"), F.col("end_tok").alias("e"))
        ).alias("_sp")
    )
    return _excise_tokens(
        df.join(sp, id_col, "left"),
        text_col,
        lambda i: F.coalesce(
            F.exists(F.col("_sp"), lambda s: (i + 1 >= s["s"]) & (i + 1 <= s["e"])),
            F.lit(False),
        ),
        ("_sp",),
    )


def _winnow_select(h: np.ndarray, w: int) -> np.ndarray:
    """0-based positions of winnowed fingerprints in the hash sequence
    `h`: in every window of `w` consecutive k-gram hashes select the
    minimum, breaking ties by the RIGHTMOST position (Schleimer et
    al. 2003, the robust-winnowing tiebreak), then dedupe positions
    across overlapping windows. A document shorter than one window
    (0 < m <= w) is treated as a single window so every non-empty
    document yields at least one fingerprint."""
    m = h.shape[0]
    if m == 0:
        return np.empty(0, dtype=np.int64)
    if m <= w:
        return np.array([m - 1 - int(np.argmin(h[::-1]))], dtype=np.int64)
    sw = np.lib.stride_tricks.sliding_window_view(h, w)
    # argmin over the flipped window = rightmost argmin of the window
    idx = (w - 1) - np.argmin(sw[:, ::-1], axis=1)
    pos = np.arange(m - w + 1, dtype=np.int64) + idx
    return np.unique(pos)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 20,
    w: int = 10,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every character k-gram, slide a
    window of w hashes, keep each window's minimum (rightmost on
    ties). Guarantee: any substring match of length >= w + k - 1
    between two documents shares at least one selected fingerprint,
    while only ~2/(w+1) of gram hashes are kept.

    Input (doc_id, text). Output: (doc_id, fp_pos, fp) — fp_pos is
    the 1-based character position of the selected k-gram, fp its
    60-bit md5-derived hash
    (`fingerprint64` recipe, hashing.py:55 — bit-identical in any SQL
    engine, so the selected set itself is oracle-checkable).

    100 TB posture: winnowing is PER-DOCUMENT LOCAL, so the whole
    selection runs inside one Arrow batch pass (mapInPandas, numpy
    sliding-window argmin) — zero shuffle, no gram rows ever hit the
    wire; output is the ~2/(w+1)-thinned fingerprint set only. The
    window-function formulation would shuffle every gram row by doc
    for no reason. Fills the document-fingerprinting slot of the
    training-data dedup family next to passage/minhash/simhash."""
    id_field = df.schema["doc_id"]
    schema = T.StructType(
        [
            T.StructField("doc_id", id_field.dataType),
            T.StructField("fp_pos", T.IntegerType()),
            T.StructField("fp", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids: list = []
            poss: list = []
            fps: list = []
            for did, txt in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                if txt is None:
                    continue
                m = len(txt) - k + 1
                if m <= 0:
                    continue
                h = np.fromiter(
                    (
                        int(
                            hashlib.md5(txt[i : i + k].encode("utf-8")).hexdigest()[:15],
                            16,
                        )
                        for i in range(m)
                    ),
                    dtype=np.int64,
                    count=m,
                )
                sel = _winnow_select(h, w)
                ids.extend([did] * len(sel))
                poss.extend((sel + 1).tolist())
                fps.extend(h[sel].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "fp_pos": pd.array(poss, dtype="int32"),
                    "fp": pd.array(fps, dtype="int64"),
                }
            )

    return df.select("doc_id", "text").mapInPandas(gen, schema=schema)


def winnow_similar_pairs(
    df: DataFrame,
    k: int = 20,
    w: int = 10,
    max_df: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowed fingerprints (the MOSS
    report): documents (``doc_id``, ``text``) sharing >= min_shared
    selected fingerprints, with overlap = n_shared / min(|fp_a|, |fp_b|).

    Fingerprints occurring in more than max_df documents are dropped
    BEFORE the self-join — boilerplate grams carry no near-dup signal
    and are exactly the hot keys that would make the fp equi-join
    quadratic (same frequency-cap discipline as the LSH band join);
    fan-out per surviving fp is <= C(max_df, 2). Overlap denominators
    use the UNFILTERED per-doc fingerprint counts so a boilerplate-
    heavy doc is not flattered by its own filtering."""
    fps = winnow_fingerprints(df, k=k, w=w).select("doc_id", "fp").distinct()
    n_fp = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    a = kept.select(F.col("doc_id").alias("id_a"), "fp")
    b = kept.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(n_fp.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("_na")), "id_a")
        .join(n_fp.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("_na", "_nb"), 6).alias("overlap"),
        )
    )

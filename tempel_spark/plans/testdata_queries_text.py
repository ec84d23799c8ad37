"""Text / similarity / vector / dedup operator queries (SURVEY.md
§2.8 scalars, §2.3 J11-J12, plus the training-data-pipeline dedup and
ANN families the build contract names as first-class).

Registered into the same QUERIES/ORACLES registry as the relational
suite. Engine-parity notes that shaped these oracles:
- DuckDB regexp_replace needs the 'g' flag (Spark is global by default)
- DuckDB list_cosine_similarity on FLOAT lists computes in float32 —
  cast to DOUBLE[] for bit-parity with Spark's double math
- DuckDB list_intersect / Spark array_intersect both dedup — safe for
  distinct-set Jaccard
- md5 is bit-identical in both engines → portable MinHash/fingerprints
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tempel_spark.functions.hashing import fingerprint64
from tempel_spark.functions.similarity import cosine_sim, dot_product, levenshtein_ratio, token_jaccard
from tempel_spark.functions.text import normalize_mention, word_count
from tempel_spark.operators.blocking import bind_once, minhash_signature
from tempel_spark.operators.dedup import exact_dedup
from tempel_spark.operators.topk import brute_force_topk
from tempel_spark.plans.testdata_queries import register, spread, t

# SQL fragment: normalize_mention equivalent (lower, _→space, collapse, trim)
_NORM = "trim(regexp_replace(lower(translate({col}, '_', ' ')), ' +', ' ', 'g'))"


# =====================================================================
# string scalars — F4, F5, F11, F17
# =====================================================================

@register(
    "q_normalize_text",
    f"""
    SELECT doc_id, {_NORM.format(col="substr(text, 1, 50)")} AS norm_prefix
    FROM documents
    """,
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: mention normalization (s02:253-254) on document prefixes."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", normalize_mention(F.substring("text", 1, 50)).alias("norm_prefix"))


@register(
    "q_levenshtein",
    """
    SELECT doc_id,
           levenshtein(substr(text, 1, 20), source) AS edit_distance,
           round(levenshtein(substr(text, 1, 20), source)::double
                 / greatest(length(substr(text, 1, 20)), length(source), 1), 6) AS ratio_edit_distance
    FROM documents
    """,
)
def q_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: Levenshtein + ratio_edit_distance_v2 (misc/utils.py:22-26)."""
    d = t(spark, sf_dir, "documents")
    a, b = F.substring("text", 1, 20), F.col("source")
    return d.select(
        "doc_id",
        F.levenshtein(a, b).alias("edit_distance"),
        F.round(levenshtein_ratio(a, b), 6).alias("ratio_edit_distance"),
    )


@register(
    "q_word_count",
    """
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(string_split(text, ' '))), 6) AS avg_words,
           max(len(string_split(text, ' '))) AS max_words
    FROM documents GROUP BY lang
    """,
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: content_length as word count (s01:456), aggregated per lang."""
    d = t(spark, sf_dir, "documents")
    wc = word_count("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(wc), 6).alias("avg_words"),
        F.max(wc).alias("max_words"),
    )


@register(
    "q_token_count_regex",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens
    FROM documents
    """,
)
def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (training-data-pipeline text
    analysis family)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias("n_tokens"),
    )


@register(
    "q_extract_tokens",
    r"""
    SELECT tok AS mention, count(*) AS n
    FROM (SELECT unnest(regexp_extract_all(text, 's[a-z]+')) AS tok FROM documents)
    GROUP BY tok
    """,
)
def q_extract_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-native shape: regexp_extract_all → explode → count — the
    JVM-only mention-extraction path (s01:209-253 re-expressed)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.regexp_extract_all("text", F.lit("s[a-z]+"), 0)).alias("mention"))
        .groupBy("mention")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_regex_filter",
    r"""
    SELECT lang, count(*) AS n
    FROM documents
    WHERE NOT regexp_matches(text, '^[a-z\-]{2,15}:') AND text NOT LIKE 'key%'
    GROUP BY lang
    """,
)
def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: language-link regex drop + prefix drop (s02:210-229)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.filter(~F.col("text").rlike(r"^[a-z\-]{2,15}:") & ~F.col("text").startswith("key"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_jaccard_pairs",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(string_split(a.text, ' '), string_split(b.text, ' ')))::double
                 / greatest(len(list_distinct(list_concat(string_split(a.text, ' '),
                                                          string_split(b.text, ' ')))), 1), 6) AS jaccard
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE a.doc_id < 40 AND b.doc_id < 40
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: distinct-token Jaccard over blocked pairs (same-lang block)
    — the n-gram-Jaccard near-dup family."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    a = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang"), F.col("text").alias("text_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang"), F.col("text").alias("text_b"))
    return (
        a.join(b, "lang")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(token_jaccard("text_a", "text_b"), 6).alias("jaccard"))
    )


# =====================================================================
# dedup family (exact, prefix-key near-dup, MinHash, fingerprint)
# =====================================================================

@register(
    "q_dedup_exact",
    f"""
    SELECT md5({_NORM.format(col="text")}) AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (``dedup.exact_dedup``): hash-groupBy on normalized
    content, keep min id — map-side-combinable, no row ever leaves the
    executor."""
    return exact_dedup(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q_dedup_prefix_key",
    """
    SELECT array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS prefix_key,
           min(doc_id) AS keep_id,
           count(*) AS n_members
    FROM documents GROUP BY 1 HAVING count(*) >= 1
    """,
)
def q_dedup_prefix_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup blocking key: first-5-words signature (SimHash-lite
    structural key)."""
    d = t(spark, sf_dir, "documents")
    key = F.array_join(F.slice(F.split("text", " "), 1, 5), " ")
    return d.groupBy(key.alias("prefix_key")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_members")
    )


_DUCK_MINHASH = """
    list_min(list_transform(range(1, greatest(length({norm}) - 2, 1) + 1),
             i -> md5('mh{seed}:' || substr({norm}, i::int, 3))))
"""


@register(
    "q_minhash_signature",
    f"""
    SELECT doc_id,
           {_DUCK_MINHASH.format(norm=_NORM.format(col="substr(text, 1, 60)"), seed=0)} AS mh0,
           {_DUCK_MINHASH.format(norm=_NORM.format(col="substr(text, 1, 60)"), seed=1)} AS mh1,
           {_DUCK_MINHASH.format(norm=_NORM.format(col="substr(text, 1, 60)"), seed=2)} AS mh2,
           {_DUCK_MINHASH.format(norm=_NORM.format(col="substr(text, 1, 60)"), seed=3)} AS mh3
    FROM documents
    """,
)
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (md5-permutation, char-3-shingles) — the
    engine-portable construction blocking.py uses; oracle-checked
    bit-for-bit.

    r6 shape: the signature is star-expanded through ONE
    inline(array(struct)) Generate node, so the whole shingle+md5
    tree is evaluated once per row — four element_at projections
    carried four full copies of it before (guide §1.2 step 2: the
    plan audit showed 16 array_min subtrees in one Project). The scan
    is `spread` so the per-row md5 work uses every core instead of
    one row-group-bound task."""
    d = spread(t(spark, sf_dir, "documents"))
    sig = minhash_signature(F.substring("text", 1, 60), n_hashes=4, k=3)
    fields = bind_once(
        sig,
        lambda a: F.array(
            F.struct(*[F.element_at(a, i + 1).alias(f"mh{i}") for i in range(4)])
        ),
    )
    return d.select("doc_id", F.inline(fields))


@register(
    "q_lsh_block_sizes",
    f"""
    SELECT band_key, count(*) AS block_size
    FROM (SELECT {_DUCK_MINHASH.format(norm=_NORM.format(col="substr(text, 1, 60)"), seed=0)}
                 || '|' ||
                 {_DUCK_MINHASH.format(norm=_NORM.format(col="substr(text, 1, 60)"), seed=1)} AS band_key
          FROM documents)
    GROUP BY band_key HAVING count(*) > 1
    """,
)
def q_lsh_block_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band → bucket-join blocking: hot-block size census (the
    skew-detection input for salting)."""
    d = spread(t(spark, sf_dir, "documents"))
    sig = minhash_signature(F.substring("text", 1, 60), n_hashes=2, k=3)
    # bind the signature once: two element_at references would carry
    # two copies of the whole shingle+md5 tree (same fix as
    # q_minhash_signature)
    key = bind_once(
        sig, lambda a: F.concat_ws("|", F.element_at(a, 1), F.element_at(a, 2))
    )
    return (
        d.groupBy(key.alias("band_key"))
        .agg(F.count(F.lit(1)).alias("block_size"))
        .filter(F.col("block_size") > 1)
    )


@register(
    "q_fingerprint",
    f"""
    SELECT doc_id,
           ('0x' || substr(md5({_NORM.format(col="text")}), 1, 15))::bigint AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 60-bit md5-derived content id."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint64(normalize_mention("text")).alias("fingerprint"))


# =====================================================================
# text analysis: lang-id heuristic, quality scoring
# =====================================================================

_STOPWORDS = ("the", "a", "of", "and", "in")


@register(
    "q_quality_score",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           round(len(list_distinct(string_split(text, ' ')))::double
                 / greatest(len(string_split(text, ' ')), 1), 6) AS uniq_ratio,
           round(len(list_filter(string_split(text, ' '),
                                 w -> list_contains({list(_STOPWORDS)}, w)))::double
                 / greatest(len(string_split(text, ' ')), 1), 6) AS stopword_ratio
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / uniqueness / stopword ratios — all
    native array lambdas, zero Python."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n = F.size(words)
    stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.round(F.size(F.array_distinct(words)) / F.greatest(n, F.lit(1)), 6).alias("uniq_ratio"),
        F.round(stop / F.greatest(n, F.lit(1)), 6).alias("stopword_ratio"),
    )


@register(
    "q_lang_id_heuristic",
    f"""
    SELECT lang AS actual_lang,
           CASE WHEN avg(len(list_filter(string_split(text, ' '),
                    w -> list_contains({list(_STOPWORDS)}, w)))::double
                    / greatest(len(string_split(text, ' ')), 1)) > 0.05
                THEN 'en_like' ELSE 'other' END AS guessed,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit-rate classifier per lang
    group (n-gram heuristic family)."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    ratio = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))) / F.greatest(F.size(words), F.lit(1))
    return d.groupBy(F.col("lang").alias("actual_lang")).agg(
        F.when(F.avg(ratio) > 0.05, F.lit("en_like")).otherwise(F.lit("other")).alias("guessed"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# =====================================================================
# vectors — J11 brute-force top-k, dot/cosine (F16)
# =====================================================================

@register(
    "q_cosine_topk",
    """
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rn
      FROM embeddings q JOIN embeddings c ON c.vec_id > 7
      WHERE q.vec_id <= 7)
    WHERE rn <= 3
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: brute-force cosine top-k join (the FAISS IndexFlatIP role,
    faiss_indexer.py:40) — ``topk.brute_force_topk``: broadcast
    queries × candidates, rank-filter. At scale the candidate side
    stays partitioned; only the query side broadcasts."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = spread(e.filter(F.col("vec_id") > 7)).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    return brute_force_topk(q, c, k=3).select(
        "query_id", "cand_id", F.round("score", 6).alias("cosine"), F.col("rank").alias("rn")
    )


@register(
    "q_dot_product_scores",
    """
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS dot
    FROM embeddings q JOIN embeddings c ON c.vec_id > q.vec_id
    WHERE q.vec_id < 4 AND c.vec_id < 24
    """,
)
def q_dot_product_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: native zip_with/aggregate dot product (biencoder.py:105)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    c = e.filter(F.col("vec_id") < 24).select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") > F.col("query_id"))
        .select("query_id", "cand_id", F.round(dot_product("q_emb", "c_emb"), 6).alias("dot"))
    )


@register(
    "q_embedding_dedup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.9
    """,
)
def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, blocked by label (the
    embedding-dedup family; block key keeps it off O(n²))."""
    e = t(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label"), F.col("embedding").alias("emb_b"))
    sim = cosine_sim("emb_a", "emb_b")
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", sim)
        .filter(F.col("_cos") > 0.9)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


# =====================================================================
# retrieval metrics — A11 acc@k
# =====================================================================

@register(
    "q_acc_at_k",
    """
    SELECT count(*) AS n_queries,
           round(avg(CASE WHEN first_click <= 1 THEN 1 ELSE 0 END), 6) AS acc_at_1,
           round(avg(CASE WHEN first_click <= 2 THEN 1 ELSE 0 END), 6) AS acc_at_2,
           round(avg(CASE WHEN first_click <= 4 THEN 1 ELSE 0 END), 6) AS acc_at_4,
           round(avg(CASE WHEN first_click <= 8 THEN 1 ELSE 0 END), 6) AS acc_at_8
    FROM (SELECT user_id, min(CASE WHEN event_type = 'click' THEN rn END) AS first_click
          FROM (SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
                FROM events)
          GROUP BY user_id)
    """,
)
def q_acc_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: the reference Stats accumulator (misc_utils.py:209-242) as
    one groupBy — events ranked by value play the scored candidates,
    'click' plays the gold hit."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    per_q = (
        e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "click", F.col("rn"))).alias("first_click"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        *[
            F.round(F.avg(F.when(F.col("first_click") <= k, 1).otherwise(0)), 6).alias(f"acc_at_{k}")
            for k in (1, 2, 4, 8)
        ],
    )


# =====================================================================
# deterministic sampling — R1-R3
# =====================================================================

@register(
    "q_deterministic_sample",
    """
    SELECT count(*) AS n_sampled,
           round(sum(o_totalprice), 4) AS total
    FROM orders
    WHERE substr(md5(o_orderkey::varchar), 1, 2) < '29'
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: uniform sampling via content hash instead of rand() —
    retry-stable and resume-stable (SURVEY §4 item 4); '29'/256 ≈ 16%."""
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "29")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )


@register(
    "q_round_robin",
    """
    SELECT bucket, count(*) AS n, count(DISTINCT o_custkey) AS n_custs
    FROM (SELECT o_custkey,
                 (row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1) % 3 AS bucket
          FROM orders)
    GROUP BY bucket
    """,
)
def q_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: round-robin allocation (s03_utils:160-169) as modular
    row_number — parallel across groups, no per-group Python."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select("o_custkey", F.pmod(F.row_number().over(w) - 1, F.lit(3)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("o_custkey").alias("n_custs"))
    )


@register(
    "q_repetition_signals",
    """
    WITH d AS (SELECT doc_id, length(text) AS chars,
                      list_filter(string_split(text, ' '), x -> x != '') AS w
               FROM documents),
    words AS (SELECT doc_id, len(w) AS n_words,
           round(list_sum(list_transform(w, x -> length(x))) * 1.0
                 / greatest(len(w), 1), 6) AS mean_word_len,
           round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
                 / greatest(len(w), 1), 6) AS alpha_word_frac
        FROM d),
    g2 AS (SELECT doc_id, chars,
                  unnest(list_transform(range(1, len(w)),
                    i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS g
           FROM d),
    c2 AS (SELECT doc_id, chars, g, count(*) AS c FROM g2 GROUP BY doc_id, chars, g),
    top2 AS (SELECT doc_id, round(c * length(g) * 1.0 / chars, 6) AS top_2gram_frac
             FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, g) AS rn FROM c2) WHERE rn = 1),
    g5 AS (SELECT doc_id, chars,
                  unnest(list_transform(range(1, len(w) - 3),
                    i -> array_to_string(list_slice(w, i, i + 4), ' '))) AS g
           FROM d),
    c5 AS (SELECT doc_id, chars, g, count(*) AS c FROM g5 GROUP BY doc_id, chars, g),
    dup5 AS (SELECT doc_id, round(sum(c * length(g)) * 1.0 / any_value(chars), 6)
                    AS dup_5gram_frac
             FROM c5 WHERE c >= 2 GROUP BY doc_id)
    SELECT words.doc_id, n_words, mean_word_len, alpha_word_frac,
           coalesce(top_2gram_frac, 0.0) AS top_2gram_frac,
           coalesce(dup_5gram_frac, 0.0) AS dup_5gram_frac
    FROM words LEFT JOIN top2 USING (doc_id) LEFT JOIN dup5 USING (doc_id)
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition battery (Rae et al. 2021 A1.1) per document:
    top-bigram character fraction (phrase-spam detector),
    duplicate-5-gram character fraction (recycled-boilerplate
    detector), mean word length and alpha-word fraction — explode +
    hash agg per gram size, per-document windows only."""
    from tempel_spark.operators.docquality import repetition_signals

    return repetition_signals(t(spark, sf_dir, "documents"))

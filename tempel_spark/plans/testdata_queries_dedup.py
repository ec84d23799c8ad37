"""Dedup / ANN / deterministic-sampling / positional queries with
DuckDB oracles — including a fully oracle-checked 60-bit SimHash
(the SQL side is generated programmatically: 60 majority-vote bit
expressions over the same md5-derived shingle hashes)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import set_jaccard
from tempel_spark.operators.dedup import simhash64
from tempel_spark.operators.topk import _rank_cut, hyperplane_bucket, ivf_topk
from tempel_spark.plans.testdata_queries import register, t
from tempel_spark.plans.testdata_queries_text import _NORM

# --- shared SQL fragments --------------------------------------------

_SHINGLES = (
    "list_transform(range(1, greatest(length({norm}) - 2, 1) + 1), "
    "i -> substr({norm}, i::int, 3))"
)
_N40 = _NORM.format(col="substr(text, 1, 40)")


def _simhash_sql(shingles_expr: str) -> str:
    terms = []
    for j in range(60):
        terms.append(
            f"(CASE WHEN list_sum(list_transform({shingles_expr}, "
            f"g -> CASE WHEN (('0x' || substr(md5(g), 1, 15))::bigint >> {j}) & 1 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {2**j}::bigint ELSE 0::bigint END)"
        )
    return " + ".join(terms)


def _top3_without_self(out: DataFrame) -> DataFrame:
    """The IVF queries' tail over a top-4 that may hold the query
    itself: drop the self match, re-rank by score (ties to cand_id)
    and keep 3."""
    ranked = _rank_cut(out.filter(F.col("query_id") != F.col("cand_id")), 3, F.col("score").desc())
    return ranked.select("query_id", "cand_id", F.round("score", 6).alias("cosine"), "rank")


@register(
    "q_simhash",
    f"""
    SELECT doc_id, {_simhash_sql(f"list_distinct({_SHINGLES.format(norm=_N40)})")} AS simhash
    FROM documents
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints — the iterative bit-majority
    construction, oracle-checked bit-for-bit (the SQL twin is 60
    generated majority-vote terms)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", simhash64(F.substring("text", 1, 40)).alias("simhash"))


@register(
    "q_ngram_dedup_pairs",
    f"""
    WITH g AS (
      SELECT doc_id, lang,
             list_distinct({_SHINGLES.format(norm=_N40)}) AS grams
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.grams, b.grams))::double
                 / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::double
          / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.5
    """,
)
def q_ngram_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Jaccard near-dup pairs within lang blocks (the
    n-gram-Jaccard dedup family, verification step)."""
    from tempel_spark.operators.blocking import char_shingles

    d = t(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", "lang",
        F.array_distinct(char_shingles(F.substring("text", 1, 40))).alias("grams"),
    )
    a = g.select(F.col("doc_id").alias("id_a"), "lang", F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("id_b"), "lang", F.col("grams").alias("gb"))
    return (
        a.join(b, "lang")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_j", set_jaccard("ga", "gb"))
        .filter(F.col("_j") >= 0.5)
        .select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))
    )


_BUCKET_SQL = """
    ({bits})
""".strip()


def _bucket_bit_sql(b: int) -> str:
    return (
        f"(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
        f"i -> embedding[i]::double * (CASE WHEN substr(md5('hp{b}:' || i::varchar), 1, 1) >= '8' "
        f"THEN 1.0 ELSE -1.0 END))) >= 0 THEN {2**b} ELSE 0 END)"
    )


@register(
    "q_ivf_buckets",
    f"""
    SELECT {" + ".join(_bucket_bit_sql(b) for b in range(3))} AS bucket,
           count(*) AS n_vectors
    FROM embeddings GROUP BY 1
    """,
)
def q_ivf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer census: hyperplane sign-bit buckets —
    the blocking structure behind approximate k-NN (J12), with both
    engines deriving identical pseudo-random hyperplanes from md5."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.withColumn("bucket", hyperplane_bucket("embedding", n_bits=3))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


@register(
    "q_ivf_topk",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {" + ".join(_bucket_bit_sql(x) for x in range(3))} AS bucket
      FROM embeddings)
    SELECT query_id, cand_id, cosine, rn AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rn
      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 6)
    WHERE rn <= 3
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN: candidates restricted to the query's
    hyperplane bucket (IVF nprobe=1 semantics) — J12's role with a
    deterministic, oracle-checkable quantizer."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    out = ivf_topk(q, c, k=4, n_bits=3)  # k=4 then drop self-match
    return _top3_without_self(out)


@register(
    "q_weighted_quota",
    """
    SELECT o_orderpriority, o_orderkey FROM (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY pow(greatest(('0x' || substr(md5('u42:' || o_orderkey::varchar), 1, 15))::bigint
                                     / 1152921504606846976.0, 1e-12),
                            1.0 / greatest(o_totalprice, 1e-12)) DESC,
                        o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 5
    """,
)
def q_weighted_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: weighted reduction to a per-group quota via deterministic
    Efraimidis-Spirakis races (u^(1/w), u = md5-uniform) — the
    reference's multiset weighted sampler (s03:544-571) without a
    single nondeterministic draw."""
    from tempel_spark.operators.balance import weighted_reduce_to_quota

    o = t(spark, sf_dir, "orders")
    return weighted_reduce_to_quota(o, "o_orderpriority", "o_totalprice", 5, "o_orderkey").select(
        "o_orderpriority", "o_orderkey"
    )


@register(
    "q_positional_join",
    """
    WITH c AS (SELECT c_name, row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
               FROM customer),
         s AS (SELECT s_name, row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rn
               FROM supplier)
    SELECT c.rn AS rank, c.c_name, s.s_name
    FROM c JOIN s ON c.rn = s.rn
    WHERE c.rn <= 20
    """,
)
def q_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: positional zip of two independently ranked lists via
    row_number (the reference's new_id alignment, s03:488-536)."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    wc = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    ws = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    cr = c.select("c_name", F.row_number().over(wc).alias("rank")).filter(F.col("rank") <= 20)
    sr = s.select("s_name", F.row_number().over(ws).alias("rank")).filter(F.col("rank") <= 20)
    return cr.join(sr, "rank").select("rank", "c_name", "s_name")


@register(
    "q_except",
    """
    SELECT c_nationkey AS n_nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: EXCEPT (distinct) set difference."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    # subtract = EXCEPT DISTINCT (exceptAll is multiset difference,
    # which leaves every extra duplicate occurrence behind)
    return c.subtract(s)


@register(
    "q_context_window",
    """
    SELECT doc_id,
           substr(text, greatest(strpos(text, 'value') - 20, 1),
                  least(strpos(text, 'value') - 1, 20)) AS left_ctx,
           substr(text, strpos(text, 'value'), 25) AS right_ctx
    FROM documents WHERE strpos(text, 'value') > 0
    """,
)
def q_context_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: left/right context windows around a mention span
    (s03_final_dataset_creator_utils.py:70-91)."""
    from tempel_spark.functions.text import context_window

    d = t(spark, sf_dir, "documents")
    pos = F.instr("text", "value")
    left, right = context_window("text", pos, 0)  # widths set below
    d = d.filter(pos > 0)
    left = F.col("text").substr(F.greatest(pos - 20, F.lit(1)), F.least(pos - 1, F.lit(20)))
    right = F.col("text").substr(pos, F.lit(25))
    return d.select("doc_id", left.alias("left_ctx"), right.alias("right_ctx"))


@register(
    "q_drift_stats",
    """
    SELECT a.lang,
           count(*) AS n_pairs,
           round(avg(len(list_intersect(string_split(a.text, ' '), string_split(b.text, ' ')))::double
                     / greatest(len(list_distinct(list_concat(string_split(a.text, ' '),
                                                              string_split(b.text, ' ')))), 1)), 6) AS avg_jaccard
    FROM documents a JOIN documents b ON a.lang = b.lang AND a.doc_id = b.doc_id - 1
    GROUP BY a.lang
    """,
)
def q_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: grouped text-drift statistics — mean pairwise Jaccard of
    adjacent documents per group (reference snapshot-drift stats,
    s04_final_dataset_statistics_change.py:196-490)."""
    from tempel_spark.functions.similarity import token_jaccard

    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("ia"), "lang", F.col("text").alias("ta"))
    b = d.select((F.col("doc_id") - 1).alias("ia"), F.col("lang").alias("lang_b"), F.col("text").alias("tb"))
    return (
        a.join(b, "ia")
        .filter(F.col("lang") == F.col("lang_b"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(token_jaccard("ta", "tb")), 6).alias("avg_jaccard"),
        )
    )


@register(
    "q_ivf_multiprobe",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {" + ".join(_bucket_bit_sql(x) for x in range(3))} AS bucket
      FROM embeddings)
    SELECT query_id, cand_id, cosine, rn AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rn
      FROM b q JOIN b c
        ON c.bucket IN (q.bucket, xor(q.bucket, 1), xor(q.bucket, 2), xor(q.bucket, 4))
       AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 6)
    WHERE rn <= 3
    """,
)
def q_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN with Hamming-1 multi-probe (r3 upgrade of
    J12): the query searches its own hyperplane bucket PLUS every
    one-bit-flip neighbor — both engines expand the identical probe
    set, so the recall-lifting path is value-checked end to end, not
    just recall-floor-tested."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    out = ivf_topk(q, c, k=4, n_bits=3, nprobe=4)  # k=4 then drop self-match
    return _top3_without_self(out)


def _proj_sql(b: int) -> str:
    """Raw hyperplane-b projection (the signed sum _bucket_bit_sql
    thresholds) — adaptive multi-probe ranks perturbations by it."""
    return (
        f"list_sum(list_transform(range(1, len(embedding) + 1), "
        f"i -> embedding[i]::double * (CASE WHEN substr(md5('hp{b}:' || i::varchar), 1, 1) >= '8' "
        f"THEN 1.0 ELSE -1.0 END)))"
    )


@register(
    "q_ivf_adaptive_probe",
    f"""
    WITH pr AS (
      SELECT vec_id, embedding,
             {_proj_sql(0)} AS p0, {_proj_sql(1)} AS p1, {_proj_sql(2)} AS p2
      FROM embeddings),
    b AS (
      SELECT vec_id, embedding, p0, p1, p2,
             (CASE WHEN p0 >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN p1 >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN p2 >= 0 THEN 4 ELSE 0 END) AS bucket
      FROM pr),
    masks(mask, b1, b2) AS (
      VALUES (1, 0, NULL), (2, 1, NULL), (4, 2, NULL),
             (3, 0, 1), (5, 0, 2), (6, 1, 2)),
    ranked AS (
      SELECT vec_id, mask,
             row_number() OVER (PARTITION BY vec_id ORDER BY cost, mask) AS rnk
      FROM (
        SELECT q.vec_id, m.mask,
               round(abs(CASE m.b1 WHEN 0 THEN q.p0 WHEN 1 THEN q.p1 ELSE q.p2 END)
                     + coalesce(abs(CASE m.b2 WHEN 0 THEN q.p0 WHEN 1 THEN q.p1
                                             WHEN 2 THEN q.p2 END), 0), 6) AS cost
        FROM b q CROSS JOIN masks m WHERE q.vec_id < 6)),
    probes AS (
      SELECT vec_id, bucket AS probe FROM b WHERE vec_id < 6
      UNION ALL
      SELECT r.vec_id, xor(q.bucket, r.mask) AS probe
      FROM ranked r JOIN b q ON q.vec_id = r.vec_id WHERE r.rnk <= 3)
    SELECT query_id, cand_id, cosine, rn AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rn
      FROM probes p
      JOIN b q ON q.vec_id = p.vec_id
      JOIN b c ON c.bucket = p.probe AND c.vec_id <> q.vec_id)
    WHERE rn <= 3
    """,
)
def q_ivf_adaptive_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-directed (adaptive) multi-probe k-NN (r4 upgrade of J12,
    multi-probe LSH ranking): every ≤2-bit perturbation of the query's
    bucket is priced at the summed |projection| margins of the flipped
    hyperplanes, and only the nprobe-1 cheapest are searched — both
    engines rank the identical rounded costs, so the probe SELECTION
    logic itself is value-checked, not just a recall floor
    (tests/test_new_operators.py pins recall@64 ≥ 0.9 at d=128).
    Reference ANN role: faiss_indexer.py:61-126."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 6).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    out = ivf_topk(q, c, k=4, n_bits=3, nprobe=4, probe="adaptive")  # k=4 then drop self-match
    return _top3_without_self(out)


@register(
    "q_simhash_agg",
    f"""
    SELECT doc_id, {_simhash_sql(f"list_distinct({_SHINGLES.format(norm=_N40)})")} AS simhash
    FROM documents
    """,
)
def q_simhash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explode → native hash-agg SimHash (simhash64_agg, the
    scale form — 8× cheaper than the expression fold on full-length
    documents) against the SAME bit-exact 60-term majority-vote
    oracle as q_simhash: both formulations must produce identical
    fingerprints."""
    from tempel_spark.operators.dedup import simhash64_agg

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("_t")
    )
    return simhash64_agg(d, "doc_id", "_t", out_col="simhash")


@register(
    "q_repeated_passages",
    """
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, u.pos::int AS pos,
             array_to_string(list_slice(toks, u.pos::int, u.pos::int + 7), ' ') AS gram
      FROM tk, LATERAL unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS u(pos)),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d)
    SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
           count(*) AS n_dup_grams,
           max(pos) - min(pos) + 8 AS n_tokens
    FROM isl GROUP BY doc_id, grp
    """,
)
def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage spans (token-8-grams occurring ≥2×
    corpus-wide, coalesced to maximal per-doc spans) — the
    substring-level dedup family. The Spark side groups on xxhash64
    gram hashes (the 100 TB path: grams never shuffle as strings);
    the oracle groups on the gram strings themselves — identical
    spans barring a 64-bit birthday collision inside this fixed
    corpus, which determinism makes a one-time non-event."""
    from tempel_spark.operators.dedup import repeated_passages

    d = t(spark, sf_dir, "documents")
    return repeated_passages(d, "doc_id", "text")


@register(
    "q_excise_boilerplate",
    """
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, u.pos::int AS pos,
             array_to_string(list_slice(toks, u.pos::int, u.pos::int + 7), ' ') AS gram
      FROM tk, LATERAL unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS u(pos)),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      FROM isl GROUP BY doc_id, grp),
    allpos AS (
      SELECT doc_id, u.pos::int AS pos, toks[u.pos::int] AS tok, len(toks) AS n_toks
      FROM tk, LATERAL unnest(generate_series(1, len(toks))) AS u(pos)),
    keep AS (
      SELECT a.doc_id, a.pos, a.tok, a.n_toks
      FROM allpos a
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = a.doc_id AND a.pos BETWEEN s.s AND s.e)),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
             any_value(n_toks) - count(*) AS n_tokens_removed
      FROM keep GROUP BY doc_id)
    SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
           coalesce(a.n_tokens_removed, len(t.toks)) AS n_tokens_removed
    FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
)
def q_excise_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate excision end-to-end: find duplicated 8-gram spans
    (`repeated_passages`) and cut every covered token from every doc
    (`excise_spans`) — the remove-everywhere policy a cleaning
    pipeline applies to shared boilerplate. Untouched documents
    round-trip byte-identical (split/join inverse); fully-excised
    ones come back empty, not missing."""
    from tempel_spark.operators.dedup import excise_spans, repeated_passages

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = repeated_passages(d, "doc_id", "text").select(
        "doc_id",
        F.col("span_start").alias("start_tok"),
        (F.col("span_end") + 7).alias("end_tok"),
    )
    return excise_spans(d, spans, "doc_id", "text").select(
        "doc_id", "text_clean", "n_tokens_removed"
    )


@register(
    "q_passage_dedup_end_to_end",
    """
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, u.pos::int AS pos,
             array_to_string(list_slice(toks, u.pos::int, u.pos::int + 7), ' ') AS gram
      FROM tk, LATERAL unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS u(pos)),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    occ AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN dup USING (gram)),
    f1 AS (SELECT gram, min(doc_id) AS fd FROM occ GROUP BY gram),
    f2 AS (
      SELECT o.gram, f1.fd, min(o.pos) AS fp
      FROM occ o JOIN f1 ON o.gram = f1.gram AND o.doc_id = f1.fd
      GROUP BY o.gram, f1.fd),
    keepocc AS (SELECT fd AS doc_id, fp AS pos, gram FROM f2),
    cutocc AS (
      SELECT o.doc_id, o.pos
      FROM occ o LEFT JOIN keepocc k
        ON k.gram = o.gram AND k.doc_id = o.doc_id AND k.pos = o.pos
      WHERE k.gram IS NULL),
    allpos AS (
      SELECT doc_id, u.pos::int AS pos, toks[u.pos::int] AS tok, len(toks) AS n_toks
      FROM tk, LATERAL unnest(generate_series(1, len(toks))) AS u(pos)),
    kept AS (
      SELECT a.doc_id, a.pos, a.tok, a.n_toks
      FROM allpos a
      WHERE NOT (
        EXISTS (SELECT 1 FROM cutocc c
                WHERE c.doc_id = a.doc_id AND a.pos BETWEEN c.pos AND c.pos + 7)
        AND NOT EXISTS (SELECT 1 FROM keepocc k
                        WHERE k.doc_id = a.doc_id AND a.pos BETWEEN k.pos AND k.pos + 7))),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
             any_value(n_toks) - count(*) AS n_tokens_removed
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
           coalesce(a.n_tokens_removed, len(t.toks)) AS n_tokens_removed
    FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
)
def q_passage_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first passage dedup end-to-end (Lee-et-al. policy): every
    duplicated 8-gram passage keeps exactly its first corpus-wide
    occurrence — lexicographic (doc_id, pos) — and loses the rest,
    with the kept copy protected from excision by overlapping later
    occurrences. Deterministic under any partitioning (the
    first-occurrence pick is a min(struct) aggregation, not a
    window). The Spark side hashes grams (xxhash64, the 100 TB path);
    the oracle compares gram strings."""
    from tempel_spark.operators.dedup import passage_dedup

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return passage_dedup(d, "doc_id", "text").select(
        "doc_id", "text_clean", "n_tokens_removed"
    )


@register(
    "q_bm25_topk",
    """
    WITH tk AS (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(toks) AS u(tok)
      WHERE u.tok != ''),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    q AS (
      (SELECT doc_id AS query_id,
              array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS query
       FROM documents ORDER BY doc_id LIMIT 5)
      UNION ALL
      (SELECT -1 AS query_id, t[1] || ' ' || t[1] || ' ' || t[2] AS query
       FROM (SELECT string_split(text, ' ') AS t
             FROM documents ORDER BY doc_id LIMIT 1))),
    qt AS (
      SELECT query_id, u.tok, count(*) AS qtf
      FROM q, unnest(string_split(query, ' ')) AS u(tok)
      WHERE u.tok != ''
      GROUP BY query_id, u.tok),
    sc AS (
      SELECT qt.query_id, tf.doc_id,
             round(sum(
               qt.qtf
               * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.0 + 1.2))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             ), 6) AS score
      FROM tf
      JOIN qt ON tf.tok = qt.tok
      JOIN dfreq ON dfreq.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY qt.query_id, tf.doc_id),
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM sc)
    SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval over the documents table — sparse lexical
    search via an inverted-index equi-join (only query terms' posting
    lists are touched; the query side broadcasts). Queries are
    corpus-derived and deterministic: the first 3 tokens of the 5
    lowest-id documents, plus one REPEATED-TERM query (query_id −1:
    the lowest-id doc's first token twice + its second token) that
    exercises the qtf weighting — a doubled term must contribute
    exactly twice its single-occurrence BM25 mass. Scores round to
    6 dp inside the operator so double-summation order never shows
    (see operators/retrieval.py)."""
    from tempel_spark.operators.retrieval import bm25_topk

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    first3 = (
        d.orderBy("doc_id")
        .limit(5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias("query"),
        )
    )
    toks = F.split(F.col("text"), " ")
    rep = (
        d.orderBy("doc_id")
        .limit(1)
        .select(
            F.lit(-1).cast("long").alias("query_id"),
            F.concat_ws(
                " ", toks.getItem(0), toks.getItem(0), toks.getItem(1)
            ).alias("query"),
        )
    )
    queries = first3.unionByName(rep)
    return bm25_topk(d, queries, k=5).select("query_id", "doc_id", "score", "rank")


@register(
    "q_tfidf_keywords",
    """
    WITH tk AS (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(toks) AS u(tok)
      WHERE u.tok != ''),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok),
    stats AS (SELECT count(*) AS n_docs FROM dl),
    sc AS (
      SELECT tf.doc_id, tf.tok AS term,
             round((tf / dl) * ln(n_docs / df), 6) AS tfidf
      FROM tf
      JOIN dfreq ON dfreq.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM sc)
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by length-normalized
    TF-IDF — keyword extraction for topic tagging. Per-document window
    rank; rounded-score ties break on the term."""
    from tempel_spark.operators.retrieval import tfidf_keywords

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_keywords(d, k=3).select("doc_id", "term", "tfidf", "rank")


@register(
    "q_unigram_logprob",
    """
    WITH tk AS (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(toks) AS u(tok)
      WHERE u.tok != ''),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
    c AS (SELECT tok, sum(tf) AS c FROM tf GROUP BY tok),
    tot AS (SELECT sum(c) AS total FROM c)
    SELECT tf.doc_id, sum(tf)::bigint AS n_tokens,
           round(sum(tf * ln(c / total)) / sum(tf), 6) AS logprob
    FROM tf JOIN c ON c.tok = tf.tok CROSS JOIN tot
    GROUP BY tf.doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram fluency score per document (mean token
    log-probability under the corpus's own term distribution) — the
    quality-threshold signal of C4-style cleaning, model-free."""
    from tempel_spark.operators.retrieval import unigram_logprob

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(d)


@register(
    "q_bm25_passages",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS toks
      FROM documents),
    ch AS (
      SELECT doc_id, g.i::int AS chunk_idx,
             doc_id || ':' || g.i::int AS passage_id,
             array_to_string(list_slice(toks, g.i::int * 16 + 1, g.i::int * 16 + 16), ' ') AS passage
      FROM base, unnest(generate_series(0, (len(toks) + 15) // 16 - 1)) AS g(i)
      WHERE len(toks) > 0),
    tk AS (
      SELECT passage_id, u.tok
      FROM ch, unnest(string_split(passage, ' ')) AS u(tok)
      WHERE u.tok != ''),
    tf AS (SELECT passage_id, tok, count(*) AS tf FROM tk GROUP BY passage_id, tok),
    dl AS (SELECT passage_id, count(*) AS dl FROM tk GROUP BY passage_id),
    dfreq AS (SELECT tok, count(DISTINCT passage_id) AS df FROM tk GROUP BY tok),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    q AS (
      SELECT doc_id AS query_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS query
      FROM documents ORDER BY doc_id LIMIT 5),
    qt AS (
      SELECT query_id, u.tok, count(*) AS qtf
      FROM q, unnest(string_split(query, ' ')) AS u(tok)
      WHERE u.tok != ''
      GROUP BY query_id, u.tok),
    sc AS (
      SELECT qt.query_id, tf.passage_id,
             round(sum(
               qt.qtf
               * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.0 + 1.2))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             ), 6) AS score
      FROM tf
      JOIN qt ON tf.tok = qt.tok
      JOIN dfreq ON dfreq.tok = tf.tok
      JOIN dl ON dl.passage_id = tf.passage_id
      CROSS JOIN stats
      GROUP BY qt.query_id, tf.passage_id),
    ranked AS (
      SELECT query_id, passage_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, passage_id) AS rank
      FROM sc)
    SELECT query_id, passage_id, score, rank FROM ranked WHERE rank <= 3
    """,
)
def q_bm25_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level retrieval — the RAG-prep composition: fixed-stride
    16-token chunking (posexplode over sliced token arrays, no Python)
    feeds the BM25 inverted-index retriever; top-3 passages per
    corpus-derived query. Passage ids are doc:chunk strings so the
    retrieval unit stays self-describing."""
    from tempel_spark.operators.retrieval import bm25_topk

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    base = d.select("doc_id", toks.alias("_toks")).filter(F.size("_toks") > 0)
    n_chunks = F.ceil(F.size("_toks") / F.lit(16)).cast("int")
    passages = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("_toks", i * 16 + 1, 16), " "),
            )
        ).alias("chunk_idx", "passage"),
    ).select(
        F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx")).alias("passage_id"),
        "passage",
    )
    queries = (
        d.orderBy("doc_id")
        .limit(5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias("query"),
        )
    )
    return bm25_topk(
        passages, queries, k=3, doc_id="passage_id", text_col="passage"
    ).select("query_id", "passage_id", "score", "rank")


@register(
    "q_bm25_mrr",
    """
    WITH tk AS (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(toks) AS u(tok)
      WHERE u.tok != ''),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    q AS (
      SELECT doc_id AS query_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS query
      FROM documents ORDER BY doc_id LIMIT 5),
    qt AS (
      SELECT query_id, u.tok, count(*) AS qtf
      FROM q, unnest(string_split(query, ' ')) AS u(tok)
      WHERE u.tok != ''
      GROUP BY query_id, u.tok),
    sc AS (
      SELECT qt.query_id, tf.doc_id,
             round(sum(
               qt.qtf
               * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.0 + 1.2))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             ), 6) AS score
      FROM tf
      JOIN qt ON tf.tok = qt.tok
      JOIN dfreq ON dfreq.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY qt.query_id, tf.doc_id),
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM sc),
    top AS (SELECT * FROM ranked WHERE rank <= 5),
    perq AS (
      SELECT q.query_id,
             min(CASE WHEN doc_id = q.query_id THEN rank END) AS gold_rank
      FROM q LEFT JOIN top ON top.query_id = q.query_id
      GROUP BY q.query_id)
    SELECT count(*)::bigint AS n_queries,
           round(avg(coalesce(1.0 / gold_rank, 0.0)), 6) AS mrr
    FROM perq
    """,
)
def q_bm25_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-retrieval MRR — each corpus-derived query's gold document
    is its own source; BM25 must rank it first. Composes bm25_topk
    with mean_reciprocal_rank over the FULL query universe (the
    `queries` frame is passed through, so a query sharing no term
    with any document — impossible here, but the contract is the
    point — would contribute 0 and still count in n_queries)."""
    from tempel_spark.operators.metrics import mean_reciprocal_rank
    from tempel_spark.operators.retrieval import bm25_topk

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = (
        d.orderBy("doc_id")
        .limit(5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias("query"),
        )
    )
    ranked = bm25_topk(d, queries, k=5).withColumn(
        "correct", F.col("doc_id") == F.col("query_id")
    )
    return mean_reciprocal_rank(ranked, queries=queries)


# --- k-means + B-cubed (round 5) -------------------------------------

def _kmeans_iter_sql(i: int, prev: str, p: str = "", src: str = "pts") -> str:
    """One Lloyd's round as CTEs: assignment {p}a{i} (rounded-distance
    argmin, ties to the smallest cluster id), per-coordinate means
    {p}m{i} rounded to 6 dp (the operator rounds its centroids the
    same way — round-before-compare), updated centroids {p}c{i} (an
    empty cluster keeps its previous centroid). ``p`` prefixes every
    CTE name and ``src`` picks the point frame, so several training
    chains (e.g. the PQ subspaces) coexist in one WITH list; the
    defaults reproduce the original full-vector chain."""
    return f"""
    {p}a{i} AS (
      SELECT vec_id, v, cid FROM (
        SELECT x.vec_id, x.v, c.cid,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY round(list_distance(x.v, c.c), 6), c.cid) AS rn
        FROM {src} x CROSS JOIN {prev} c) WHERE rn = 1),
    {p}m{i} AS (
      SELECT cid, idx, round(avg(val), 6) AS m FROM (
        SELECT cid, generate_subscripts(v, 1) AS idx, unnest(v) AS val FROM {p}a{i})
      GROUP BY cid, idx),
    {p}c{i} AS (
      SELECT q.cid, coalesce(n.c, q.c) AS c
      FROM {prev} q LEFT JOIN (
        SELECT cid, list(m ORDER BY idx) AS c FROM {p}m{i} GROUP BY cid) n USING (cid))"""


# shared CTE prefix: seed (8 smallest ids) + two unrolled Lloyd's
# rounds ending at centroids c2 — both the q_kmeans and the
# q_kmeans_ivf oracles build on it
_KMEANS_CTES = f"""
    WITH pts AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM pts ORDER BY vec_id LIMIT 8),
    {_kmeans_iter_sql(1, "c0")},
    {_kmeans_iter_sql(2, "c1")}"""

_KMEANS_SQL = f"""
    {_KMEANS_CTES}
    SELECT vec_id, cid AS cluster_id, dist FROM (
      SELECT p.vec_id, c.cid,
             round(list_distance(p.v, c.c), 6) AS dist,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_distance(p.v, c.c), 6), c.cid) AS rn
      FROM pts p CROSS JOIN c2 c) WHERE rn = 1
"""


@register("q_kmeans", _KMEANS_SQL)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=8, 2 update rounds, seeds =
    the 8 smallest vec_ids) over the embeddings table — the trained
    coarse-quantizer path for IVF and the topic-clustering curation
    primitive. The oracle unrolls both rounds as CTE chains; every
    centroid coordinate and distance is 6-dp rounded on BOTH engines
    so the assignment argmin is engine-stable."""
    from tempel_spark.operators.kmeans import kmeans

    e = t(spark, sf_dir, "embeddings")
    return kmeans(e, id_col="vec_id", emb_col="embedding", k=8, n_iter=2).assignments


@register(
    "q_bcubed",
    f"""
    WITH j AS (
      SELECT {" + ".join(_bucket_bit_sql(b) for b in range(3))} AS c,
             label AS g
      FROM embeddings),
    cells AS (SELECT c, g, count(*)::double AS i FROM j GROUP BY 1, 2),
    sz AS (
      SELECT i,
             sum(i) OVER (PARTITION BY c) AS sc,
             sum(i) OVER (PARTITION BY g) AS sg
      FROM cells),
    agg AS (
      SELECT sum(i) AS n, sum(i * i / sc) AS wp, sum(i * i / sg) AS wr
      FROM sz)
    SELECT n::bigint AS n_nodes,
           round(wp / n, 6) AS bcubed_precision,
           round(wr / n, 6) AS bcubed_recall,
           round(CASE WHEN wp / n + wr / n > 0
                      THEN 2 * (wp / n) * (wr / n) / (wp / n + wr / n)
                      ELSE 0 END, 6) AS bcubed_f1
    FROM agg
    """,
)
def q_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the hyperplane-bucket clustering
    against the embeddings table's gold labels — the per-node ER
    metric beside pairwise F1, computed from the contingency table
    (Σ i²/|c| / N), never per node or per pair."""
    from tempel_spark.operators.metrics import bcubed

    e = t(spark, sf_dir, "embeddings")
    pred = e.select(
        F.col("vec_id").alias("node"),
        hyperplane_bucket("embedding", n_bits=3).alias("component"),
    )
    gold = e.select(F.col("vec_id").alias("node"), F.col("label").alias("gold_entity_id"))
    out = bcubed(pred, gold)
    return out.select(
        "n_nodes",
        F.round("bcubed_precision", 6).alias("bcubed_precision"),
        F.round("bcubed_recall", 6).alias("bcubed_recall"),
        F.round("bcubed_f1", 6).alias("bcubed_f1"),
    )


@register(
    "q_kmeans_ivf",
    f"""
    {_KMEANS_CTES},
    a3 AS (
      SELECT vec_id, v, cid FROM (
        SELECT p.vec_id, p.v, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY round(list_distance(p.v, c.c), 6), c.cid) AS rn
        FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
    qp AS (
      SELECT vec_id, v, cid FROM (
        SELECT p.vec_id, p.v, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY round(list_distance(p.v, c.c), 6), c.cid) AS rn
        FROM pts p CROSS JOIN c2 c
        WHERE p.vec_id < 6) WHERE rn <= 2)
    SELECT query_id, cand_id, cosine, rn AS rank FROM (
      SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
             round(list_cosine_similarity(q.v, a.v), 6) AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, a.v) DESC, a.vec_id) AS rn
      FROM qp q JOIN a3 a ON q.cid = a.cid AND a.vec_id <> q.vec_id)
    WHERE rn <= 3
    """,
)
def q_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN with a TRAINED coarse quantizer: the same
    k-means fit as q_kmeans supplies the cells, candidates take one
    cell each, queries probe their 2 nearest cells — the FAISS IVF
    shape end-to-end (train → assign → probe → rank), oracle-checked
    including the probe selection."""
    from tempel_spark.operators.kmeans import kmeans, kmeans_ivf_topk

    e = t(spark, sf_dir, "embeddings")
    fit = kmeans(e, id_col="vec_id", emb_col="embedding", k=8, n_iter=2)
    q = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    out = kmeans_ivf_topk(q, c, fit.centroids, k=4, nprobe=2)
    return _top3_without_self(out)


@register(
    "q_bigram_logprob",
    """
    WITH tk AS (
      SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
            FROM documents)),
    bg AS (
      SELECT a.doc_id, a.tok AS v, b.tok AS w
      FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    btf AS (SELECT doc_id, v, w, count(*) AS tf FROM bg GROUP BY doc_id, v, w),
    cvw AS (SELECT v, w, sum(tf) AS c FROM btf GROUP BY v, w),
    cv AS (SELECT v, sum(c) AS cv FROM cvw GROUP BY v),
    vv AS (SELECT count(DISTINCT tok)::double AS n_vocab FROM tk)
    SELECT btf.doc_id, sum(tf)::bigint AS n_bigrams,
           round(sum(tf * ln((c + 0.5) / (cv + 0.5 * n_vocab))) / sum(tf), 6) AS logprob
    FROM btf JOIN cvw USING (v, w) JOIN cv USING (v) CROSS JOIN vv
    GROUP BY btf.doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order fluency: mean add-0.5-smoothed corpus-bigram
    log-probability per document — word salad scores low even when
    every unigram is common. The bigram stream is arrays_zip of the
    token list with its own shift (one explode, no positional
    self-join on the Spark side; the oracle uses the positional join
    to stay independent)."""
    from tempel_spark.operators.retrieval import bigram_logprob

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(d)


@register(
    "q_blocking_quality",
    f"""
    WITH j AS (
      SELECT {" + ".join(_bucket_bit_sql(b) for b in range(3))} AS blk,
             label AS g
      FROM embeddings),
    cont AS (SELECT blk, g, count(*)::double AS i FROM j GROUP BY 1, 2),
    m AS (SELECT sum(i * (i - 1) / 2) AS matched_pairs FROM cont),
    c AS (
      SELECT sum(n * (n - 1) / 2) AS cand_pairs, sum(n)::bigint AS n_nodes
      FROM (SELECT blk, sum(i) AS n FROM cont GROUP BY blk)),
    gp AS (
      SELECT sum(n * (n - 1) / 2) AS gold_pairs
      FROM (SELECT g, sum(i) AS n FROM cont GROUP BY g))
    SELECT n_nodes, cand_pairs, matched_pairs, gold_pairs,
           round(matched_pairs / gold_pairs, 6) AS pairs_completeness,
           round(matched_pairs / cand_pairs, 6) AS pair_quality,
           round(1.0 - cand_pairs / (n_nodes::double * (n_nodes - 1) / 2), 6)
             AS reduction_ratio
    FROM m CROSS JOIN c CROSS JOIN gp
    """,
)
def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme report card (Christen 2012): pairs completeness
    (the recall ceiling the matcher inherits), pair quality (blocking
    precision) and reduction ratio of the hyperplane-bucket family vs
    the embeddings gold labels — all Σ C(n,2) folds over the
    (block, gold) contingency table, candidate pairs never
    materialized."""
    from tempel_spark.operators.metrics import blocking_quality

    e = t(spark, sf_dir, "embeddings")
    blocks = e.select(
        F.col("vec_id").alias("node"),
        hyperplane_bucket("embedding", n_bits=3).alias("block"),
    )
    gold = e.select(F.col("vec_id").alias("node"), F.col("label").alias("gold_entity_id"))
    out = blocking_quality(blocks, gold)
    return out.select(
        "n_nodes",
        "cand_pairs",
        "matched_pairs",
        "gold_pairs",
        F.round("pairs_completeness", 6).alias("pairs_completeness"),
        F.round("pair_quality", 6).alias("pair_quality"),
        F.round("reduction_ratio", 6).alias("reduction_ratio"),
    )


_WINNOW_FP_CTE = """
    g AS (
      SELECT doc_id, u.i::int AS pos,
             ('0x' || substr(md5(substr(text, u.i::int, 20)), 1, 15))::bigint AS h
      FROM documents,
           LATERAL unnest(generate_series(1, greatest(length(text) - 19, 0))) AS u(i)),
    mm AS (SELECT doc_id, count(*) AS n_g FROM g GROUP BY doc_id),
    wins AS (
      SELECT doc_id, s.s::int AS s
      FROM mm, LATERAL unnest(generate_series(1, greatest(n_g - 9, 1))) AS s(s)),
    pick AS (
      SELECT w.doc_id, g.pos, g.h
      FROM wins w JOIN g ON g.doc_id = w.doc_id AND g.pos BETWEEN w.s AND w.s + 9
      QUALIFY row_number() OVER (PARTITION BY w.doc_id, w.s ORDER BY g.h, g.pos DESC) = 1),
    fp AS (SELECT DISTINCT doc_id, pos AS fp_pos, h AS fp FROM pick)
"""


@register(
    "q_winnow_fingerprints",
    f"""
    WITH {_WINNOW_FP_CTE}
    SELECT doc_id, fp_pos, fp FROM fp
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS) over the
    documents corpus at k=20, w=10: every window of 10 consecutive
    char-20-gram md5 hashes keeps its minimum, rightmost on ties —
    the selected set ITSELF is value-checked (md5 is bit-identical
    across engines). Spark side is one zero-shuffle Arrow pass per
    doc; the oracle expands windows relationally and argmins with a
    window rank (rightmost tie = ORDER BY h, pos DESC; DuckDB's min()
    over [h, -pos] lists took ~8 GB on the 500-document corpus)."""
    from tempel_spark.operators.dedup import winnow_fingerprints

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(d, k=20, w=10)


@register(
    "q_winnow_overlap",
    f"""
    WITH {_WINNOW_FP_CTE},
    fpd AS (SELECT DISTINCT doc_id, fp FROM fp),
    nfp AS (SELECT doc_id, count(*) AS n FROM fpd GROUP BY doc_id),
    rare AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 5),
    kept AS (SELECT fpd.doc_id, fpd.fp FROM fpd JOIN rare USING (fp)),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2)
    SELECT id_a, id_b, n_shared,
           round(n_shared / least(na.n, nb.n), 6) AS overlap
    FROM p
    JOIN nfp na ON na.doc_id = p.id_a
    JOIN nfp nb ON nb.doc_id = p.id_b
    """,
)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-duplicate report: document pairs sharing >= 2
    winnowed fingerprints, overlap = shared / min(|fp| sides).
    Fingerprints in > 5 docs are dropped BEFORE the self-join
    (boilerplate = no signal AND the hot keys that would go quadratic
    — the LSH-band frequency-cap discipline); denominators use the
    unfiltered per-doc counts."""
    from tempel_spark.operators.dedup import winnow_similar_pairs

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_similar_pairs(d, k=20, w=10, max_df=5, min_shared=2)


@register(
    "q_quantized_dot_topk",
    """
    WITH sc AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
      FROM embeddings),
    qz AS (
      SELECT vec_id, s,
             CASE WHEN s > 0 THEN list_transform(e, x -> round(x / s))
                  ELSE list_transform(e, x -> 0.0) END AS q
      FROM sc),
    p AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             list_dot_product(a.q, b.q)::bigint AS qdot,
             round(list_dot_product(a.q, b.q) * a.s * b.s, 6) AS approx_dot
      FROM qz a JOIN qz b ON b.vec_id >= 8
      WHERE a.vec_id < 8)
    SELECT query_id, cand_id, qdot, approx_dot, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY qdot DESC, cand_id) AS rn
      FROM p)
    WHERE rn <= 3
    """,
)
def q_quantized_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized brute-force top-k: per-vector symmetric
    quantization (scale = max|x|/127), ranking by the EXACT integer
    quantized dot (bit-identical on any engine/partitioning — no
    float-sum tiebreak ambiguity), dequantized estimate alongside.
    The similarity-search memory path: 4x less embedding bandwidth,
    rank on int8, refine survivors at full precision."""
    from tempel_spark.operators.topk import quantized_dot_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    c = e.filter(F.col("vec_id") >= 8).select(F.col("vec_id").alias("cand_id"), "embedding")
    return quantized_dot_topk(q, c)


@register(
    "q_pr_curve",
    f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {" + ".join(_bucket_bit_sql(b) for b in range(3))} AS blk
      FROM embeddings),
    p AS (
      SELECT round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 2)
               AS threshold,
             (a.label = b.label)::int AS pos
      FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id),
    agg AS (
      SELECT threshold, count(*) AS n_pairs, sum(pos)::bigint AS n_pos
      FROM p GROUP BY threshold)
    SELECT threshold, n_pairs, n_pos,
           round((sum(n_pos) OVER w)::double / (sum(n_pairs) OVER w)::bigint, 6)
             AS precision,
           CASE WHEN (sum(n_pos) OVER ())::bigint > 0
                THEN round((sum(n_pos) OVER w)::double / (sum(n_pos) OVER ())::bigint, 6)
                ELSE 1.0 END AS recall
    FROM agg
    WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matcher-tuning PR curve: precision/recall of `cosine >= t` at
    every 2-dp threshold over hyperplane-bucket-blocked embedding
    pairs (gold = label equality). Pair-scale work is ONE hash agg;
    only the <=201-row threshold table goes through the cumulative
    window — the shape that holds at 10^12 scored pairs."""
    from tempel_spark.functions.similarity import cosine_sim
    from tempel_spark.operators.metrics import pr_curve

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding",
        hyperplane_bucket("embedding", n_bits=3).alias("blk"),
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"),
                 F.col("embedding").alias("ea"), "blk")
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"),
                 F.col("embedding").alias("eb"), "blk")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            cosine_sim("ea", "eb").alias("score"),
            (F.col("la") == F.col("lb")).alias("is_match"),
        )
    )
    return pr_curve(pairs, decimals=2)


# --- product quantization + ADC (round 5) ----------------------------

def _pq_sqdist(a: str, b: str, d: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {d + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _pq_subspace(p: str, lo: int, hi: int, src: str = "pts") -> str:
    """Subspace slice + seeded 2-round Lloyd training + encode CTEs
    over ``src`` (raw points for plain PQ, residuals for IVFPQ)."""
    d = hi - lo + 1
    return f"""
    {p} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM {src}),
    {p}c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM {p} ORDER BY vec_id LIMIT 8),
    {_kmeans_iter_sql(1, p + "c0", p=p, src=p)},
    {_kmeans_iter_sql(2, p + "c1", p=p, src=p)},
    {p}enc AS (
      SELECT vec_id, cid AS code FROM (
        SELECT x.vec_id, c.cid,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY round({_pq_sqdist("x.v", "c.c", d)}, 6), c.cid) AS rn
        FROM {p} x CROSS JOIN {p}c2 c) WHERE rn = 1)"""


def _pq_lut(p: str, lo: int, hi: int, qsrc: str, keys: str) -> str:
    """Per-query (or per-(query, cell)) LUT of rounded squared
    sub-distances against subspace ``p``'s trained centroids."""
    d = hi - lo + 1
    return f"""
    {p}lut AS (
      SELECT {keys}, c.cid,
             round({_pq_sqdist("qq.v", "c.c", d)}, 6) AS d
      FROM (SELECT *, list_slice(v, {lo}, {hi}) AS _sv FROM {qsrc}) qq0,
           LATERAL (SELECT qq0._sv AS v) qq, {p}c2 c)"""


@register(
    "q_pq_adc",
    f"""
    WITH pts AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v FROM pts ORDER BY vec_id LIMIT 3),
    {_pq_subspace("s0", 1, 32)},
    {_pq_subspace("s1", 33, 64)},
    {_pq_lut("s0", 1, 32, "q", "qq0.query_id")},
    {_pq_lut("s1", 33, 64, "q", "qq0.query_id")},
    codes AS (
      SELECT s0enc.vec_id, s0enc.code AS k0, s1enc.code AS k1
      FROM s0enc JOIN s1enc USING (vec_id)),
    sc AS (
      SELECT l0.query_id, codes.vec_id, round(l0.d + l1.d, 6) AS adc_dist
      FROM codes
      JOIN s0lut l0 ON l0.cid = codes.k0
      JOIN s1lut l1 ON l1.cid = codes.k1 AND l1.query_id = l0.query_id)
    SELECT query_id, vec_id, adc_dist, rank FROM (
      SELECT sc.*, row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist, vec_id) AS rank FROM sc)
    WHERE rank <= 5
    """,
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end to end (the FAISS IVFPQ memory path):
    train 2 per-subspace codebooks with the engine's deterministic
    k-means (2 Lloyd rounds each, unrolled in the oracle), encode
    every vector to 2 codes, and answer 3 queries by asymmetric
    distance — per-query LUT of rounded squared sub-distances, scored
    by table lookups on the codes alone. Training, encoding, AND the
    ADC ranking are all value-checked."""
    from tempel_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train(e, m=2, k=8)
    codes = pq_encode(e, books)
    queries = e.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(codes, queries, books, k=5)


@register(
    "q_ivfpq",
    f"""
    {_KMEANS_CTES},
    asn AS (SELECT vec_id, cid AS cell FROM (
        SELECT p.vec_id, c.cid, row_number() OVER (PARTITION BY p.vec_id
            ORDER BY round(list_distance(p.v, c.c), 6), c.cid) AS rn
        FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
    res AS (SELECT p.vec_id, list_transform(range(1, 65), i -> p.v[i] - c.c[i]) AS v
            FROM pts p JOIN asn ON asn.vec_id = p.vec_id
                       JOIN c2 c ON c.cid = asn.cell),
    {_pq_subspace("r0", 1, 32, src="res")},
    {_pq_subspace("r1", 33, 64, src="res")},
    codes AS (SELECT r0enc.vec_id, r0enc.code AS k0, r1enc.code AS k1, asn.cell
              FROM r0enc JOIN r1enc USING (vec_id) JOIN asn USING (vec_id)),
    q AS (SELECT vec_id AS query_id, v FROM pts ORDER BY vec_id LIMIT 3),
    qc AS (SELECT q.query_id, c.cid AS cell, round(list_distance(q.v, c.c), 6) AS d
           FROM q CROSS JOIN c2 c),
    probe AS (SELECT query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY d, cell) AS rn FROM qc) WHERE rn <= 2),
    qres AS (SELECT p.query_id, p.cell,
                    list_transform(range(1, 65), i -> q.v[i] - c.c[i]) AS v
             FROM probe p JOIN q USING (query_id)
                          JOIN c2 c ON c.cid = p.cell),
    {_pq_lut("r0", 1, 32, "qres", "qq0.query_id, qq0.cell")},
    {_pq_lut("r1", 33, 64, "qres", "qq0.query_id, qq0.cell")},
    sc AS (SELECT l0.query_id, codes.vec_id, round(l0.d + l1.d, 6) AS adc_dist
           FROM codes
           JOIN r0lut l0 ON l0.cell = codes.cell AND l0.cid = codes.k0
           JOIN r1lut l1 ON l1.query_id = l0.query_id AND l1.cell = codes.cell
                        AND l1.cid = codes.k1)
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT sc.*, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, vec_id) AS rank FROM sc)
    WHERE rank <= 5
    """,
)
def q_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFPQ (coarse cells + RESIDUAL product quantization +
    per-cell asymmetric distance): 8 trained cells, nprobe=2, 2
    residual subspaces of 8 codes each — every stage (coarse
    training, cell assignment, residual computation, per-subspace
    residual training, encoding, probe selection, per-cell LUTs, ADC
    ranking) replayed and value-checked by the oracle."""
    from tempel_spark.operators.pq import ivfpq_topk

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(e, queries, n_cells=8, k=5)

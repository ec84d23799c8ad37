"""Sparse lexical retrieval — TF-IDF / BM25 scoring and top-k search.

The reference resolves mentions with a dense bi-encoder + FAISS
(`faiss_indexer.py`, `nn_prediction.py:76`); the classic sparse
counterpart (BM25 over an inverted index) is what a training-data
pipeline runs at corpus scale for quality filtering, dedup-adjacent
search, and hard-negative mining before any dense model exists. No
reference analogue — this is part of the LLM-data-pipeline surface.

Spark shape (designed for the 100 TB posture):

* tokenization and per-(doc, term) term frequencies are one explode +
  one hash aggregation — map-side combinable, no skew beyond Zipf
  terms, which the scoring join tolerates because the QUERY side
  prunes it;
* the score join is an INVERTED-INDEX equi-join on the term: only
  terms that actually occur in some query are ever joined, so a
  thousand-query batch against 10^10 documents touches the posting
  lists of ~10^4 terms, not the corpus. The query-term side is tiny
  and broadcast;
* corpus statistics (N, avgdl) are a one-row aggregate broadcast via
  a literal-free cross join — no driver-side collect in the plan;
* top-k per query is the standard window rank-filter, partitioned by
  query id (no global sort).

Scores are rounded (to `ROUND_DP`, 6 dp) INSIDE the operator so that
per-query sums of double-precision term contributions — whose
addition order Spark does not fix — compare stably across plans,
partitionings, and the DuckDB oracle; ranking ties on the rounded
score break by doc id, so top-k membership is deterministic too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "doc_term_freqs",
    "bm25_scores",
    "bm25_topk",
    "tfidf_keywords",
    "tfidf_cosine_pairs",
    "unigram_logprob",
    "bigram_logprob",
]

ROUND_DP = 6  # every score is rounded to this before it is compared


def doc_term_freqs(
    docs: DataFrame, id_col: str, text_col: str, with_dl: bool = True
) -> DataFrame:
    """(doc, term, tf[, dl]): whitespace-token term frequencies, plus
    the document length in tokens when `with_dl`. One explode + one
    token-stream aggregation; dl derives from the ALREADY-aggregated
    tf frame (sum of tf per doc) — never a second explode over the
    corpus. Empty / NULL texts yield no rows (a 0-length doc has no
    postings)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if not with_dl:
        return tf
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return tf.join(dl, id_col)


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every (query, doc) pair sharing ≥1 term.

    Okapi BM25 with the standard Robertson-Sparck Jones idf,
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``; a term repeated in the
    query weights its contribution by its query term frequency —
    score = Σ_t qtf(t)·idf(t)·tf_part(t, d), the standard qtf·idf·tf
    form (qtf unsaturated, i.e. the k3→∞ limit of the full Okapi
    query-side saturation), with k1 = 1.2 and b = 0.75.
    `queries` carries (query_id, query).
    Output: (query_id, doc_id, score) — score rounded to `ROUND_DP`.
    """
    # pins (lazy localCheckpoint): tf feeds dl AND the pruned probe,
    # dl feeds the stats AND the candidate join, qterms feeds the
    # prune AND the probe — each re-reference otherwise re-tokenizes
    # the corpus (guide §3.3)
    tf = doc_term_freqs(docs, doc_id, text_col, with_dl=False).localCheckpoint(eager=False)
    dl = tf.groupBy(doc_id).agg(F.sum("tf").alias("dl")).localCheckpoint(eager=False)
    # corpus stats are the ONLY whole-corpus reduction (two scalars —
    # a production deployment precomputes/caches them with the index)
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    qterms = (
        queries.select(
            F.col("query_id"), F.explode(F.split(F.col("query"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
        .localCheckpoint(eager=False)
    )
    # prune FIRST: everything downstream — df counting included — runs
    # on the posting lists of query terms only, never the vocabulary
    pruned = tf.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    ).localCheckpoint(eager=False)
    df_ = pruned.groupBy("term").agg(F.countDistinct(doc_id).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (1.0 + 1.2)) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        pruned.join(F.broadcast(qterms), "term")  # inverted-index probe
        .join(dl, doc_id)  # candidate-doc-scale, not corpus-scale
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", doc_id)
        .agg(F.round(F.sum(F.col("qtf") * idf * tf_part), ROUND_DP).alias("score"))
    )
    return scored


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram distribution — the C4/Gopher-style fluency signal a
    training-data pipeline thresholds on (gibberish and boilerplate
    both sit in the tails; no external model needed). score(d) =
    mean_{t∈d, with multiplicity} ln(count(t) / total_tokens).

    Shape: corpus term counts are one hash agg; the per-token join is
    term-keyed (Zipf-hot terms are fine — the joined payload is one
    count per term); total_tokens rides a one-row broadcast. Docs with
    no tokens produce no row (no probability mass to average).

    Output: (doc_id, n_tokens, logprob) — logprob rounded."""
    postings = doc_term_freqs(docs, "doc_id", "text").localCheckpoint(eager=False)
    counts = postings.groupBy("term").agg(F.sum("tf").alias("c")).localCheckpoint(eager=False)
    total = counts.agg(F.sum("c").alias("total"))
    scored = (
        postings.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("c") / F.col("total")))
                / F.sum("tf"),
                ROUND_DP,
            ).alias("logprob"),
        )
    )
    return scored


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-α-smoothed (α = 0.5) bigram LM — the second-order fluency signal next to
    ``unigram_logprob`` (word salad scores low even when every word is
    common, because the TRANSITIONS are rare):
    score(d) = mean_{(v,w)∈d} ln((c(v,w) + α) / (c(v,·) + α·|V|)).

    Shape: the bigram stream is arrays_zip(tokens, tokens-shifted) —
    one explode, no self-join; c(v,w) and c(v,·) are hash aggregates;
    |V| rides a one-row broadcast. The scoring joins are keyed on the
    aggregated (doc, v, w) frame, so Zipf-hot bigrams carry one count
    row each. Docs with < 2 tokens emit no row (no transitions to
    average).

    Output: (doc_id, n_bigrams, logprob) — logprob rounded."""
    alpha = 0.5
    arr = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    docs_a = docs.select(F.col("doc_id"), arr.alias("_toks")).filter(
        F.size("_toks") >= 2
    )
    n1 = F.size(F.col("_toks")) - 1
    bg = docs_a.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_toks"), F.lit(1), n1).alias("v"),
                F.slice(F.col("_toks"), F.lit(2), n1).alias("w"),
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.v").alias("v"), F.col("_bg.w").alias("w"))
    btf = bg.groupBy("doc_id", "v", "w").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    cvw = btf.groupBy("v", "w").agg(F.sum("tf").alias("c")).localCheckpoint(eager=False)
    cv = cvw.groupBy("v").agg(F.sum("c").alias("cv"))
    vocab = (
        docs.select(F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("t"))
        # NOT "V": Spark's resolver is case-insensitive by default, so
        # a column named V is ambiguous with the bigram head column v
        # after the crossJoin
        .agg(F.countDistinct("t").cast("double").alias("vsize"))
    )
    return (
        btf.join(cvw, ["v", "w"])
        .join(cv, "v")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log((F.col("c") + alpha) / (F.col("cv") + alpha * F.col("vsize")))
                )
                / F.sum("tf"),
                ROUND_DP,
            ).alias("logprob"),
        )
    )


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the
    keyword-extraction pass a training-data pipeline uses for topic
    tagging and near-dup triage. tf-idf = (tf / dl) · ln(N / df)
    (length-normalized tf, plain idf — documented variant). Same
    postings + one-row-stats shape as BM25; ranking is per-document
    (window over doc_id), rounded-score ties break lexicographically
    on the term so the cut is deterministic.

    Output: (doc_id, term, tfidf, rank)."""
    postings = doc_term_freqs(docs, "doc_id", "text").localCheckpoint(eager=False)
    df_ = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = postings.select("doc_id", "dl").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        postings.join(df_, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("tf") / F.col("dl")) * F.log(F.col("n_docs") / F.col("df")),
                ROUND_DP,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents per query by BM25 — rank over the scored pairs,
    partitioned by query (no global sort), rounded-score ties broken
    by doc id so the cut is deterministic."""
    scored = bm25_scores(docs, queries, doc_id, text_col)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(doc_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def tfidf_cosine_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """TF-IDF cosine similarity for CANDIDATE PAIRS (Cohen 1998's
    record-linkage string metric): each document is a tf·idf vector
    (idf = ln((N+1)/(df+1)) + 1, the smoothed sklearn form, so a
    term in every document still carries weight > 0) and a pair's
    score is the cosine of its two vectors — rare shared tokens
    dominate, boilerplate tokens contribute ~nothing. The classic
    complement to edit-distance scorers for long, token-rich fields.

    Scale posture: weights are one explode + hash agg; the pair score
    is an inverted-index-style SHARED-TOKEN equi-join (pair × its own
    tokens only — never all tokens of the corpus); norms are one agg
    joined per side. Pairs sharing no token score 0 (kept, not
    dropped — a no-overlap candidate is a decision downstream code
    must see).

    Output: id_a, id_b, tfidf_cosine (rounded).
    """
    toks = docs.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("tok"),
    )
    tf = toks.groupBy("_id", "tok").agg(
        F.count(F.lit(1)).alias("_tf")
    ).localCheckpoint(eager=False)
    n_docs = docs.select(F.countDistinct("doc_id").alias("_n"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    w = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id", "tok",
            (
                F.col("_tf")
                * (F.log((F.col("_n") + 1) / (F.col("_df") + 1)) + 1)
            ).alias("_w"),
        )
    )
    # w feeds the two pair sides AND the norms — pin it
    w = w.localCheckpoint(eager=False)
    norms = w.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_nm")
    ).localCheckpoint(eager=False)
    wa = w.select(F.col("_id").alias("id_a"), "tok", F.col("_w").alias("_wa"))
    wb = w.select(F.col("_id").alias("id_b"), "tok", F.col("_w").alias("_wb"))
    dots = (
        pairs.select("id_a", "id_b")
        .join(wa, "id_a")
        .join(wb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"))
    )
    return (
        pairs.select("id_a", "id_b")
        .join(dots, ["id_a", "id_b"], "left")
        .join(norms.select(F.col("_id").alias("id_a"), F.col("_nm").alias("_na")), "id_a")
        .join(norms.select(F.col("_id").alias("id_b"), F.col("_nm").alias("_nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.coalesce(F.col("_dot"), F.lit(0.0))
                / (F.col("_na") * F.col("_nb")),
                ROUND_DP,
            ).alias("tfidf_cosine"),
        )
    )

"""Remaining operator-family queries: redirect detection, whole-word
containment, wiki-anchor mention extraction (native path), pairwise-F1
metric arithmetic, array truncation — each with a DuckDB oracle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tempel_spark.functions.text import detect_redirect, whole_word_contains
from tempel_spark.plans.testdata_queries import register, t


@register(
    "q_redirect_detect",
    r"""
    SELECT doc_id,
           coalesce(regexp_extract('#REDIRECT [[' || source || ']] ' || text,
                                   '(?i)^\s*#\s*REDIRECT\s*\[\[(.*?)\]\]', 1), '') AS redirect_target
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def q_redirect_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: `#REDIRECT [[Target]]` detection (s02_redirect_detector.py:
    46-88); redirect pages synthesized from doc source names."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    page = F.concat(F.lit("#REDIRECT [["), F.col("source"), F.lit("]] "), F.col("text"))
    return d.select("doc_id", detect_redirect(page).alias("redirect_target"))


@register(
    "q_whole_word_contains",
    r"""
    SELECT p_partkey,
           regexp_matches(lower(p_name),
                          '(^| )' || lower(split_part(p_type, ' ', 3)) || '( |,|$)') AS has_word
    FROM part WHERE split_part(p_type, ' ', 3) <> ''
    """,
)
def q_whole_word_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: whole-word containment (`one_string_in_another`,
    s02_alias_table_generator.py:29-47) — does the part type's material
    word appear as a whole word in the part name."""
    p = t(spark, sf_dir, "part")
    word = F.split_part(F.col("p_type"), F.lit(" "), F.lit(3))
    return p.filter(word != "").select(
        "p_partkey", whole_word_contains(F.lower(word), F.lower(F.col("p_name"))).alias("has_word")
    )


@register(
    "q_mention_extract_wiki",
    r"""
    WITH marked AS (
      SELECT doc_id,
             'intro [[' || source || '|' || lang || ']] mid [[Topic ' || (doc_id % 5)::varchar || ']] end' AS wt
      FROM documents)
    SELECT split_part(anchor, '|', 1) AS target_raw,
           CASE WHEN contains(anchor, '|') THEN split_part(anchor, '|', 2) ELSE anchor END AS mention_raw,
           count(*) AS n
    FROM (SELECT doc_id, unnest(regexp_extract_all(wt, '\[\[(.*?)\]\]', 1)) AS anchor FROM marked)
    GROUP BY 1, 2
    """,
)
def q_mention_extract_wiki(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 raw anchor split: `[[target|mention]]` anchors built onto the
    documents rows, exploded and split at the first two pipe parts
    (s01:209-253), then aggregated. The full rule set is
    functions/mentions.extract_mentions."""
    d = t(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.concat(
            F.lit("intro [["), F.col("source"), F.lit("|"), F.col("lang"),
            F.lit("]] mid [[Topic "), (F.col("doc_id") % 5).cast("string"), F.lit("]] end"),
        ).alias("text"),
    )
    anchor = F.explode(F.regexp_extract_all("text", F.lit(r"\[\[(.*?)\]\]"), 1)).alias("anchor")
    parts = F.split("anchor", r"\|")
    # F.get (not getItem): null for a missing pipe part instead of an
    # out-of-bounds error under ANSI mode
    ext = marked.select(anchor).select(
        F.get(parts, 0).alias("target_raw"),
        F.coalesce(F.get(parts, 1), F.get(parts, 0)).alias("mention_raw"),
    )
    return ext.groupBy("target_raw", "mention_raw").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_pairwise_f1",
    """
    WITH labeled AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS pred_cluster,
             lang AS gold_label
      FROM documents),
    cont AS (SELECT pred_cluster, gold_label, count(*) AS n FROM labeled GROUP BY 1, 2),
    tp AS (SELECT sum(n * (n - 1) / 2.0) AS tp FROM cont),
    pp AS (SELECT sum(n * (n - 1) / 2.0) AS pred_pairs
           FROM (SELECT pred_cluster, count(*) AS n FROM labeled GROUP BY 1)),
    gp AS (SELECT sum(n * (n - 1) / 2.0) AS gold_pairs
           FROM (SELECT gold_label, count(*) AS n FROM labeled GROUP BY 1))
    SELECT round(tp, 4) AS tp, round(pred_pairs, 4) AS pred_pairs,
           round(gold_pairs, 4) AS gold_pairs,
           round(tp / pred_pairs, 6) AS precision,
           round(tp / gold_pairs, 6) AS recall,
           round(2 * (tp / pred_pairs) * (tp / gold_pairs)
                 / ((tp / pred_pairs) + (tp / gold_pairs)), 6) AS f1
    FROM tp, pp, gp
    """,
)
def q_pairwise_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE.json headline metric as an oracle-checked query:
    pairwise P/R/F1 from contingency n-choose-2 arithmetic
    (operators/metrics.pairwise_f1), with first-2-words blocks as the
    'prediction' and lang as the 'gold'."""
    from tempel_spark.operators.metrics import pairwise_f1

    d = t(spark, sf_dir, "documents")
    labeled = d.select(
        F.col("doc_id").alias("node"),
        F.array_join(F.slice(F.split("text", " "), 1, 2), " ").alias("component"),
        F.col("lang").alias("gold_entity_id"),
    )
    out = pairwise_f1(
        labeled.select("node", "component"),
        labeled.select("node", "gold_entity_id"),
    )
    return out.select(
        F.round("tp", 4).alias("tp"),
        F.round("pred_pairs", 4).alias("pred_pairs"),
        F.round("gold_pairs", 4).alias("gold_pairs"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


@register(
    "q_array_truncate",
    """
    SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ') AS first_10_words,
           len(string_split(text, ' ')) AS n_words
    FROM documents WHERE doc_id < 50
    """,
)
def q_array_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: truncation to a token budget (reference context clipping,
    s03:1220-1226) via native array slice."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 10), " ").alias("first_10_words"),
        F.size(F.split("text", " ")).alias("n_words"),
    )


@register(
    "q_time_window_agg",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_time_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation — the Structured-Streaming
    window shape (F.window) run in batch; in streaming mode the same
    plan takes a watermark for late data. The reference has no
    streaming ops (SURVEY §2.10); this is the engine's added
    capability."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "q_rollup",
    """
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup totals (GROUPING SETS family) — beyond the
    reference's pivots (A9), subtotals + grand total in one pass."""
    o = t(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")
    )


@register(
    "q_er_scored_pairs",
    """
    WITH keyed AS (
      SELECT doc_id,
             trim(regexp_replace(lower(translate(substr(text, 1, 30), '_', ' ')), ' +', ' ', 'g')) AS norm,
             array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS block_key
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.norm AS na, b.norm AS nb
      FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(levenshtein(na, nb)::double / greatest(length(na), length(nb), 1), 6) AS ratio_edit_distance,
           round(len(list_intersect(string_split(na, ' '), string_split(nb, ' ')))::double
                 / greatest(len(list_distinct(list_concat(string_split(na, ' '), string_split(nb, ' ')))), 1), 6) AS jaccard,
           round(jaro_winkler_similarity(na, nb), 6) AS jaro_winkler,
           round(0.45 * jaro_winkler_similarity(na, nb)
                 + 0.30 * (1 - levenshtein(na, nb)::double / greatest(length(na), length(nb), 1))
                 + 0.25 * len(list_intersect(string_split(na, ' '), string_split(nb, ' ')))::double
                        / greatest(len(list_distinct(list_concat(string_split(na, ' '), string_split(nb, ' ')))), 1), 6) AS score
    FROM pairs
    """,
)
def q_er_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pairwise scorer oracle-checked — Jaro-Winkler (Arrow
    pandas UDF) + levenshtein ratio + token jaccard + the weighted
    score, value-matched against DuckDB's jaro_winkler_similarity on
    blocked document pairs. This pins the scoring stage of the ER
    pipeline (Phase 3) to an independent implementation."""
    from tempel_spark.functions.text import normalize_mention
    from tempel_spark.operators.scoring import score_pairs

    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        normalize_mention(F.substring("text", 1, 30)).alias("norm"),
        F.array_join(F.slice(F.split("text", " "), 1, 2), " ").alias("block_key"),
    )
    a = keyed.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("norm_a"), "block_key")
    b = keyed.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("norm_b"), "block_key")
    pairs = a.join(b, "block_key").filter(F.col("id_a") < F.col("id_b"))
    scored = score_pairs(pairs)
    return scored.select(
        "id_a", "id_b",
        F.round("ratio_edit_distance", 6).alias("ratio_edit_distance"),
        F.round("jaccard", 6).alias("jaccard"),
        F.round("jaro_winkler", 6).alias("jaro_winkler"),
        F.round("score", 6).alias("score"),
    )


@register(
    "q_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_n
      FROM g)
    SELECT user_id, CAST(session_n AS BIGINT) AS session_n, count(*) AS n_events
    FROM s GROUP BY user_id, session_n
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running sum
    of session starts — the batch twin of a stateful streaming
    session-window operator. Groups events per (user, session)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("_ns", new_sess)
        .withColumn("session_n", F.sum("_ns").over(wc))
        .groupBy("user_id", "session_n")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "q_keyword_typing",
    """
    SELECT CASE
             WHEN regexp_matches(p_name, '(red|crimson|rose)') THEN 'REDDISH'
             WHEN regexp_matches(p_name, '(blue|navy|azure)') THEN 'BLUISH'
             WHEN length(p_name) > 30 THEN 'LONG_NAME'
             ELSE 'OTHER'
           END AS part_kind,
           count(*) AS n,
           round(avg(p_retailprice), 6) AS avg_price
    FROM part GROUP BY 1
    """,
)
def q_keyword_typing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: keyword/heuristic type classification (reference
    recurring/covid title typing, s07_analyze_results_specific_year_v2
    .py:413-440) as a when-chain over regex hits."""
    p = t(spark, sf_dir, "part")
    kind = (
        F.when(F.col("p_name").rlike("(red|crimson|rose)"), "REDDISH")
        .when(F.col("p_name").rlike("(blue|navy|azure)"), "BLUISH")
        .when(F.length("p_name") > 30, "LONG_NAME")
        .otherwise("OTHER")
    )
    return p.groupBy(kind.alias("part_kind")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("p_retailprice"), 6).alias("avg_price")
    )


@register(
    "q_nunique_per_target",
    """
    SELECT o_custkey AS entity_id,
           count(DISTINCT o_orderpriority) AS n_distinct_mentions,
           count(DISTINCT year(o_orderdate)) AS n_distinct_years
    FROM orders GROUP BY o_custkey
    """,
)
def q_nunique_per_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: nunique of mentions/subsets per target entity
    (s03:189-194,326-327) — multi-distinct in one aggregate."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("entity_id")).agg(
        F.countDistinct("o_orderpriority").alias("n_distinct_mentions"),
        F.countDistinct(F.year("o_orderdate")).alias("n_distinct_years"),
    )


@register(
    "q_salted_hot_blocks",
    """
    WITH sized AS (
      SELECT event_type, event_id,
             count(*) OVER (PARTITION BY event_type) AS block_size
      FROM events)
    SELECT CASE WHEN block_size > 500
                THEN event_type || '#' ||
                     (('0x' || substr(md5('salt:' || event_id::varchar), 1, 15))::bigint % 8)::varchar
                ELSE event_type END AS salted_key,
           count(*) AS n
    FROM sized GROUP BY 1
    """,
)
def q_salted_hot_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting census (north_rule skew lever, SURVEY §4 item 1):
    keys above the hot threshold fan out into 8 salted sub-keys via an
    md5-derived deterministic salt; cold keys pass through."""
    from tempel_spark.operators.blocking import salt_blocks

    e = t(spark, sf_dir, "events")
    return (
        salt_blocks(e, "event_type", "event_id")
        .groupBy("salted_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_temporal_flux",
    """
    WITH cm AS (
      SELECT DISTINCT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS mi
      FROM orders),
    a AS (SELECT o_custkey, mi, 1 AS cur FROM cm),
    b AS (SELECT o_custkey, mi + 1 AS mi, 1 AS prev FROM cm),
    j AS (
      SELECT coalesce(a.mi, b.mi) AS mi, a.cur, b.prev
      FROM a FULL JOIN b ON a.o_custkey = b.o_custkey AND a.mi = b.mi)
    SELECT CAST(mi AS BIGINT) AS month_idx,
           count(cur) AS n_active,
           count(CASE WHEN cur IS NOT NULL AND prev IS NULL THEN 1 END) AS n_new,
           count(CASE WHEN cur IS NOT NULL AND prev IS NOT NULL THEN 1 END) AS n_continuing,
           count(CASE WHEN cur IS NULL AND prev IS NOT NULL THEN 1 END) AS n_churned
    FROM j GROUP BY mi
    """,
)
def q_temporal_flux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal entity flux between adjacent cuts — the operator shape
    behind TempEL's continual/new-entity accounting per snapshot pair
    (reference s03_final_dataset_creator.py:268-340 categorizes
    entities as continual vs new per temporal cut; the dataset-creator
    plan reuses this for its NEW-entities subset). On testdata:
    distinct (customer, month) memberships self-joined against the
    shifted previous month — one full outer join keyed on the entity,
    then a single aggregation; no window over the whole timeline, so
    it scales to arbitrarily many cuts and 10^9 entities (shuffle is
    by (entity, month), never a global sort)."""
    o = t(spark, sf_dir, "orders")
    cm = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi"),
    ).distinct()
    a = cm.withColumn("cur", F.lit(1))
    b = cm.select("o_custkey", (F.col("mi") + 1).alias("mi")).withColumn("prev", F.lit(1))
    j = a.join(b, ["o_custkey", "mi"], "full")
    return j.groupBy(F.col("mi").cast("long").alias("month_idx")).agg(
        F.count("cur").alias("n_active"),
        F.count(F.when(F.col("cur").isNotNull() & F.col("prev").isNull(), 1)).alias("n_new"),
        F.count(F.when(F.col("cur").isNotNull() & F.col("prev").isNotNull(), 1)).alias("n_continuing"),
        F.count(F.when(F.col("cur").isNull() & F.col("prev").isNotNull(), 1)).alias("n_churned"),
    )


@register(
    "q_clean_wikitext",
    r"""
    WITH base AS (
      SELECT doc_id,
             '{{infobox|x={{nested|y=1}}|z=2}} intro <!-- hidden --> '
             || '<ref name="a">cite</ref> ' || chr(39)||chr(39)||chr(39)
             || substr(text, 1, 40) || chr(39)||chr(39)||chr(39)
             || ' a&nbsp;gap {{convert|5|km|mi}} near {{convert|100|km|mi|abbr=on}}'
             || ' {{convert|10000|m|ft}} deep {{convert|15|ft|m|spell=in}} tall'
             || ' {{convert|10|mi|km|adj=mid|-long}} route {{convert|20|kn|km/h}}'
             || ' {{convert|500|kcal|kJ}} burn {{convert|1.5|GW|hp}} output'
             || ' {{convert|250|Nm|lbft}} torque {{convert|30|mpgUS|L/100 km}} thirst'
             || ' {{convert|15|ktTNT}} yield'
             || ' at {{convert|37|C|F}} word {{IAST|saMskRta}} {{nowrap|no break}}'
             || ' {{chem|H|2|O}} {{SubatomicParticle|Electron}} {{CO2}}'
             || ' [[File:pic.jpg|thumb|a [[b]] c]] {| rows |} <b>tag</b> tail'
             || ' ==References== dropped'
             AS s
      FROM documents WHERE doc_id % 5 = 0),
    c0 AS (SELECT doc_id, replace(s, '&nbsp;', ' ') AS s FROM base),
    c1 AS (SELECT doc_id, regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM c0),
    c2 AS (SELECT doc_id, regexp_replace(s, '(?si)<ref[^>/]*/>|<ref[^>]*>.*?</ref>', ' ', 'g') AS s FROM c1),
    c3 AS (SELECT doc_id, regexp_replace(s, '(?si)==\s*(References|External links|See also)\s*==.*$', ' ', 'g') AS s FROM c2),
    c4 AS (SELECT doc_id, regexp_replace(s, '(?i)\[\[(?:File|Image):[^\[\]]*(?:\[\[[^\[\]]*\]\][^\[\]]*)*\]\]', ' ', 'g') AS s FROM c3),
    -- convert-family expansion: the engine's offline dictionary
    -- (functions/wikitemplates.py), materialized here as the same
    -- template→text mapping (convert/particle splice ' '+expansion,
    -- inline rules keep inner text in place — cleaning.py:72-170)
    cx AS (SELECT doc_id,
             replace(replace(replace(
             replace(replace(replace(replace(replace(replace(replace(replace(
             replace(replace(replace(replace(replace(replace(s,
               '{{convert|5|km|mi}}', ' 5 kilometres (3.1 mi)'),
               '{{convert|100|km|mi|abbr=on}}', ' 100 km (62 mi)'),
               '{{convert|10000|m|ft}}', ' 10,000 metres (33,000 ft)'),
               '{{convert|15|ft|m|spell=in}}', ' fifteen feet (4.6 m)'),
               '{{convert|10|mi|km|adj=mid|-long}}', ' 10-mile-long (16 km)'),
               '{{convert|20|kn|km/h}}', ' 20 knots (37 km/h)'),
               '{{convert|500|kcal|kJ}}', ' 500 kilocalories (2,100 kJ)'),
               '{{convert|1.5|GW|hp}}', ' 1.5 gigawatts (2,000,000 hp)'),
               '{{convert|250|Nm|lbft}}', ' 250 newton-metres (180 lb⋅ft)'),
               '{{convert|30|mpgUS|L/100 km}}', ' 30 miles per US gallon (7.8 L/100 km)'),
               '{{convert|15|ktTNT}}', ' 15 kilotons of TNT (63 TJ)'),
               '{{convert|37|C|F}}', ' 37 °C (99 °F)'),
               '{{SubatomicParticle|Electron}}', ' e−'),
               '{{IAST|saMskRta}}', 'saMskRta'),
               '{{nowrap|no break}}', 'no break'),
               '{{chem|H|2|O}}', 'H2O'),
               '{{CO2}}', 'CO2') AS s FROM c4),
    -- innermost-first template removal; the fixture nests depth 2, so
    -- three passes reach the fixed point (the engine's depth scan
    -- handles arbitrary depth)
    t1 AS (SELECT doc_id, regexp_replace(s, '\{\{[^{}]*\}\}', '', 'g') AS s FROM cx),
    t2 AS (SELECT doc_id, regexp_replace(s, '\{\{[^{}]*\}\}', '', 'g') AS s FROM t1),
    t3 AS (SELECT doc_id, regexp_replace(s, '\{\{[^{}]*\}\}', '', 'g') AS s FROM t2),
    c5 AS (SELECT doc_id, regexp_replace(s, '(?s)\{\|.*?\|\}', ' ', 'g') AS s FROM t3),
    c6 AS (SELECT doc_id, regexp_replace(s, '<[^>]+>', ' ', 'g') AS s FROM c5),
    c7 AS (SELECT doc_id, replace(replace(s, repeat(chr(39), 3), ''), repeat(chr(39), 2), '') AS s FROM c6)
    SELECT doc_id, trim(regexp_replace(s, '[ \t]+', ' ', 'g')) AS cleaned
    FROM c7
    """,
)
def q_clean_wikitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3 gross+fine wikitext clean, value-checked end to end:
    deterministic markup (nested templates, comments, refs, file links
    with nested brackets, tables, html, bold/italic quotes, a cut
    heading, and the convert-family templates the reference EXPANDS
    rather than strips — {{convert}}, {{IAST}}, {{nowrap}}, {{chem}},
    {{SubatomicParticle}}, bare {{CO2}}-style) wrapped around document
    text, pushed through the Arrow cleaner (reference
    misc/cleaning.py:38-195 + recursive_cleaning.py +
    compiled_regexes.py:3-9) and matched against a step-by-step DuckDB
    replication of the same chain, expansion dictionary included."""
    from tempel_spark.functions.text import clean_wikitext_udf

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    q3 = "'''"
    marked = F.concat(
        F.lit('{{infobox|x={{nested|y=1}}|z=2}} intro <!-- hidden --> '),
        F.lit('<ref name="a">cite</ref> '), F.lit(q3),
        F.substring("text", 1, 40), F.lit(q3),
        F.lit(" a&nbsp;gap {{convert|5|km|mi}} near {{convert|100|km|mi|abbr=on}}"),
        F.lit(" {{convert|10000|m|ft}} deep {{convert|15|ft|m|spell=in}} tall"),
        F.lit(" {{convert|10|mi|km|adj=mid|-long}} route {{convert|20|kn|km/h}}"),
        F.lit(" {{convert|500|kcal|kJ}} burn {{convert|1.5|GW|hp}} output"),
        F.lit(" {{convert|250|Nm|lbft}} torque {{convert|30|mpgUS|L/100 km}} thirst"),
        F.lit(" {{convert|15|ktTNT}} yield"),
        F.lit(" at {{convert|37|C|F}} word {{IAST|saMskRta}} {{nowrap|no break}}"),
        F.lit(" {{chem|H|2|O}} {{SubatomicParticle|Electron}} {{CO2}}"),
        F.lit(" [[File:pic.jpg|thumb|a [[b]] c]] {| rows |} <b>tag</b> tail"),
        F.lit(" ==References== dropped"),
    )
    return d.select("doc_id", clean_wikitext_udf(marked).alias("cleaned"))




def _insert_lines(df, key_col, tup, table, n_groups):
    r"""Deterministic multi-tuple dump lines: per-row tuple strings
    grouped into `INSERT INTO \`table\` VALUES (...),(...);` lines
    (key % n_groups per line, key-ordered within the line)."""
    return (
        df.groupBy((F.col(key_col) % n_groups).alias("_g"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col(key_col).alias("k"), tup.alias("tup")))),
                    lambda s: s["tup"],
                ),
                ",",
            ).alias("_body")
        )
        .select(F.concat(F.lit(f"INSERT INTO `{table}` VALUES "), F.col("_body"), F.lit(";")).alias("value"))
    )


@register(
    "q_sql_dump_page_props",
    """
    SELECT n_nationkey + 100 AS page_id, 'Q' || n_nationkey AS qid
    FROM nation
    """,
)
def q_sql_dump_page_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 typed: the reference's page_props parser
    (load_wiki_sql_tables.py:25-59 — keep property='wikibase_item',
    page_id→int, value=QID) checked as a ROUND TRIP: dump INSERT
    lines are BUILT from the nation table (multi-tuple lines, decoy
    'displaytitle' rows, NULL sortkeys), pushed through the typed
    parser, and must invert exactly to the oracle's direct
    projection."""
    from tempel_spark.sources.wiki_sql import parse_page_props_lines

    n = t(spark, sf_dir, "nation")
    tup = F.format_string(
        "(%s,'wikibase_item','Q%s',NULL),(%s,'displaytitle','<i>%s</i>',NULL)",
        (F.col("n_nationkey") + 100).cast("string"),
        F.col("n_nationkey").cast("string"),
        (F.col("n_nationkey") + 100).cast("string"),
        F.col("n_name"),
    )
    lines = _insert_lines(n, "n_nationkey", tup, "page_props", 5)
    return parse_page_props_lines(lines).select(
        "page_id", "qid"
    )


@register(
    "q_sql_dump_redirect",
    """
    WITH pages AS (
      SELECT n_nationkey + 100 AS page_id, n_name || '''s_page' AS title
      FROM nation WHERE n_nationkey % 5 <> 4),
    reds AS (
      SELECT n1.n_nationkey + 500 AS page_id_from, n2.n_name || '''s_page' AS title_to
      FROM nation n1 JOIN nation n2 ON n2.n_nationkey = (n1.n_nationkey + 7) % 25
      WHERE n1.n_nationkey % 3 <> 2)
    SELECT r.page_id_from, p.page_id AS page_id_to, r.title_to
    FROM reds r JOIN pages p ON p.title = r.title_to
    """,
)
def q_sql_dump_redirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 typed: the reference's page + redirect parsers
    (load_wiki_sql_tables.py:85-131,155-211 — namespace-0 filters,
    ``\\'`` title unquoting, title→page_id dict resolution as an
    equi-join) round-tripped: page and redirect dump lines are built
    from nation (titles contain an escaped quote, namespace decoys on
    both tables, redirect targets pointing at dropped-namespace pages
    vanish through the join) and the typed parse must reproduce the
    oracle's direct relational computation."""
    from tempel_spark.sources.wiki_sql import parse_page_lines, parse_redirect_lines

    n = t(spark, sf_dir, "nation")
    title = F.concat(F.col("n_name"), F.lit("'s_page"))
    esc_title = F.regexp_replace(title, "'", r"\\'")
    page_tup = F.format_string(
        "(%s,%s,'%s','','',0,0,0.5,'20240101000000',NULL,1,1000)",
        (F.col("n_nationkey") + 100).cast("string"),
        F.when(F.col("n_nationkey") % 5 == 4, F.lit(6)).otherwise(F.lit(0)).cast("string"),
        esc_title,
    )
    page_lines = _insert_lines(n, "n_nationkey", page_tup, "page", 4)

    tgt = n.select(
        F.col("n_nationkey").alias("_tk"),
        F.regexp_replace(F.concat(F.col("n_name"), F.lit("'s_page")), "'", r"\\'").alias("_t_esc"),
    )
    red_src = n.join(tgt, ((F.col("n_nationkey") + 7) % 25) == F.col("_tk"))
    red_tup = F.format_string(
        "(%s,%s,'%s','','')",
        (F.col("n_nationkey") + 500).cast("string"),
        F.when(F.col("n_nationkey") % 3 == 2, F.lit(1)).otherwise(F.lit(0)).cast("string"),
        F.col("_t_esc"),
    )
    red_lines = _insert_lines(red_src, "n_nationkey", red_tup, "redirect", 4)
    page = parse_page_lines(page_lines)
    return parse_redirect_lines(red_lines, page).select("page_id_from", "page_id_to", "title_to")


@register(
    "q_paper_stats_matrix",
    """
    WITH preds AS (
      SELECT o_orderkey AS mention_id,
             CASE WHEN o_orderkey % 2 = 0 THEN 'shared' ELSE 'new_entities' END AS category,
             CASE WHEN o_orderkey % 7 = 0 THEN 'validation' ELSE 'test' END AS subset,
             2013 + o_custkey % 3 AS train_year,
             2013 + o_orderkey % 3 AS test_year,
             i,
             (o_orderkey % 50) + 7 * (i % 2) AS score,
             (i = o_orderkey % 5) AS correct
      FROM orders CROSS JOIN range(4) AS t(i)),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY category, train_year, test_year, mention_id
               ORDER BY score DESC, correct ASC) AS rnk
      FROM preds WHERE subset = 'test'),
    perq AS (
      SELECT category, train_year, test_year, mention_id,
             min(CASE WHEN correct THEN rnk END) AS gold_rank
      FROM ranked GROUP BY 1, 2, 3, 4)
    SELECT category, train_year,
           round(avg(CASE WHEN test_year = 2013 THEN
                 CASE WHEN gold_rank <= 64 THEN 1 ELSE 0 END END), 6) AS y2013,
           round(avg(CASE WHEN test_year = 2014 THEN
                 CASE WHEN gold_rank <= 64 THEN 1 ELSE 0 END END), 6) AS y2014,
           round(avg(CASE WHEN test_year = 2015 THEN
                 CASE WHEN gold_rank <= 64 THEN 1 ELSE 0 END END), 6) AS y2015
    FROM perq GROUP BY 1, 2
    """,
)
def q_paper_stats_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+A11 composed end to end — the s08 paper-stats report
    (VERDICT r2 #4): fixture predictions built from orders (4 scored
    candidates per mention with deterministic tied scores, a gold at
    position orderkey%5 — absent when %5 = 4, i.e. real misses — and
    validation-subset decoys), pushed through
    metrics.paper_stats_matrix: test-filter → micro-averaged acc@64
    per (category, train_year, test_year) → train-year × test-year
    pivot per category, the paper's Table-2 layout
    (s08_all_paper_stats.py:249-365,504-526, misc_utils.py:209-242)."""
    from tempel_spark.operators.metrics import paper_stats_matrix

    o = t(spark, sf_dir, "orders")
    preds = o.select(
        F.col("o_orderkey").alias("mention_id"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("shared"))
        .otherwise(F.lit("new_entities")).alias("category"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("validation"))
        .otherwise(F.lit("test")).alias("subset"),
        (F.lit(2013) + F.col("o_custkey") % 3).alias("train_year"),
        (F.lit(2013) + F.col("o_orderkey") % 3).alias("test_year"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
    ).select(
        "mention_id", "category", "subset", "train_year", "test_year",
        ((F.col("mention_id") % 50) + 7 * (F.col("i") % 2)).alias("score"),
        (F.col("i") == F.col("mention_id") % 5).alias("correct"),
    )
    return paper_stats_matrix(preds, years=[2013, 2014, 2015])


@register(
    "q_candidate_similarity",
    """
    WITH cand AS (
      SELECT doc_id // 5 AS mention_id, doc_id % 5 AS rnk,
             string_split(text, ' ') AS toks_raw,
             (doc_id // 5) % 2 AS cut, (doc_id // 5) % 3 AS finetune_cut
      FROM documents),
    m AS (SELECT *, min(len(toks_raw)) OVER (PARTITION BY mention_id, cut, finetune_cut) AS ml FROM cand),
    tk AS (SELECT mention_id, rnk, cut, finetune_cut,
                  list_distinct(list_slice(toks_raw, 1, ml)) AS toks FROM m),
    pr AS (SELECT *, lag(toks) OVER (PARTITION BY mention_id, cut, finetune_cut ORDER BY rnk) AS prev FROM tk),
    j AS (SELECT mention_id, cut, finetune_cut,
                 CAST(len(list_intersect(toks, prev)) AS DOUBLE)
                   / len(list_distinct(list_concat(toks, prev))) AS jac
          FROM pr WHERE prev IS NOT NULL),
    pm AS (SELECT mention_id, cut, finetune_cut, avg(jac) AS aj FROM j GROUP BY 1, 2, 3),
    micro AS (SELECT cut, round(avg(aj), 6) AS jaccard_micro, count(*) AS n_mentions
              FROM pm GROUP BY 1),
    mac AS (SELECT cut, round(avg(ajf), 6) AS jaccard_macro
            FROM (SELECT cut, finetune_cut, avg(aj) AS ajf FROM pm GROUP BY 1, 2) GROUP BY 1)
    SELECT micro.cut, jaccard_micro, jaccard_macro, n_mentions
    FROM micro JOIN mac USING (cut)
    """,
)
def q_candidate_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17+A12 composed — the s07 candidate-similarity report
    (VERDICT r2 Missing #4): consecutive-candidate token-set Jaccard
    with min-length truncation, micro/macro averaged per cut
    (s07_analyze_similarity_of_predicted_candidates.py:165-228), over
    a ranked-candidate fixture derived from documents (5 candidates
    per synthetic mention)."""
    from tempel_spark.operators.metrics import candidate_similarity_by_cut

    d = t(spark, sf_dir, "documents")
    cand = d.select(
        F.floor(F.col("doc_id") / 5).cast("long").alias("mention_id"),
        (F.col("doc_id") % 5).alias("rank"),
        F.col("text").alias("cand_text"),
    ).withColumn("cut", (F.col("mention_id") % 2).cast("long")).withColumn(
        "finetune_cut", (F.col("mention_id") % 3).cast("long")
    )
    return candidate_similarity_by_cut(cand)


@register(
    "q_sentence_chunks",
    """
    WITH RECURSIVE
    base AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, ' '),
                                        w -> regexp_replace(w, '[^A-Za-z0-9]', '', 'g')),
                         w -> w <> '') AS toks
      FROM documents WHERE doc_id % 3 = 0),
    ok AS (SELECT doc_id, list_slice(toks, 1, 9) AS t FROM base WHERE len(toks) >= 9),
    sents AS (
      SELECT doc_id, 1 AS i, array_to_string(list_slice(t, 1, 2), ' ') || '.' AS sent FROM ok
      UNION ALL
      SELECT doc_id, 2, array_to_string(list_slice(t, 3, 5), ' ') || '.' FROM ok
      UNION ALL
      SELECT doc_id, 3, array_to_string(list_slice(t, 6, 9), ' ') || '.' FROM ok),
    sw AS (SELECT doc_id, i, sent, len(string_split(sent, ' ')) AS words FROM sents),
    -- the greedy budget-packing fold as a recursive CTE: one step per
    -- sentence, counter resets when the budget (5 words) would overflow
    rec AS (
      SELECT doc_id, i, sent, words, 1 AS chunk_id, words AS cnt
      FROM sw WHERE i = 1
      UNION ALL
      SELECT s.doc_id, s.i, s.sent, s.words,
             CASE WHEN r.cnt + s.words > 5 THEN r.chunk_id + 1 ELSE r.chunk_id END,
             CASE WHEN r.cnt + s.words > 5 THEN s.words ELSE r.cnt + s.words END
      FROM rec r JOIN sw s ON s.doc_id = r.doc_id AND s.i = r.i + 1)
    SELECT doc_id, chunk_id - 1 AS chunk_idx,
           string_agg(sent, ' ' ORDER BY i) AS chunk
    FROM rec GROUP BY doc_id, chunk_id
    """,
)
def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 sentence chunking with a FULL value oracle (was
    pytest-only): deterministic 3-sentence texts (2/3/4 words, built
    from cleaned document tokens) flow through the real splitter
    (lookbehind regex) + greedy budget packer
    (src/models/utils/utils.py:70-127); the DuckDB twin builds the
    same sentences directly — RE2 has no lookbehind — and replays
    the greedy fold as a recursive CTE."""
    from tempel_spark.functions.tokenize import sentence_chunks

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    toks = F.filter(
        F.transform(F.split("text", " "), lambda w: F.regexp_replace(w, "[^A-Za-z0-9]", "")),
        lambda w: w != "",
    )
    d = d.withColumn("_toks", toks).filter(F.size("_toks") >= 9).withColumn(
        "_t", F.slice("_toks", 1, 9)
    )
    text2 = F.concat(
        F.array_join(F.slice("_t", 1, 2), " "), F.lit(". "),
        F.array_join(F.slice("_t", 3, 3), " "), F.lit(". "),
        F.array_join(F.slice("_t", 6, 4), " "), F.lit("."),
    )
    marked = d.select("doc_id", text2.alias("_text"))
    out = sentence_chunks(marked, "_text", max_words=5)
    return out.select("doc_id", "chunk_idx", "chunk")


@register(
    "q_detokenize",
    """
    WITH toks AS (
      SELECT doc_id,
             [list_extract(w, 1), '##' || list_extract(w, 2), list_extract(w, 3),
              '##' || list_extract(w, 4), '##' || list_extract(w, 5)] AS pieces
      FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 5) AS w
            FROM documents WHERE doc_id % 4 = 0)
      WHERE len(w) >= 5)
    SELECT doc_id, replace(array_to_string(pieces, ' '), ' ##', '') AS detok
    FROM toks
    """,
)
def q_detokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 detokenize with a value oracle (was pytest-only):
    WordPiece-style token lists built from document words
    (w1, ##w2, w3, ##w4, ##w5) rejoined by the ##-merge fold
    (reference misc/utils.py:5-13); the SQL twin is the equivalent
    join-then-collapse (' ##' never occurs inside a token, so the
    string replace IS the fold for non-leading pieces)."""
    from tempel_spark.functions.tokenize import detokenize_udf

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    w = F.slice(F.split("text", " "), 1, 5)
    d = d.withColumn("_w", w).filter(F.size("_w") >= 5)
    pieces = F.array(
        F.element_at("_w", 1),
        F.concat(F.lit("##"), F.element_at("_w", 2)),
        F.element_at("_w", 3),
        F.concat(F.lit("##"), F.element_at("_w", 4)),
        F.concat(F.lit("##"), F.element_at("_w", 5)),
    )
    return d.select("doc_id", detokenize_udf(pieces).alias("detok"))


# shared vocab for the WordPiece oracle — single chars guarantee no
# [UNK]; multi-char pieces exercise greedy longest-match-first and
# ##-continuations on the fixture's actual words
_WP_VOCAB = (
    [c for c in "abcdefghijklmnopqrstuvwxyz"]
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz"]
    + ["key", "agg", "sc", "##an", "ta", "##ble", "sm", "##all", "ba",
       "##tch", "fa", "##st", "sl", "##ow", "ro", "##w", "the", "##er",
       "ing", "##ing", "qu", "##ery", "jo", "##in"]
)

_WP_BARE = "CASE WHEN v.piece LIKE '##%' THEN substr(v.piece, 3) ELSE v.piece END"


@register(
    "q_wordpiece",
    f"""
    WITH RECURSIVE
    vocab(piece) AS (VALUES {", ".join(f"('{p}')" for p in _WP_VOCAB)}),
    words AS (
      SELECT doc_id, widx, word FROM (
        SELECT doc_id, generate_subscripts(w, 1) AS widx, unnest(w) AS word
        FROM (SELECT doc_id,
                     list_filter(list_transform(list_slice(string_split(text, ' '), 1, 4),
                                 t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))),
                                 x -> x <> '') AS w
              FROM documents WHERE doc_id % 6 = 0))
      WHERE length(word) <= 50),
    wset AS (SELECT DISTINCT word FROM words),
    -- every (word, pos, piece) match; best = the longest (greedy rule)
    am AS (
      SELECT w.word, p.pos, v.piece, length({_WP_BARE}) AS len
      FROM wset w
      CROSS JOIN range(100) AS p(pos)
      JOIN vocab v ON CASE WHEN p.pos = 0 THEN v.piece NOT LIKE '##%'
                           ELSE v.piece LIKE '##%' END
      WHERE p.pos < length(w.word)
        AND substr(w.word, p.pos::int + 1, length({_WP_BARE})) = {_WP_BARE}),
    best AS (
      SELECT word, pos, piece, len FROM (
        SELECT *, row_number() OVER (PARTITION BY word, pos ORDER BY len DESC, piece) AS rn
        FROM am)
      WHERE rn = 1),
    -- the greedy scan as a path walk over best matches
    rec AS (
      SELECT word, CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS toks FROM wset
      UNION ALL
      SELECT r.word, r.pos + b.len,
             r.toks || CASE WHEN r.toks = '' THEN '' ELSE ' ' END || b.piece
      FROM rec r JOIN best b ON b.word = r.word AND b.pos = r.pos
      WHERE r.pos < length(r.word)),
    done AS (SELECT word, toks FROM rec WHERE pos = length(word))
    SELECT w.doc_id, w.widx, w.word, d.toks
    FROM words w JOIN done d USING (word)
    """,
)
def q_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 WordPiece with a FULL value oracle (was pytest-only): the
    real greedy longest-match-first algorithm
    (functions/tokenize.WordPieceTokenizer, reference role
    s01:404-408 BertTokenizer) over a fixed shared vocabulary; the
    DuckDB twin materializes the best (longest) vocab match per
    (word, position) and replays the greedy scan as a recursive path
    walk — segmentations must agree token-for-token."""
    from tempel_spark.functions.tokenize import WordPieceTokenizer

    tok = WordPieceTokenizer(set(_WP_VOCAB))

    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def wp(words: pd.Series) -> pd.Series:
        return words.map(lambda w: " ".join(tok.tokenize(w)))

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    w = F.filter(
        F.transform(
            F.slice(F.split("text", " "), 1, 4),
            lambda x: F.lower(F.regexp_replace(x, "[^A-Za-z]", "")),
        ),
        lambda x: x != "",
    )
    # both sides bound word length at 50 chars: past the tokenizer's
    # max_chars the UDF emits [UNK] while the oracle's position range
    # runs out — same limit, different encodings, so neither side
    # sees such words (none exist in the fixture data anyway)
    return (
        d.select("doc_id", F.posexplode(w).alias("_p", "word"))
        .select("doc_id", (F.col("_p") + 1).cast("long").alias("widx"), "word")
        .filter(F.length("word") <= 50)
        .withColumn("toks", wp("word"))
    )


@register(
    "q_temporal_offset_delta",
    """
    WITH preds AS (
      SELECT o_orderkey AS mention_id,
             CASE WHEN o_orderkey % 2 = 0 THEN 'shared' ELSE 'new_entities' END AS category,
             2013 + o_custkey % 3 AS train_year,
             2013 + o_orderkey % 3 AS test_year,
             CASE WHEN (o_orderkey * 7) % 97 < 60 - 9 * abs(o_orderkey % 3 - o_custkey % 3)
                  THEN 1 ELSE 0 END AS hit
      FROM orders WHERE o_orderkey % 7 <> 0),
    cell AS (SELECT category, train_year, test_year, avg(hit) AS acc
             FROM preds GROUP BY 1, 2, 3),
    off AS (SELECT category, test_year - train_year AS off_years, avg(acc) AS acc_off
            FROM cell GROUP BY 1, 2),
    base AS (SELECT category, acc_off AS acc0 FROM off WHERE off_years = 0)
    SELECT o.category, o.off_years,
           round(o.acc_off, 6) AS acc_at_offset,
           round(o.acc_off - b.acc0, 6) AS offset_delta
    FROM off o JOIN base b USING (category)
    """,
)
def q_temporal_offset_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-family: the s08 temporal-offset analysis
    (s08_all_paper_stats.py:225-241,316-321) — per category, accuracy
    averaged by (test_year − train_year) offset, reported as the
    delta against the in-snapshot (offset 0) level. Fixture hit-rates
    decay with |offset| so the deltas are non-trivial."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 != 0)
    preds = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("shared"))
        .otherwise(F.lit("new_entities")).alias("category"),
        (F.lit(2013) + F.col("o_custkey") % 3).alias("train_year"),
        (F.lit(2013) + F.col("o_orderkey") % 3).alias("test_year"),
        F.when(
            (F.col("o_orderkey") * 7) % 97
            < 60 - 9 * F.abs(F.col("o_orderkey") % 3 - F.col("o_custkey") % 3),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("hit"),
    )
    cell = preds.groupBy("category", "train_year", "test_year").agg(F.avg("hit").alias("acc"))
    off = cell.groupBy(
        "category", (F.col("test_year") - F.col("train_year")).alias("off_years")
    ).agg(F.avg("acc").alias("acc_off"))
    base = off.filter(F.col("off_years") == 0).select("category", F.col("acc_off").alias("acc0"))
    return off.join(base, "category").select(
        "category", "off_years",
        F.round("acc_off", 6).alias("acc_at_offset"),
        F.round(F.col("acc_off") - F.col("acc0"), 6).alias("offset_delta"),
    )


@register(
    "q_length_bucket_acc",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'shared' ELSE 'new_entities' END AS entity_type,
             n_chars,
             ((doc_id * 31) % 97) / 96.0 AS acc
      FROM documents),
    b AS (SELECT *, ntile(15) OVER (ORDER BY n_chars, doc_id) AS len_bucket FROM d)
    SELECT len_bucket,
           round(avg(CASE WHEN entity_type = 'shared' THEN acc END), 6) AS acc_shared,
           round(avg(CASE WHEN entity_type = 'new_entities' THEN acc END), 6) AS acc_new
    FROM b GROUP BY 1
    """,
)
def q_length_bucket_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8-family: the s08 target-length quantile analysis
    (s08_all_paper_stats.py:244-252 pd.qcut(target_length, 15) →
    per-(type, bucket) mean acc@64 → pivot by type) — rank-based
    15-way bucketing (ntile, deterministic tiebreak) so both engines
    cut identical buckets.

    Scale note: the global ntile window is a single-partition sort —
    acceptable here ONLY because it runs over the evaluation RESULTS
    table (one row per scored mention of the test subset, the same
    analysis-scale frame the reference collects into pandas), never
    over the corpus; at larger result sets switch to approxQuantile
    edges + a when-chain."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("shared"))
        .otherwise(F.lit("new_entities")).alias("entity_type"),
        "n_chars",
        (((F.col("doc_id") * 31) % 97) / 96.0).alias("acc"),
    )
    w = Window.orderBy("n_chars", "doc_id")
    b = d.withColumn("len_bucket", F.ntile(15).over(w))
    return b.groupBy("len_bucket").agg(
        F.round(F.avg(F.when(F.col("entity_type") == "shared", F.col("acc"))), 6).alias("acc_shared"),
        F.round(F.avg(F.when(F.col("entity_type") == "new_entities", F.col("acc"))), 6).alias("acc_new"),
    )


@register(
    "q_sorted_neighborhood",
    """
    WITH ranked AS (
      SELECT p_brand, p_partkey AS id_a, lower(p_name) AS key_a,
             lead(p_partkey, 1) OVER w AS id_b1, lead(lower(p_name), 1) OVER w AS key_b1,
             lead(p_partkey, 2) OVER w AS id_b2, lead(lower(p_name), 2) OVER w AS key_b2
      FROM part
      WINDOW w AS (PARTITION BY p_brand ORDER BY lower(p_name), p_partkey)),
    pairs AS (
      SELECT p_brand, id_a, id_b1 AS id_b, key_a, key_b1 AS key_b FROM ranked WHERE id_b1 IS NOT NULL
      UNION ALL
      SELECT p_brand, id_a, id_b2, key_a, key_b2 FROM ranked WHERE id_b2 IS NOT NULL)
    SELECT p_brand, id_a, id_b, key_a, key_b FROM pairs
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (the classic ER candidate
    generator over the name-sorted order per brand): each record
    pairs with its next SN_WINDOW − 1 = 2 sort neighbors (the oracle's
    two `lead`s), no block-size skew. Complements the equality/LSH
    block families with adjacency-based candidates."""
    from tempel_spark.operators.blocking import sorted_neighborhood_pairs

    p = t(spark, sf_dir, "part")
    return sorted_neighborhood_pairs(
        p, F.lower("p_name"), "p_partkey", group_cols=["p_brand"]
    )


@register(
    "q_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling quantiles per group — exact interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`, both
    linear interpolation), the corpus-profiling shape a training-data
    pipeline runs before filtering (reference analogue: the
    distribution stats of s04_final_dataset_statistics_utils.py).
    At 100 TB swap `F.percentile` for `percentile_approx` and accept
    sketch error; the exact form here keeps the oracle bit-tight."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_strict_majority_vote",
    """
    WITH c AS (SELECT user_id, event_type, COUNT(*) AS n_votes
               FROM events GROUP BY user_id, event_type),
    m AS (SELECT user_id, MAX(n_votes) AS mx FROM c GROUP BY user_id),
    t AS (SELECT c.user_id, COUNT(*) AS n_top
          FROM c JOIN m ON c.user_id = m.user_id AND c.n_votes = m.mx
          GROUP BY c.user_id)
    SELECT c.user_id, c.event_type, c.n_votes
    FROM c
    JOIN m ON c.user_id = m.user_id AND c.n_votes = m.mx
    JOIN t ON c.user_id = t.user_id
    WHERE t.n_top = 1
    """,
)
def q_strict_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-majority vote per group (operators/metrics.py
    strict_majority): the unique argmax event type per user, ties
    abstain — the deterministic decision rule behind the conversation
    co-mention router (context_disambig, one-sense-per-discourse) and
    majority-gold label aggregation. One hash agg + one window over
    the aggregated groups; no self-join, no skew beyond the group
    cardinality."""
    from tempel_spark.operators.metrics import strict_majority

    ev = t(spark, sf_dir, "events")
    return strict_majority(ev, ["user_id"], "event_type")


@register(
    "q_cluster_evolution",
    """
    WITH m AS (
      SELECT year(ts) AS snap_year, user_id, event_type, count(*) AS c
      FROM events GROUP BY snap_year, user_id, event_type),
    asg AS (
      SELECT snap_year, user_id, event_type AS component
      FROM (SELECT *, row_number() OVER (PARTITION BY snap_year, user_id
                                         ORDER BY c DESC, event_type) AS rn
            FROM m) WHERE rn = 1),
    sizes AS (
      SELECT snap_year, component, count(*) AS n_members
      FROM asg GROUP BY snap_year, component),
    adj AS (
      SELECT snap_year AS nxt, lag(snap_year) OVER (ORDER BY snap_year) AS prv
      FROM (SELECT DISTINCT snap_year FROM asg)),
    ov AS (
      SELECT a.snap_year AS s, a.component AS c, p.component AS pc,
             count(*) AS overlap
      FROM asg a
      JOIN adj ON adj.nxt = a.snap_year
      JOIN asg p ON p.snap_year = adj.prv AND p.user_id = a.user_id
      GROUP BY s, c, pc),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY s, c
                                   ORDER BY overlap DESC, pc) AS rn
      FROM ov),
    best AS (SELECT * FROM rk WHERE rn = 1),
    scnd AS (SELECT s, c, pc AS prev_component_2, overlap AS overlap_2
             FROM rk WHERE rn = 2),
    npred AS (SELECT s, c, count(*) AS n_predecessors FROM ov GROUP BY s, c),
    sib AS (SELECT s, pc, count(*) AS n_split_into FROM best GROUP BY s, pc),
    j AS (
      SELECT z.snap_year, z.component, z.n_members,
             b.pc AS prev_component, b.overlap,
             round(b.overlap / (z.n_members + ps.n_members - b.overlap), 6) AS jaccard,
             np.n_predecessors, s2.prev_component_2, s2.overlap_2, sb.n_split_into
      FROM sizes z
      LEFT JOIN best b ON b.s = z.snap_year AND b.c = z.component
      LEFT JOIN adj ON adj.nxt = z.snap_year
      LEFT JOIN sizes ps ON ps.snap_year = adj.prv AND ps.component = b.pc
      LEFT JOIN npred np ON np.s = z.snap_year AND np.c = z.component
      LEFT JOIN scnd s2 ON s2.s = z.snap_year AND s2.c = z.component
      LEFT JOIN sib sb ON sb.s = z.snap_year AND sb.pc = b.pc)
    SELECT snap_year, component, n_members, prev_component, overlap, jaccard,
           CASE WHEN overlap IS NULL THEN 'new'
                WHEN jaccard >= 0.5 THEN 'continual'
                ELSE 'changed' END AS status,
           n_predecessors, prev_component_2, overlap_2, n_split_into
    FROM j
    """,
)
def q_cluster_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal cluster evolution — the reference dataset's
    continual-vs-new entity semantics over consecutive yearly cuts:
    users cluster by their modal event type per year; each year's
    cluster is matched to its best-overlap predecessor and labeled
    new / continual / changed (Jaccard-thresholded). Full transition
    attribution rides along: predecessor count + runner-up (merge
    evidence) and best-predecessor fan-out (split evidence), so a
    split is distinguishable from a shrink."""
    from tempel_spark.operators.clustering import cluster_evolution

    ev = t(spark, sf_dir, "events")
    m = ev.groupBy(
        F.year("ts").alias("snap_year"), "user_id", "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("snap_year", "user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    asg = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("snap_year", F.col("user_id").alias("member"),
                F.col("event_type").alias("component"))
    )
    return cluster_evolution(asg, snapshot_col="snap_year")


@register(
    "q_golden_record",
    """
    WITH j AS (
      SELECT p_partkey AS node, p_brand AS component,
             p_type, p_name, p_size, p_retailprice,
             p_type AS p_type_latest
      FROM part),
    base AS (SELECT component, count(*) AS n_members FROM j GROUP BY component),
    maj AS (
      SELECT component, p_type FROM (
        SELECT component, p_type,
               row_number() OVER (PARTITION BY component
                                  ORDER BY count(*) DESC, p_type) AS rn
        FROM j WHERE p_type IS NOT NULL
        GROUP BY component, p_type)
      WHERE rn = 1),
    lng AS (
      SELECT component, p_name FROM (
        SELECT component, p_name,
               row_number() OVER (PARTITION BY component
                                  ORDER BY length(p_name) DESC, p_name) AS rn
        FROM j WHERE p_name IS NOT NULL)
      WHERE rn = 1),
    lat AS (
      SELECT component, p_type_latest FROM (
        SELECT component, p_type_latest,
               row_number() OVER (PARTITION BY component
                                  ORDER BY p_retailprice DESC, p_type_latest DESC) AS rn
        FROM j WHERE p_type_latest IS NOT NULL)
      WHERE rn = 1),
    ext AS (
      SELECT component, max(p_retailprice) AS p_retailprice,
             min(p_size) AS p_size
      FROM j GROUP BY component)
    SELECT b.component, b.n_members, maj.p_type, lng.p_name,
           lat.p_type_latest, ext.p_retailprice, ext.p_size
    FROM base b
    LEFT JOIN maj USING (component)
    LEFT JOIN lng USING (component)
    LEFT JOIN lat USING (component)
    LEFT JOIN ext USING (component)
    """,
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record fusion (Bleiholder & Naumann 2008):
    collapse each cluster to one canonical record under per-attribute
    rules — majority (most frequent, smallest on ties), longest
    string, latest-by-order-column (max-of-struct tiebreak), plain
    extrema. Parts-per-brand stand in for the entity cluster (retail
    price as the recency axis); every rule is a hash aggregation, no
    window over record-scale data."""
    from tempel_spark.operators.survivorship import golden_record

    pt = t(spark, sf_dir, "part")
    components = pt.select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("component"))
    records = pt.select(
        F.col("p_partkey").alias("node"), "p_type", "p_name", "p_size",
        "p_retailprice", F.col("p_type").alias("p_type_latest"),
    )
    return golden_record(
        components,
        records,
        rules={
            "p_type": "majority",
            "p_name": "longest",
            "p_type_latest": "latest",
            "p_retailprice": "max",
            "p_size": "min",
        },
        ts_col="p_retailprice",
    )


@register(
    "q_shuffle_rank",
    """
    SELECT p_brand,
           row_number() OVER (
             ORDER BY ('0x' || substr(md5('u42:' || p_brand), 1, 15))::bigint,
                      p_brand) AS shuffle_rank
    FROM (SELECT DISTINCT p_brand FROM part)
    """,
)
def q_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 deterministic group shuffle, MATERIALIZED: the permutation
    of the 25 part brands under the engine-portable md5 sort key —
    the shuffle order itself is value-checked (an order-insensitive
    row hash cannot observe a reordering of rows; this query emits the
    order as data)."""
    from tempel_spark.operators.balance import shuffle_rank

    return shuffle_rank(t(spark, sf_dir, "part"), "p_brand")


@register(
    "q_strip_quotes",
    """
    SELECT doc_id,
           regexp_replace(
             repeat(chr(39), 3) || substr(text, 1, 30)
               || repeat(chr(39), 2) || ' it' || chr(39) || 's bold',
             chr(39) || '+', '', 'g') AS cleaned
    FROM documents
    """,
)
def q_strip_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 quote stripping as its own oracle row (previously pinned
    only inside the cleaner chain): wiki bold/italic quote runs are
    removed wherever they appear — the fixture wraps real corpus text
    in ''' / '' runs plus an embedded apostrophe."""
    from tempel_spark.functions.text import strip_quotes

    d = t(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit("'''"), F.substring("text", 1, 30), F.lit("'' it's bold")
    )
    return d.select("doc_id", strip_quotes(wrapped).alias("cleaned"))

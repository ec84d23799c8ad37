"""Deterministic synthetic `transcripts` corpus (BASELINE.json input_hint).

Schema (exact): conv_id string, turn_idx int32, role string,
text string, tool string, ts timestamp.

Properties (FIXTURES.md §1):
- Zipf(s≈1) entity popularity → hot blocking keys exercise the
  skew/salting path (reference sidesteps skew with per-entity caps,
  s03_final_dataset_creator.py:491-501; we must handle it natively).
- Mention surface forms = canonical name ± case changes / token drops /
  typos, so Levenshtein / Jaro-Winkler scoring and the must-link
  threshold (ratio < 0.2, reference s03_dataset_creator.json:44,
  s03_final_dataset_creator_utils.py:634-637) are exercised.
- Timestamps span ``n_snapshots`` yearly windows starting 2013-01-01,
  mirroring the reference's time_cut_list
  (s01_config_content.json:29-40).
- 100% native Column expressions — generation itself distributes and
  scales to arbitrary row counts (no driver-side loops, no rand()).

Every random choice is `hash(keys, seed)`-derived (see
functions/hashing.py), so any slice regenerates bit-identically —
unlike the reference, whose regenerated datasets drift
(README.md:126-128).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempel_spark.functions.hashing import hash_bucket, hash_uniform

__all__ = ["synth_entities", "synth_transcripts", "BASE_TS"]

BASE_TS = "2013-01-01 00:00:00"

_VOCAB = [
    "alpha", "bravo", "carbon", "delta", "ember", "falcon", "granite", "harbor",
    "indigo", "juniper", "krypton", "lumen", "meridian", "nimbus", "onyx", "prairie",
    "quartz", "raven", "sierra", "tundra", "umber", "vertex", "willow", "xenon",
    "yonder", "zephyr", "anchor", "beacon", "cinder", "dynamo", "echo", "forge",
]

_FILLER = [
    "let me check the records for", "the report mentions", "we discussed",
    "according to the ledger", "search results point to", "the customer asked about",
    "routing this to", "summary of findings on", "no updates yet regarding",
    "confirmed details for",
]

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "lookup", "calc", "fetch"]


def _vocab_word(ix_col) -> F.Column:
    return F.element_at(F.array(*[F.lit(w) for w in _VOCAB]), ix_col + 1)


def synth_entities(spark: SparkSession, n_entities: int = 64, seed: int = 42) -> DataFrame:
    """Gold entity dimension: (entity_id, canonical_name, created_ts).

    Plays the role of the reference page_info table
    (s01_wikipedia_clean_and_tokenize.py:326-328).
    """
    e = spark.range(n_entities).withColumnRenamed("id", "eid")
    w1 = hash_bucket(len(_VOCAB), "eid", seed=seed + 1)
    w2 = hash_bucket(len(_VOCAB), "eid", seed=seed + 2)
    w3 = hash_bucket(len(_VOCAB), "eid", seed=seed + 3)
    name = F.concat_ws(
        " ",
        F.initcap(_vocab_word(w1)),
        F.initcap(_vocab_word(w2)),
        # a third token on ~half of entities → variable name lengths
        F.when(F.pmod(F.col("eid"), 2) == 0, F.initcap(_vocab_word(w3))),
        # beyond ~1024 entities the 32-word vocabulary can't produce
        # distinguishable names (collisions force mega-clusters that
        # distort large scaling corpora into one pathological skew
        # blob); a deterministic md5-derived token (multi-char edit
        # distance — an ordinal like "Gen1"/"Gen2" would lev-ratio
        # must-link across entities) keeps big corpora realistic.
        # No effect below 1024 entities (all tests/bench).
        F.when(
            F.col("eid") >= 1024,
            F.initcap(F.substring(F.md5(F.col("eid").cast("string")), 1, 6)),
        ),
    )
    created = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS))
        + (hash_uniform("eid", seed=seed + 4) * 86400 * 365 * 3).cast("long")
    )
    return e.select(
        F.format_string("E%05d", F.col("eid")).alias("entity_id"),
        name.alias("canonical_name"),
        created.alias("created_ts"),
        (hash_bucket(400, "eid", seed=seed + 5) + 20).alias("n_tokens"),
    )


def _zipf_entity(u, n_entities: int) -> F.Column:
    """Log-uniform rank ⇒ P(rank=r) ∝ 1/r (Zipf s=1): the head entity
    draws ~log-factor more mentions than the tail — the hot-block
    distribution the north_rule requires us to salt."""
    return F.floor(F.pow(F.lit(float(n_entities)), u)).cast("long") % n_entities


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    n_entities: int = 64,
    n_snapshots: int = 3,
    seed: int = 42,
    with_gold: bool = False,
) -> DataFrame:
    """Multi-turn transcripts, 4 to 12 turns per conversation. With
    ``with_gold=True`` the result keeps
    two extra columns (`gold_entity_id`, `surface`) for tests/eval —
    production shape drops them.
    """
    entities = synth_entities(spark, n_entities, seed)

    conv = spark.range(n_convs).select(
        F.col("id").alias("cid"),
        (hash_bucket(9, "id", seed=seed + 10) + 4).alias("n_turns"),
    )
    turns = conv.select(
        "cid",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    role_ix = hash_bucket(3, "cid", "turn_idx", seed=seed + 11)
    ent = _zipf_entity(hash_uniform("cid", "turn_idx", seed=seed + 12), n_entities)
    filler_ix = hash_bucket(len(_FILLER), "cid", "turn_idx", seed=seed + 13)
    tool_ix = hash_bucket(len(_TOOLS), "cid", "turn_idx", seed=seed + 14)

    t = turns.select(
        "cid",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.element_at(F.array(*[F.lit(r) for r in _ROLES]), role_ix + 1).alias("role"),
        F.format_string("E%05d", ent).alias("gold_entity_id"),
        F.element_at(F.array(*[F.lit(s) for s in _FILLER]), filler_ix + 1).alias("filler"),
        F.element_at(F.array(*[F.lit(s) for s in _TOOLS]), tool_ix + 1).alias("tool_name"),
    )

    t = t.join(F.broadcast(entities.select(F.col("entity_id").alias("gold_entity_id"), "canonical_name")), "gold_entity_id")

    # Surface-form perturbation, hash-chosen (FIXTURES.md §1): exercises
    # the pairwise scorer exactly where the reference's edit-distance
    # features live (s02_alias_table_generator.py:461-469).
    mode = hash_bucket(10, "cid", "turn_idx", seed=seed + 15)
    name = F.col("canonical_name")
    toks = F.split(name, " ")
    typo_pos = hash_bucket(4, "cid", "turn_idx", seed=seed + 16) + 2  # [2,5]
    surface = (
        F.when(mode <= 4, name)                                   # exact
        .when(mode == 5, F.lower(name))                           # case drift
        .when(mode == 6, F.element_at(toks, 1))                   # first token only
        .when(mode == 7, F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1)))))  # drop last token
        .when(mode == 8, F.concat(name.substr(F.lit(1), typo_pos - 1), F.lit("x"),
                                  name.substr(typo_pos + 1, F.length(name))))  # 1-char typo
        .otherwise(F.regexp_replace(name, " ", "_"))              # underscore variant
    )

    # ~15% of turns carry no mention at all (pure filler)
    has_mention = hash_uniform("cid", "turn_idx", seed=seed + 17) >= 0.15

    # per-entity topic token: conversations about an entity share
    # topical vocabulary (the signal the reference's context encoder
    # exploits, biencoder.py:105-123). Deliberately OPAQUE — an md5
    # tag, never a substring of any surface — so only co-occurrence
    # statistics (hashed context vectors) can link it to the entity;
    # dropped on ~25% of mention turns so the no-signal fallback path
    # stays exercised.
    topic = F.concat(F.lit("topic"), F.substring(F.md5(F.col("gold_entity_id")), 1, 6))
    has_topic = hash_uniform("cid", "turn_idx", seed=seed + 19) >= 0.25

    # [[Canonical|surface]] wiki-anchor syntax — same mention encoding the
    # reference extracts (s01_wikipedia_clean_and_tokenize.py:209-253).
    text = F.when(
        has_mention,
        F.concat(
            F.col("filler"), F.lit(" [["), name, F.lit("|"), surface, F.lit("]] today"),
            F.when(has_topic, F.concat(F.lit(" re "), topic)).otherwise(F.lit("")),
        ),
    ).otherwise(F.concat(F.col("filler"), F.lit(" nothing specific today")))

    # timestamps: conv start spread uniformly over the snapshot span,
    # turns 1 minute apart → monotone within conv (FIXTURES.md §1).
    span = 86400 * 365 * n_snapshots
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS))
        + (hash_uniform("cid", seed=seed + 18) * (span - 86400)).cast("long")
        + F.col("turn_idx") * 60
    )

    out = t.select(
        F.format_string("conv_%06d", F.col("cid")).alias("conv_id"),
        "turn_idx",
        "role",
        text.alias("text"),
        F.when(F.col("role") == "tool", F.col("tool_name")).otherwise(F.lit("")).alias("tool"),
        ts.alias("ts"),
        F.when(has_mention, F.col("gold_entity_id")).alias("gold_entity_id"),
        F.when(has_mention, surface).alias("surface"),
    )
    if not with_gold:
        out = out.drop("gold_entity_id", "surface")
    return out

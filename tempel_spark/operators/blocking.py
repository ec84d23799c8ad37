"""Blocking / candidate generation (SURVEY.md §7 Phase 2).

Replaces the reference's two candidate-generation mechanisms:
  * alias-table lookup by normalized mention surface
    (s02_alias_table_generator.py:253-267 — exact-key blocking), and
  * FAISS top-64 dense retrieval (nn_prediction.py:76 — similarity
    blocking)
with Spark-native blocking keys:

  1. normalized-token keys (exact + first-token + sorted-token), and
  2. MinHash-LSH band keys over character shingles.

MinHash here is md5-lexicographic-min per seeded "permutation"
(functions/hashing.py) — deliberately engine-portable so the
signatures themselves are oracle-checkable in ANSI SQL. Spark ML's
MinHashLSH would work too but its hash family is JVM-private, which
would make correctness unverifiable against the DuckDB oracle.

Skew (north_rule): Zipf-head mentions create hot blocks. Two levers:
  * `salt_blocks` — append pmod(fingerprint64(id), n) to the key where
    the downstream op is aggregation-shaped (safe: per-key results
    merge).
  * `cap_block_size` — deterministic hash-ordered top-N per block for
    pair generation (mirrors the reference's max_mentions_per_entity
    caps, s03_final_dataset_creator.py:491-501) so no block produces
    O(n²) pairs unbounded. AQE skew-join splitting handles moderate
    residual skew at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from tempel_spark.functions.hashing import fingerprint64, md5_minhash_value
from tempel_spark.functions.text import normalize_mention

__all__ = [
    "bind_once",
    "meta_block_prune",
    "norm_key",
    "char_shingles",
    "minhash_signature",
    "lsh_band_blocks",
    "salt_blocks",
    "cap_block_size",
    "candidate_pairs",
    "sorted_neighborhood_pairs",
    "SN_WINDOW",
    "LSH_HASHES",
    "LSH_BANDS",
]

# The sorted-neighborhood window BOTH the batch pipeline and the
# incremental streaming path use. They must agree: the stream's
# insert-time SN pairs are a provable superset of the batch SN pairs
# only at the same window (incremental_er.py module contract), so a
# one-sided tweak would silently break batch/stream parity.
SN_WINDOW = 3
# Rank layout of sorted_neighborhood_pairs: key-prefix length of the
# first bucketing, the bucket size past which a bucket deepens, how
# many times its prefix may double, and the largest offset frame that
# is broadcast rather than shuffled.
SN_BUCKET_PREFIX = 2
SN_BUCKET_MAX_ROWS = 100_000
SN_MAX_DEEPEN_ROUNDS = 3
SN_MAX_OFFSET_BROADCAST = 1_000_000
# MinHash-LSH shape of the ER blocking keys (pipeline.build_block_keys),
# shared by batch and stream for the same parity reason: the stream
# keys each norm once into a persisted key log that later batches
# equi-join, so both sides must hash and band identically.
LSH_HASHES = 12
LSH_BANDS = 6


def norm_key(col: Column | str) -> Column:
    """Exact normalized-surface key — the alias-table blocking key."""
    return normalize_mention(col)


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once per row and feed the result to
    ``fn`` as a bound lambda variable: wrap in a one-element array,
    transform with ``fn``, take element 1.

    Catalyst's CollapseProject inlines derived columns into every
    consumer and (as of 4.x) higher-order-function lambdas re-evaluate
    captured expression trees per array element, so an expensive
    subexpression referenced N times costs N evaluations (measured:
    q_minhash_signature carried 16 copies of the shingle+normalize
    tree — 48 s for a 50k-row table). A lambda variable is evaluated
    once and then only *read*, which makes this the expression-level
    equivalent of materializing an intermediate column."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def char_shingles(col: Column | str, normalize: bool = True) -> Column:
    """array<string> of 3-char shingles, fully native:
    transform(sequence(1, len-2), i -> substr(text, i, 3)).

    The (possibly normalized) input string is bound ONCE per row via
    `bind_once` — without it the input expression lands INSIDE the
    per-shingle lambda and re-runs once per character position
    (caught by the plan-audit test: 352 regexp_replace nodes in one
    scoring plan; re-measured r6: the normalize chain ran 58× per
    row per seed in q_minhash_signature)."""
    c = normalize_mention(col) if normalize else (F.col(col) if isinstance(col, str) else col)

    def _shingle(x: Column) -> Column:
        n = F.greatest(F.length(x) - 2, F.lit(1))
        return F.transform(F.sequence(F.lit(1), n), lambda i: x.substr(i, F.lit(3)))

    return bind_once(c, _shingle)


def minhash_signature(col: Column | str, n_hashes: int = 6, normalize: bool = True) -> Column:
    """array<string> of length n_hashes: per seed, the lexicographic
    min md5 over the char-3-gram shingle set (classic MinHash with
    md5-derived permutations; J12's candidate-generation role in
    SURVEY.md).

    The shingle array is bound ONCE per row (`bind_once`), so one
    evaluation of the signature costs one shingle construction plus
    n_hashes md5 passes over it — not n_hashes shingle rebuilds.

    NOTE: the per-seed lambda MUST be single-argument. A two-arg
    lambda (e.g. the `lambda s, i=i:` closure idiom) is interpreted by
    F.transform as its (element, index) form, silently binding the
    loop seed to the element-index Column — the salt then embeds a
    Column repr that changes per plan instantiation. Caught by the
    determinism probe (two identical runs produced different
    signatures).
    """

    def _hasher(seed: int):
        return lambda s: md5_minhash_value(s, seed)

    sh = char_shingles(col, normalize=normalize)
    return bind_once(
        sh,
        lambda s: F.array(
            *[F.array_min(F.transform(s, _hasher(i))) for i in range(n_hashes)]
        ),
    )


def lsh_band_blocks(
    df: DataFrame,
    text_col: str,
    n_hashes: int = 6,
    bands: int = 3,
    normalize: bool = True,
) -> DataFrame:
    """Explode each row into `bands` rows keyed by the band's slice of
    the char-3-gram MinHash signature. Rows sharing any band key are candidates.
    Output adds (band_id int, block_key string)."""
    rows_per_band = n_hashes // bands
    # materialize the signature ONCE: element_at over a plain column
    # reference — inlining `sig` would duplicate the whole
    # shingle+md5 expression tree per band element (n_hashes× the work)
    sig_df = df.withColumn("_sig", minhash_signature(text_col, n_hashes, normalize=normalize))
    sig = F.col("_sig")
    bandkeys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws("|", *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]).alias("block_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        sig_df.withColumn("_bk", F.explode(bandkeys))
        .select("*", "_bk.band_id", "_bk.block_key")
        .drop("_bk", "_sig")
    )


def salt_blocks(df: DataFrame, key_col: str, id_col: str, n_salt: int = 8, hot_threshold: int = 500) -> DataFrame:
    """Append a deterministic salt to keys whose block size exceeds
    ``hot_threshold``. Adds (block_size long, salted_key string).
    The salt is pmod(fingerprint64('salt:' || id), n_salt), which a SQL
    oracle recomputes. Aggregation-safe only — never use for pair
    generation."""
    sizes = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("block_size"))
    out = df.join(F.broadcast(sizes.filter(F.col("block_size") > hot_threshold)), key_col, "left")
    salt = F.pmod(fingerprint64(F.concat(F.lit("salt:"), F.col(id_col).cast("string"))), F.lit(n_salt))
    return out.withColumn(
        "salted_key",
        F.when(F.col("block_size").isNotNull(), F.concat(F.col(key_col), F.lit("#"), salt.cast("string")))
        .otherwise(F.col(key_col)),
    ).withColumn("block_size", F.coalesce("block_size", F.lit(0)))


def cap_block_size(df: DataFrame, key_cols: list[str], id_col: str, cap: int = 200) -> DataFrame:
    """Deterministically keep ≤ cap rows per block (hash-ordered, so
    retry-stable). Guarantees ≤ cap·(cap-1)/2 pairs per block."""
    w = Window.partitionBy(*key_cols).orderBy(F.xxhash64(F.col(id_col), F.lit(13)), F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= cap).drop("_rn")


def candidate_pairs(
    blocked: DataFrame,
    key_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    cap: int = 200,
    group_cols: list[str] | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Within-block self-join → unordered candidate pairs
    (id_a < id_b), deduped across blocks. The equi-join on the block
    key is the only shuffle; AQE splits any residual skew.

    group_cols: the subset of key_cols that scope pair identity
    (e.g. snapshot_ts). Dedup runs per group — NOT globally — so the
    same id pair occurring in two snapshots survives in both. Defaults
    to every key col except the last (conventionally the block key).

    dedup=False skips the cross-block dropDuplicates: callers that
    union several pair families and dedup the union anyway (the ER
    pipeline) would otherwise pay two stacked pair-scale shuffles for
    one logical dedup (measured: only ~15% of sym-family pairs are
    cross-block duplicates, so the inner exchange moved 5.3M rows to
    save 0.8M downstream).

    The capped frame is pinned (lazy localCheckpoint) so the window
    rank isn't computed once per join side — Catalyst does not reuse
    the exchange across the differently-aliased subtrees. It is
    vocabulary×family-scale, the size class the pipeline already
    persists at the blocks stage.

    Output: key_cols…, id_a, id_b, <payload>_a, <payload>_b.
    """
    groups = key_cols[:-1] if group_cols is None else group_cols
    capped = cap_block_size(blocked, key_cols, id_col, cap).localCheckpoint(eager=False)
    a = capped.select(
        *key_cols,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    b = capped.select(
        *key_cols,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    pairs = a.join(b, key_cols, "inner").filter(F.col("id_a") < F.col("id_b"))
    if not dedup:
        return pairs
    # a pair found by several blocks (e.g. two LSH bands) appears once per group
    return pairs.dropDuplicates([*groups, "id_a", "id_b"])


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_key,
    id_col: str,
    group_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking — the classic ER candidate
    generator the alias/LSH families don't cover: order records by a
    lexicographic key and pair each record with its next
    `SN_WINDOW − 1` neighbors. Catches near-misses that token-equality
    blocks split (e.g. 'color'/'colour' sort adjacently but share no
    exact key).

    Spark shape: distributed global rank (deterministic key-prefix
    buckets → parallel local ranks → broadcast offset fold) + a rank
    equi-join for the neighbor probes — no block-size skew (every
    record contributes exactly `SN_WINDOW − 1` candidate pairs) and
    no one-task-per-group sort: parallelism scales with the number of
    distinct `SN_BUCKET_PREFIX`-char key prefixes, not with the group
    count. The bucket is a VALUE function of the key (UTF-8 prefix
    order is consistent with full-string order), NOT a sampled range
    partition: `repartitionByRange` boundaries come from sampling
    seeded by the physical RDD id, so the two materializations of the
    subtree (counts vs ranks) under column pruning can disagree near
    boundaries — measured as parallelism-dependent pair counts
    (23,288,041 vs 23,303,174 on the same corpus at 8 vs 32 cores)
    before this was replaced. Value-defined buckets make the rank a
    pure function of the data: same output at any core count, any
    plan instantiation, any task retry.

    Skew: a bucket exceeding `SN_BUCKET_MAX_ROWS` rows is adaptively
    DEEPENED — its keys re-bucket on a prefix twice as long, up to
    `SN_MAX_DEEPEN_ROUNDS` doublings (2, 4, 8, 16 chars).
    Variable-length prefixes stay order-consistent (each label is a
    prefix of its keys, and prefix_L is monotone in the key), so the
    rank remains a pure value function of the data — same output at
    any core count. The only irreducible residue is keys IDENTICAL
    through 16 chars, which no prefix scheme can split (they tie on
    the sort key anyway). The deepening decision itself depends only
    on data values, never on partitioning.

    The sort key must be a string: prefix order is only sound for
    strings, so any other type raises `TypeError`.

    Driver safety: the per-(group, bucket) offset frame is broadcast
    only while it holds ≤ `SN_MAX_OFFSET_BROADCAST` rows — bounded by
    |groups| × |distinct prefixes|, so high-cardinality `group_cols`
    can make it big. Past the bound the offsets join as a regular
    (shuffled) join instead of a driver-resident broadcast.

    Output: group_cols…, id_a, id_b, key_a, key_b [, payload_a/b].
    """
    groups = group_cols or []
    payload = payload_cols or []
    key = F.col(sort_key) if isinstance(sort_key, str) else sort_key
    base = df.select(
        *groups, F.col(id_col).alias("id_a"), key.alias("key_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    )
    key_type = base.schema["key_a"].dataType
    if not isinstance(key_type, StringType):
        raise TypeError(
            "sorted_neighborhood_pairs needs a string sort key, got "
            f"{key_type.simpleString()}"
        )
    # the rank frame feeds BOTH sides of the neighbor equi-join — pin
    # it so the scan+window chain isn't computed twice
    ranked = _sn_rank(base, groups).localCheckpoint(eager=False)
    right = ranked.select(
        *groups, F.col("_r").alias("_rb"),
        F.col("id_a").alias("id_b"), F.col("key_a").alias("key_b"),
        *[F.col(f"{c}_a").alias(f"{c}_b") for c in payload],
    )
    probe = ranked.withColumn(
        "_j", F.explode(F.array(*[F.lit(j) for j in range(1, SN_WINDOW)]))
    ).withColumn("_rb", F.col("_r") + F.col("_j"))
    return probe.join(right, [*groups, "_rb"]).select(
        *groups, "id_a", "id_b", "key_a", "key_b",
        *[x for c in payload for x in (f"{c}_a", f"{c}_b")],
    )


def _sn_rank(base: DataFrame, groups: list[str]) -> DataFrame:
    """`base` plus `_r`, each record's 1-based rank by (key_a, id_a)
    within its group — a distributed global rank, NOT
    `Window.partitionBy(*groups)`, which sorts each whole group in ONE
    task and caps the operator's parallelism at the number of groups
    (profiled: the pair stage's 2→8-core speedup fell to 1.9× with
    per-snapshot single-task sorts; a blocking family must scale with
    cores, not snapshots):

      1. bucket on the first `SN_BUCKET_PREFIX` chars of the key — a
         value-defined split whose order is consistent with the key
         order (prefix2(x) ≤ prefix2(y) whenever x ≤ y byte-wise);
      2. rank within (group, bucket) in parallel;
      3. per-(group, bucket) row counts — a groups×buckets-row frame —
         cumulated into offsets and broadcast back, making the local
         ranks global.
    """
    safe_key = F.coalesce(F.col("key_a"), F.lit(""))
    rp = base.withColumn("_bkt", F.substring(safe_key, 1, SN_BUCKET_PREFIX))
    # ONE label count per round, pinned lazily and read by one summary
    # collect, serves the deepening decision, the offset-broadcast size
    # guard and (on the final round) the offset fold: one driver job on
    # the common no-deepening path, where separate eager jobs cost 3.3 s
    # of fixed overhead on a 77k-row vocabulary at sf1.0.
    depth = SN_BUCKET_PREFIX
    for round_no in range(SN_MAX_DEEPEN_ROUNDS + 1):
        cnt = (
            rp.groupBy(*groups, "_bkt")
            .agg(F.count(F.lit(1)).alias("_n"))
            .localCheckpoint(eager=False)
        )
        stats = cnt.agg(
            F.max("_n").alias("_mx"), F.count(F.lit(1)).alias("_k")
        ).collect()[0]
        n_labels = stats["_k"]
        has_heavy = stats["_mx"] is not None and stats["_mx"] > SN_BUCKET_MAX_ROWS
        if round_no == SN_MAX_DEEPEN_ROUNDS or not has_heavy:
            break
        heavy = cnt.filter(F.col("_n") > SN_BUCKET_MAX_ROWS).select(
            *groups, "_bkt", F.lit(True).alias("_deepen")
        )
        depth *= 2
        rp = (
            rp.join(F.broadcast(heavy), [*groups, "_bkt"], "left")
            .withColumn(
                "_bkt",
                F.when(
                    F.col("_deepen"), F.substring(safe_key, 1, depth)
                ).otherwise(F.col("_bkt")),
            )
            .drop("_deepen")
            # deepening actually happened: pin this round's labels so
            # the next round's count — and the final offset/rank jobs
            # — don't re-derive the whole prior join chain from the
            # base scan each time (the common no-deepening path never
            # pays this)
            .localCheckpoint(eager=True)
        )
    w_local = Window.partitionBy(*groups, "_bkt").orderBy(
        F.col("key_a").asc(), F.col("id_a").asc()
    )
    rp = rp.withColumn("_lr", F.row_number().over(w_local))
    w_off = (
        Window.partitionBy(*groups)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).drop("_n")
    # broadcast is a driver/executor memory cliff when groups × buckets
    # is huge — past the bound, fall back to a shuffled join. The size
    # came back with the label-count summary above.
    if n_labels <= SN_MAX_OFFSET_BROADCAST:
        off = F.broadcast(off)
    return (
        rp.join(off, [*groups, "_bkt"])
        .withColumn("_r", F.col("_lr") + F.col("_off"))
        .drop("_bkt", "_lr", "_off")
    )


def meta_block_prune(
    assignments: DataFrame,
    max_block_size: int | None = None,
    block_filter_ratio: float | None = None,
) -> DataFrame:
    """Meta-blocking over a MULTI-key blocking scheme (Papadakis et
    al.): turn overlapping (node, block) assignments into a weighted candidate
    graph and prune the low-evidence pairs, instead of comparing every
    co-blocked pair.

    Stages (each optional stage is the standard one):
      1. block PURGING — drop blocks larger than ``max_block_size``
         (oversized blocks are boilerplate keys: ~no signal, and
         exactly the C(n,2) hot spots);
      2. block FILTERING — keep each node's ``ceil(ratio · |blocks|)``
         SMALLEST blocks (rarest keys carry the most evidence; ties
         broken by block key so the choice is deterministic);
      3. CBS edge weighting — weight(a,b) = number of surviving blocks
         the pair co-occurs in (one distinct + hash agg, never a
         per-block pair list kept around);
      4. WEP pruning — ``kept`` = weight > mean edge weight (the
         one-row global stat, broadcast back).

    Returns every weighted candidate pair: id_a < id_b, weight,
    mean_weight (constant column, 6 dp), kept. Callers filter on
    ``kept``; keeping the pruned rows makes the operator auditable.

    Scale posture: per-block pair fan-out is bounded by
    C(max_block_size, 2) after purging; every stage is a hash agg or
    an equi-join on block/pair keys; the only global is the one-row
    mean. Skewed (hot) blocks are precisely what purging removes.
    """
    a = assignments.select("node", "block").distinct()
    sizes = a.groupBy("block").agg(F.count(F.lit(1)).alias("_bs"))
    if max_block_size is not None:
        sizes = sizes.filter(F.col("_bs") <= max_block_size)
    a = a.join(sizes, "block")
    if block_filter_ratio is not None:
        if not (0.0 < block_filter_ratio <= 1.0):
            raise ValueError("block_filter_ratio must be in (0, 1]")
        w = Window.partitionBy("node").orderBy(F.asc("_bs"), F.asc("block"))
        a = (
            a.withColumn("_r", F.row_number().over(w))
            .withColumn("_nb", F.count(F.lit(1)).over(Window.partitionBy("node")))
            .filter(
                F.col("_r") <= F.ceil(F.col("_nb") * F.lit(float(block_filter_ratio)))
            )
            .drop("_r", "_nb")
        )
    left = a.select("block", F.col("node").alias("id_a"))
    right = a.select("block", F.col("node").alias("id_b"))
    pairs = (
        left.join(right, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("block").alias("weight"))
        # the pair stage is the operator's dominant cost and feeds BOTH
        # the mean-weight stat and the output — pin it once instead of
        # recomputing the whole self-join for each
        .localCheckpoint(eager=True)
    )
    stats = pairs.agg(F.round(F.avg("weight"), 6).alias("mean_weight"))
    return pairs.crossJoin(F.broadcast(stats)).select(
        "id_a",
        "id_b",
        "weight",
        "mean_weight",
        (F.col("weight") > F.col("mean_weight")).alias("kept"),
    )

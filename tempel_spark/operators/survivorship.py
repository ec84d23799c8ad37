"""Survivorship / golden-record construction — the data-fusion tail of
a record-linkage pipeline (Christen 2012 ch. 2; Bleiholder & Naumann
2008 "Data Fusion"). After blocking → scoring → clustering has grouped
records into entities, each cluster must be collapsed to ONE canonical
record by per-attribute conflict-resolution rules.

The reference stops at cluster assignments (its per-snapshot entity ids
ARE the output, s03_dataset_creator); a production ER suite — and the
north_rule's "temporal entity clusters" — needs the fusion step too, so
it is a first-class operator here. `metrics.cluster_canonical_names` is
the single-attribute majority special case; this generalizes to a rule
per attribute.

Every rule is ONE hash aggregation per attribute (majority needs a
per-(cluster, value) pre-count — two), all partially aggregable, joined
back on the cluster key: no windows over the full record set, no
per-cluster collect. Scales to any cluster-size distribution, including
the head-entity skew clusters the pipeline is built around.

Deterministic tiebreaks are part of the rule definitions (and the
DuckDB oracle mirrors them exactly):

* ``majority`` — most frequent non-null value; ties → smallest value
* ``longest``  — longest non-null string; ties → smallest value
* ``latest``   — value with the greatest timestamp; ties → greatest
                 value (max-of-struct semantics)
* ``earliest`` — value with the smallest timestamp; ties → smallest
                 value (min-of-struct semantics)
* ``min`` / ``max`` — plain extrema
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["golden_record", "SURVIVORSHIP_RULES"]

SURVIVORSHIP_RULES = ("majority", "longest", "latest", "earliest", "min", "max")


def _guarded(value: Column, key: Column) -> Column:
    """Struct of (key, value) that is NULL when value is null, so
    min/max aggregation skips null values entirely."""
    return F.when(value.isNotNull(), F.struct(key.alias("k"), value.alias("v")))


def golden_record(
    components: DataFrame,
    records: DataFrame,
    rules: dict[str, str],
    ts_col: str = "ts",
) -> DataFrame:
    """Fuse each cluster's member records into one canonical row.

    components: (node, component) assignment (e.g. the output of
    ``clustering.connected_components``). records: one row per node
    with the attribute columns named in ``rules``. Output: one row per
    cluster — component, n_members, and one column per rule keeping
    its attribute name.

    ``latest``/``earliest`` read the record timestamp from ``ts_col``.
    """
    needs_ts = False
    for col, rule in rules.items():
        if rule not in SURVIVORSHIP_RULES:
            raise ValueError(f"unknown survivorship rule {rule!r} for {col!r}")
        needs_ts = needs_ts or rule in ("latest", "earliest")
    # Project records down to the columns the rules actually read:
    # callers often pass a frame that still carries its own cluster
    # assignment (components and records usually come from the same
    # join), and an un-pruned join would make `component` ambiguous.
    keep = list(dict.fromkeys(
        ["node", *rules, *((ts_col,) if needs_ts else ())]
    ))
    if "component" in keep:
        raise ValueError(
            "records column 'component' collides with the cluster column — "
            "rename one of them"
        )
    j = components.select("node", "component").join(records.select(*keep), "node")
    out = j.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    for col, rule in rules.items():
        c = F.col(col)
        if rule == "majority":
            counted = (
                j.filter(c.isNotNull())
                .groupBy("component", col)
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            # most frequent, smallest value on ties: min of (-n, value)
            picked = counted.groupBy("component").agg(
                F.min(F.struct((-F.col("_n")).alias("k"), c.alias("v")))["v"].alias(col)
            )
        elif rule == "longest":
            picked = j.groupBy("component").agg(
                F.min(_guarded(c, -F.length(c)))["v"].alias(col)
            )
        elif rule == "latest":
            picked = j.groupBy("component").agg(
                F.max(_guarded(c, F.col(ts_col)))["v"].alias(col)
            )
        elif rule == "earliest":
            picked = j.groupBy("component").agg(
                F.min(_guarded(c, F.col(ts_col)))["v"].alias(col)
            )
        elif rule == "min":
            picked = j.groupBy("component").agg(F.min(c).alias(col))
        else:  # max
            picked = j.groupBy("component").agg(F.max(c).alias(col))
        out = out.join(picked, "component", "left")
    return out

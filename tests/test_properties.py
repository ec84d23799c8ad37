"""Property-based tests (SURVEY.md §5 item 4).

Pure-python properties run hypothesis at full width; Spark-backed
properties use few examples (each example costs Spark jobs).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.reference_oracle import UnionFind, jaccard, jaro_winkler, lev_ratio, normalize

TEXT = st.text(alphabet="abc _XY", min_size=0, max_size=24)


@given(TEXT)
def test_normalize_idempotent(s):
    assert normalize(normalize(s)) == normalize(s)


@given(TEXT, TEXT)
def test_similarity_bounds_and_symmetry(a, b):
    for fn in (jaccard, jaro_winkler):
        x = fn(normalize(a), normalize(b))
        y = fn(normalize(b), normalize(a))
        assert 0.0 <= x <= 1.0
        assert abs(x - y) < 1e-12
    lr = lev_ratio(a, b)
    assert 0.0 <= lr <= 1.0
    assert lr == lev_ratio(b, a)
    if a == b:
        assert lr == 0.0


@given(st.text(alphabet="abcde", min_size=3, max_size=20))
def test_minhash_identical_strings_identical_bands(s):
    from tests.reference_oracle import minhash_band_keys

    assert minhash_band_keys(s) == minhash_band_keys(s)
    # containment: a string is always a candidate of itself via any band
    assert len(minhash_band_keys(s)) == 6  # pipeline default: 12 hashes / 6 bands


EDGES = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=0,
    max_size=40,
)


def _cc_matches_union_find(spark, edges):
    from tempel_spark.operators.clustering import connected_components

    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b]
    nodes = sorted({x for e in edges for x in e})
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    res = connected_components(df, shuffle_partitions=4)
    assert res.converged
    got = {r.node: r.component for r in res.components.collect()}

    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    exp = {n: uf.find(n) for n in nodes}
    # same partition AND same representative (min of component)
    assert got == exp


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(EDGES)
def test_connected_components_matches_union_find(spark, edges):
    _cc_matches_union_find(spark, edges)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(EDGES)
def test_distributed_connected_components_matches_union_find(spark, monkeypatch, edges):
    """Same check through the multi-partition contraction and the star
    loop, which one-task union-find skips on graphs this small."""
    from tempel_spark.operators import clustering

    monkeypatch.setattr(clustering, "SINGLE_TASK_EDGES", 0)
    _cc_matches_union_find(spark, edges)


def test_pipeline_handles_extreme_skew(spark):
    """One entity takes ~60% of all mentions (hot block). The pipeline
    must complete with bounded pair counts and still cluster
    correctly — the guardrails are the bipartite first-token key and
    the deterministic block cap."""
    from pyspark.sql import functions as F

    from tempel_spark.plans.pipeline import run_pipeline

    rows = []
    for i in range(600):
        surf = "Megacorp Holdings" if i % 10 else "Smallco Ltd"
        rows.append((f"c{i:04d}", 0, "user", f"about [[X|{surf}]] now", "", f"2013-{1 + i % 12:02d}-01 00:00:00"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    res = run_pipeline(spark, df, snapshots=["2014-01-01 00:00:00"], pair_cap=50)
    # 540 identical hot surfaces collapse to ONE vocabulary row:
    assert res["surfaces"].count() == 2
    assert res["pairs"].count() <= 2  # at most the cross pair per block family
    comp = res["components"]
    assert comp.count() == 600
    assert comp.select("component").distinct().count() == 2


def test_bipartite_cap_keeps_top_frequency_completions(spark):
    """A first token with MORE full forms than pair_cap: pair counts
    stay bounded, and the cap is frequency-ordered — the abbreviation
    still reaches (and prior-resolves to) the most frequent
    completion, exactly the alias-table top-candidate semantics."""
    import hashlib

    from pyspark.sql import functions as F

    from tempel_spark.plans.pipeline import run_pipeline

    def tok(i: int) -> str:
        # distinct 6-char suffixes far apart in edit distance, so the
        # ratio must-link never welds two completions
        return hashlib.md5(f"tok{i}".encode()).hexdigest()[:6]

    rows = [
        (f"c{i:03d}", 0, "user", f"see [[Zeta {tok(i)}]] here", "", "2014-06-01 00:00:00")
        for i in range(120)
    ]
    rows.append(("abbr", 0, "user", "just [[Zeta]] alone", "", "2014-06-01 00:00:00"))
    hot = f"Zeta {tok(0)}"
    rows += [
        (f"hot{j}", 0, "user", f"again [[{hot}]] now", "", "2014-06-01 00:00:00")
        for j in range(5)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    res = run_pipeline(spark, df, snapshots=["2015-01-01 00:00:00"], pair_cap=20)
    # pairs touching the abbreviation are bounded by the per-family
    # caps (bipartite ≤ pair_cap; each LSH band block ≤ pair_cap)
    zeta_pairs = res["scored"].filter(
        (F.col("norm_a") == "zeta") | (F.col("norm_b") == "zeta")
    ).count()
    assert 0 < zeta_pairs <= 20 * 7
    comp = {r.surface: r.component for r in res["surface_components"].collect()}
    # frequency-ordered cap retained the 6-mention completion among
    # 120 candidates, and the prior edge resolves to it
    assert comp["Zeta"] == comp[hot]

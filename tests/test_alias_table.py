"""`build_alias_table`'s entity features: edit distance, ratio and
overlap class of each mention against its entity's canonical name
(reference s02_alias_table_generator.py:461-476)."""

from tests.reference_oracle import lev_ratio, levenshtein, normalize


def test_alias_table_entity_features(spark):
    from tempel_spark.operators.alias_table import build_alias_table

    links = spark.createDataFrame(
        [
            ("Barack_Obama", "E1", 1),
            ("Obama", "E1", 1),
            ("the president", "E1", 1),
            ("Mercury", "E2", 1),
            ("Atlantis", "E3", 1),
            ("El Dorado", "E4", 1),
        ],
        "mention_text string, target_id string, snapshot_ts int",
    )
    entities = spark.createDataFrame(
        [("E1", "Barack Obama"), ("E2", "Mercury_(planet)"), ("E3", None)],
        "entity_id string, canonical_name string",
    )
    rows = {
        r.mention_norm: r for r in build_alias_table(links, entities).collect()
    }
    assert set(rows) == {
        "barack obama", "obama", "the president", "mercury", "atlantis", "el dorado"
    }

    names = {"E1": "Barack Obama", "E2": "Mercury_(planet)"}
    for mention, r in rows.items():
        if r.entity_id not in names:
            continue
        title = normalize(names[r.entity_id])
        assert r.canonical_name == names[r.entity_id]
        assert r.edit_distance == levenshtein(mention, title)
        assert r.ratio_edit_distance == lev_ratio(mention, title)
    assert rows["mercury"].edit_distance == 9  # "mercury" vs "mercury (planet)"

    # one mention per overlap class
    assert rows["barack obama"].overlap_type == "HIGH_OVERLAP"
    assert rows["mercury"].overlap_type == "MULTIPLE_CATEGORIES"
    assert rows["obama"].overlap_type == "AMBIGUOUS_SUBSTRING"
    assert rows["the president"].overlap_type == "LOW_OVERLAP"

    # an entity whose canonical_name is NULL, and one missing from the
    # dimension: no name to compare, so no distance, and no overlap
    for mention in ("atlantis", "el dorado"):
        r = rows[mention]
        assert r.canonical_name is None
        assert r.edit_distance is None and r.ratio_edit_distance is None
        assert r.overlap_type == "LOW_OVERLAP"

"""Tests for sinks, tokenization, sentence chunking, XML history
reader, and the end-to-end snapshot fold over XML revisions."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F


def test_wordpiece_algorithm():
    """The published WordPiece rule (greedy longest-match-first) on
    the BERT paper's canonical example, plus UNK and accent rules."""
    from tempel_spark.functions.tokenize import WordPieceTokenizer

    t = WordPieceTokenizer({"un", "##aff", "##able", "aff", "able", "runn", "##ing"})
    assert t.tokenize("unaffable") == ["un", "##aff", "##able"]
    assert t.tokenize("running") == ["runn", "##ing"]
    # no char coverage for 'xyz' in this vocab → whole-word UNK
    assert t.tokenize("xyz") == ["[UNK]"]
    # punctuation always stands alone, never UNK
    assert t.tokenize("able, able!") == ["able", ",", "able", "!"]

    b = WordPieceTokenizer.builtin()
    # accent strip + lowercase (BERT basic tokenization)
    assert "".join(p.lstrip("#") for p in b.tokenize("Café")) == "cafe"
    # builtin vocab is character-complete on ASCII → never UNK
    assert "[UNK]" not in b.tokenize("zqxjkw9 extraordinarily")


def test_wordpiece_vocab_file(tmp_path):
    from tempel_spark.functions.tokenize import WordPieceTokenizer

    p = tmp_path / "vocab.txt"
    p.write_text("granite\nember\n##s\ng\n##r\n", encoding="utf-8")
    t = WordPieceTokenizer.from_vocab_file(str(p))
    assert t.tokenize("granite embers") == ["granite", "ember", "##s"]


def test_tokenize_detokenize_roundtrip(spark):
    from tempel_spark.functions.tokenize import detokenize_udf, tokenize_udf

    df = spark.createDataFrame(
        [("Granite Ember jumped, extraordinarily!",), ("",)], "text string"
    )
    out = df.select(
        tokenize_udf("text").alias("toks")
    ).select(detokenize_udf("toks").alias("back"), "toks").collect()
    assert out[0].back == "granite ember jumped , extraordinarily !"
    assert any(t.startswith("##") for t in out[0].toks)  # long word split
    assert out[1].back == ""


def test_sentence_chunks(spark):
    from tempel_spark.functions.tokenize import sentence_chunks

    text = "one two three. four five six! seven eight nine ten? final words here."
    df = spark.createDataFrame([(1, text)], "id long, text string")
    got = sentence_chunks(df, "text", max_words=7).orderBy("chunk_idx").collect()
    # sentences pack greedily into ≤7-word chunks, boundaries respected
    assert [r.chunk for r in got] == [
        "one two three. four five six!",
        "seven eight nine ten? final words here.",
    ]
    assert [r.chunk_idx for r in got] == [0, 1]


def test_xml_history_reader_and_asof(spark):
    from tempel_spark.operators.asof import asof_stable_version
    from tempel_spark.sources.xml_history import read_revision_history_xml

    xml = """<mediawiki>
<page><title>Alpha</title><ns>0</ns><id>1</id>
<revision><id>11</id><timestamp>2013-01-05T00:00:00Z</timestamp><text>v1 [[Beta|b]]</text></revision>
<revision><id>12</id><timestamp>2013-06-01T00:00:00Z</timestamp><text>v2 [[Beta|beta]]</text></revision>
</page>
<page><title>Beta</title><ns>0</ns><id>2</id><redirect title="Alpha"/>
<revision><id>21</id><timestamp>2013-02-01T00:00:00Z</timestamp><text>#REDIRECT [[Alpha]]</text></revision>
</page>
</mediawiki>"""
    with tempfile.TemporaryDirectory() as tmp:
        p = os.path.join(tmp, "dump.xml")
        with open(p, "w") as fh:
            fh.write(xml)
        revs = read_revision_history_xml(spark, p)
        rows = revs.collect()
        assert {(r.page_id, r.rev_id) for r in rows} == {(1, 11), (1, 12), (2, 21)}
        assert {r.redirect for r in rows if r.page_id == 2} == {"Alpha"}

        # S1 → W5: fold revisions into the per-cut stable version
        folded = asof_stable_version(
            revs.withColumn("rev_ts", F.to_timestamp("rev_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")),
            key_cols=["page_id"],
            snapshots=["2014-01-01 00:00:00"],
        )
        got = {r.page_id: r.rev_text for r in folded.collect()}
        assert got[1] == "v2 [[Beta|beta]]"  # stable (aged past look-back)
        assert got[2].startswith("#REDIRECT")


def test_partitioned_and_fanout_sinks(spark):
    from tempel_spark.sources.sinks import write_fanout, write_partitioned

    df = spark.createDataFrame(
        [(f"m{i}", f"2014-0{1 + i % 2}-01", ["train", "test"][i % 2], i) for i in range(20)],
        "mention_id string, snapshot_ts string, subset string, v long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_partitioned(df, f"{tmp}/p")
        back = spark.read.parquet(f"{tmp}/p")
        assert back.count() == 20
        dirs = {d for d in os.listdir(f"{tmp}/p") if d.startswith("snapshot_ts=")}
        assert len(dirs) == 2

        write_fanout(df, f"{tmp}/f")
        sub = os.listdir(f"{tmp}/f")
        assert any(d.startswith("snapshot_ts=") for d in sub)
        j = spark.read.json(f"{tmp}/f")
        assert j.count() == 20

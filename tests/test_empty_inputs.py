"""Operators that fit a model from their input name themselves and say
the input is empty, instead of failing on a missing aggregate row."""

import pytest


def test_fs_em_rejects_empty_pairs(spark):
    from tempel_spark.operators.linkage import fs_em

    pairs = spark.createDataFrame([], "f1 boolean, f2 boolean")
    with pytest.raises(ValueError, match="fs_em: the pair frame is empty"):
        fs_em(pairs, ["f1", "f2"])


def test_pq_train_rejects_empty_frame(spark):
    from tempel_spark.operators.pq import pq_train

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="pq_train: the input frame is empty"):
        pq_train(df)

"""The n-gram LM family (operators/lm.py) across its public orders.

Pins two contracts the order-specific test modules take for granted:
the self-trained scorer's shortcut (it joins the model over the fitted
top-order count table instead of the corpus's own distinct grams — valid
only because the corpus grams ARE that table's keys) and the column
layout of every fitted table, which persisted models are read back by.
"""

from __future__ import annotations

import pytest

from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators import (
    lm3_fit,
    lm3_transition_scores,
    lm5_fit,
    lm5_transition_scores,
    lm_fit,
    lm_transition_scores,
)

_TRI = [["tri", "c3"], ["ctx", "cp3"], ["big", "cb"], ["w1", "cp"],
        ["t", "cu"], ["n_tokens", "v"]]

#: order -> (fit, scorer, column list of each fitted table, in order)
ORDERS = {
    2: (lm_fit, lm_transition_scores, [["big", "cb"], ["w1", "cp"], ["v"]]),
    3: (lm3_fit, lm3_transition_scores, _TRI),
    5: (
        lm5_fit,
        lm5_transition_scores,
        [["g5", "c5"], ["ctx5", "cp5"], ["g4", "c4"], ["ctx4", "cp4"]] + _TRI,
    ),
}

CORPUS = [
    (1, "the cat sat on the mat and the cat sat on the mat again"),
    (1, "the cat sat on the rug"),  # duplicate id: one score group
    (None, "the dog sat on the mat today"),  # NULL id rides through
    (2, None),  # NULL text
    (3, "one"),
    (4, "one two"),
    (5, "A b c d"),  # shorter than order 5; case folds into the vocab
    (6, "a b c d e a b c d e"),  # repeated grams inside one doc
    (7, ""),
    (8, "the quick brown fox jumps over the lazy dog near the old barn"),
]


def _rows(df):
    return sorted((r.asDict() for r in df.collect()), key=repr)


@pytest.mark.parametrize("order", sorted(ORDERS))
def test_self_trained_scores_equal_scores_against_own_fit(spark, order):
    fit, score, columns = ORDERS[order]
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    tables = fit(docs)
    assert [t.columns for t in tables] == columns
    self_trained = _rows(score(docs))
    assert len(self_trained) == len(CORPUS)
    assert self_trained == _rows(score(docs, model=tables))

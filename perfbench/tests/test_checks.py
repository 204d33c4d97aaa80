"""The correctness checks' arithmetic: pairwise F1 and the output hash."""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from workloads import frame_hash, pairwise_f1  # noqa: E402

TRUTH = pd.DataFrame({"conv_id": ["a", "a_v1", "b", "b_d1", "c"],
                      "cluster_id": ["a", "a", "b", "b_d1", "c"]})


def test_f1_is_one_on_the_truth_itself():
    assert pairwise_f1(TRUTH.copy(), TRUTH) == 1.0


def test_f1_counts_a_false_merge_and_a_missed_merge():
    merged = TRUTH.assign(cluster_id=["a", "a", "b", "b", "c"])  # b_d1 merged
    # predicted pairs {a-a_v1, b-b_d1}, true pairs {a-a_v1}: F1 = 2*1/(2+1)
    assert pairwise_f1(merged, TRUTH) == 2 / 3
    split = TRUTH.assign(cluster_id=["a", "a_v1", "b", "b_d1", "c"])
    assert pairwise_f1(split, TRUTH) == 0.0


def test_f1_is_zero_when_a_conversation_is_missing():
    assert pairwise_f1(TRUTH.iloc[1:], TRUTH) == 0.0


def test_hash_ignores_row_and_column_order_and_float_noise():
    df = pd.DataFrame({"k": [2, 1], "x": [0.1 + 0.2, -0.0], "s": ["b", "a"]})
    other = pd.DataFrame({"s": ["a", "b"], "x": [0.0, 0.3], "k": [1, 2]})
    assert frame_hash(df) == frame_hash(other)


def test_hash_tells_ints_from_floats_and_values_apart():
    ints = pd.DataFrame({"n": [52]})
    assert frame_hash(ints) != frame_hash(ints.astype(float))
    assert frame_hash(ints) != frame_hash(pd.DataFrame({"n": [53]}))

"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import stats  # noqa: E402


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_union_length_merges_overlaps_and_gaps():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 2), (1, 3)]) == 3
    assert stats.union_length([(1, 3), (0, 10), (4, 5)]) == 10
    assert stats.union_length([(0, 1), (1, 2)]) == 2  # touching
    assert stats.union_length([(5, 5), (3, 2)]) == 0  # empty/reversed ignored


def test_driver_gap_is_wall_minus_job_union_inside_span():
    span = (10.0, 20.0)
    # two overlapping jobs cover 11..15, one job sticks out past the end
    jobs = [(11.0, 14.0), (12.0, 15.0), (18.0, 25.0)]
    assert stats.driver_gap(span, jobs) == pytest.approx(10 - 4 - 2)
    assert stats.driver_gap(span, []) == pytest.approx(10)
    assert stats.driver_gap(span, [(0.0, 30.0)]) == pytest.approx(0)


def test_self_time_subtracts_children_once():
    parent = (0.0, 10.0)
    kids = [(1.0, 4.0), (3.0, 5.0), (8.0, 9.0)]
    assert stats.self_time(parent, kids) == pytest.approx(10 - 4 - 1)
    assert stats.self_time(parent, []) == pytest.approx(10)


def test_frame_checksum_is_order_insensitive_and_content_sensitive():
    df = pd.DataFrame({"a": [1, 2, 3, 4], "b": ["x", "y", "z", "w"]})
    n, h = stats.frame_checksum(df)
    assert n == 4
    shuffled = df.sample(frac=1.0, random_state=3).reset_index(drop=True)
    assert stats.frame_checksum(shuffled) == (n, h)
    changed = df.copy()
    changed.loc[2, "b"] = "q"
    assert stats.frame_checksum(changed)[1] != h


def test_corpus_truth_matches_a_brute_force_pass():
    docs, family, truth = corpus.generate(200, seed=5)
    assert len(docs) == 200 and docs["doc_id"].is_unique
    sh = {r.doc_id: corpus.shingles(r.text.split()) for r in docs.itertuples()}
    ids = sorted(sh)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if corpus.jaccard_at_least(sh[a], sh[b], 0.5)
    }
    assert brute == truth
    assert truth, "planted families must yield pairs"
    assert all(family[a] == family[b] for a, b in truth)
    again = corpus.generate(200, seed=5)
    assert again[0].equals(docs) and again[2] == truth


def test_jaccard_threshold_is_exact_at_one_half():
    a = {"x", "y"}
    assert corpus.jaccard_at_least(a, {"x", "z"}, 0.5) is False  # 1/3
    assert corpus.jaccard_at_least({"x", "y", "z"}, {"x", "y", "w"}, 0.5)  # 2/4

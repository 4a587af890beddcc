"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402

SMALL = {
    "transcripts": lambda seed: gen.transcripts(seed, n_turns=3_000, n_convs=120),
    "feature_matrix": lambda seed: gen.feature_matrix(seed, 800),
    "corpus": lambda seed: gen.corpus(seed, n_docs=300, exact_families=5,
                                      near_families=5),
}


def _frames(out) -> list[pd.DataFrame]:
    return [x for x in out if isinstance(x, pd.DataFrame)]


@pytest.mark.parametrize("name", sorted(SMALL))
def test_generator_is_deterministic_per_seed(name):
    a, b, c = SMALL[name](5), SMALL[name](5), SMALL[name](6)
    for x, y in zip(_frames(a), _frames(b)):
        pd.testing.assert_frame_equal(x, y)
    assert a[-1] == b[-1]
    # another seed: other values, same sizes
    assert any(not x.equals(z) for x, z in zip(_frames(a), _frames(c)))
    assert [len(x) for x in _frames(a)[:1]] == [len(z) for z in _frames(c)[:1]]


def test_transcripts_plant_hot_conversations():
    tx, spine, shape = gen.transcripts(3, n_turns=10_000, n_convs=200)
    counts = tx["conv_id"].value_counts()
    assert len(tx) == 10_000
    assert counts["conv-000000"] == counts["conv-000001"] == 1_500
    assert shape["hot_share_total"] == 0.3
    # turns are strictly increasing in time within a conversation
    ordered = tx.sort_values(["conv_id", "turn_idx"])
    assert (ordered.groupby("conv_id")["ts"].diff().dropna() > pd.Timedelta(0)).all()
    assert set(spine["conv_id"]) == set(tx["conv_id"])


def test_feature_matrix_cardinalities():
    df, shape = gen.feature_matrix(4, 5_000)
    assert all(200 < df[c].nunique() < 65_536 for c in gen.CONT)
    assert all(df[c].nunique() == 10 for c in gen.LOWC)
    assert set(gen.INFORMATIVE) <= set(df.columns)
    assert shape["rows"] == 5_000


def test_corpus_families_are_planted():
    docs, queries, shape = gen.corpus(9, n_docs=400, exact_families=6,
                                      near_families=7)
    fam = docs[docs["family"] >= 0]
    assert fam.groupby("family").size().eq(4).all()
    assert fam["family"].nunique() == 13
    assert docs["doc_id"].is_unique
    exact = fam[fam["family"] < 6].groupby("family")["text"].nunique()
    assert exact.eq(1).all()
    near = fam[fam["family"] >= 6].groupby("family")["text"].nunique()
    assert near.eq(4).all()
    # one replaced word per variant: Jaccard about 0.8 to 0.9
    assert 0.75 < shape["near_dup_jaccard_min"] < shape["near_dup_jaccard_median"] < 0.92
    junk = docs[docs["family"] == -2]["text"].str.split().str.len()
    assert (junk < 50).all()
    assert len(queries) == shape["queries"]


def _span(i, parent, start, end):
    return spans.Span(i, f"s{i}", parent, "r", start, end)


def test_union_length_merges_overlaps():
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert spans.union_length([]) == 0
    assert spans.union_length([(3, 3)]) == 0


def test_self_time_is_span_minus_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.0),   # grandchild: only its parent's self shrinks
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10 - (5 + 1))
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3)


def test_parse_duration_reads_the_total():
    assert spans.parse_duration("12 ms") == pytest.approx(0.012)
    text = "total (min, med, max (stageId: taskId))\n1.5 s (0.2 s, 0.5 s, 0.8 s (stage 3.0: task 4))"
    assert spans.parse_duration(text) == pytest.approx(1.5)
    assert spans.parse_duration("2.0 m") == pytest.approx(120)


def test_metric_names_match_benchmark_json():
    names = [n for n, _ in metrics.PER_LAYER]
    assert len(names) == len(set(names)) <= 128
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    spec = json.load(open(path))
    assert [m["name"] for m in spec["per_layer"]] == names
    assert [m["unit"] for m in spec["per_layer"]] == [u for _, u in metrics.PER_LAYER]
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in metrics.END_TO_END]


def test_shingle_jaccard():
    words = "a b c d e f g h".split()
    assert gen.shingle_jaccard(words, words) == 1.0
    edited = words[:4] + ["x"] + words[5:]
    # 6 shingles each, the 3 covering the replaced word differ
    assert gen.shingle_jaccard(words, edited) == pytest.approx(3 / 9)


def test_summarize_counts_failed_and_crashed_samples():
    ok = {"fails": [], "setup_s": 1.0, "start_s": 0.5,
          "job_s": 2.0, "fit_s": 1.5, "bake_rows_per_s": 20.0,
          "input_rows": 100, "peak_rss_mb": 900.0, "shape": {}}
    out = metrics.summarize("w", [ok, dict(ok, job_s=4.0)], trace=False)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] == 2
    assert out["metrics"]["job_s"]["value"] == 3.0
    assert out["metrics"]["rows_per_s"]["value"] == pytest.approx((50 + 25) / 2)
    failed = metrics.summarize("w", [ok, dict(ok, fails=["x"])], trace=False)
    assert not failed["correct"] and failed["failed"] == 1
    # a crashed or timed-out sample has no figures, only its reason
    crashed = metrics.summarize("w", [ok, {"fails": ["timed out"]}], trace=False)
    assert not crashed["correct"] and crashed["attempted"] == 2
    assert crashed["metrics"]["job_s"]["value"] == 2.0

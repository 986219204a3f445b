import pandas as pd

from perfbench import gen
from perfbench.workloads import _oracle_check


def test_same_seed_same_inputs():
    a, ea = gen.bulk_corpus(7, 20, over_tokens=50)
    b, eb = gen.bulk_corpus(7, 20, over_tokens=50)
    pd.testing.assert_frame_equal(a, b)
    assert ea == eb
    c, _ = gen.bulk_corpus(8, 20, over_tokens=50)
    assert not a["text"].equals(c["text"])
    assert gen.queries(gen.rng_for(7, 4), 30) == gen.queries(gen.rng_for(7, 4), 30)


def test_bulk_corpus_expected_counts():
    df, exp = gen.bulk_corpus(3, 30, over_tokens=500)
    bad = df["text"].isna() | (df["text"].str.count(" ") >= 499)
    assert exp["badrows"] == int(bad.sum())
    good_keys = df.loc[~bad, ["conv_id", "turn_idx"]].drop_duplicates()
    assert exp["docs"] == len(good_keys)
    assert df.duplicated(["conv_id", "turn_idx"]).any()


def test_stream_batch_redelivers_only_good_rows_of_previous_batch():
    b0, e0 = gen.stream_batch(5, 0, 10, over_tokens=500, prev=None)
    b1, e1 = gen.stream_batch(5, 1, 10, over_tokens=500, prev=b0)
    keys0 = set(zip(b0["conv_id"], b0["turn_idx"]))
    redelivered = b1[[k in keys0 for k in zip(b1["conv_id"], b1["turn_idx"])]]
    fresh = len(b1) - len(redelivered) - 1  # one marker turn
    assert len(redelivered) == fresh * 3 // 100 > 0
    assert e1["new_docs"] == fresh - e1["badrows"] + 1
    assert redelivered["text"].notna().all()
    assert (redelivered["text"].str.len() < 500).all()
    assert e0["marker"] != e1["marker"]


def test_oracle_check_allows_reordered_ties_only():
    oracle = [(1, 10, 3.0), (2, 11, 2.0), (3, 12, 2.0), (4, 13, 1.0)]
    assert _oracle_check([(1, 10, 3.0), (2, 12, 2.0), (3, 11, 2.0), (4, 13, 1.0)], oracle)
    assert not _oracle_check([(1, 10, 3.0), (2, 13, 2.0), (3, 11, 2.0), (4, 12, 1.0)], oracle)
    assert not _oracle_check([(1, 10, 3.0)], oracle)

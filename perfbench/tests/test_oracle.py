import pandas as pd
import pytest

import oracle


def test_near_dup_pairs_brute_force():
    texts = ["abcdefgh", "abcdefgx", "zzzzyyyy"]
    pairs = oracle.near_dup_pairs([10, 11, 12], texts, 0.5)
    assert list(pairs) == [(10, 11)]
    assert pairs[(10, 11)] == pytest.approx(5 / 7)


def test_close_frame_tolerates_float_order_noise_only():
    a = pd.DataFrame({"k": ["x", "y"], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"v": [1.0, 0.3], "k": ["y", "x"]})
    assert oracle.close_frame(a, b) is None
    c = pd.DataFrame({"k": ["x", "y"], "v": [0.31, 1.0]})
    assert oracle.close_frame(a, c) is not None


def test_search_oracle_fuses_keyword_and_vector_rankings():
    texts = ["alpha beta", "beta gamma", "gamma delta", "delta alpha alpha", "omega"]
    o = oracle.SearchOracle([1, 2, 3, 4, 5], texts, max_df_ratio=1.0)
    hits = o.search("alpha", k=3)
    assert len(hits) == 3
    kw = [d for d, _ in o.bm25(["alpha"], 3)]
    assert set(kw) == {1, 4}
    # a doc on top of both rankings gets the largest fused score
    top_vec = o.cosine("alpha", 5)[0][0]
    assert hits[0][1] >= oracle.round6(1.0 / 61)
    assert oracle.same_search(hits, hits) is None
    assert oracle.same_search(hits, hits[:2]) is not None
    assert top_vec in [d for d, _ in o.cosine("alpha", 5)]


def test_round6_is_half_up():
    assert oracle.round6(0.0000005) == 0.000001
    assert oracle.round6(1.2345674) == 1.234567


def test_unround_strips_aliased_rounds_only():
    sql = ("SELECT k, ROUND(SUM(a * (1 - b)), 2) AS rev, ROUND(AVG(q), 4) AS q, "
           "round(x) AS r, CAST(COUNT(*) AS BIGINT) AS n, ground(y, 2) AS g FROM t")
    bare, digits = oracle.unround(sql)
    assert digits == {"rev": 2, "q": 4}
    assert "(SUM(a * (1 - b))) AS rev" in bare and "(AVG(q)) AS q" in bare
    assert "round(x) AS r" in bare and "ground(y, 2) AS g" in bare


def test_a_one_cent_difference_passes_only_on_a_tie():
    got = pd.DataFrame({"k": [1, 2], "rev": [10.01, 20.0]})
    want = pd.DataFrame({"k": [1, 2], "rev": [10.0, 20.0]})
    on_tie = pd.DataFrame({"k": [1, 2], "rev": [10.005, 20.0]})
    off_tie = pd.DataFrame({"k": [1, 2], "rev": [10.0042, 20.0]})
    assert oracle.same_frame(got, want) is not None
    assert oracle.same_frame_at_ties(got, want, on_tie, {"rev": 2}) is None
    assert oracle.same_frame_at_ties(got, want, off_tie, {"rev": 2}) is not None
    two_cents = pd.DataFrame({"k": [1, 2], "rev": [10.02, 20.0]})
    assert oracle.same_frame_at_ties(two_cents, want, on_tie, {"rev": 2}) is not None

"""The tail percentile and the oracle check."""

import pytest

from perfbench import checks
from terrier_spark import oracle

DOCS = [
    ("d01", "alpha beta beta gamma"),
    ("d02", "alpha alpha delta"),
    ("d03", "beta gamma gamma gamma epsilon"),
    ("d04", "alpha beta"),
    ("d05", "alpha beta"),
    ("d06", "zeta eta theta alpha"),
    ("d07", "beta"),
]


@pytest.fixture(scope="module")
def oc():
    return oracle.build_index(DOCS)


def test_tail_is_a_fixed_percentile():
    assert checks.tail(list(range(1, 101))) == pytest.approx(90.1)
    assert checks.tail(list(range(10, 0, -1))) == pytest.approx(9.1)
    # the percentile does not move with the sample count
    assert checks.tail([1.0] * 9 + [2.0] * 1) == pytest.approx(1.1)
    assert checks.tail([1.0] * 90 + [2.0] * 10) == pytest.approx(1.1)
    assert checks.TAIL_PERCENTILE == 90.0 and checks.MIN_SAMPLES >= 10
    with pytest.raises(ValueError):
        checks.tail([])


def test_postings_of_sums_distinct_term_df(oc):
    assert checks.postings_of(oc, "alpha beta alpha missing") == oc.df["alpha"] + oc.df["beta"]


def test_oracle_check_flags_a_wrong_topk(oc):
    q = "alpha beta"
    want = oracle.bm25_topk(oc, q, 3)
    assert checks.topk_matches_oracle(want, oc, q, 3)
    wrong_doc = [("d07", want[0][1])] + want[1:]
    wrong_score = [(want[0][0], want[0][1] + 1e-6)] + want[1:]
    assert want[1][1] != want[2][1]
    swapped = [want[0], want[2], want[1]]
    for got in (wrong_doc, wrong_score, swapped, want[:-1], want + [("d07", 0.0)], []):
        assert not checks.topk_matches_oracle(got, oc, q, 3)


def test_ties_may_break_either_way(oc):
    # d04 and d05 tie on "alpha beta": a merged index breaks ties by
    # docno, not doc_id, so either order, and at a cut between them
    # either doc, is right.
    q = "alpha beta"
    ranked = oracle.bm25_topk(oc, q, 7)
    scores = {d: s for d, s in ranked}
    assert scores["d04"] == scores["d05"]
    k = [d for d, _ in ranked].index("d04") + 1
    want = ranked[:k]
    assert want[-1][0] == "d04"
    other = want[:-1] + [("d05", want[-1][1])]
    assert checks.topk_matches_oracle(other, oc, q, k)
    swapped = list(ranked)
    swapped[k - 1], swapped[k] = swapped[k], swapped[k - 1]
    assert swapped[k - 1][0] == "d05"
    assert checks.topk_matches_oracle(swapped, oc, q, 7)
    assert not checks.topk_matches_oracle(want[:-1] + [("d07", want[-1][1])], oc, q, k)

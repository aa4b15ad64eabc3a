"""Output checks and failure counting (no Spark needed)."""

from perfbench import checks
from perfbench.workloads import Bench

WANT = {0: [(1, 5, 2.5), (2, 7, 1.25)], 1: []}
GOOD = [(0, 1, 5, 2.5), (0, 2, 7, 1.25)]


def _bench():
    return Bench(None, "/nonexistent", seed=0, cores=1, trace=False)


def _topk(b, rows):
    b.call("search", "topk", lambda: rows, action=None,
           check=lambda r: checks.ranked(r, WANT), n_queries=2)


def test_corrupted_result_counts_as_failure():
    b = _bench()
    _topk(b, GOOD)
    _topk(b, [(0, 1, 5, 2.5), (0, 2, 7, 1.2500000000000002)])   # last-ulp score
    _topk(b, [(0, 1, 7, 2.5), (0, 2, 5, 1.25)])                 # swapped docids
    _topk(b, GOOD[:1])                                          # a hit missing
    _topk(b, GOOD + [(1, 1, 9, 0.5)])                           # a spurious hit
    assert [bool(c.problems) for c in b.calls] == [False, True, True, True, True]


def test_exception_counts_as_failure():
    b = _bench()

    def boom():
        raise ValueError("operator failed")

    b.call("search", "topk", boom, check=lambda r: [])
    assert b.calls[0].problems and "operator failed" in b.calls[0].problems[0]


def test_same_answer_across_calls_and_batches():
    same = checks.SameAnswer()
    batch = {0: "a b", 1: "c"}
    rows = [(0, 1, 3, "x"), (1, 1, 4, "y")]
    assert same.check("phrase", batch, rows) == []
    assert same.check("phrase", batch, list(reversed(rows))) == []
    # the 1-query batch reuses query "c" under another query_id
    assert same.check("phrase", {7: "c"}, [(7, 1, 4, "y")]) == []
    assert same.check("phrase", {7: "c"}, [(7, 1, 4, "z")]) != []
    # answers are kept per operator
    assert same.check("span_near", {7: "c"}, [(7, 1, 4, "z")]) == []


def test_ranked_by_url_tolerates_ties_only_at_the_cut():
    a = {0: [(1, "u1", 3.0), (2, "u2", 1.0), (3, "u3", 1.0)]}
    tie_swap = {0: [(1, "u1", 3.0), (2, "u2", 1.0), (3, "u9", 1.0)]}
    top_swap = {0: [(1, "u9", 3.0), (2, "u2", 1.0), (3, "u3", 1.0)]}
    score = {0: [(1, "u1", 3.0), (2, "u2", 1.0), (3, "u3", 0.5)]}
    assert checks.ranked_by_url(tie_swap, a) == []
    assert checks.ranked_by_url(top_swap, a) != []
    assert checks.ranked_by_url(score, a) != []


def test_ranked_by_url_tolerates_ulps_only():
    a = {0: [(1, "u1", 2.5971144973835463), (2, "u2", 1.0), (3, "u3", 0.5)]}
    ulps = {0: [(1, "u1", 2.597114497383547), (2, "u2", 1.0000000000000002),
                (3, "u3", 0.5)]}
    off = {0: [(1, "u1", 2.5971144973835463), (2, "u2", 1.0 + 1e-9), (3, "u3", 0.5)]}
    short = {0: a[0][:2]}
    assert checks.ranked_by_url(ulps, a) == []
    assert checks.ranked_by_url(off, a) != []
    assert checks.ranked_by_url(short, a) != []


def test_counts():
    assert checks.counts({1: {"h": 2}}, {1: {"h": 2}}, "buckets") == []
    assert checks.counts({1: {"h": 2}}, {1: {"h": 3}}, "buckets") != []
    assert checks.counts({}, {1: (1, 2, 3, 4)}, "stats") != []

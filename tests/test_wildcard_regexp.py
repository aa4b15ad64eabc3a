"""Q15/Q16 (round 7): wildcard + regexp term queries.

Engine expansion ≡ a pure-Python dictionary twin (same df-desc cap),
search results ≡ the expanded disjunction through the standard path
bit-for-bit AND ≡ the independent NumPy oracle; prefix-extraction
edge cases; validation errors."""

import os
import re

import pytest

from aarhus_spark import oracle
from aarhus_spark.operators.build import build_index
from aarhus_spark.operators.search import (_regex_literal_prefix,
                                           expand_regexp_terms,
                                           expand_wildcard_terms,
                                           search_regexp, search_topk,
                                           search_wildcard)
from aarhus_spark.sources.fixtures import gen_pages, pages_rows

K = 10

WILDCARDS = [
    (0, "quer*"),     # prefix-shaped: range pushdown + LIKE
    (1, "s?ark*"),    # literal prefix "s" + mid wildcards
    (2, "*08"),       # leading wildcard: full dictionary scan
    (3, "jo?n*"),     # join<N>...
    (4, "zz*nope"),   # no matches
]

REGEXPS = [
    (0, "merge[0-9]*"),          # prefix "merge"
    (1, "(hash|scan)[0-9]{0,2}"),  # no provable prefix (leading group)
    (2, "qu.*y2?"),              # prefix "qu"
    (3, "data|doc[0-9]+"),       # top-level alternation: no prefix
    (4, "zzz+nope"),             # no matches
]


@pytest.fixture(scope="module")
def widx(spark, tmpdir_session):
    pdf = gen_pages(600)
    out = os.path.join(tmpdir_session, "idx_wild")
    build_index(spark, spark.createDataFrame(pdf), out,
                n_partitions=4, n_buckets=3, salts=3,
                max_postings_per_row=150)
    return pdf, out, oracle.build(pages_rows(pdf))


def _py_expand(oidx, pred, cap=1024):
    """Pure-Python twin of _expand_dict_terms: filter vocab, cap by
    df desc / term asc, return sorted."""
    cands = [t for t in oidx.df if pred(t)]
    capped = sorted(cands, key=lambda t: (-oidx.df[t], t))[:cap]
    return sorted(capped)


def _wc_pred(p):
    rx = re.compile(p.replace("*", ".*").replace("?", "."))
    return lambda t: rx.fullmatch(t) is not None


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                  for r in df.collect())


def test_wildcard_expansion_vs_python_twin(spark, widx):
    _, out, oidx = widx
    for _, p in WILDCARDS:
        got = expand_wildcard_terms(spark, out, p)
        assert got == _py_expand(oidx, _wc_pred(p)), p
    # a match exists for every pattern that should have one (fixture
    # vocab is head words + {base}{i} numbered tokens)
    assert expand_wildcard_terms(spark, out, "quer*")
    got = expand_wildcard_terms(spark, out, "s?ark*")
    assert got and all(t.startswith("s") and t[2:5] == "ark" for t in got)
    got = expand_wildcard_terms(spark, out, "*08")
    assert got and all(t.endswith("08") for t in got)
    assert expand_wildcard_terms(spark, out, "zz*nope") == []


def test_regexp_expansion_vs_python_twin(spark, widx):
    _, out, oidx = widx
    for _, p in REGEXPS:
        got = expand_regexp_terms(spark, out, p)
        exp = _py_expand(oidx, lambda t: re.fullmatch(p, t) is not None)
        assert got == exp, p
    got = expand_regexp_terms(spark, out, "merge[0-9]*")
    assert got and all(t.startswith("merge") for t in got)
    assert "data" in expand_regexp_terms(spark, out, "data|doc[0-9]+")


def test_wildcard_search_vs_disjunction_and_oracle(spark, widx):
    _, out, oidx = widx
    qdf = spark.createDataFrame(WILDCARDS, "query_id long, wpattern string")
    got = _rows(search_wildcard(spark, out, qdf, k=K))
    # bit-identical to the expanded disjunction through the default path
    exp_rows = [(qid, " ".join(expand_wildcard_terms(spark, out, p)))
                for qid, p in WILDCARDS]
    want = _rows(search_topk(spark, out, spark.createDataFrame(
        exp_rows, "query_id long, qtext string"), k=K))
    assert got == want and len(got) > 0
    # and equal to the independent NumPy oracle on the same expansions
    exp = []
    for qid, qtext in exp_rows:
        exp.extend((qid, r, d, s)
                   for r, d, s in oracle.search(oidx, qtext, k=K))
    assert got == sorted(exp)
    assert 4 not in {q for q, *_ in got}, "no-match pattern must be empty"


def test_regexp_search_vs_disjunction_and_oracle(spark, widx):
    _, out, oidx = widx
    qdf = spark.createDataFrame(REGEXPS, "query_id long, rpattern string")
    got = _rows(search_regexp(spark, out, qdf, k=K))
    exp_rows = [(qid, " ".join(expand_regexp_terms(spark, out, p)))
                for qid, p in REGEXPS]
    want = _rows(search_topk(spark, out, spark.createDataFrame(
        exp_rows, "query_id long, qtext string"), k=K))
    assert got == want and len(got) > 0
    exp = []
    for qid, qtext in exp_rows:
        exp.extend((qid, r, d, s)
                   for r, d, s in oracle.search(oidx, qtext, k=K))
    assert got == sorted(exp)
    assert 4 not in {q for q, *_ in got}


def test_expansion_cap_is_load_bearing(spark, widx):
    _, out, oidx = widx
    full = expand_wildcard_terms(spark, out, "quer*")
    assert len(full) > 3
    capped = expand_wildcard_terms(spark, out, "quer*", cap=3)
    assert len(capped) == 3
    assert capped == _py_expand(oidx, _wc_pred("quer*"), cap=3)


def test_regex_literal_prefix_edges():
    assert _regex_literal_prefix("jo(in|b)s?") == "jo"
    assert _regex_literal_prefix("dat[a-z]") == "dat"
    assert _regex_literal_prefix("dat[a-z]*") == "dat"
    assert _regex_literal_prefix("merge[0-9]*") == "merge"
    # quantifier makes the last literal optional/repeatable
    assert _regex_literal_prefix("qu?x") == "q"
    assert _regex_literal_prefix("ab*c") == "a"
    assert _regex_literal_prefix("d{0,2}x") == ""
    # top-level alternation / escapes / leading group: no safe prefix
    assert _regex_literal_prefix("a|b") == ""
    assert _regex_literal_prefix("data|doc[0-9]+") == ""
    assert _regex_literal_prefix(r"\d+") == ""
    assert _regex_literal_prefix("(ab)?cd") == ""
    # parenthesized alternation after literals keeps the prefix
    assert _regex_literal_prefix("sc(an|ore)") == "sc"


def test_validation_errors(spark, widx):
    _, out, _ = widx
    # NB "UP*" is NOT an error: patterns lowercase first, like the
    # analyzer does to query text
    for bad in ["", "**", "?", "a b*", "wi%d", "w-d*"]:
        with pytest.raises(ValueError):
            expand_wildcard_terms(spark, out, bad)
    for bad in ["", "(unclosed", "a{2,1}"]:
        with pytest.raises(ValueError):
            expand_regexp_terms(spark, out, bad)


def test_wildcard_range_pushdown_plan(spark, widx):
    """A prefix-shaped wildcard must push the term range + the LIKE
    (as StringStartsWith/term-range PushedFilters) to the dictionary
    scan."""
    from pyspark.sql import functions as F
    from aarhus_spark.operators.build import IndexPaths
    _, out, _ = widx
    dic = (spark.read.parquet(IndexPaths(out).dictionary)
           .select("term", "df")
           .filter((F.col("term") >= "quer") & (F.col("term") < "ques")
                   & F.col("term").like("quer%")))
    plan = dic._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(term" in plan


def _dictionary_scans(df) -> list[str]:
    """PushedFilters of each parquet scan in ``df``'s physical plan,
    in full (the plan's string form abbreviates them)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [s.metadata() for s in scans
             if s.getClass().getSimpleName() == "FileSourceScanExec"]
    assert all("/dictionary" in m.apply("Location") for m in scans)
    return [m.apply("PushedFilters") for m in scans]


def test_expansion_frame_is_one_pushed_scan_per_dir(spark, widx, tmpdir_session):
    """The engine's own expansion frame for a whole batch of rows reads
    each chain dir's dictionary once; when every row has a literal
    term prefix, the scan's PushedFilters carry every row's range."""
    from aarhus_spark.operators.incremental import build_delta
    from aarhus_spark.operators.search import (_expansion_frame, _fuzzy_cond,
                                               _prefix_cond, _regexp_cond,
                                               _wildcard_cond)
    pdf, out, _ = widx
    delta = os.path.join(tmpdir_session, "idx_wild_delta")
    new = pdf.iloc[:40].copy()
    new["url"] = new["url"] + "?v=2"
    build_delta(spark, spark.createDataFrame(new), out, delta,
                n_partitions=2, n_buckets=2, salts=2)
    ranged = [_wildcard_cond("quer*"), _prefix_cond("s"),
              _regexp_cond("merge[0-9]*")]
    for dirs, n_dirs in ((out, 1), ([out, delta], 2)):
        pushed = _dictionary_scans(_expansion_frame(spark, dirs, ranged, 1024))
        assert len(pushed) == n_dirs
        for filters in pushed:
            for lo, hi in (("quer", "ques"), ("s", "t"), ("merge", "mergf")):
                assert (f"And(GreaterThanOrEqual(term,{lo}),LessThan(term,{hi}))"
                        in filters), filters
        # a row without a literal prefix: still one scan per dir, unranged
        pushed = _dictionary_scans(_expansion_frame(
            spark, dirs, ranged + [_fuzzy_cond("sprk", 1)], 1024))
        assert len(pushed) == n_dirs
        assert not any("GreaterThanOrEqual(term" in f for f in pushed), pushed

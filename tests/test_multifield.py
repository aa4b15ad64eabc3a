"""Q11 multi-field / multi_match + Q12 prefix query tests."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aarhus_spark.textops import extract_title, extract_title_series


# ---------------------------------------------------------------------------
# title extraction
# ---------------------------------------------------------------------------

TITLE_CASES = [
    b"<html><title>Hello &amp; World</title><body>x</body></html>",
    b"<html><TITLE lang=en>Upper\n  Case</TITLE></html>",
    b"<html><body>no title here</body></html>",
    b"<title>first</title><title>second</title>",
    None,
    b"<title>spans\nlines\tand\ttabs</title>",
]


def test_extract_title_scalar():
    assert extract_title(TITLE_CASES[0]) == "Hello & World"
    assert extract_title(TITLE_CASES[1]) == "Upper Case"
    assert extract_title(TITLE_CASES[2]) == ""
    assert extract_title(TITLE_CASES[3]) == "first"
    assert extract_title(None) == ""


def test_extract_title_series_matches_scalar():
    s = extract_title_series(pd.Series(TITLE_CASES, dtype=object))
    for got, raw in zip(s, TITLE_CASES):
        assert got == extract_title(raw)


# ---------------------------------------------------------------------------
# multi-field build + multi_match
# ---------------------------------------------------------------------------

def _mf_corpus(spark):
    rows = [
        # url, ts, html, text, lang
        ("u://a", "2026-01-01", "apple banana cherry", "Apple Pie"),
        ("u://b", "2026-01-01", "banana banana banana", "Banana"),
        ("u://c", "2026-01-01", "cherry apple", ""),          # no title
        ("u://d", "2026-01-01", "durian", "Apple Apple"),
        ("u://e", "2026-01-01", "apple", "Cherry"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "ts", "text", "title"])
    pdf["warc_ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf[["url", "warc_ts", "text", "title"]])
    return (df.withColumn("html", F.lit(None).cast("binary"))
            .withColumn("lang", F.lit("en")))


@pytest.fixture(scope="module")
def mf_index(spark, tmpdir_session):
    from aarhus_spark.operators.multifield import build_field_indexes
    out = os.path.join(tmpdir_session, "mf_idx")
    stats = build_field_indexes(
        spark, _mf_corpus(spark), out,
        fields={"text": F.col("text"), "title": F.col("title")})
    return out, stats


def test_mf_shared_docid_space(spark, mf_index):
    from aarhus_spark.operators.build import IndexPaths
    out, stats = mf_index
    assert stats["text"]["N"] == stats["title"]["N"] == 5
    m_text = {r["url"]: r["docid"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=text")).doclens).collect()}
    m_title = {r["url"]: r["docid"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=title")).doclens).collect()}
    assert m_text == m_title and len(m_text) == 5
    # the empty-title doc exists in the title index with dl = 0
    dl_title = {r["url"]: r["dl"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=title")).doclens).collect()}
    assert dl_title["u://c"] == 0


def _scores(df):
    return {(r["query_id"], r["docid"]): r["score"] for r in df.collect()}


def test_multi_match_modes_vs_per_field(spark, mf_index):
    """best_fields == max(per-field), most_fields == sum(per-field),
    boosts multiply — cross-checked against two independent single-field
    TAAT runs."""
    from aarhus_spark.operators.multifield import search_multi_match
    from aarhus_spark.operators.search import search_taat
    out, _ = mf_index
    qdf = spark.createDataFrame([(0, "apple"), (1, "banana cherry")],
                                "query_id long, qtext string")
    s_text = _scores(search_taat(spark, os.path.join(out, "field=text"),
                                 qdf, k=100))
    s_title = _scores(search_taat(spark, os.path.join(out, "field=title"),
                                  qdf, k=100))
    boost = 3.0
    best = _scores(search_multi_match(spark, out, qdf, k=100,
                                      boosts={"title": boost},
                                      mode="best_fields"))
    most = _scores(search_multi_match(spark, out, qdf, k=100,
                                      boosts={"title": boost},
                                      mode="most_fields"))
    keys = set(s_text) | set(s_title)
    assert set(best) == keys == set(most)
    for key in keys:
        a = s_text.get(key, 0.0)
        b = boost * s_title.get(key, 0.0)
        assert best[key] == pytest.approx(max(a, b), rel=1e-12)
        assert most[key] == pytest.approx(a + b, rel=1e-12)
    # the no-title doc (u://c holds 'cherry apple' text) appears via
    # the text field only; its title never matches
    assert all(k in s_text for k in best if k not in s_title)


def test_multi_match_tie_breaker(spark, mf_index):
    from aarhus_spark.operators.multifield import search_multi_match
    out, _ = mf_index
    qdf = spark.createDataFrame([(0, "apple")], "query_id long, qtext string")
    pure = _scores(search_multi_match(spark, out, qdf, k=100,
                                      mode="best_fields"))
    tb = _scores(search_multi_match(spark, out, qdf, k=100,
                                    mode="best_fields", tie_breaker=0.5))
    total = _scores(search_multi_match(spark, out, qdf, k=100,
                                       mode="most_fields"))
    for key in tb:
        assert tb[key] == pytest.approx(
            pure[key] + 0.5 * (total[key] - pure[key]), rel=1e-12)


def test_title_from_html_field(spark, tmpdir_session):
    """The <title> extractor composes with the field build: a corpus
    where text comes from E(html) and title from E_title(html)."""
    import pyspark.sql.types as T

    from aarhus_spark.operators.build import IndexPaths
    from aarhus_spark.operators.multifield import build_field_indexes
    from aarhus_spark.textops import extract_title_series

    @F.pandas_udf(T.StringType())
    def title_udf(html: pd.Series) -> pd.Series:
        return extract_title_series(html)

    rows = [("u://x", b"<title>alpha beta</title><p>gamma delta</p>"),
            ("u://y", b"<p>no title gamma</p>")]
    pdf = pd.DataFrame(rows, columns=["url", "html"])
    pdf["warc_ts"] = pd.to_datetime("2026-01-01")
    df = (spark.createDataFrame(pdf)
          .withColumn("text", F.lit(None).cast("string"))
          .withColumn("lang", F.lit("en"))
          .select("url", "warc_ts", "html", "text", "lang"))
    out = os.path.join(tmpdir_session, "mf_html_idx")
    stats = build_field_indexes(spark, df, out,
                                fields={"text": F.col("text"),
                                        "title": title_udf(F.col("html"))})
    assert stats["text"]["N"] == stats["title"]["N"] == 2
    dic = {r["term"] for r in spark.read.parquet(
        IndexPaths(os.path.join(out, "field=title")).dictionary).collect()}
    assert dic == {"alpha", "beta"}


# ---------------------------------------------------------------------------
# prefix queries
# ---------------------------------------------------------------------------

def test_prefix_expansion_and_cap(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import expand_prefix_terms
    idx = _ensure_index(spark, sf_dir)
    terms = expand_prefix_terms(spark, idx, "s")
    assert set(terms) == {"scan", "slow", "small", "sort", "spark", "stream"}
    # cap keeps the highest-df expansions, deterministically
    capped = expand_prefix_terms(spark, idx, "s", cap=2)
    assert len(capped) == 2 and set(capped) < set(terms)
    with pytest.raises(ValueError):
        expand_prefix_terms(spark, idx, "")
    with pytest.raises(ValueError):
        expand_prefix_terms(spark, idx, "a*")


def test_prefix_search_equals_expanded_disjunction(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import (expand_prefix_terms,
                                               search_prefix, search_taat)
    idx = _ensure_index(spark, sf_dir)
    qdf = spark.createDataFrame([(0, "s"), (1, "qu")],
                                "query_id long, prefix string")
    got = search_prefix(spark, idx, qdf, k=15).collect()
    exp_rows = [(qid, " ".join(expand_prefix_terms(spark, idx, p)))
                for qid, p in [(0, "s"), (1, "qu")]]
    want = search_taat(spark, idx, spark.createDataFrame(
        exp_rows, "query_id long, qtext string"), k=15).collect()
    key = lambda r: (r["query_id"], r["rank"], r["docid"], r["score"])
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_prefix_range_pushdown_plan(spark, sf_dir):
    """The dictionary scan must carry the term range as PushedFilters."""
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.build import IndexPaths
    idx = _ensure_index(spark, sf_dir)
    dic = (spark.read.parquet(IndexPaths(idx).dictionary)
           .filter((F.col("term") >= "s") & (F.col("term") < "t")))
    plan = dic._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(term" in plan


def test_fuzzy_expansion(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import expand_fuzzy_terms
    idx = _ensure_index(spark, sf_dir)
    assert set(expand_fuzzy_terms(spark, idx, "vale", 2)) == {"table", "value"}
    assert expand_fuzzy_terms(spark, idx, "vale", 1) == ["value"]
    # distance 0: the exact term only
    assert expand_fuzzy_terms(spark, idx, "value", 0) == ["value"]
    with pytest.raises(ValueError):
        expand_fuzzy_terms(spark, idx, "vale", 3)


def test_fuzzy_search_equals_expanded_disjunction(spark, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import (expand_fuzzy_terms,
                                               search_fuzzy, search_taat)
    idx = _ensure_index(spark, sf_dir)
    qdf = spark.createDataFrame([(0, "vale")], "query_id long, fterm string")
    got = search_fuzzy(spark, idx, qdf, k=15).collect()
    want = search_taat(spark, idx, spark.createDataFrame(
        [(0, " ".join(expand_fuzzy_terms(spark, idx, "vale", 2)))],
        "query_id long, qtext string"), k=15).collect()
    key = lambda r: (r["query_id"], r["rank"], r["docid"], r["score"])
    assert sorted(map(key, got)) == sorted(map(key, want))


# ---------------------------------------------------------------------------
# block-max multi_match kernel ≡ exhaustive per-field TAAT fold
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def reference(spark):
    """Exhaustive multi_match in plain Python: per (query, doc), the
    boosted per-field scores — per-field TAAT with unbounded k, run once
    per (index, query set) — fold in field-name order from 0.0, the sum
    left to right and the best with greatest; then rank by (score desc,
    docid asc) and cut at k. Rows (query_id, rank, docid, score)."""
    from aarhus_spark.operators.multifield import list_fields
    from aarhus_spark.operators.search import search_taat
    field_scores: dict = {}

    def run(root, queries, k, boosts, mode, tie):
        key = (root, tuple(queries))
        if key not in field_scores:
            qdf = spark.createDataFrame(queries, "query_id long, qtext string")
            field_scores[key] = {
                name: _scores(search_taat(
                    spark, os.path.join(root, f"field={name}"), qdf,
                    k=(1 << 31) - 1))
                for name in list_fields(root)}
        return _fold(field_scores[key], k, boosts, mode, tie)
    return run


def _fold(per, k, boosts, mode, tie):
    combined: dict = {}
    for name in sorted(per):
        b = float(boosts.get(name, 1.0))
        for qd, sc in per[name].items():
            total, best = combined.get(qd, (0.0, 0.0))
            v = sc * b
            combined[qd] = (total + v, best if best >= v else v)
    by_q: dict = {}
    for (qid, docid), (total, best) in combined.items():
        score = total if mode == "most_fields" else best + tie * (total - best)
        by_q.setdefault(qid, []).append((-score, docid))
    return sorted((qid, rank, docid, -neg)
                  for qid, rows in by_q.items()
                  for rank, (neg, docid) in enumerate(sorted(rows)[:k], 1))


def _kernel_rows(spark, root, queries, k, boosts, mode, tie):
    from aarhus_spark.operators.multifield import search_multi_match
    qdf = spark.createDataFrame(queries, "query_id long, qtext string")
    res = search_multi_match(spark, root, qdf, k=k, boosts=boosts, mode=mode,
                             tie_breaker=tie)
    return sorted(tuple(r) for r in
                  res.select("query_id", "rank", "docid", "score").collect())


# "pie" occurs in titles only, "durian" and "word3" in texts only
_MF_QUERIES = [(0, "apple"), (1, "banana cherry"), (2, "durian"),
               (3, "zzzznomatch"), (4, "pie"), (5, "apple banana cherry")]
_TIE_QUERIES = [(0, "apple"), (1, "apple pie"), (2, "cherry"), (3, "pie"),
                (4, "word3")]


@pytest.mark.parametrize("mode,tie,boost,k", [
    ("best_fields", 0.0, 1.0, 2),
    ("best_fields", 0.3, 3.0, 2),
    ("best_fields", 1.0, 1.0, 100),
    ("most_fields", 0.0, 2.0, 3),
    ("most_fields", 0.0, 1.0, 100),
])
def test_multi_match_kernel_equals_exhaustive(spark, mf_index, reference,
                                              mode, tie, boost, k):
    """The pruning kernel returns BIT-identical rows to the exhaustive
    fold — same docids, ranks and float64 scores — for every
    mode/tie_breaker/boost/k (small k makes the interval bound prune;
    k=100 exceeds every match set)."""
    out, _ = mf_index
    args = (out, _MF_QUERIES, k, {"title": boost}, mode, tie)
    assert _kernel_rows(spark, *args) == reference(*args)


def test_multi_match_k_equals_match_count(spark, mf_index, reference):
    """k equal to the full match count: the heap fills only with the
    last match, so no interval is ever pruned — still the exhaustive
    answer."""
    out, _ = mf_index
    args = (out, [(0, "apple banana cherry")], 5, {}, "most_fields", 0.0)
    rows = _kernel_rows(spark, *args)
    assert len(rows) == 5 and rows == reference(*args)


@pytest.fixture(scope="module")
def mf_tie_index(spark, tmpdir_session):
    """Tie-heavy fixture: 400 docs (docids 0-399, four title blocks)
    share an IDENTICAL title ("apple pie", same tf/dl → one score
    class), the shape in which per-field block bounds cannot separate
    docs, so ranking falls to the docid tiebreak at the pruning
    threshold. Doc 300 also holds "pie" in its text, so for the query
    "pie" the interval of docids 256-383 has the highest bound and
    fills the top-k first; the tying lower docids scored later must
    still displace its tied docs."""
    from aarhus_spark.operators.multifield import build_field_indexes
    rows = []
    for i in range(400):
        rows.append((f"u://tie{i:03d}", "apple pie",
                     "pie pie pie durian" if i == 300
                     else f"banana cherry text{i} apple" if i % 3 == 0
                     else f"durian text{i}"))
    for i in range(15):
        rows.append((f"u://var{i:02d}", f"cherry title{i}",
                     f"apple banana cherry word{i}"))
    pdf = pd.DataFrame(rows, columns=["url", "title", "text"])
    pdf["warc_ts"] = pd.to_datetime("2026-01-01")
    df = (spark.createDataFrame(pdf)
          .withColumn("html", F.lit(None).cast("binary"))
          .withColumn("lang", F.lit("en"))
          .select("url", "warc_ts", "html", "text", "lang", "title"))
    out = os.path.join(tmpdir_session, "mf_tie_idx")
    build_field_indexes(spark, df, out,
                        fields={"text": F.col("text"),
                                "title": F.col("title")})
    return out


@pytest.mark.parametrize("mode,tie,boost,k", [
    ("best_fields", 0.0, 2.0, 5),
    ("best_fields", 0.0, 1.0, 3),
    ("best_fields", 0.4, 2.0, 5),
    ("most_fields", 0.0, 2.0, 5),
])
def test_multi_match_kernel_tie_heavy(spark, mf_tie_index, reference, mode,
                                      tie, boost, k):
    args = (mf_tie_index, _TIE_QUERIES, k, {"title": boost}, mode, tie)
    assert _kernel_rows(spark, *args) == reference(*args)


@pytest.mark.parametrize("mode", ["best_fields", "most_fields"])
@pytest.mark.parametrize("tie", [0.0, 0.3, 1.0])
def test_multi_match_kernel_equals_reference(spark, mf_index, mf_tie_index,
                                             reference, mode, tie):
    """Kernel ≡ test-local reference fold, bit for bit, across the
    cases that stress the bound: the tie-heavy index, a negative boost
    (bound = +inf, no pruning), k larger than every match set, and
    queries whose terms occur in one field only."""
    out, _ = mf_index
    for root, queries, boosts, k in [
            (out, _MF_QUERIES, {"title": 3.0}, 1),
            (out, _MF_QUERIES, {"title": -1.5}, 3),
            (out, _MF_QUERIES, {}, 1000),
            (mf_tie_index, _TIE_QUERIES, {"title": 2.0}, 4),
            (mf_tie_index, _TIE_QUERIES, {"text": 0.5, "title": -0.25}, 6)]:
        args = (root, queries, k, boosts, mode, tie)
        assert _kernel_rows(spark, *args) == reference(*args), args


def test_multi_match_docid_ranges_equal_single_group(spark, mf_tie_index,
                                                     reference, monkeypatch):
    """Above one docid range the kernel runs per (query, range) and
    merges with the search_wand_ranges window — same rows as the
    single-group path."""
    from aarhus_spark.operators import search
    args = (mf_tie_index, _TIE_QUERIES, 7, {"title": 2.0}, "best_fields", 0.3)
    single = _kernel_rows(spark, *args)
    monkeypatch.setattr(search, "default_n_ranges", lambda n_docs: 4)
    assert _kernel_rows(spark, *args) == single == reference(*args)

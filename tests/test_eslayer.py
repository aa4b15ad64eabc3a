"""ES aggregations layer (round 7): facets, function_score decay,
search_after pagination, highlighting, more_like_this — each against
an independent pure-Python twin over the NumPy oracle index."""

import os
import re
from collections import Counter
from math import log

import pytest

from aarhus_spark import oracle
from aarhus_spark.operators import eslayer as es
from aarhus_spark.operators.build import build_index
from aarhus_spark.operators.eslayer import (HOST_RE, mlt_select_terms,
                                            more_like_this, search_facets,
                                            search_function_score,
                                            search_matches, search_page,
                                            search_highlight)
from aarhus_spark.sources.fixtures import gen_pages, pages_rows

QUERIES = [
    (0, "the data"),
    (1, "query2 join11"),
    (2, "of spark16 merge12"),
]


def _dedup(pdf):
    """Latest-wins by url with the oracle's tie key, en + nonempty."""
    pdf = pdf.copy()
    pdf["_k"] = list(zip(pdf["warc_ts"], pdf["text"].notna(),
                         pdf["text"].fillna("")))
    pdf = (pdf.sort_values("_k").groupby("url", as_index=False).last()
           .drop(columns="_k"))
    return pdf[(pdf["lang"] == "en") & pdf["text"].astype(bool)]


@pytest.fixture(scope="module")
def eidx(spark, tmpdir_session):
    pdf = gen_pages(600)
    out = os.path.join(tmpdir_session, "idx_es")
    build_index(spark, spark.createDataFrame(pdf), out,
                n_partitions=4, n_buckets=3, salts=3,
                max_postings_per_row=150)
    oidx = oracle.build(pages_rows(pdf))
    docs = spark.createDataFrame(_dedup(pdf)[["url", "warc_ts", "text"]])
    return out, oidx, docs, _dedup(pdf)


def _all_matches(oidx, qtext):
    """All matched (docid -> score) — oracle.search with k = corpus."""
    return {d: s for _, d, s in oracle.search(oidx, qtext, k=oidx.n_docs)}


def test_search_matches_equals_oracle(spark, eidx):
    out, oidx, _, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    got = {}
    for r in search_matches(spark, out, qdf).collect():
        got.setdefault(r["query_id"], {})[r["docid"]] = r["score"]
    for qid, qtext in QUERIES:
        assert got.get(qid, {}) == _all_matches(oidx, qtext), qid


def test_facets_vs_python_twin(spark, eidx):
    out, oidx, _, _ = eidx
    host_re = re.compile(HOST_RE)
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_facets(spark, out, qdf, n_buckets=5)
    got = sorted((r["query_id"], r["brank"], r["bucket"], r["doc_count"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        counts = Counter(host_re.match(oidx.urls[d]).group(1)
                         for d in _all_matches(oidx, qtext))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        exp.extend((qid, i + 1, h, c) for i, (h, c) in enumerate(top))
    assert got == sorted(exp)
    assert len(got) > 0


def test_function_score_recency_decay(spark, eidx):
    out, oidx, _, ddf = eidx
    # fixture timestamps spread over ~600 s (+1 day for re-crawled
    # dups), so a sharp scale makes the decay actually load-bearing
    origin, scale_days, decay = "2026-01-01 00:00:00", 0.01, 0.5
    import datetime as dt
    o = dt.datetime(2026, 1, 1)
    ts_by_url = dict(zip(ddf["url"], ddf["warc_ts"]))
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_function_score(spark, out, qdf, k=10, origin=origin,
                                scale_days=scale_days, decay=decay)
    got = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        adj = {}
        for d, s in _all_matches(oidx, qtext).items():
            age = abs((ts_by_url[oidx.urls[d]] - o).total_seconds()) / 86400.0
            adj[d] = s * decay ** (age / scale_days)
        top = sorted(adj.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        exp.extend((qid, i + 1, d, s) for i, (d, s) in enumerate(top))
    exp = sorted(exp)
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12)
    # the decay must actually reorder vs plain BM25 for at least one query
    from aarhus_spark.operators.search import search_taat
    plain = sorted((r["query_id"], r["rank"], r["docid"])
                   for r in search_taat(spark, out, qdf, k=10).collect())
    assert plain != [g[:3] for g in got], "decay should reorder something"


def test_search_after_pagination(spark, eidx):
    out, oidx, _, _ = eidx
    # queries with >= 20 matches (head terms)
    qs = [(0, "the data"), (1, "of the")]
    qdf = spark.createDataFrame(qs, "query_id long, qtext string")
    p1 = search_page(spark, out, qdf, page_size=10, round_to=6)
    rows1 = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                   for r in p1.collect())
    after = spark.createDataFrame(
        [(q, s, d) for q, rk, d, s in rows1 if rk == 10],
        "query_id long, after_score double, after_docid long")
    p2 = search_page(spark, out, qdf, page_size=10, after=after, round_to=6)
    rows2 = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                   for r in p2.collect())
    # python twin: rounded-key ranking of the full match set
    exp1, exp2 = [], []
    for qid, qtext in qs:
        ranked = sorted(((round(s, 6), d)
                         for d, s in _all_matches(oidx, qtext).items()),
                        key=lambda x: (-x[0], x[1]))
        assert len(ranked) >= 20, qtext
        exp1.extend((qid, i + 1, d, s) for i, (s, d) in enumerate(ranked[:10]))
        exp2.extend((qid, i + 1, d, s)
                    for i, (s, d) in enumerate(ranked[10:20]))
    assert rows1 == sorted(exp1)
    assert rows2 == sorted(exp2)
    assert not ({(q, d) for q, _, d, _ in rows1}
                & {(q, d) for q, _, d, _ in rows2})


def test_highlight_snippets(spark, eidx):
    out, oidx, docs, _ = eidx
    from aarhus_spark.textops import tokenize
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_highlight(spark, out, qdf, docs, k=5, window=3)
    rows = res.collect()
    assert len(rows) > 0
    qterms = {qid: set(tokenize(qtext)) for qid, qtext in QUERIES}
    em = re.compile(r"<em>([a-z0-9]+)</em>")
    for r in rows:
        qid, d, snip = r["query_id"], r["docid"], r["snippet"]
        marked = em.findall(snip)
        assert marked, f"snippet without <em>: {snip!r}"
        assert set(marked) <= qterms[qid]
        # snippet tokens == the contiguous window around the FIRST match
        toks = oidx.tokens[d]
        first = min(i for i, t in enumerate(toks) if t in qterms[qid])
        lo = max(0, first - 3)
        want = toks[lo:first + 4]
        plain = [t for t in
                 re.split(r" ", snip.replace("<em>", "").replace("</em>", ""))
                 if t]
        assert plain == want, (snip, want)
        # every query-term occurrence inside the window is marked
        assert marked == [t for t in want if t in qterms[qid]]


def test_facets_compose_with_bool_kwargs(spark, eidx):
    """ES aggs apply to the bool-filtered match set: facets over a
    query with must_not must bucket only the docs that survive the
    exclusion."""
    out, oidx, _, _ = eidx
    host_re = re.compile(HOST_RE)
    from aarhus_spark.textops import tokenize
    qdf = spark.createDataFrame([(0, "the data", "query2")],
                                "query_id long, qtext string, neg_qtext string")
    res = search_facets(spark, out, qdf, n_buckets=5)
    got = sorted((r["brank"], r["bucket"], r["doc_count"])
                 for r in res.collect())
    excl = set()
    for t in tokenize("query2"):
        if t in oidx.postings:
            excl.update(oidx.postings[t][0].tolist())
    matched = set(_all_matches(oidx, "the data")) - excl
    counts = Counter(host_re.match(oidx.urls[d]).group(1) for d in matched)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    exp = sorted((i + 1, h, c) for i, (h, c) in enumerate(top))
    assert got == exp and excl, "exclusion must be load-bearing"


def test_mlt_selection_and_search(spark, eidx):
    out, oidx, docs, _ = eidx
    seeds = [(0, oidx.urls[5]), (1, oidx.urls[42])]

    def twin(docid, mqt=25):
        tf = Counter(oidx.tokens[docid])
        scored = [(t, round(c * log(1.0 + oidx.n_docs / oidx.df[t]), 9))
                  for t, c in tf.items()]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return sorted(t for t, _ in scored[:mqt])

    # term selection matches the python twin
    for qid, u in seeds:
        d = oidx.urls.index(u)
        text = " ".join(oidx.tokens[d])
        assert mlt_select_terms(spark, out, text) == twin(d)

    qdf = spark.createDataFrame(seeds, "query_id long, like_url string")
    res = more_like_this(spark, out, qdf, docs, k=10)
    got = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                 for r in res.collect())
    exp = []
    for qid, u in seeds:
        d = oidx.urls.index(u)
        ranked = oracle.search(oidx, " ".join(twin(d)), k=oidx.n_docs)
        kept = [(dd, s) for _, dd, s in ranked if dd != d][:10]
        exp.extend((qid, i + 1, dd, s) for i, (dd, s) in enumerate(kept))
    assert got == sorted(exp)
    # the seed doc itself never appears
    for qid, u in seeds:
        d = oidx.urls.index(u)
        assert (qid, d) not in {(q, dd) for q, _, dd, _ in got}


def _lev(a: str, b: str) -> int:
    """Plain DP Levenshtein — the twin must not share code with the
    engine (which uses JVM levenshtein)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_date_histogram_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import search_date_histogram
    out, oidx, _, ddf = eidx
    ts_by_url = dict(zip(ddf["url"], ddf["warc_ts"]))
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_date_histogram(spark, out, qdf, interval="minute")
    got = sorted((r["query_id"], r["brank"], r["bucket"], r["doc_count"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        counts = Counter(
            ts_by_url[oidx.urls[d]].floor("min").strftime("%Y-%m-%d %H:%M:%S")
            for d in _all_matches(oidx, qtext))
        for i, b in enumerate(sorted(counts)):
            exp.append((qid, i + 1, b, counts[b]))
    assert got == sorted(exp)
    # ES key-asc ordering and >1 bucket (fixture spreads ts over ~600 s
    # plus a +1d re-crawl band, so the agg is non-degenerate)
    assert max(g[1] for g in got) > 1


def test_suggest_terms_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import suggest_terms
    out, oidx, _, _ = eidx
    # "the" exists in the dictionary (missing-mode must emit nothing
    # for it); the others are typos; the last has no 2-edit neighbors
    words = [(0, "the"), (1, "tha"), (2, "dta"), (3, "zzqqxxyy")]
    wdf = spark.createDataFrame(words, "word_id long, word string")
    for mode in ("always", "missing", "popular"):
        res = suggest_terms(spark, out, wdf, max_edits=2,
                            n_suggestions=4, suggest_mode=mode)
        got = sorted((r["word_id"], r["srank"], r["term"],
                      r["distance"], r["df"]) for r in res.collect())
        exp = []
        for wid, w in words:
            own = oidx.df.get(w, 0)
            if mode == "missing" and own > 0:
                continue
            cand = [(t, _lev(t, w), oidx.df[t]) for t in oidx.postings
                    if abs(len(t) - len(w)) <= 2]
            cand = [(t, d, df) for t, d, df in cand if 1 <= d <= 2]
            if mode == "popular":
                cand = [(t, d, df) for t, d, df in cand if df > own]
            cand.sort(key=lambda x: (x[1], -x[2], x[0]))
            exp.extend((wid, i + 1, t, d, df)
                       for i, (t, d, df) in enumerate(cand[:4]))
        assert got == sorted(exp), mode
        if mode == "always":
            assert len(got) > 0
    # missing mode: the in-dictionary word got nothing
    res = suggest_terms(spark, out, wdf, suggest_mode="missing")
    assert not [r for r in res.collect() if r["word_id"] == 0]


def test_significant_terms_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import search_significant_terms
    out, oidx, docs, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_significant_terms(spark, out, qdf, docs, n_terms=8)
    got = sorted((r["query_id"], r["srank"], r["term"], r["fg_df"],
                  r["bg_df"]) for r in res.collect())
    n = oidx.n_docs
    exp = []
    for qid, qtext in QUERIES:
        m = set(_all_matches(oidx, qtext))
        fg = Counter(t for d in m for t in set(oidx.tokens[d]))
        scored = []
        for t, fdf in fg.items():
            fgp, bgp = fdf / len(m), oidx.df[t] / n
            scored.append((t, fdf, oidx.df[t],
                           round((fgp / bgp) * (fgp - bgp), 9)))
        scored.sort(key=lambda x: (-x[3], x[0]))
        exp.extend((qid, i + 1, t, fdf, bdf)
                   for i, (t, fdf, bdf, _) in enumerate(scored[:8]))
    assert got == sorted(exp)
    # the agg is non-degenerate: every query has a full top-8 and the
    # top term is not simply the most common corpus term
    assert len(got) == 3 * 8


# ---------------------------------------------------------------------------
# round-7 second batch: metric aggs, boosting, constant_score, rescore
# ---------------------------------------------------------------------------

def test_metric_aggs_vs_python_twin(spark, eidx):
    import numpy as np
    from aarhus_spark.operators.eslayer import search_metric_aggs
    out, oidx, _, _ = eidx
    host_re = re.compile(HOST_RE)
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    got = {r["query_id"]: r.asDict()
           for r in search_metric_aggs(spark, out, qdf).collect()}
    for qid, qtext in QUERIES:
        m = list(_all_matches(oidx, qtext))
        assert m, qtext
        dls = np.array([int(oidx.dls[d]) for d in m])
        g = got[qid]
        assert g["doc_count"] == len(m)
        assert g["min_dl"] == dls.min()
        assert g["max_dl"] == dls.max()
        assert g["sum_dl"] == dls.sum()
        assert g["avg_dl"] == round(float(dls.mean()), 9)
        assert g["p50_dl"] == pytest.approx(
            round(float(np.percentile(dls, 50)), 9), abs=2e-9)
        assert g["p95_dl"] == pytest.approx(
            round(float(np.percentile(dls, 95)), 9), abs=2e-9)
        hosts = {host_re.match(oidx.urls[d]).group(1) for d in m}
        assert g["host_card"] == len(hosts)


def test_metric_aggs_ts_filter_clause(spark, eidx):
    """bool.filter range on warc_ts: non-scoring selection BEFORE the
    aggregation — doc_count under the filter must equal the twin's
    count over ts-filtered matches, and be < the unfiltered count for
    at least one query (the clause is load-bearing)."""
    from aarhus_spark.operators.eslayer import search_metric_aggs
    out, oidx, _, ddf = eidx
    ts_by_url = dict(zip(ddf["url"], ddf["warc_ts"]))
    tss = sorted(ts_by_url.values())
    lo, hi = tss[len(tss) // 4], tss[3 * len(tss) // 4]
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    full = {r["query_id"]: r["doc_count"]
            for r in search_metric_aggs(spark, out, qdf).collect()}
    filt = {r["query_id"]: r["doc_count"]
            for r in search_metric_aggs(spark, out, qdf, ts_lo=str(lo),
                                        ts_hi=str(hi)).collect()}
    shrunk = False
    for qid, qtext in QUERIES:
        m = [d for d in _all_matches(oidx, qtext)
             if lo <= ts_by_url[oidx.urls[d]] < hi]
        assert filt.get(qid, 0) == len(m), qid
        shrunk = shrunk or filt.get(qid, 0) < full[qid]
    assert shrunk, "ts filter never narrowed any match set"


def test_boosting_demotes_not_excludes(spark, eidx):
    from aarhus_spark.operators.eslayer import search_boosting
    from aarhus_spark.textops import tokenize
    out, oidx, _, _ = eidx
    nb = 0.25  # power of two: the demotion multiply is FP-exact
    # neg='of' demotes ~all of query 0's matches yet 9 of them stay in
    # the top-10 (verified against the oracle) — demote, don't exclude
    bq = [(0, "the data", "of"), (1, "query2 join11", None)]
    qdf = spark.createDataFrame(
        bq, "query_id long, qtext string, neg_qtext string")
    got = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                 for r in search_boosting(spark, out, qdf,
                                          negative_boost=nb, k=10).collect())
    exp, any_demoted_kept = [], False
    for qid, qt, nqt in bq:
        excl = set()
        if nqt:
            for t in tokenize(nqt):
                if t in oidx.postings:
                    excl.update(oidx.postings[t][0].tolist())
        adj = {d: (s * nb if d in excl else s)
               for d, s in _all_matches(oidx, qt).items()}
        top = sorted(adj.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        exp.extend((qid, i + 1, d, s) for i, (d, s) in enumerate(top))
        any_demoted_kept = any_demoted_kept or any(
            d in excl for d, _ in top)
    assert got == sorted(exp)
    assert any_demoted_kept, ("no demoted doc stayed in a top-10 — the "
                              "demote-not-exclude semantics went untested")


def test_constant_score_docid_order(spark, eidx):
    from aarhus_spark.operators.eslayer import search_constant_score
    out, oidx, _, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    got = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                 for r in search_constant_score(spark, out, qdf, boost=1.5,
                                                k=10).collect())
    exp = []
    for qid, qtext in QUERIES:
        ids = sorted(_all_matches(oidx, qtext))[:10]
        exp.extend((qid, i + 1, d, 1.5) for i, d in enumerate(ids))
    assert got == sorted(exp)


def _phrase_hit(toks, ptoks):
    m = len(ptoks)
    return any(toks[i:i + m] == ptoks for i in range(len(toks) - m + 1))


def test_rescore_phrase_window(spark, eidx):
    """ES rescore: only the top window_size primary hits are eligible
    for the phrase boost; combined = qw·bm25 + rw·phrase_score, where
    the phrase score for a same-qtext phrase equals the disjunctive
    BM25 (distinct terms identical). The twin re-derives the window
    from the oracle's match set — engine scores are bitwise equal to
    the oracle's (test_search_matches), so the window cut is
    deterministic here."""
    from aarhus_spark.operators.eslayer import search_rescore
    from aarhus_spark.textops import tokenize
    out, oidx, _, _ = eidx
    qs = [(0, "the data"), (1, "of the")]
    qdf = spark.createDataFrame(qs, "query_id long, qtext string")
    window, k, rw = 12, 8, 2.0
    got = sorted((r["query_id"], r["rank"], r["docid"], r["score"])
                 for r in search_rescore(spark, out, qdf, window_size=window,
                                         k=k, rescore_weight=rw).collect())
    exp, boosted_any, cut_any = [], False, False
    for qid, qtext in qs:
        matches = _all_matches(oidx, qtext)
        win = sorted(matches.items(), key=lambda kv: (-kv[1], kv[0]))[:window]
        ptoks = tokenize(qtext)
        comb = {d: (s + rw * s if _phrase_hit(oidx.tokens[d], ptoks) else s)
                for d, s in win}
        top = sorted(comb.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        exp.extend((qid, i + 1, d, s) for i, (d, s) in enumerate(top))
        boosted_any = boosted_any or any(
            _phrase_hit(oidx.tokens[d], ptoks) for d, _ in win)
        cut_any = cut_any or any(
            _phrase_hit(oidx.tokens[d], ptoks)
            for d in matches if d not in dict(win))
    assert got == sorted(exp)
    assert boosted_any, "no phrase hit inside any window — boost untested"
    assert cut_any, ("no phrase hit OUTSIDE any window — the window cut "
                     "semantics went untested")


def test_top_hits_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import search_top_hits
    out, oidx, _, _ = eidx
    host_re = re.compile(HOST_RE)
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_top_hits(spark, out, qdf, n_buckets=4, k_hits=2,
                          round_to=6)
    got = sorted((r["query_id"], r["bucket"], r["doc_count"], r["brank"],
                  r["hrank"], r["docid"], r["score"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        m = _all_matches(oidx, qtext)
        by_bucket = {}
        for d, s in m.items():
            by_bucket.setdefault(
                host_re.match(oidx.urls[d]).group(1), []).append(
                    (round(s, 6), d))
        kept = sorted(by_bucket.items(),
                      key=lambda kv: (-len(kv[1]), kv[0]))[:4]
        for brank, (b, hits) in enumerate(kept, 1):
            top = sorted(hits, key=lambda x: (-x[0], x[1]))[:2]
            exp.extend((qid, b, len(hits), brank, i + 1, d, s)
                       for i, (s, d) in enumerate(top))
    assert got == sorted(exp)
    assert len(got) > 0


def test_histogram_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import search_histogram
    out, oidx, _, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_histogram(spark, out, qdf, interval=10)
    got = sorted((r["query_id"], r["bucket"], r["doc_count"], r["brank"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        counts = Counter(int(oidx.dls[d]) // 10 * 10
                         for d in _all_matches(oidx, qtext))
        exp.extend((qid, b, c, i + 1)
                   for i, (b, c) in enumerate(sorted(counts.items())))
    assert got == sorted(exp)
    assert len(got) > 0


def test_range_agg_empty_buckets_kept(spark, eidx):
    _check_range_agg(spark, eidx)


def test_range_agg_arrow_conversion_off(spark, eidx):
    """Open range ends must stay NULL in a session whose pandas↔Arrow
    conversion is off (Spark's default): a NaN bound makes the open
    ``*-30`` bucket count 0."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        _check_range_agg(spark, eidx)
    finally:
        spark.conf.set(key, old)


def _check_range_agg(spark, eidx):
    from aarhus_spark.operators.eslayer import search_range_agg
    out, oidx, _, _ = eidx
    # last range deliberately empty (no fixture doc is that long);
    # ranges overlap (0-30 ⊂ *-30's tail) — ES allows overlap and a
    # doc then counts in BOTH, which an equi-join shape would miss
    spec = [("*-30", None, 30), ("10-30", 10, 30), ("30-*", 30, None),
            ("9000-*", 9000, None)]
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_range_agg(spark, out, qdf, spec)
    got = sorted((r["query_id"], r["bucket"], r["doc_count"], r["brank"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        dls = [int(oidx.dls[d]) for d in _all_matches(oidx, qtext)]
        for i, (key, lo, hi) in enumerate(spec):
            n = sum(1 for dl in dls
                    if (lo is None or dl >= lo) and (hi is None or dl < hi))
            exp.append((qid, key, n, i + 1))
    assert got == sorted(exp)
    # the empty range must be PRESENT at 0 for every query
    assert all((qid, "9000-*", 0, 4) in got for qid, _ in QUERIES)
    # the overlap is load-bearing: some doc counted twice
    tot = {qid: sum(c for q, _, c, _ in got if q == qid) for qid, _ in QUERIES}
    n_match = {qid: len(_all_matches(oidx, qt)) for qid, qt in QUERIES}
    assert any(tot[q] > n_match[q] for q, _ in QUERIES)


def test_filters_agg_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import search_filters_agg
    out, oidx, _, _ = eidx
    filters = {"short": "dl < 20", "long": "dl >= 20",
               "u3": "url LIKE '%3'"}
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_filters_agg(spark, out, qdf, filters)
    got = sorted((r["query_id"], r["bucket"], r["doc_count"], r["brank"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        ds = list(_all_matches(oidx, qtext))
        exp.append((qid, "short",
                    sum(1 for d in ds if oidx.dls[d] < 20), 1))
        exp.append((qid, "long",
                    sum(1 for d in ds if oidx.dls[d] >= 20), 2))
        exp.append((qid, "u3",
                    sum(1 for d in ds if oidx.urls[d].endswith("3")), 3))
    assert got == sorted(exp)


def test_composite_paging_vs_python_twin(spark, eidx):
    """Every bucket tuple streams out across after-key pages, in
    composite-key order, each exactly once — including a final
    short page."""
    import pyspark.sql.functions as F
    from aarhus_spark.operators.eslayer import search_composite
    out, oidx, _, _ = eidx
    host_re = re.compile(HOST_RE)
    # size the page so the longest query streams in ~5 pages (each
    # page is a full Spark job) and the last page is short
    n_buckets = max(
        len({(host_re.match(oidx.urls[d]).group(1),
              int(oidx.dls[d]) // 10 * 10)
             for d in _all_matches(oidx, qtext)})
        for _, qtext in QUERIES)
    page = n_buckets // 5 + 1
    assert n_buckets % page, "last page would be full — pick a new page"
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    pages, cur, qcur = [], None, qdf
    for _ in range(10):
        p = search_composite(spark, out, qcur, page_size=page, after=cur,
                             interval=10).collect()
        if not p:
            break
        pages.extend(p)
        full = {}
        for r in p:
            if r["brank"] == page:
                full[r["query_id"]] = (r["k1"], r["k2"])
        if not full:
            break
        cur = spark.createDataFrame(
            [(q, k1, k2) for q, (k1, k2) in sorted(full.items())],
            "query_id long, after_k1 string, after_k2 long")
        qcur = qdf.join(cur, "query_id", "left_semi")
    got = sorted((r["query_id"], r["k1"], r["k2"], r["doc_count"])
                 for r in pages)
    exp = []
    for qid, qtext in QUERIES:
        counts = Counter(
            (host_re.match(oidx.urls[d]).group(1),
             int(oidx.dls[d]) // 10 * 10)
            for d in _all_matches(oidx, qtext))
        exp.extend((qid, k1, k2, c) for (k1, k2), c in counts.items())
    assert got == sorted(exp)
    assert len(got) > 0


def test_pipeline_aggs_vs_python_twin(spark, eidx):
    import datetime as dt
    from aarhus_spark.operators.eslayer import search_pipeline_aggs
    out, oidx, _, ddf = eidx
    ts_by_url = dict(zip(ddf["url"], ddf["warc_ts"]))
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_pipeline_aggs(spark, out, qdf, interval="minute",
                               top_n=4)
    got = sorted((r["query_id"], r["bucket"], r["doc_count"],
                  r["cum_sum"], r["deriv"], r["brank"], r["srank"])
                 for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        counts = Counter(
            ts_by_url[oidx.urls[d]].replace(second=0, microsecond=0)
            for d in _all_matches(oidx, qtext))
        rows, cum, prev = [], 0, None
        for i, (b, c) in enumerate(sorted(counts.items())):
            cum += c
            rows.append([qid, b.strftime("%Y-%m-%d %H:%M:%S"), c, cum,
                         0 if prev is None else c - prev, i + 1])
            prev = c
        order = sorted(range(len(rows)),
                       key=lambda i: (-rows[i][2], rows[i][1]))
        for srank, i in enumerate(order, 1):
            if srank <= 4:
                exp.append(tuple(rows[i] + [srank]))
    assert got == sorted(exp)
    assert len(got) > 0
    # derivative sentinel: every first (brank=1) bucket reports 0
    assert all(d == 0 for _, _, _, _, d, b, _ in got if b == 1)


def test_collapse_vs_python_twin(spark, eidx):
    """Collapse = k DISTINCT keys per query ordered by their best hit;
    inner hits ranked within each group; hrank 1 is the
    representative. A strong group must hide weaker same-key docs."""
    from aarhus_spark.operators.eslayer import search_collapse
    out, oidx, _, _ = eidx
    host_re = re.compile(HOST_RE)
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_collapse(spark, out, qdf, k=3, inner_k=2, round_to=6)
    got = sorted((r["query_id"], r["rank"], r["ckey"], r["hrank"],
                  r["docid"], r["score"]) for r in res.collect())
    exp = []
    for qid, qtext in QUERIES:
        m = _all_matches(oidx, qtext)
        groups = {}
        for d, s in m.items():
            groups.setdefault(host_re.match(oidx.urls[d]).group(1),
                              []).append((round(s, 6), d))
        reps = sorted(((max((s, -d) for s, d in hs), ck)
                       for ck, hs in groups.items()), reverse=True)
        for rank, (_, ck) in enumerate(reps[:3], 1):
            inner = sorted(groups[ck], key=lambda x: (-x[0], x[1]))[:2]
            exp.extend((qid, rank, ck, h + 1, d, s)
                       for h, (s, d) in enumerate(inner))
    assert got == sorted(exp)
    assert len(got) > 0
    # distinct-keys contract: per (query, rank) exactly one ckey, and
    # every returned key distinct within a query
    per_q = {}
    for q, rank, ck, h, _, _ in got:
        if h == 1:
            per_q.setdefault(q, []).append(ck)
    assert all(len(v) == len(set(v)) for v in per_q.values())


def test_explain_vs_python_twin(spark, eidx):
    """Explain components recompute from the oracle index, and the
    FULL-PRECISION per-term contributions must sum back to the hit's
    retrieval score — the breakdown reconciles with ranking."""
    from aarhus_spark.config import B, K1
    from aarhus_spark.operators.eslayer import search_explain
    from aarhus_spark.textops import tokenize
    out, oidx, docs, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    rows = search_explain(spark, out, qdf, docs, k=5,
                          rank_round_to=6).collect()
    assert rows
    got = sorted((r["query_id"], r["rank"], r["docid"], r["term"],
                  r["tf"], r["df"], r["idf_r"], r["tfn_r"],
                  r["contrib_r"], r["score_r"]) for r in rows)
    exp = []
    for qid, qtext in QUERIES:
        m = _all_matches(oidx, qtext)
        ranked = sorted(((round(s, 6), d) for d, s in m.items()),
                        key=lambda x: (-x[0], x[1]))[:5]
        qts = set(tokenize(qtext))
        for rank, (s_r, d) in enumerate(ranked, 1):
            toks = oidx.tokens[d]
            dl = int(oidx.dls[d])
            contribs = []
            for t in sorted(qts):
                tf = toks.count(t)
                if not tf:
                    continue
                df = oidx.df[t]
                idf = log(1.0 + (oidx.n_docs - df + 0.5) / (df + 0.5))
                denom = tf + K1 * (1.0 - B + B * dl / oidx.avgdl)
                contribs.append(idf * tf / denom)
                exp.append((qid, rank, d, t, tf, df, round(idf, 9),
                            round(tf / denom, 9),
                            round(idf * tf / denom, 9), s_r))
            # reconciliation: breakdown sums to the engine's score
            assert sum(contribs) == pytest.approx(m[d], rel=1e-9)
    assert got == sorted(exp)


def test_phrase_suggester_vs_python_twin(spark, eidx):
    """Phrase suggester: per-word 1-edit candidates x conjunctive index
    evidence, against an independent pure-Python pipeline (DP
    Levenshtein, token-set doc counts); zero-evidence combos and the
    identity combo never surface."""
    from itertools import product as iproduct
    from aarhus_spark.operators.eslayer import suggest_phrases
    from aarhus_spark.textops import tokenize
    out, oidx, _, _ = eidx

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    per_word, n_sug = 2, 3
    phrases = [(0, "th data"), (1, "query2 jion11"), (2, "zzqq yyxx")]
    pdf = spark.createDataFrame(phrases, "phrase_id long, phrase string")
    res = suggest_phrases(spark, out, pdf, max_edits=1,
                          per_word=per_word, n_suggestions=n_sug)
    got = sorted((r["phrase_id"], r["srank"], r["suggestion"],
                  r["edits"], r["doc_count"]) for r in res.collect())

    docsets = {}
    for t, (ds, _tf) in oidx.postings.items():
        docsets[t] = set(int(d) for d in ds)
    exp = []
    for pid, phrase in phrases:
        toks = tokenize(phrase)
        per = []
        for w in toks:
            cand = sorted(
                ((lev(t, w), -df_, t) for t, df_ in oidx.df.items()
                 if lev(t, w) == 1))[:per_word]
            per.append([(w, 0)] + [(t, 1) for _, _, t in cand])
        combos = {}
        for pick in iproduct(*per):
            sug = " ".join(t for t, _ in pick)
            if sug == " ".join(toks):
                continue
            ev = None
            for t, _ in pick:
                s = docsets.get(t, set())
                ev = s if ev is None else ev & s
            if ev:
                combos[sug] = (sum(e for _, e in pick), len(ev))
        top = sorted(combos.items(),
                     key=lambda kv: (-kv[1][1], kv[1][0], kv[0]))[:n_sug]
        exp.extend((pid, i + 1, s, e, n)
                   for i, (s, (e, n)) in enumerate(top))
    assert got == sorted(exp)
    assert len(got) > 0
    # the garbage phrase must produce nothing
    assert not [g for g in got if g[0] == 2]


def test_percolate_vs_python_twin(spark, eidx):
    """Reverse search: registered must/msm/phrase queries against an
    incoming doc batch, vs a brute-force token twin; the absent-term
    must query matches nothing."""
    from aarhus_spark.operators.eslayer import percolate
    from aarhus_spark.textops import tokenize
    out, oidx, docs, ddf = eidx
    reg = [(0, "the data query2", "must", 0),
           (1, "spark16 merge12 join11 data", "msm", 2),
           (2, "the data", "phrase", 0),
           (3, "data zzznever", "must", 0)]
    qdf = spark.createDataFrame(
        reg, "query_id long, qtext string, kind string, msm int")
    res = percolate(spark, qdf, docs)
    got = sorted((r["url"], r["query_id"]) for r in res.collect())
    exp = []
    toks_by_url = {u: tokenize(t)
                   for u, t in zip(ddf["url"], ddf["text"])}
    for u, toks in toks_by_url.items():
        ts = set(toks)
        for qid, qtext, kind, msm in reg:
            q = tokenize(qtext)
            if kind == "must" and set(q) <= ts:
                exp.append((u, qid))
            elif kind == "msm" and len(set(q) & ts) >= msm:
                exp.append((u, qid))
            elif kind == "phrase":
                L = len(q)
                if any(toks[i:i + L] == q
                       for i in range(len(toks) - L + 1)):
                    exp.append((u, qid))
    assert got == sorted(exp)
    assert len(got) > 0
    assert not [g for g in got if g[1] == 3]
    # each kind non-vacuous
    kinds = {qid for _, qid in got}
    assert {0, 1, 2} <= kinds


def test_adjacency_matrix_vs_python_twin(spark, eidx):
    from aarhus_spark.operators.eslayer import search_adjacency_matrix
    out, oidx, _, _ = eidx
    filters = {"a": "dl < 150", "b": "dl >= 50", "c": "dl >= 9999"}
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    res = search_adjacency_matrix(spark, out, qdf, filters)
    got = sorted((r["query_id"], r["bucket"], r["doc_count"], r["brank"])
                 for r in res.collect())
    preds = {"a": lambda dl: dl < 150, "b": lambda dl: dl >= 50,
             "c": lambda dl: dl >= 9999}
    names = list(filters)
    keys = [(names[i], names[j]) for i in range(len(names))
            for j in range(i, len(names))]
    exp = []
    for qid, qtext in QUERIES:
        dls = [int(oidx.dls[d]) for d in _all_matches(oidx, qtext)]
        rows = []
        for a, b in keys:
            n = sum(1 for dl in dls if preds[a](dl) and preds[b](dl))
            if n:
                rows.append((a if a == b else f"{a}&{b}", n))
        exp.extend((qid, k, n, i + 1)
                   for i, (k, n) in enumerate(sorted(rows)))
    assert got == sorted(exp)
    assert len(got) > 0
    # the intersection bucket is non-vacuous and empty buckets omitted
    assert any("&" in g[1] for g in got)
    assert not any(g[1].startswith("c") or g[1].endswith("&c")
                   for g in got)


def test_global_metric_aggs_query_independent(spark, eidx):
    import numpy as np
    from aarhus_spark.operators.eslayer import global_metric_aggs
    out, oidx, _, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    rows = global_metric_aggs(spark, out, qdf).collect()
    assert len(rows) == len(QUERIES)
    vals = {tuple(r[c] for c in rows[0].asDict() if c != "query_id")
            for r in rows}
    assert len(vals) == 1, "global agg must be identical for every query"
    r = rows[0]
    dls = np.sort(oidx.dls)
    assert r["doc_count"] == oidx.n_docs
    assert r["min_dl"] == int(dls[0]) and r["max_dl"] == int(dls[-1])
    assert r["sum_dl"] == int(dls.sum())
    assert r["avg_dl"] == pytest.approx(dls.mean(), abs=1e-9)
    assert r["p50_dl"] == pytest.approx(
        float(np.percentile(dls, 50, method="linear")), abs=1e-9)


def test_percolate_preselect_equals_broadcast(spark, eidx, monkeypatch):
    """The candidate pre-selection percolator (large registered sets)
    must produce EXACTLY the broadcast nested-loop plan's matches —
    same (url, query_id, kind) rows — across must/msm/phrase kinds,
    including queries that match nothing. Each plan is reached through
    the registered-set size threshold."""
    from aarhus_spark.operators import eslayer
    from aarhus_spark.operators.eslayer import percolate
    out, oidx, docs, ddf = eidx
    reg = [(0, "the data query2", "must", 0),
           (1, "spark16 merge12 join11 data", "msm", 2),
           (2, "the data", "phrase", 0),
           (3, "data zzznever", "must", 0),
           (4, "data the", "phrase", 0),
           (5, "the", "msm", 1)]
    qdf = spark.createDataFrame(
        reg, "query_id long, qtext string, kind string, msm int")
    monkeypatch.setattr(eslayer, "PERCOLATE_PRESELECT_MIN", len(reg) + 1)
    a = sorted(map(tuple, percolate(spark, qdf, docs).collect()))
    monkeypatch.setattr(eslayer, "PERCOLATE_PRESELECT_MIN", len(reg))
    b = sorted(map(tuple, percolate(spark, qdf, docs).collect()))
    assert a == b and len(a) > 0


def test_percolate_preselect_rejects_degenerate(spark, eidx, monkeypatch):
    from aarhus_spark.operators import eslayer
    from aarhus_spark.operators.eslayer import percolate
    out, oidx, docs, ddf = eidx
    bad = spark.createDataFrame([(0, "...", "must", 0)],
                                "query_id long, qtext string, kind string, msm int")
    import pytest as _pytest
    monkeypatch.setattr(eslayer, "PERCOLATE_PRESELECT_MIN", 1)  # preselect
    with _pytest.raises(ValueError, match="zero terms"):
        percolate(spark, bad, docs)
    badmsm = spark.createDataFrame([(0, "data", "msm", 0)],
                                   "query_id long, qtext string, kind string, msm int")
    monkeypatch.setattr(eslayer, "PERCOLATE_PRESELECT_MIN", 2)  # broadcast
    with _pytest.raises(ValueError, match="msm >= 1"):
        percolate(spark, badmsm, docs)


_RESULT = "struct<query_id:bigint,rank:int,docid:bigint,score:double>"
_BUCKETS = "struct<query_id:bigint,bucket:string,doc_count:bigint,brank:bigint>"
_METRICS = ("struct<query_id:bigint,doc_count:bigint,min_dl:bigint,"
            "max_dl:bigint,sum_dl:bigint,avg_dl:double,p50_dl:double,"
            "p95_dl:double,host_card:bigint>")
_FILTERS = {"short": "dl < 60", "long": "dl >= 60"}


# public ES op -> (call over (spark, index, queries, docs), pinned schema)
_SCHEMAS = {
    "search_matches": (lambda s, i, q, d: es.search_matches(s, i, q),
                       "struct<query_id:bigint,docid:bigint,score:double>"),
    "search_facets": (lambda s, i, q, d: es.search_facets(s, i, q), _BUCKETS),
    "search_date_histogram": (
        lambda s, i, q, d: es.search_date_histogram(s, i, q), _BUCKETS),
    "search_significant_terms": (
        lambda s, i, q, d: es.search_significant_terms(s, i, q, d),
        "struct<query_id:bigint,srank:bigint,term:string,fg_df:bigint,"
        "bg_df:bigint,score:double>"),
    "suggest_terms": (
        lambda s, i, q, d: es.suggest_terms(
            s, i, s.createDataFrame([(0, "dta")],
                                    "word_id long, word string")),
        "struct<word_id:bigint,word:string,srank:bigint,term:string,"
        "distance:bigint,df:bigint>"),
    "search_function_score": (
        lambda s, i, q, d: es.search_function_score(s, i, q), _RESULT),
    "search_page": (lambda s, i, q, d: es.search_page(s, i, q, round_to=6),
                    _RESULT),
    "search_highlight": (
        lambda s, i, q, d: es.search_highlight(s, i, q, d, round_to=6),
        "struct<query_id:bigint,rank:int,docid:bigint,snippet:string>"),
    "more_like_this": (
        lambda s, i, q, d: es.more_like_this(
            s, i, s.createDataFrame([(0, d.first()["url"])],
                                    "query_id long, like_url string"), d),
        _RESULT),
    "search_metric_aggs": (
        lambda s, i, q, d: es.search_metric_aggs(s, i, q), _METRICS),
    "search_boosting": (
        lambda s, i, q, d: es.search_boosting(
            s, i, q.selectExpr("*", "'the' AS neg_qtext")), _RESULT),
    "search_constant_score": (
        lambda s, i, q, d: es.search_constant_score(s, i, q), _RESULT),
    "search_rescore": (lambda s, i, q, d: es.search_rescore(s, i, q),
                       _RESULT),
    "search_top_hits": (
        lambda s, i, q, d: es.search_top_hits(s, i, q, round_to=6),
        "struct<query_id:bigint,bucket:string,doc_count:bigint,"
        "brank:bigint,hrank:bigint,docid:bigint,score:double>"),
    "search_histogram": (
        lambda s, i, q, d: es.search_histogram(s, i, q),
        "struct<query_id:bigint,bucket:bigint,doc_count:bigint,brank:bigint>"),
    "search_range_agg": (
        lambda s, i, q, d: es.search_range_agg(
            s, i, q, [("s", None, 60), ("l", 60, None)]), _BUCKETS),
    "search_filters_agg": (
        lambda s, i, q, d: es.search_filters_agg(s, i, q, _FILTERS),
        _BUCKETS),
    "search_composite": (
        lambda s, i, q, d: es.search_composite(s, i, q),
        "struct<query_id:bigint,k1:string,k2:bigint,doc_count:bigint,"
        "brank:bigint>"),
    "search_pipeline_aggs": (
        lambda s, i, q, d: es.search_pipeline_aggs(s, i, q, top_n=3),
        "struct<query_id:bigint,bucket:string,doc_count:bigint,"
        "cum_sum:bigint,deriv:bigint,brank:bigint,srank:bigint>"),
    "search_collapse": (
        lambda s, i, q, d: es.search_collapse(s, i, q, round_to=6),
        "struct<query_id:bigint,rank:bigint,ckey:string,hrank:bigint,"
        "docid:bigint,score:double>"),
    "search_explain": (
        lambda s, i, q, d: es.search_explain(s, i, q, d, rank_round_to=6),
        "struct<query_id:bigint,rank:int,docid:bigint,term:string,"
        "tf:bigint,df:bigint,idf_r:double,tfn_r:double,contrib_r:double,"
        "score_r:double>"),
    "suggest_phrases": (
        lambda s, i, q, d: es.suggest_phrases(
            s, i, s.createDataFrame([(0, "the dta")],
                                    "phrase_id long, phrase string")),
        "struct<phrase_id:bigint,phrase:string,srank:bigint,"
        "suggestion:string,edits:bigint,doc_count:bigint>"),
    "percolate": (
        lambda s, i, q, d: es.percolate(
            s, s.createDataFrame(
                [(0, "the data", "must", 0)],
                "query_id long, qtext string, kind string, msm int"), d),
        "struct<url:string,query_id:bigint,kind:string>"),
    "search_adjacency_matrix": (
        lambda s, i, q, d: es.search_adjacency_matrix(s, i, q, _FILTERS),
        _BUCKETS),
    "global_metric_aggs": (
        lambda s, i, q, d: es.global_metric_aggs(s, i, q), _METRICS),
}


@pytest.mark.parametrize("op", sorted(_SCHEMAS))
def test_es_op_output_schema(spark, eidx, op):
    """Each public ES op's output column names and types, pinned — the
    oracle gate compares values, not types (an int rank turning long,
    or a count turning double, would pass it)."""
    out, _, docs, _ = eidx
    qdf = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    call, schema = _SCHEMAS[op]
    assert call(spark, out, qdf, docs).schema.simpleString() == schema

"""Round-5 fix/feature tests: single-batch double-crawl tombstones
(ADVICE high), enforced tombstone budget, sloppy phrase (ES
match_phrase slop parity) vs a brute-force oracle, phrase over a
re-crawl tombstone chain, delta-only phrase (docid-domain path), and
the bounded/ext codec decoders."""

import datetime as dt
import os
from itertools import product

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.operators.incremental import build_delta
from aarhus_spark.operators.search import (load_tombstones, search_phrase,
                                           search_topk)
from aarhus_spark.sources.fixtures import gen_pages, gen_queries
from aarhus_spark.textops import tokenize
from tests.test_round4_features import _expected_tokens


def _mk_pages(rows):
    """pages DataFrame from (url, ts_offset_s, text) triples."""
    base = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        [(u, base + dt.timedelta(seconds=s),
          f"<html><body><p>{t}</p></body></html>".encode(), t, "en")
         for u, s, t in rows],
        columns=["url", "warc_ts", "html", "text", "lang"])


# ---------------------------------------------------------------------------
# ADVICE high: one batch, two crawls of the same url, both newer than base
# ---------------------------------------------------------------------------

def test_single_batch_double_crawl_tombstones_once(spark, tmpdir_session):
    """A delta batch holding TWO snapshots of the same url (both newer
    than the indexed copy) must tombstone the one live base doc exactly
    once, index only the latest-wins snapshot, and leave the chain equal
    to a monolithic latest-wins rebuild."""
    pdf = gen_pages(150)
    base_dir = os.path.join(tmpdir_session, "r5_dc_base")
    delta_dir = os.path.join(tmpdir_session, "r5_dc_delta")
    mono_dir = os.path.join(tmpdir_session, "r5_dc_mono")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    urls = sorted(doclens["url"])
    twice = urls[::11]

    def snap(tag, days):
        rec = pdf[pdf["url"].isin(twice)].copy()
        rec = (rec.sort_values(["url", "warc_ts"])
               .drop_duplicates("url", keep="last"))
        rec["text"] = rec["text"].fillna("") + f" snapshot {tag} words"
        rec["html"] = None
        rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=days)
        return rec

    v2, v3 = snap("alpha", 1), snap("beta", 3)
    batch = pd.concat([v2, v3], ignore_index=True)   # BOTH in one batch
    build_delta(spark, spark.createDataFrame(batch), base_dir, delta_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)

    tombs = spark.read.parquet(os.path.join(delta_dir, "tombstones")).toPandas()
    assert len(tombs) == len(twice)                       # once per live doc
    assert tombs["docid"].is_unique
    dead, dl_dead = load_tombstones(spark, [base_dir, delta_dir])
    assert dead.size == len(twice)
    # the delta must index only the latest-wins snapshot (beta)
    ddl = spark.read.parquet(IndexPaths(delta_dir).doclens).toPandas()
    assert set(ddl["url"]) == set(twice)
    assert len(ddl) == len(twice)

    # chain ≡ monolithic latest-wins over (live v1) ∪ batch
    live_v1 = pdf[~pdf["url"].isin(set(twice))]
    mono_pdf = pd.concat([live_v1, batch], ignore_index=True)
    build_index(spark, spark.createDataFrame(mono_pdf), mono_dir,
                n_partitions=4, n_buckets=3, salts=3)
    qpdf = gen_queries(pdf).head(8)
    qpdf = pd.concat([qpdf, pd.DataFrame(
        [{"query_id": 99, "qtext": "snapshot beta words"}])], ignore_index=True)
    qdf = spark.createDataFrame(qpdf)

    def by_url(res, dirs):
        url_of = None
        for d in dirs:
            dl = spark.read.parquet(IndexPaths(d).doclens).select("docid", "url")
            url_of = dl if url_of is None else url_of.unionByName(dl)
        return (res.join(url_of, "docid")
                .select("query_id", "rank", "url", F.round("score", 9).alias("s"))
                .toPandas().sort_values(["query_id", "rank"])
                .reset_index(drop=True))

    chain = by_url(search_topk(spark, [base_dir, delta_dir], qdf, k=10,
                               n_ranges=3), [base_dir, delta_dir])
    mono = by_url(search_topk(spark, mono_dir, qdf, k=10), [mono_dir])
    pd.testing.assert_frame_equal(chain, mono)
    assert (mono.query_id == 99).sum() > 0        # beta text actually served


def test_tombstone_budget_enforced(spark, tmpdir_session, monkeypatch):
    """Past config.TOMBSTONE_BUDGET dead docids, querying the chain must
    fail LOUDLY pointing at compaction — the dead set rides in every
    scorer closure, so the bound is enforced, not asserted in prose."""
    import aarhus_spark.config as cfg
    pdf = gen_pages(120)
    base_dir = os.path.join(tmpdir_session, "r5_budget_base")
    delta_dir = os.path.join(tmpdir_session, "r5_budget_delta")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    rec_urls = sorted(doclens["url"])[::5]
    rec = pdf[pdf["url"].isin(rec_urls)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " over budget revision"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=1)
    build_delta(spark, spark.createDataFrame(rec), base_dir, delta_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)
    n_dead = len(spark.read.parquet(os.path.join(delta_dir, "tombstones"))
                 .toPandas())
    assert n_dead > 3
    monkeypatch.setattr(cfg, "TOMBSTONE_BUDGET", n_dead - 1)
    with pytest.raises(ValueError, match="compact"):
        load_tombstones(spark, [base_dir, delta_dir])
    qdf = spark.createDataFrame([(0, "over budget revision")],
                                "query_id long, qtext string")
    with pytest.raises(ValueError, match="compact"):
        search_topk(spark, [base_dir, delta_dir], qdf, k=5)
    # at exactly the budget the chain still serves
    monkeypatch.setattr(cfg, "TOMBSTONE_BUDGET", n_dead)
    assert search_topk(spark, [base_dir, delta_dir], qdf, k=5).count() > 0


# ---------------------------------------------------------------------------
# sloppy phrase
# ---------------------------------------------------------------------------

def _slop_match_py(doc_toks, phrase_toks, slop):
    """Brute-force reference for the documented slop contract: one
    position per constraint, distinct for same-term constraints, all
    pairwise adjusted displacements ≤ slop."""
    cand = []
    for t in phrase_toks:
        p = [j for j, tok in enumerate(doc_toks) if tok == t]
        if not p:
            return False
        cand.append(p)
    for choice in product(*cand):
        ok = True
        for i in range(len(choice)):
            for j in range(i + 1, len(choice)):
                if phrase_toks[i] == phrase_toks[j] and choice[i] == choice[j]:
                    ok = False
                if abs((choice[i] - i) - (choice[j] - j)) > slop:
                    ok = False
        if ok:
            return True
    return False


def _slop_min_width_py(doc_toks, phrase_toks, slop):
    """Brute-force minimum window width (max−min of adjusted positions)
    over all VALID assignments — the proximity-scoring signal."""
    o_max = len(phrase_toks) - 1
    cand = []
    for t in phrase_toks:
        p = [j for j, tok in enumerate(doc_toks) if tok == t]
        if not p:
            return None
        cand.append(p)
    best = None
    for choice in product(*cand):
        ok = True
        for i in range(len(choice)):
            for j in range(i + 1, len(choice)):
                if phrase_toks[i] == phrase_toks[j] and choice[i] == choice[j]:
                    ok = False
                if abs((choice[i] - i) - (choice[j] - j)) > slop:
                    ok = False
        if ok:
            adj = [c - o + o_max for o, c in enumerate(choice)]
            w = max(adj) - min(adj)
            best = w if best is None else min(best, w)
    return best


@pytest.fixture(scope="module")
def slop_idx(spark, tmpdir_session):
    pdf = gen_pages(400)
    out = os.path.join(tmpdir_session, "idx_r5_slop")
    build_index(spark, spark.createDataFrame(pdf), out,
                n_partitions=4, n_buckets=3, salts=3,
                max_postings_per_row=150)
    return pdf, out


def _urls_of(spark, out, res):
    doclens = (spark.read.parquet(IndexPaths(out).doclens)
               .select("docid", "url").toPandas())
    url_of = dict(zip(doclens["docid"], doclens["url"]))
    return {url_of[int(d)] for d in res["docid"]}


def test_slop_zero_equals_exact(spark, slop_idx):
    pdf, out = slop_idx
    toks_by_url = _expected_tokens(pdf)
    some = [t for t in toks_by_url.values() if len(t) >= 6]
    phrases = [" ".join(some[3][2:4]), " ".join(some[9][1:4])]
    qdf = spark.createDataFrame(list(enumerate(phrases)),
                                "query_id long, qtext string")
    for nr in (1, 3):
        a = (search_phrase(spark, out, qdf, k=20, n_ranges=nr)
             .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
        b = (search_phrase(spark, out, qdf, k=20, n_ranges=nr, slop=0)
             .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b)


def test_slop_matches_python_oracle(spark, slop_idx):
    """Match SET equality vs the brute-force contract oracle for bigram
    (incl. a transposition) and trigram phrases at slop 0/1/2 — and the
    single-group and chunk-parallel paths agree."""
    pdf, out = slop_idx
    toks_by_url = _expected_tokens(pdf)
    some = [t for t in toks_by_url.values() if len(t) >= 8]
    a, b = some[5][3:5]
    phrases = [f"{a} {b}", f"{b} {a}",                 # exact + transposition
               " ".join(some[11][2:5])]
    for ph in phrases:
        q = tokenize(ph)
        qdf = spark.createDataFrame([(0, ph)], "query_id long, qtext string")
        for slop in (0, 1, 2):
            expect = {u for u, toks in toks_by_url.items()
                      if _slop_match_py(toks, q, slop)}
            for nr in (1, 3):
                res = search_phrase(spark, out, qdf, k=1000, n_ranges=nr,
                                    slop=slop).toPandas()
                assert _urls_of(spark, out, res) == expect, (ph, slop, nr)


def test_slop_transposition_semantics(spark, slop_idx):
    """ES-documented behavior: transposed terms need slop 2 — every doc
    holding 'b a' adjacent must match phrase 'a b' at slop 2; at slop 0
    only true 'a b' adjacency matches."""
    pdf, out = slop_idx
    toks_by_url = _expected_tokens(pdf)
    some = [t for t in toks_by_url.values() if len(t) >= 8]
    a, b = some[5][3:5]
    qdf = spark.createDataFrame([(0, f"{a} {b}")], "query_id long, qtext string")
    got0 = _urls_of(spark, out, search_phrase(spark, out, qdf, k=1000).toPandas())
    got2 = _urls_of(spark, out, search_phrase(spark, out, qdf, k=1000,
                                              slop=2).toPandas())
    rev = {u for u, toks in toks_by_url.items()
           if any(x == b and y == a for x, y in zip(toks, toks[1:]))}
    assert rev - got0 == rev        # reversed-only docs never match exactly
    assert rev <= got2              # but all match at slop 2
    assert got0 <= got2


def test_slop_repeated_term_distinctness(spark, tmpdir_session):
    """Constraints sharing a term must bind DISTINCT positions: doc
    'alpha beta' has only one 'alpha', so phrase 'alpha alpha' can never
    match it at any slop — while 'alpha beta alpha' matches at slop 1
    (positions 0 and 2, one displacement move)."""
    pages = _mk_pages([
        ("https://t.example/one", 1, "alpha beta gamma delta"),
        ("https://t.example/two", 2, "alpha beta alpha gamma"),
        ("https://t.example/three", 3, "alpha alpha beta gamma"),
    ])
    out = os.path.join(tmpdir_session, "idx_r5_rep")
    build_index(spark, spark.createDataFrame(pages), out,
                n_partitions=2, n_buckets=2, salts=2)
    qdf = spark.createDataFrame([(0, "alpha alpha")], "query_id long, qtext string")
    for slop, expect in [(0, {"https://t.example/three"}),
                         (1, {"https://t.example/two", "https://t.example/three"}),
                         (4, {"https://t.example/two", "https://t.example/three"})]:
        res = search_phrase(spark, out, qdf, k=10, slop=slop).toPandas()
        assert _urls_of(spark, out, res) == expect, slop
    # cross-check the documented contract against the brute-force oracle
    for slop in (0, 1, 2, 4):
        for _, r in pages.iterrows():
            assert _slop_match_py(tokenize(r["text"]), ["alpha", "alpha"], slop) \
                == (r["url"] in _urls_of(
                    spark, out,
                    search_phrase(spark, out, qdf, k=10, slop=slop).toPandas()))


# ---------------------------------------------------------------------------
# phrase × tombstone chain / delta-only domain
# ---------------------------------------------------------------------------

def test_phrase_over_recrawl_chain(spark, tmpdir_session):
    """search_phrase over a base+tombstone-delta chain must equal the
    monolithic latest-wins rebuild (by url) — dead docids masked before
    the anchor/window match — at slop 0 AND slop 2, on both dispatch
    paths."""
    pdf = gen_pages(250)
    base_dir = os.path.join(tmpdir_session, "r5_ph_base")
    delta_dir = os.path.join(tmpdir_session, "r5_ph_delta")
    mono_dir = os.path.join(tmpdir_session, "r5_ph_mono")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    rec_urls = set(sorted(doclens["url"])[::6])
    rec = pdf[pdf["url"].isin(rec_urls)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " revised fulltext phrase payload"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=2)
    build_delta(spark, spark.createDataFrame(rec), base_dir, delta_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)
    live_v1 = pdf[~pdf["url"].isin(rec_urls)]
    mono_pdf = pd.concat([live_v1, rec], ignore_index=True)
    build_index(spark, spark.createDataFrame(mono_pdf), mono_dir,
                n_partitions=4, n_buckets=3, salts=3)

    toks_by_url = _expected_tokens(pdf)
    some = [t for t in toks_by_url.values() if len(t) >= 6]
    qdf = spark.createDataFrame(
        [(0, " ".join(some[3][2:4])), (1, "fulltext phrase payload"),
         (2, "revised fulltext")],
        "query_id long, qtext string")

    def by_url(res, dirs):
        url_of = None
        for d in dirs:
            dl = spark.read.parquet(IndexPaths(d).doclens).select("docid", "url")
            url_of = dl if url_of is None else url_of.unionByName(dl)
        return (res.join(url_of, "docid")
                .select("query_id", "rank", "url", F.round("score", 9).alias("s"))
                .toPandas().sort_values(["query_id", "rank"])
                .reset_index(drop=True))

    chain = [base_dir, delta_dir]
    dead, _ = load_tombstones(spark, chain)
    assert dead.size > 10
    for slop in (0, 2):
        mono = by_url(search_phrase(spark, mono_dir, qdf, k=10, slop=slop),
                      [mono_dir])
        assert (mono.query_id == 1).sum() > 0     # recrawl phrase serves
        for nr in (1, 3):
            got = by_url(search_phrase(spark, chain, qdf, k=10, n_ranges=nr,
                                       slop=slop), chain)
            pd.testing.assert_frame_equal(got, mono)
            assert not np.isin(
                search_phrase(spark, chain, qdf, k=10, n_ranges=nr, slop=slop)
                .toPandas()["docid"].to_numpy(), dead).any()


def test_phrase_delta_only_docid_domain(spark, tmpdir_session):
    """A v4 delta queried ALONE: its docids all sit at offset ≥ N_base,
    so the chunk-parallel phrase path must derive ranges from the true
    docid domain (mirrors the WAND docid_domain test) — and positions
    must decode correctly from the delta's own streams."""
    pdf = gen_pages(120)
    base_dir = os.path.join(tmpdir_session, "r5_dom_base")
    delta_dir = os.path.join(tmpdir_session, "r5_dom_delta")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)
    new = _mk_pages([
        (f"https://zz.example/new/{i}", 10 + i,
         f"wholly new delta document {i} carrying unique marker phrase tokens")
        for i in range(8)])
    build_delta(spark, spark.createDataFrame(new), base_dir, delta_dir,
                n_partitions=4, n_buckets=3, salts=3)
    n_base = spark.read.parquet(IndexPaths(base_dir).doclens).count()
    qdf = spark.createDataFrame([(0, "unique marker phrase")],
                                "query_id long, qtext string")
    for nr in (1, 4):
        for slop in (0, 1):
            res = search_phrase(spark, delta_dir, qdf, k=20, n_ranges=nr,
                                slop=slop).toPandas()
            assert len(res) == 8, (nr, slop)
            assert (res["docid"] >= n_base).all()
    # chain query (base + delta) finds the same docs
    res = search_phrase(spark, [base_dir, delta_dir], qdf, k=20,
                        n_ranges=3).toPandas()
    assert len(res) == 8


# ---------------------------------------------------------------------------
# property test: _sloppy_match kernel ≡ brute force on random tiny docs
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    HAVE_HYP = True
except ImportError:          # pragma: no cover
    HAVE_HYP = False


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=300, deadline=None)
@given(doc=st.lists(st.sampled_from("abc"), min_size=1, max_size=12),
       phrase=st.lists(st.sampled_from("abc"), min_size=1, max_size=3),
       slop=st.integers(min_value=0, max_value=4))
def test_sloppy_match_kernel_property(doc, phrase, slop):
    """The vectorized window-feasibility kernel (+ repeated-term greedy)
    must agree with the brute-force contract oracle on every tiny doc ×
    phrase × slop — including repeated terms and absent terms."""
    from aarhus_spark.operators.search import _sloppy_match
    per_term = {}
    for t in set(phrase):
        positions = np.array([i for i, tok in enumerate(doc) if tok == t],
                             dtype=np.int64)
        if positions.size == 0:
            per_term = None
            break
        per_term[t] = (np.array([0], dtype=np.int64),          # docid
                       np.array([positions.size], dtype=np.int64),
                       np.array([len(doc)], dtype=np.int64),
                       positions)
    expect = _slop_match_py(doc, list(phrase), slop)
    if per_term is None:
        assert not expect
        return
    inter = np.array([0], dtype=np.int64)
    constraints = list(enumerate(phrase))
    matched, widths = _sloppy_match(constraints, per_term, inter, slop,
                                    want_width=True)
    got = matched.size > 0
    assert got == expect, (doc, phrase, slop)
    # the no-width fast path must match exactly
    m2, w2 = _sloppy_match(constraints, per_term, inter, slop)
    assert w2 is None and (m2.size > 0) == got
    # width: exact minimum over all valid (distinct-position)
    # assignments, brute-forced
    if got:
        wexp = _slop_min_width_py(doc, list(phrase), slop)
        assert widths.size == 1 and int(widths[0]) == wexp, (doc, phrase, slop)


# ---------------------------------------------------------------------------
# round 6: proximity score mode (opt-in) — closest match ranks higher
# ---------------------------------------------------------------------------

def test_proximity_score_mode_e2e(spark, slop_idx):
    """score_mode='proximity' multiplies each matched doc's BM25 sum by
    1/(1+min window width): verified doc-for-doc against the brute-force
    width oracle applied to the default-mode scores; match set unchanged;
    single-group ≡ chunk-parallel; widths genuinely vary on the corpus."""
    pdf, out = slop_idx
    toks_by_url = _expected_tokens(pdf)
    some = [t for t in toks_by_url.values() if len(t) >= 8]
    a, b = some[5][3:5]
    ph = f"{b} {a}"                       # transposition: widths 2 when only
    q = tokenize(ph)                      # 'a b' occurs, 0/1 when 'b a' does
    qdf = spark.createDataFrame([(0, ph)], "query_id long, qtext string")
    slop = 3
    plain = search_phrase(spark, out, qdf, k=100000, n_ranges=3,
                          slop=slop).toPandas()
    prox = search_phrase(spark, out, qdf, k=100000, n_ranges=3, slop=slop,
                         score_mode="proximity").toPandas()
    prox1 = search_phrase(spark, out, qdf, k=100000, n_ranges=1, slop=slop,
                          score_mode="proximity").toPandas()
    pd.testing.assert_frame_equal(
        prox.sort_values(["query_id", "rank"]).reset_index(drop=True),
        prox1.sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert set(plain["docid"]) == set(prox["docid"])
    doclens = (spark.read.parquet(IndexPaths(out).doclens)
               .select("docid", "url").toPandas())
    url_of = dict(zip(doclens["docid"], doclens["url"]))
    width_of = {u: _slop_min_width_py(toks, q, slop)
                for u, toks in toks_by_url.items()}
    widths_seen = set()
    pscore = dict(zip(plain["docid"], plain["score"]))
    for d, s in zip(prox["docid"], prox["score"]):
        w = width_of[url_of[int(d)]]
        assert w is not None
        widths_seen.add(w)
        assert s == pytest.approx(pscore[int(d)] / (1.0 + w), rel=1e-12)
    assert len(widths_seen) > 1, "corpus must exercise multiple widths"
    # ranks follow (weighted score desc, docid asc)
    pr = prox.sort_values("rank")
    key = list(zip(-pr["score"], pr["docid"]))
    assert key == sorted(key)

"""ES layer over a base+tombstone-delta chain (round-8 advice fix):
_doc_meta must exclude dead docids, global_metric_aggs must aggregate
live docs only, search_explain's per-term contributions must sum
back to the chain retrieval score (tombstone-corrected N_eff/df_eff),
and the match set every ES aggregation reads equals the reference
TAAT fold bit for bit, on one dir and on the chain."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.operators.incremental import build_delta
from aarhus_spark.sources.fixtures import gen_pages


@pytest.fixture(scope="module")
def es_chain(spark, tmpdir_session):
    pdf = gen_pages(200)
    base_dir = os.path.join(tmpdir_session, "esc_base")
    delta_dir = os.path.join(tmpdir_session, "esc_delta")
    mono_dir = os.path.join(tmpdir_session, "esc_mono")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    recrawl_urls = set(sorted(doclens["url"])[::5])
    rec = pdf[pdf["url"].isin(recrawl_urls)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " recrawled revision"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=2)
    build_delta(spark, spark.createDataFrame(rec), base_dir, delta_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)
    live_v1 = pdf[~pdf["url"].isin(recrawl_urls)]
    mono_pdf = pd.concat([live_v1, rec], ignore_index=True)
    build_index(spark, spark.createDataFrame(mono_pdf), mono_dir,
                n_partitions=4, n_buckets=3, salts=3)
    return base_dir, delta_dir, mono_dir


def test_doc_meta_excludes_tombstoned(spark, es_chain):
    from aarhus_spark.operators.eslayer import _doc_meta
    from aarhus_spark.operators.search import load_tombstones
    base_dir, delta_dir, mono_dir = es_chain
    dead, _ = load_tombstones(spark, [base_dir, delta_dir])
    assert dead.size > 0
    meta = _doc_meta(spark, [base_dir, delta_dir]).toPandas()
    assert not set(meta["docid"]) & set(int(d) for d in dead)
    mono = _doc_meta(spark, mono_dir).toPandas()
    # same LIVE logical rows as the monolithic rebuild (url, dl match)
    a = meta[["url", "dl"]].sort_values(["url"]).reset_index(drop=True)
    b = mono[["url", "dl"]].sort_values(["url"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_global_metric_aggs_chain_equals_monolithic(spark, es_chain):
    from aarhus_spark.operators.eslayer import global_metric_aggs
    base_dir, delta_dir, mono_dir = es_chain
    qdf = spark.createDataFrame([(0, "data"), (1, "spark")],
                                "query_id long, qtext string")
    a = (global_metric_aggs(spark, [base_dir, delta_dir], qdf)
         .orderBy("query_id").toPandas())
    b = global_metric_aggs(spark, mono_dir, qdf).orderBy("query_id").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_explain_contribs_sum_to_chain_score(spark, es_chain):
    from aarhus_spark.operators.eslayer import search_explain
    from aarhus_spark.operators.search import search_topk
    from aarhus_spark.sources.fixtures import gen_pages

    base_dir, delta_dir, mono_dir = es_chain
    pdf = gen_pages(200)
    rec_urls = None  # docs table: latest text per url, as the chain serves
    # reconstruct the LIVE corpus text the chain serves (v1 text for
    # non-recrawled urls + revised text for recrawled ones)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    recrawl_urls = set(sorted(doclens["url"])[::5])
    rec = pdf[pdf["url"].isin(recrawl_urls)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " recrawled revision"
    live_v1 = pdf[~pdf["url"].isin(recrawl_urls)]
    docs_pdf = pd.concat([live_v1, rec], ignore_index=True)[["url", "text"]]
    docs = spark.createDataFrame(docs_pdf.assign(
        text=docs_pdf["text"].fillna("")))

    qdf = spark.createDataFrame([(0, "data table"), (1, "spark")],
                                "query_id long, qtext string")
    dirs = [base_dir, delta_dir]
    ex = search_explain(spark, dirs, qdf, docs, k=5,
                        round_to=12, rank_round_to=None).toPandas()
    assert len(ex) > 0
    # per-(query, doc): Σ contrib == the retrieval score (chain path)
    sums = (ex.groupby(["query_id", "docid"])["contrib_r"].sum()
            .reset_index())
    top = search_topk(spark, dirs, qdf, k=5).toPandas()
    merged = sums.merge(top, on=["query_id", "docid"])
    assert len(merged) == len(top)
    assert (merged["contrib_r"] - merged["score"]).abs().max() < 1e-6


def test_sigterms_chain_fg_equals_monolithic(spark, es_chain):
    from aarhus_spark.operators.eslayer import search_significant_terms
    base_dir, delta_dir, mono_dir = es_chain
    pdf = gen_pages(200)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    recrawl_urls = set(sorted(doclens["url"])[::5])
    rec = pdf[pdf["url"].isin(recrawl_urls)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " recrawled revision"
    live_v1 = pdf[~pdf["url"].isin(recrawl_urls)]
    docs_pdf = pd.concat([live_v1, rec], ignore_index=True)[["url", "text"]]
    docs = spark.createDataFrame(docs_pdf.assign(
        text=docs_pdf["text"].fillna("")))
    qdf = spark.createDataFrame([(0, "data")], "query_id long, qtext string")
    # n_terms large enough to return EVERY fg bucket on both sides —
    # the ranked top-n would differ by design (chain bg_df is the
    # stored Lucene-parity df incl. dead postings; mono's is purged)
    a = search_significant_terms(spark, [base_dir, delta_dir], qdf, docs,
                                 n_terms=1_000_000).toPandas()
    b = search_significant_terms(spark, mono_dir, qdf, docs,
                                 n_terms=1_000_000).toPandas()
    # foreground stats come from LIVE matched docs only — identical to
    # the monolithic rebuild, term set and counts alike
    am = a.set_index("term")["fg_df"].to_dict()
    bm = b.set_index("term")["fg_df"].to_dict()
    assert am == bm and len(am) > 0


_Q = "query_id long, qtext string"
_MATCH_CASES = {
    "plain": ([(0, "the data"), (1, "hash14 join11"), (2, "spark0 merge12")],
              _Q, {}),
    "require_all": ([(0, "the data"), (1, "hash14 join11"),
                     (2, "spark0 merge12")], _Q, {"require_all": True}),
    "min_should_match": ([(0, "the data of"), (1, "hash14 join11 sort13"),
                          (2, "spark0")], _Q, {"min_should_match": 2}),
    "neg_qtext": ([(0, "the data", "of"), (1, "hash14 join11", None),
                   (2, "spark0 merge12", "zzzznotaterm")],
                  _Q + ", neg_qtext string", {}),
    "must_qtext": ([(0, "the data", "of"), (1, "hash14 join11", None),
                    (2, "spark0", "in")], _Q + ", must_qtext string", {}),
    "proximity": ([(0, "the data"), (1, "of the in"), (2, "spark0")], _Q,
                  {"score_mode": "proximity"}),
}


@pytest.mark.parametrize("case", sorted(_MATCH_CASES))
def test_search_matches_equals_taat_bitwise(spark, es_chain, monkeypatch,
                                            case):
    """search_matches (the dispatcher's WAND kernel with k=None) returns
    the reference TAAT fold's full ranking as (query_id, docid,
    score.hex), with one group per query and with docid ranges."""
    from aarhus_spark.operators import search
    from aarhus_spark.operators.eslayer import search_matches
    base_dir, delta_dir, _ = es_chain
    rows, schema, kw = _MATCH_CASES[case]
    qdf = spark.createDataFrame(rows, schema)
    assert search.load_tombstones(spark, [base_dir, delta_dir])[0].size
    for dirs in (base_dir, [base_dir, delta_dir]):
        n_docs = search._chain(spark, dirs).n_docs
        taat = sorted((r["query_id"], r["docid"], r["score"].hex()) for r in
                      search.search_taat(spark, dirs, qdf, k=n_docs,
                                         **kw).collect())
        assert len({r[0] for r in taat}) > 1, (case, dirs)
        dead, _ = search.load_tombstones(spark, search._as_dirs(dirs))
        assert not {r[1] for r in taat} & set(dead.tolist())
        for nr in (1, 3):
            monkeypatch.setattr(search, "default_n_ranges",
                                lambda n, nr=nr: nr)
            got = sorted((r["query_id"], r["docid"], r["score"].hex())
                         for r in search_matches(spark, dirs, qdf,
                                                 **kw).collect())
            assert got == taat, (case, dirs, nr)


def test_mlt_selects_with_live_n(spark, es_chain):
    """more_like_this's term selection on a tombstoned chain scores
    with the chain's live N and the stored dictionary df (Lucene
    MoreLikeThis: numDocs and docFreq), the convention of
    significant_terms; the raw ΣN would select differently here."""
    from collections import Counter
    from math import log

    from aarhus_spark.operators.build import read_dictionary
    from aarhus_spark.operators.eslayer import mlt_select_terms
    from aarhus_spark.operators.search import load_stats
    from aarhus_spark.textops import tokenize

    base_dir, delta_dir, mono_dir = es_chain
    dirs = [base_dir, delta_dir]
    raw_n = sum(int(load_stats(d)["N"]) for d in dirs)
    live_n = int(load_stats(mono_dir)["N"])
    assert raw_n > live_n
    df: dict[str, int] = {}
    for d in dirs:
        for r in read_dictionary(spark, d).select("term", "df").collect():
            df[r["term"]] = df.get(r["term"], 0) + int(r["df"])

    def twin(text, n_docs, mqt):
        tf = Counter(tokenize(text))
        scored = [(t, round(c * log(1.0 + n_docs / df[t]), 9))
                  for t, c in tf.items() if df.get(t, 0) >= 1]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return sorted(t for t, _ in scored[:mqt])

    texts = gen_pages(200)["text"].dropna()
    seed, mqt = next((text, mqt) for text in texts for mqt in range(2, 12)
                     if twin(text, raw_n, mqt) != twin(text, live_n, mqt))
    assert twin(seed, raw_n, mqt) != twin(seed, live_n, mqt)
    assert mlt_select_terms(spark, dirs, seed, max_query_terms=mqt) == \
        twin(seed, live_n, mqt)


def test_fan_out_is_sized_once(spark, es_chain, monkeypatch):
    """Every scored op sizes its docid-range fan-out from the same
    number on a tombstoned chain: the retrieval path and the
    positional ops pass default_n_ranges one value."""
    from aarhus_spark.operators import search
    from aarhus_spark.operators.spans import search_span_near
    base_dir, delta_dir, _ = es_chain
    dirs = [base_dir, delta_dir]
    assert search.load_tombstones(spark, dirs)[0].size
    sized, seen = search.default_n_ranges, []
    monkeypatch.setattr(search, "default_n_ranges",
                        lambda n: seen.append(n) or sized(n))
    qdf = spark.createDataFrame([(0, "the data"), (1, "sort data")],
                                "query_id long, qtext string")
    search.search_topk(spark, dirs, qdf)
    search.search_phrase(spark, dirs, qdf)
    search_span_near(spark, dirs, qdf, slop=3)
    assert len(seen) == 3 and len(set(seen)) == 1, seen

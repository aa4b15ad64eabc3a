"""Round-4 feature tests: positional postings (format v4), phrase
search vs an independent pure-Python oracle, conjunctive WAND ≡ TAAT,
and re-crawl tombstones (chain ≡ monolithic, compaction purge)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aarhus_spark.codec import decode_blocks
from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.operators.compact import compact_indexes
from aarhus_spark.operators.incremental import build_delta
from aarhus_spark.operators.search import (load_tombstones, search_phrase,
                                           search_taat, search_topk,
                                           search_wand, search_wand_ranges)
from aarhus_spark.sources.fixtures import gen_pages, gen_queries
from aarhus_spark.textops import extract, tokenize


@pytest.fixture(scope="module")
def idx(spark, tmpdir_session):
    pdf = gen_pages(600)
    out = os.path.join(tmpdir_session, "idx_r4")
    build_index(spark, spark.createDataFrame(pdf), out,
                n_partitions=4, n_buckets=3, salts=3,
                max_postings_per_row=150)
    return pdf, out


def _expected_tokens(pdf):
    """Latest-wins per url, then frozen tokenize — doc token streams."""
    win = (pdf[pdf["lang"] == "en"]
           .sort_values(["url", "warc_ts", "text"],
                        ascending=[True, False, False])
           .drop_duplicates("url", keep="first"))
    out = {}
    for _, r in win.iterrows():
        text = r["text"] if isinstance(r["text"], str) and r["text"] else \
            extract(r["html"])
        toks = tokenize(text)
        if toks:
            out[r["url"]] = toks
    return out


def test_positions_roundtrip_through_index(spark, idx):
    """Every stored position stream must equal the doc's true token
    indexes for that term — decoded straight from the fragment store
    and checked against a re-tokenization of the winning page text."""
    pdf, out = idx
    toks_by_url = _expected_tokens(pdf)
    doclens = (spark.read.parquet(IndexPaths(out).doclens)
               .select("docid", "url").toPandas())
    url_of = dict(zip(doclens["docid"], doclens["url"]))
    frags = (spark.read.parquet(IndexPaths(out).fragments)
             .select("term", "blocks", "postings").toPandas())
    checked = 0
    for term, blks, payload in zip(frags["term"], frags["blocks"],
                                   frags["postings"]):
        d, tf, dl, _, pos = decode_blocks(
            payload, [b["offset"] for b in blks], positions=True)
        psum = np.concatenate(([0], np.cumsum(tf)))
        for i, docid in enumerate(d[:5]):  # bounded per term
            toks = toks_by_url[url_of[int(docid)]]
            expect = [j for j, t in enumerate(toks) if t == term]
            got = pos[psum[i]:psum[i + 1]].tolist()
            assert got == expect, (term, int(docid))
            assert int(dl[i]) == len(toks)
            checked += 1
    assert checked > 100


def test_segment_rows_also_carry_positions(spark, idx):
    """Merged head/oversized rows (the merger path) must preserve the
    position stream bit-exactly too."""
    _, out = idx
    segs = (spark.read.parquet(IndexPaths(out).segments)
            .select("term", "blocks", "postings").limit(20).toPandas())
    assert len(segs) > 0
    for blks, payload in zip(segs["blocks"], segs["postings"]):
        d, tf, dl, _, pos = decode_blocks(
            payload, [b["offset"] for b in blks], positions=True)
        assert pos.size == int(tf.sum())
        # positions strictly ascending within each posting, < dl
        psum = np.concatenate(([0], np.cumsum(tf)))
        for i in range(min(d.size, 8)):
            p = pos[psum[i]:psum[i + 1]]
            assert (np.diff(p) > 0).all() if p.size > 1 else True
            assert p.max() < dl[i]


def _phrase_oracle(pdf, phrase_text, n_docs_dl, k=10):
    """Independent pure-Python match_phrase + BM25 ranking."""
    from aarhus_spark.config import B, K1

    toks_by_url = n_docs_dl
    q = tokenize(phrase_text)
    n = len(toks_by_url)
    avgdl = sum(len(t) for t in toks_by_url.values()) / n
    dfs = {t: sum(1 for toks in toks_by_url.values() if t in set(toks))
           for t in set(q)}
    rows = []
    for url, toks in toks_by_url.items():
        hit = any(toks[a:a + len(q)] == q for a in range(len(toks) - len(q) + 1))
        if not hit:
            continue
        score = 0.0
        for t in sorted(set(q)):
            tf = toks.count(t)
            idf = np.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            score += idf * tf / (tf + K1 * (1 - B + B * len(toks) / avgdl))
        rows.append((url, score))
    rows.sort(key=lambda r: (-round(r[1], 9), r[0]))
    return rows[:k]


def test_phrase_search_matches_python_oracle(spark, idx):
    pdf, out = idx
    toks_by_url = _expected_tokens(pdf)
    # pick live 2-gram and 3-gram phrases from fixture docs
    some = [t for t in toks_by_url.values() if len(t) >= 6]
    phrases = [" ".join(some[3][2:4]), " ".join(some[7][1:4])]
    qdf = spark.createDataFrame(list(enumerate(phrases)),
                                "query_id long, qtext string")
    doclens = (spark.read.parquet(IndexPaths(out).doclens)
               .select("docid", "url").toPandas())
    url_of = dict(zip(doclens["docid"], doclens["url"]))
    for n_ranges in (1, 3):
        res = search_phrase(spark, out, qdf, k=10, n_ranges=n_ranges).toPandas()
        for qid, ph in enumerate(phrases):
            got = res[res.query_id == qid].sort_values("rank")
            exp = _phrase_oracle(pdf, ph, toks_by_url)
            assert len(got) == len(exp) > 0, (ph, n_ranges)
            assert [url_of[d] for d in got["docid"]] == [u for u, _ in exp]
            np.testing.assert_allclose(got["score"].to_numpy(),
                                       [s for _, s in exp], rtol=1e-9)


def test_phrase_no_false_positives_on_reversed_bigram(spark, idx):
    """Both terms co-occurring in a doc is NOT a phrase match unless
    adjacent in order — reversed bigram must return a (possibly empty)
    subset disjoint from order-violating docs."""
    pdf, out = idx
    toks_by_url = _expected_tokens(pdf)
    some = [t for t in toks_by_url.values() if len(t) >= 6]
    a, b = some[3][2:4]
    qdf = spark.createDataFrame([(0, f"{b} {a}")], "query_id long, qtext string")
    res = search_phrase(spark, out, qdf, k=50).toPandas()
    doclens = (spark.read.parquet(IndexPaths(out).doclens)
               .select("docid", "url").toPandas())
    url_of = dict(zip(doclens["docid"], doclens["url"]))
    for d in res["docid"]:
        toks = toks_by_url[url_of[int(d)]]
        assert any(toks[i] == b and toks[i + 1] == a
                   for i in range(len(toks) - 1))


def test_conjunctive_wand_bit_equal_taat(spark, idx):
    pdf, out = idx
    qpdf = gen_queries(pdf).head(12)
    qpdf = pd.concat([qpdf, pd.DataFrame(
        [{"query_id": 999, "qtext": "zzznotaword data"}])], ignore_index=True)
    qdf = spark.createDataFrame(qpdf)
    a = (search_taat(spark, out, qdf, k=10, require_all=True)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    b = (search_wand(spark, out, qdf, k=10, require_all=True)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    c = (search_wand_ranges(spark, out, qdf, k=10, n_ranges=3, require_all=True)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(a, c)
    assert (a.query_id == 999).sum() == 0  # OOV must-term empties result
    assert len(a) > 0


# ---------------------------------------------------------------------------
# re-crawl tombstones
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def recrawl_chain(spark, tmpdir_session):
    """base over v1 of 400 pages; delta re-crawls 1/7 of urls with
    changed text + newer ts and adds 50 brand-new pages; mono is the
    monolithic latest-wins build over the same logical corpus."""
    pdf = gen_pages(400)
    base_dir = os.path.join(tmpdir_session, "rc_base")
    delta_dir = os.path.join(tmpdir_session, "rc_delta")
    mono_dir = os.path.join(tmpdir_session, "rc_mono")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)

    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    urls = sorted(doclens["url"])
    recrawl_urls = set(urls[::7])
    rec = pdf[pdf["url"].isin(recrawl_urls)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " freshly recrawled revision text"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=2)
    new = gen_pages(900).tail(120)          # urls beyond the base set
    new = new[~new["url"].isin(set(pdf["url"]))]
    batch = pd.concat([rec, new], ignore_index=True)
    build_delta(spark, spark.createDataFrame(batch), base_dir, delta_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)

    live_v1 = pdf[~pdf["url"].isin(recrawl_urls)]
    mono_pdf = pd.concat([live_v1, batch], ignore_index=True)
    build_index(spark, spark.createDataFrame(mono_pdf), mono_dir,
                n_partitions=4, n_buckets=3, salts=3)
    return pdf, base_dir, delta_dir, mono_dir


def _by_url(spark, res, dirs, dead=None):
    url_of = None
    for d in dirs:
        dl = spark.read.parquet(IndexPaths(d).doclens).select("docid", "url")
        url_of = dl if url_of is None else url_of.unionByName(dl)
    out = (res.join(url_of, "docid")
           .select("query_id", "rank", "url", F.round("score", 9).alias("s"))
           .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    return out


def test_tombstone_chain_equals_monolithic(spark, recrawl_chain):
    pdf, base_dir, delta_dir, mono_dir = recrawl_chain
    dead, dl_dead = load_tombstones(spark, [base_dir, delta_dir])
    assert dead.size > 20 and dl_dead > 0
    qpdf = gen_queries(pdf).head(10)
    qpdf = pd.concat([qpdf, pd.DataFrame(
        [{"query_id": 998, "qtext": "freshly recrawled revision"}])],
        ignore_index=True)
    qdf = spark.createDataFrame(qpdf)
    chain = [base_dir, delta_dir]
    mono = _by_url(spark, search_topk(spark, mono_dir, qdf, k=10), [mono_dir])
    for res in (search_topk(spark, chain, qdf, k=10, n_ranges=3),
                search_wand(spark, chain, qdf, k=10),
                search_taat(spark, chain, qdf, k=10)):
        pd.testing.assert_frame_equal(_by_url(spark, res, chain), mono)
    # the recrawl-marker query must actually surface recrawled docs
    assert (mono.query_id == 998).sum() > 0


def test_tombstone_never_serves_dead_docid(spark, recrawl_chain):
    pdf, base_dir, delta_dir, _ = recrawl_chain
    dead, _ = load_tombstones(spark, [base_dir, delta_dir])
    qdf = spark.createDataFrame(gen_queries(pdf).head(10))
    res = search_topk(spark, [base_dir, delta_dir], qdf, k=20,
                      n_ranges=3).toPandas()
    assert not np.isin(res["docid"].to_numpy(), dead).any()


def test_compaction_purges_tombstones(spark, recrawl_chain, tmpdir_session):
    """Compacting the tombstoned chain must equal the monolithic build
    DOCID-for-docid (same url-rank assignment) and carry no
    tombstones/ dir of its own."""
    pdf, base_dir, delta_dir, mono_dir = recrawl_chain
    comp_dir = os.path.join(tmpdir_session, "rc_comp")
    compact_indexes(spark, [base_dir, delta_dir], comp_dir,
                    n_partitions=4, n_buckets=3, salts=3)
    dead, _ = load_tombstones(spark, comp_dir)
    assert dead.size == 0
    qdf = spark.createDataFrame(gen_queries(pdf).head(10))
    a = (search_topk(spark, comp_dir, qdf, k=10)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    b = (search_topk(spark, mono_dir, qdf, k=10)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # identical doclens sinks (url→docid assignment reproduced exactly)
    ca = (spark.read.parquet(IndexPaths(comp_dir).doclens)
          .select("docid", "url", "dl").toPandas()
          .sort_values("docid").reset_index(drop=True))
    cb = (spark.read.parquet(IndexPaths(mono_dir).doclens)
          .select("docid", "url", "dl").toPandas()
          .sort_values("docid").reset_index(drop=True))
    pd.testing.assert_frame_equal(ca, cb)


def test_double_recrawl_chain(spark, tmpdir_session):
    """A url re-crawled TWICE across two tombstone deltas: the second
    delta must tombstone the FIRST DELTA's docid (the live copy), not
    re-tombstone the base one — and the chain must still equal a
    monolithic latest-wins build."""
    pdf = gen_pages(200)
    base_dir = os.path.join(tmpdir_session, "rc2_base")
    d1_dir = os.path.join(tmpdir_session, "rc2_d1")
    d2_dir = os.path.join(tmpdir_session, "rc2_d2")
    mono_dir = os.path.join(tmpdir_session, "rc2_mono")
    build_index(spark, spark.createDataFrame(pdf), base_dir,
                n_partitions=4, n_buckets=3, salts=3)
    doclens = spark.read.parquet(IndexPaths(base_dir).doclens).toPandas()
    urls = sorted(doclens["url"])
    twice = set(urls[::9])

    def revise(tag, days):
        rec = pdf[pdf["url"].isin(twice)].copy()
        rec = (rec.sort_values(["url", "warc_ts"])
               .drop_duplicates("url", keep="last"))
        rec["text"] = rec["text"].fillna("") + f" revision {tag} content"
        rec["html"] = None
        rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=days)
        return rec

    v2, v3 = revise("alpha", 2), revise("beta", 4)
    build_delta(spark, spark.createDataFrame(v2), [base_dir], d1_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)
    build_delta(spark, spark.createDataFrame(v3), [base_dir, d1_dir], d2_dir,
                on_recrawl="tombstone", n_partitions=4, n_buckets=3, salts=3)

    # each re-crawled url must have exactly TWO dead docids (base + d1)
    dead, _ = load_tombstones(spark, [base_dir, d1_dir, d2_dir])
    assert dead.size == 2 * len(twice)
    d2_tombs = spark.read.parquet(os.path.join(d2_dir, "tombstones")).toPandas()
    d1_doclens = spark.read.parquet(IndexPaths(d1_dir).doclens).toPandas()
    assert set(d2_tombs["docid"]) == set(d1_doclens["docid"])  # live copies only

    live_v1 = pdf[~pdf["url"].isin(twice)]
    mono_pdf = pd.concat([live_v1, v3], ignore_index=True)
    build_index(spark, spark.createDataFrame(mono_pdf), mono_dir,
                n_partitions=4, n_buckets=3, salts=3)
    qpdf = gen_queries(pdf).head(8)
    qpdf = pd.concat([qpdf, pd.DataFrame(
        [{"query_id": 997, "qtext": "revision beta content"}])],
        ignore_index=True)
    qdf = spark.createDataFrame(qpdf)
    chain = [base_dir, d1_dir, d2_dir]
    got = _by_url(spark, search_topk(spark, chain, qdf, k=10, n_ranges=3), chain)
    exp = _by_url(spark, search_topk(spark, mono_dir, qdf, k=10), [mono_dir])
    pd.testing.assert_frame_equal(got, exp)
    # no 'alpha' (superseded middle revision) doc may surface
    alpha_q = spark.createDataFrame([(0, "revision alpha")],
                                    "query_id long, qtext string")
    res = search_taat(spark, chain, alpha_q, k=10, require_all=True).toPandas()
    assert len(res) == 0

"""ES search-layer operators beyond ranked retrieval (round 7).

aarhus's search surface is Elasticsearch: a real user of that layer
runs aggregations (facets) alongside hits, paginates with
``search_after``, boosts recent documents with ``function_score``
decay, asks for highlighted snippets, and issues ``more_like_this``
queries [PK — ES DSL; SURVEY §0]. This module is the web-page analog
of each, built over the engine's own artifacts:

- :func:`search_matches` — the shared seam: the full scored match set
  (no top-k cut), because ES computes aggs/function_score over ALL
  matching docs, not the top k. It runs the retrieval dispatcher and
  WAND kernel uncut (``search_topk(k=None)``), so hits and aggs score
  on one path.
- :func:`search_facets` — ``aggs.terms`` over the url host.
- :func:`search_date_histogram` — ``aggs.date_histogram`` over
  ``warc_ts`` (calendar truncation, key-asc bucket order).
- :func:`search_significant_terms` — ``aggs.significant_terms``
  (JLH heuristic; fg from re-analyzed stored text, bg from the
  dictionary).
- :func:`suggest_terms` — the *term suggester* ("did you mean"):
  Levenshtein dictionary scan, ES suggest_mode semantics.
- :func:`suggest_phrases` — the *phrase suggester* analog: per-word
  candidates × conjunctive index evidence via the engine's own
  bool.must path, ranked (evidence desc, edits asc).
- :func:`search_function_score` — multiplicative exp-decay on
  ``warc_ts`` (ES ``exp`` decay function, offset=0).
- :func:`search_page` — keyset pagination on (score desc, docid asc),
  ES ``search_after``.
- :func:`search_highlight` — the ES *plain* highlighter analog: the
  stored text of each top-k hit is re-analyzed at query time and a
  token window around the first match is returned with ``<em>`` marks.
- :func:`more_like_this` — tf·idf term selection from a seed doc,
  scored as a standard BM25 disjunction, seed excluded.
- :func:`search_metric_aggs` — the ES *metric* aggregations
  (``stats``/``value_count``/``cardinality``/``percentiles``) over the
  matched set, optionally under a non-scoring ``bool.filter`` range
  clause on ``warc_ts``.
- :func:`search_boosting` — ES ``boosting`` query: negative-query
  matches are demoted (score × ``negative_boost``), never excluded.
- :func:`search_constant_score` — ES ``constant_score``: every
  matching doc scores exactly ``boost``.
- :func:`search_rescore` — ES ``rescore`` with a ``match_phrase``
  secondary: the top ``window_size`` BM25 hits are re-ranked by
  ``query_weight·bm25 + rescore_weight·phrase_score``.
- :func:`search_histogram` / :func:`search_range_agg` /
  :func:`search_filters_agg` — the remaining ES *bucket* aggs:
  fixed-interval numeric histogram (key-asc, min_doc_count 1),
  declared ranges (from-inclusive/to-exclusive, empty buckets kept),
  and keyed named filters (one codegen'd hash agg, all CASE columns).
- :func:`search_composite` — ES ``composite`` agg: bucket tuples over
  two sources in composite-key order with ``after`` keyset paging.
- :func:`search_pipeline_aggs` — ES *pipeline* aggs over a
  date_histogram parent: ``cumulative_sum``, ``derivative``,
  ``bucket_sort`` — computed on the reduced bucket rows, as in ES.
- :func:`search_collapse` — ES field ``collapse`` + ``inner_hits``:
  one representative hit per collapse key, top inner hits per group.
- :func:`search_explain` — ES ``explain: true``: the per-term BM25
  breakdown (tf, df, idf, tf norm, contribution) per top-k hit,
  recomputed from the engine's own sinks.
- :func:`percolate` — the ES *percolate* query (reverse search):
  incoming docs matched against broadcast registered queries at
  ingest — docs never shuffle.
- :func:`search_adjacency_matrix` — ES ``adjacency_matrix``: single +
  pairwise-intersection buckets of named filters, one codegen'd agg.
- :func:`global_metric_aggs` — ES ``global`` agg: the Q25 metric row
  over the WHOLE corpus, attached to every query.

Every op above the match set is one skeleton over a few private
helpers: :func:`_matches` (the shared or fresh match set joined to the
doc meta), :func:`_counts` (doc_count per query and key),
:func:`_ranked` (a long rank per query, cut at n) for buckets, and
``search._top_hits`` (score desc, docid asc) for hits. Above the match
set everything stays JVM-side (built-in column functions); the only
driver-side work is MLT's term selection for all seeds (one read of
their texts + one dictionary scan — the same shape as the Q12-Q16
dictionary rewrites) and its re-rank of k+1 hits per seed.
"""

from __future__ import annotations

import functools
from collections import Counter
from math import log

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import TOP_K
from ..textops import tokenize
from .search import (RESULT_SCHEMA, _chain, _drop_dead, _global_df_map,
                     _hit_order, _QueryAnalysis, _readers, _score_key,
                     _top_hits, candidate_segments, chain_dictionary,
                     local_df, localize_queries, read_query_rows,
                     search_phrase, search_topk)

# url host — same expression in the DuckDB twin (harness)
HOST_RE = r"^https?://([^/]+)"


def _tokens(text: str) -> Column:
    """The frozen T(text) as JVM column functions: lower-cased
    [a-z0-9]+ runs of at most 64 chars, in order."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"),
                    lambda t: (t != F.lit("")) & (F.length(t) <= F.lit(64)))


def _dl_stats(round_to: int) -> list[Column]:
    """The Q25 metric columns over doc length and host: ``stats``,
    ``percentiles`` (p50, p95) and ``cardinality``."""
    return [F.count("*").alias("doc_count"),
            F.min("dl").alias("min_dl"),
            F.max("dl").alias("max_dl"),
            F.sum("dl").alias("sum_dl"),
            F.round(F.avg("dl"), round_to).alias("avg_dl"),
            F.round(F.percentile("dl", F.lit(0.5)), round_to).alias("p50_dl"),
            F.round(F.percentile("dl", F.lit(0.95)), round_to).alias("p95_dl"),
            F.countDistinct("host").alias("host_card")]


def search_matches(spark: SparkSession, index_dir, queries: DataFrame,
                   **bool_kwargs) -> DataFrame:
    """All matching (query_id, docid, score) for the query set:
    :func:`search_topk` with ``k=None`` — the per-query WAND kernel
    with nothing pruned, over ``default_n_ranges`` groups per query.
    Bool-query kwargs (require_all / min_should_match / score_mode;
    must_qtext / neg_qtext columns) pass straight through; tombstoned
    docs are already excluded there. The shuffle carries the encoded
    posting rows of the query terms — the same bound as retrieval."""
    return search_topk(spark, index_dir, queries, k=None, **bool_kwargs)


def _with_meta(spark: SparkSession, index_dir, df: DataFrame,
               *meta_cols) -> DataFrame:
    """``df`` joined to the live doc meta on docid: ``meta_cols``
    (names or columns over docid, url, dl, warc_ts), or all of it."""
    meta = _doc_meta(spark, index_dir)
    return df.join(meta.select("docid", *meta_cols) if meta_cols else meta,
                   "docid")


def _matches(spark: SparkSession, index_dir, queries: DataFrame,
             matched: DataFrame | None, bool_kwargs: dict,
             *meta_cols) -> DataFrame:
    """The match set a caller shares across aggs, else the queries',
    joined to the doc meta (:func:`_with_meta`)."""
    if matched is None:
        matched = search_matches(spark, index_dir, queries, **bool_kwargs)
    return _with_meta(spark, index_dir, matched, *meta_cols)


def _shared_matches(spark: SparkSession, index_dir, queries: DataFrame,
                    matched: DataFrame | None, bool_kwargs: dict) -> DataFrame:
    """The match set of an op that reads it twice: a caller's shared
    ``matched`` as given, else the queries' materialized once — lazily
    each read would score it again.

    Cluster caveat: an eager localCheckpoint keeps its blocks only on
    the executors that computed them, with no lineage, so a lost
    executor fails the query instead of recomputing."""
    if matched is not None:
        return matched
    return search_matches(spark, index_dir, queries,
                          **bool_kwargs).localCheckpoint(eager=True)


def _counts(j: DataFrame, *keys) -> DataFrame:
    """doc_count per (query_id, ``keys``)."""
    return j.groupBy("query_id", *keys).agg(F.count("*").alias("doc_count"))


def _ranked(df: DataFrame, name: str, n: int | None, *order,
            by=("query_id",)) -> DataFrame:
    """``df`` plus ``name``, a long row number per ``by`` group in
    ``order``, cut at ``n`` (None keeps all)."""
    w = Window.partitionBy(*by).orderBy(*order)
    df = df.withColumn(name, F.row_number().over(w).cast("long"))
    return df if n is None else df.filter(F.col(name) <= n)


def _host(regex: str) -> Column:
    """Group 1 of ``regex`` over the url — the host by default."""
    return F.regexp_extract("url", regex, 1)


def _calendar(interval: str) -> Column:
    """The date_histogram key: ``warc_ts`` truncated to the calendar
    ``interval``, formatted ``yyyy-MM-dd HH:mm:ss`` — engine-portable
    (no epoch/timezone arithmetic in the compared output; the box and
    the twin both run UTC)."""
    return F.date_format(F.date_trunc(interval, "warc_ts"),
                         "yyyy-MM-dd HH:mm:ss")


def _dl_bucket(interval: int) -> Column:
    """ES's histogram key over doc length: floor(dl / interval) ·
    interval."""
    return (F.floor(F.col("dl") / interval) * interval).cast("long")


def _doc_meta(spark: SparkSession, index_dir) -> DataFrame:
    """LIVE (docid, url, dl, warc_ts) across a chain — the doclens sink
    S4 minus tombstoned docids. Re-crawl overwrite chains allocate a
    FRESH docid for the new row and record the superseded base docid in
    the delta's tombstones/ parquet (operators/incremental.py), so
    docids never collide across dirs; liveness is purely the tombstone
    filter (:func:`~.search._drop_dead`, the same device the retrieval
    path uses). The per-docid window stays as defense in depth against
    a duplicate-docid writer bug."""
    chain = _chain(spark, index_dir)
    meta = _drop_dead(spark, functools.reduce(DataFrame.unionByName, [
        _readers(spark, d).doclens.withColumn("__gen", F.lit(i))
        for i, d in enumerate(chain.dirs)]), chain.dead)
    if len(chain.dirs) == 1:
        return meta.drop("__gen")
    w = Window.partitionBy("docid").orderBy(F.desc("__gen"))
    return (meta.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn", "__gen"))


def search_facets(spark: SparkSession, index_dir, queries: DataFrame,
                  n_buckets: int = 10, bucket_regex: str = HOST_RE,
                  matched: DataFrame | None = None,
                  **bool_kwargs) -> DataFrame:
    """ES ``aggs: {terms: {field: host}}`` alongside a query: bucket
    ALL matching docs by a url-derived key (``bucket_regex`` group 1 —
    host by default), count per bucket, keep the top ``n_buckets``
    buckets per query by (doc_count desc, bucket asc) — ES's terms-agg
    ordering with its deterministic key tiebreak. Returns
    (query_id, bucket, doc_count, brank)."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs,
                 _host(bucket_regex).alias("bucket"))
    return _ranked(_counts(j, "bucket"), "brank", n_buckets,
                   F.desc("doc_count"), F.asc("bucket"))


def search_date_histogram(spark: SparkSession, index_dir,
                          queries: DataFrame, interval: str = "minute",
                          n_buckets: int = 1000,
                          matched: DataFrame | None = None,
                          **bool_kwargs) -> DataFrame:
    """ES ``aggs: {date_histogram: {field: warc_ts, calendar_interval:
    …}}`` alongside a query: bucket ALL matching docs by the
    calendar-truncated crawl timestamp and count per bucket. ES orders
    date_histogram buckets by KEY ascending (unlike the terms agg's
    count-desc) — ``brank`` follows that; empty buckets are omitted
    (ES ``min_doc_count: 1``); the key is :func:`_calendar`."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs,
                 _calendar(interval).alias("bucket"))
    return _ranked(_counts(j, "bucket"), "brank", n_buckets,
                   F.asc("bucket"))


def search_significant_terms(spark: SparkSession, index_dir,
                             queries: DataFrame, docs: DataFrame,
                             n_terms: int = 10, round_to: int = 9,
                             matched: DataFrame | None = None,
                             **bool_kwargs) -> DataFrame:
    """ES ``significant_terms`` agg: terms unusually frequent in the
    query's matched docs (foreground) relative to the whole corpus
    (background). fg_df = matched docs containing the term (re-analyze
    the stored text, ES field-data style), bg_df = dictionary df,
    fg_size = |matched| per query, bg_size = the chain's live N
    (:func:`~.search._chain`).

    Score is JLH (ES's classic significance heuristic):
    ``(fg%/bg%) · (fg% − bg%)`` — computed as ONE double expression
    with fixed parenthesization and rounded to ``round_to`` before
    ranking, so the DuckDB twin's libm can never flip a rank. Buckets
    rank (score desc, term asc), top ``n_terms`` per query.

    Plan shape: matched set ⋈ doclens ⋈ stored text (shuffle bounded
    by the match set — the bound ES itself pays), one explode of the
    per-doc DISTINCT token array, a hash agg on (query_id, term), a
    broadcast of per-query fg sizes, an equi-join with the dictionary
    (the engine's smallest table). All JVM-side column functions."""
    # the fg_size agg and the docterms join both read the match set
    matched = _shared_matches(spark, index_dir, queries, matched,
                              bool_kwargs)
    fg_size = matched.groupBy("query_id").agg(
        F.count("*").alias("fg_size"))
    docterms = (_matches(spark, index_dir, queries, matched, bool_kwargs,
                         "url")
                .join(docs.select("url", "text"), "url")
                .select("query_id",
                        F.explode(F.array_distinct(_tokens("text"))).alias("term")))
    fg = docterms.groupBy("query_id", "term").agg(
        F.count("*").alias("fg_df"))
    dic = chain_dictionary(spark, index_dir).withColumnRenamed("df", "bg_df")
    # bg_size = tombstone-corrected live N (the retrieval path's N_eff);
    # bg_df stays the STORED dictionary df — exactly Lucene/ES, whose
    # docFreq ignores deletions until segments merge while live-doc
    # counts exclude them (compaction purges both here)
    fgp = F.col("fg_df").cast("double") / F.col("fg_size").cast("double")
    bgp = (F.col("bg_df").cast("double")
           / F.lit(float(_chain(spark, index_dir).n_docs)))
    score = F.round((fgp / bgp) * (fgp - bgp), round_to)
    scored = (fg.join(F.broadcast(fg_size), "query_id")
              .join(dic, "term")
              .withColumn("score", score))
    return (_ranked(scored, "srank", n_terms, F.desc("score"), F.asc("term"))
            .select("query_id", "srank", "term", "fg_df", "bg_df", "score"))


def suggest_terms(spark: SparkSession, index_dir, words: DataFrame,
                  max_edits: int = 2, n_suggestions: int = 5,
                  suggest_mode: str = "always") -> DataFrame:
    """ES *term suggester* ("did you mean"): for each (word_id, word)
    row, find dictionary terms within ``max_edits`` Levenshtein edits
    and rank them (distance asc, df desc, term asc) — the
    deterministic analog of ES's (score desc, freq desc) suggestion
    order, since fewer edits ⇔ higher string-similarity score.

    ``suggest_mode`` mirrors ES: ``"missing"`` suggests only for words
    absent from the dictionary, ``"popular"`` keeps only candidates
    with strictly higher df than the word's own (0 if absent),
    ``"always"`` applies no such filter. The word itself (distance 0)
    is never a suggestion.

    Plan shape: the term dictionary is the engine's SMALLEST artifact
    (one row per distinct term); ``words`` is human-scale and
    broadcast, so the scan is an embarrassingly parallel
    broadcast-nested-loop with a cheap length pre-filter ahead of the
    JVM ``levenshtein`` (threshold form — early-exits past
    ``max_edits``). Chain dirs sum df before ranking, same contract
    as the Q12-Q16 dictionary rewrites."""
    if suggest_mode not in ("always", "missing", "popular"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    dic = chain_dictionary(spark, index_dir)
    w = words.select("word_id", F.lower(F.col("word")).alias("word"))
    own = dic.withColumnRenamed("term", "word").withColumnRenamed(
        "df", "own_df")
    w = (w.join(F.broadcast(own), "word", "left")
         .fillna(0, subset=["own_df"]))
    cand = (dic.join(F.broadcast(w),
                     F.abs(F.length("term") - F.length("word"))
                     <= int(max_edits))
            .withColumn("distance",
                        F.levenshtein("term", "word", int(max_edits)))
            .filter(F.col("distance") > 0))
    if suggest_mode == "missing":
        cand = cand.filter(F.col("own_df") == 0)
    elif suggest_mode == "popular":
        cand = cand.filter(F.col("df") > F.col("own_df"))
    return (_ranked(cand, "srank", n_suggestions, F.asc("distance"),
                    F.desc("df"), F.asc("term"), by=("word_id",))
            .select("word_id", "word", "srank", "term",
                    F.col("distance").cast("long").alias("distance"), "df"))


def search_function_score(spark: SparkSession, index_dir,
                          queries: DataFrame, k: int = TOP_K,
                          origin: str = "2026-01-01 00:00:00",
                          scale_days: float = 30.0,
                          decay: float = 0.5,
                          matched: DataFrame | None = None,
                          **bool_kwargs) -> DataFrame:
    """ES ``function_score`` with an ``exp`` decay on ``warc_ts``
    (multiply mode): final = bm25 · decay^(|ts − origin| / scale),
    i.e. ES's exp decay with offset 0 — evaluated over ALL matching
    docs, then top-k, exactly as ES rescoring semantics require (a
    low-BM25 but recent doc can enter the top k). The decay is one
    JVM column expression on the matched set joined with doclens —
    no extra decode, no Python."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs, "warc_ts")
    age = (F.abs(F.unix_timestamp("warc_ts")
                 - F.unix_timestamp(F.lit(origin))) / F.lit(86400.0))
    mult = F.pow(F.lit(float(decay)), age / F.lit(float(scale_days)))
    return _top_hits(j.withColumn("score", F.col("score") * mult), k)


def search_page(spark: SparkSession, index_dir, queries: DataFrame,
                page_size: int = TOP_K, after: DataFrame | None = None,
                round_to: int | None = None, matched: DataFrame | None = None,
                **bool_kwargs) -> DataFrame:
    """ES ``search_after`` keyset pagination on the deterministic sort
    key (score desc, docid asc). ``after`` is (query_id, after_score,
    after_docid) — the sort key of the LAST hit of the previous page;
    rows with no cursor for their query start at page 1. Keyset, not
    offset: the filter prunes before the per-query window, so deep
    pages never rank what earlier pages already returned — the same
    reason ES deprecated from+size for deep paging.

    ``round_to`` ranks, compares and returns round(score, round_to)
    instead of the raw double (:func:`search._score_key`), so an
    FP-summation-order difference can never flip a page boundary."""
    if matched is None:
        matched = search_matches(spark, index_dir, queries, **bool_kwargs)
    if round_to is not None:
        matched = matched.withColumn("score", _score_key(round_to))
    if after is not None:
        matched = (
            matched.join(F.broadcast(after), "query_id", "left")
            .filter(F.col("after_score").isNull()
                    | (F.col("score") < F.col("after_score"))
                    | ((F.col("score") == F.col("after_score"))
                       & (F.col("docid") > F.col("after_docid"))))
            .drop("after_score", "after_docid"))
    return _top_hits(matched, page_size)


def search_highlight(spark: SparkSession, index_dir, queries: DataFrame,
                     docs: DataFrame, k: int = TOP_K,
                     window: int = 4, n_ranges: int | None = None,
                     round_to: int | None = None) -> DataFrame:
    """ES *plain*-highlighter analog over the top-k hits: re-analyze
    each hit's stored text at query time (exactly what ES's plain
    highlighter does — it re-runs the analyzer on the field text) and
    return one snippet: the ±``window`` token context around the FIRST
    occurrence of any analyzed query term, matched tokens wrapped in
    ``<em>…</em>``.

    ``docs`` is a (url, text) source in the pages shape; hits join it
    through the doclens docmap. The whole fragment pipeline is built-in
    column functions over the k·|queries| hit rows only — tokenize =
    lower + regexp split (the frozen T(text) for ASCII alnum runs),
    positions via array_position, snippet via slice + transform +
    array_join. Returns (query_id, rank, docid, snippet)."""
    queries = localize_queries(spark, queries)  # top-k + analysis passes
    top = search_topk(spark, index_dir, queries, k=k, n_ranges=n_ranges)
    if round_to is not None:
        top = _top_hits(top, None, round_to)
    qa = _QueryAnalysis(spark, queries)
    qarr = local_df(
        spark,
        [(int(q), sorted(set(g))) for q, g in
         qa.qterms_pdf.groupby("query_id")["term"]],
        "query_id long, qterms array<string>")
    hit = (_with_meta(spark, index_dir, top, "url")
           .join(docs.select("url", "text"), "url")
           .join(F.broadcast(qarr), "query_id"))
    hit = hit.withColumn("toks", _tokens("text"))
    # first (1-based) position of any query term; hits always match ≥1
    # positive term, so the min is well-defined on the disjunctive path
    firstpos = F.array_min(F.filter(
        F.transform(F.col("qterms"),
                    lambda t: F.array_position(F.col("toks"), t)),
        lambda p: p > 0))
    hit = hit.withColumn("fp", firstpos.cast("int"))
    start = F.greatest(F.lit(1), F.col("fp") - F.lit(window))
    length = F.col("fp") - start + F.lit(window) + F.lit(1)
    frag = F.slice(F.col("toks"), start, length)
    marked = F.transform(
        frag,
        lambda t: F.when(F.array_contains(F.col("qterms"), t),
                         F.concat(F.lit("<em>"), t, F.lit("</em>")))
                   .otherwise(t))
    return (hit.withColumn("snippet", F.array_join(marked, " "))
            .select("query_id", "rank", "docid", "snippet"))


# MLT defaults — ES MoreLikeThis: max_query_terms=25; selection score
# is tf·idf with idf = ln(1 + N/df) (our declared deterministic
# variant), ties broken by term asc
MLT_MAX_QUERY_TERMS = 25


def mlt_select_terms(spark: SparkSession, index_dir, seed_text: str,
                     max_query_terms: int = MLT_MAX_QUERY_TERMS,
                     min_term_freq: int = 1,
                     min_doc_freq: int = 1) -> list[str]:
    """ES MLT "interesting terms" selection from a seed document's
    text: tokenize with the frozen analyzer, keep terms with
    tf ≥ min_term_freq and df ≥ min_doc_freq, rank by
    round(tf·ln(1 + N/df), 9) desc (term asc tiebreak), take
    max_query_terms — the rounding makes the selection key exactly
    reproducible across engines (the harness DuckDB twin computes the
    identical key), so a last-ulp libm difference can never swap the
    cut-off term. df is the stored dictionary df, with a ``term IN``
    pushdown, and N the chain's live N — Lucene MoreLikeThis's docFreq
    and numDocs, and the convention of :func:`search_significant_terms`.
    Returns the selected terms sorted."""
    return _mlt_select_many(spark, index_dir, [seed_text], max_query_terms,
                            min_term_freq, min_doc_freq)[0]


def _mlt_select_many(spark: SparkSession, index_dir, seed_texts: list[str],
                     max_query_terms: int, min_term_freq: int = 1,
                     min_doc_freq: int = 1) -> list[list[str]]:
    """:func:`mlt_select_terms` for every seed text, from ONE
    dictionary lookup over the union of their candidate terms."""
    tfs = [Counter(tokenize(text)) for text in seed_texts]
    cands = [sorted(t for t, c in tf.items() if c >= min_term_freq)
             for tf in tfs]
    union = sorted(set().union(*cands))
    if not union:
        return [[] for _ in seed_texts]
    chain = _chain(spark, index_dir)
    n_docs, dfm = chain.n_docs, _global_df_map(spark, chain, union)
    out = []
    for tf, cand in zip(tfs, cands):
        # max(min_doc_freq, 1): with min_doc_freq=0 an out-of-dictionary
        # term would pass the filter and divide by dfm[t] == 0
        scored = [(t, round(tf[t] * log(1.0 + n_docs / dfm[t]), 9))
                  for t in cand if dfm.get(t, 0) >= max(min_doc_freq, 1)]
        scored.sort(key=lambda x: (-x[1], x[0]))
        out.append(sorted(t for t, _ in scored[:max_query_terms]))
    return out


def more_like_this(spark: SparkSession, index_dir, queries: DataFrame,
                   docs: DataFrame, k: int = TOP_K,
                   max_query_terms: int = MLT_MAX_QUERY_TERMS,
                   n_ranges: int | None = None) -> DataFrame:
    """ES ``more_like_this`` over url-identified seed docs: each row of
    ``queries`` is (query_id, like_url); every seed's stored text is
    fetched from ``docs`` in one read (the first row per url), the
    interesting terms of all seeds selected from one dictionary lookup
    (:func:`mlt_select_terms`), and each selection scored as a
    standard BM25 disjunction through the default engine path — with
    the seed doc itself excluded from the hits (``include: false``,
    the ES default). Runs at call time; its job count does not grow
    with the seeds. Returns (query_id, rank, docid, score), re-ranked
    after exclusion, as a local frame."""
    qrows = read_query_rows(queries, "query_id", "like_url")
    seeds = [(int(r["query_id"]), r["like_url"]) for r in qrows]
    urls = sorted({u for _, u in seeds if u is not None})
    text_of: dict[str, str] = {}
    docid_of: dict[str, int] = {}
    if urls:
        in_urls = F.col("url").isin(urls)
        for r in docs.filter(in_urls).select("url", "text").collect():
            text_of.setdefault(r["url"], r["text"] or "")
        docid_of = {r["url"]: r["docid"] for r in _doc_meta(spark, index_dir)
                    .filter(in_urls).select("url", "docid").collect()}
    selected = _mlt_select_many(spark, index_dir,
                                [text_of.get(u, "") for _, u in seeds],
                                max_query_terms)
    qdf = local_df(spark, [(qid, " ".join(terms)) for (qid, _), terms
                           in zip(seeds, selected)],
                   "query_id long, qtext string")
    # k+1 then exclude-and-rerank on the driver (k+1 rows per query):
    # the seed can occupy at most one slot, and no window reshuffles
    # the kernel's output
    seed_of = {qid: docid_of.get(u) for qid, u in seeds}
    top = search_topk(spark, index_dir, qdf, k=k + 1, n_ranges=n_ranges)
    hits: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(top.collect(), key=lambda r: (r["query_id"], r["rank"])):
        if r["docid"] != seed_of.get(r["query_id"]):
            hits.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    return local_df(spark, [(qid, rank, d, sc) for qid, hs in hits.items()
                            for rank, (d, sc) in enumerate(hs[:k], 1)],
                    RESULT_SCHEMA)


def search_metric_aggs(spark: SparkSession, index_dir, queries: DataFrame,
                       round_to: int = 9, ts_lo: str | None = None,
                       ts_hi: str | None = None,
                       bucket_regex: str = HOST_RE,
                       matched: DataFrame | None = None,
                       **bool_kwargs) -> DataFrame:
    """ES *metric* aggregations over the match set — one row per query
    carrying the ``stats`` agg on the doc-length field (``min``/``max``/
    ``sum``/``avg`` + ``value_count``), the ``percentiles`` agg (p50 and
    p95, exact linear interpolation — the deterministic analog of ES's
    TDigest, which is itself approximate), and the ``cardinality`` agg
    on the url-derived host key (exact ``count distinct`` — the
    oracle-checkable analog of ES's HLL; the engine's HLL variant is
    A3 ``approx_count_distinct``, rows-only checked).

    ``ts_lo``/``ts_hi`` (timestamp strings) add ES's non-scoring
    ``bool.filter`` range clause on ``warc_ts``: the match set is
    filtered [lo, hi) BEFORE aggregating, scores untouched — exactly
    how a filter clause participates in ES (no score contribution,
    pure selection).

    Plan shape: matched (query_id, docid) equi-joins the doclens sink
    on docid (shuffle join, AQE-eligible), then ONE hash aggregation —
    percentile is a JVM built-in, so the whole agg stays codegen'd.
    Averages/percentiles round to ``round_to`` so a summation-order
    last-ulp can never flip a compared value."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs,
                 "dl", "warc_ts", _host(bucket_regex).alias("host"))
    if ts_lo is not None:
        j = j.filter(F.col("warc_ts") >= F.to_timestamp(F.lit(ts_lo)))
    if ts_hi is not None:
        j = j.filter(F.col("warc_ts") < F.to_timestamp(F.lit(ts_hi)))
    return j.groupBy("query_id").agg(*_dl_stats(round_to))


def search_boosting(spark: SparkSession, index_dir, queries: DataFrame,
                    negative_boost: float = 0.5, k: int = TOP_K) -> DataFrame:
    """ES ``boosting`` query: the positive query (``qtext``) is scored
    as a normal BM25 disjunction; docs that ALSO match the negative
    query (nullable ``neg_qtext`` column) keep their hit but are
    demoted — ``score × negative_boost`` — never excluded. This is the
    scoring counterpart of ``bool.must_not`` (which excludes): the two
    share the negative-clause analysis but differ in what a negative
    match does.

    Plan shape: two engine match sets (each shuffle-bounded by its own
    query terms' postings) left-joined on (query_id, docid); the
    demotion is one JVM CASE expression; then the top-k cut. Rows with
    a null ``neg_qtext`` take the plain-BM25 path unchanged."""
    queries = localize_queries(spark, queries)  # pos + neg + head passes
    pos = search_matches(spark, index_dir,
                         queries.select("query_id", "qtext"))
    nq = (queries.filter(F.col("neg_qtext").isNotNull())
          .select("query_id", F.col("neg_qtext").alias("qtext")))
    if nq.head(1):
        neg = (search_matches(spark, index_dir, nq)
               .select("query_id", "docid")
               .withColumn("__neg", F.lit(True)))
        pos = (pos.join(neg, ["query_id", "docid"], "left")
               .withColumn("score",
                           F.when(F.col("__neg"),
                                  F.col("score")
                                  * F.lit(float(negative_boost)))
                           .otherwise(F.col("score")))
               .drop("__neg"))
    return _top_hits(pos, k)


def search_constant_score(spark: SparkSession, index_dir,
                          queries: DataFrame, boost: float = 1.0,
                          k: int = TOP_K, **bool_kwargs) -> DataFrame:
    """ES ``constant_score``: every doc matching the wrapped query
    scores exactly ``boost`` — retrieval without relevance ranking
    (ES uses it to cache pure filters). Ties break docid asc, so the
    top k are the k smallest matching docids — fully deterministic.
    Bool-query kwargs pass through to the match-set seam."""
    matched = search_matches(spark, index_dir, queries, **bool_kwargs)
    return _top_hits(matched.withColumn("score", F.lit(float(boost))), k)


def search_rescore(spark: SparkSession, index_dir, queries: DataFrame,
                   window_size: int = 50, k: int = TOP_K,
                   query_weight: float = 1.0,
                   rescore_weight: float = 1.0,
                   n_ranges: int | None = None) -> DataFrame:
    """ES ``rescore`` with a ``match_phrase`` secondary — the classic
    precision pass: take the top ``window_size`` hits of the primary
    BM25 disjunction, re-rank ONLY those by
    ``query_weight·bm25 + rescore_weight·phrase_score``, return the
    top ``k``. Docs outside the window keep their fate — exactly ES's
    window semantics (a doc ranked below ``window_size`` can never be
    rescored in).

    ``phrase_score`` here is the engine's match_phrase score: BM25
    over the phrase's distinct terms restricted to phrase-matching
    docs (search.py Q8) — for a phrase built from the SAME qtext that
    equals the primary disjunctive score, so combined =
    ``bm25 · (query_weight + rescore_weight·[phrase matches])``.

    The phrase side runs with ``k=window_size``, which is sufficient,
    not approximate: phrase hits are a subset of disjunctive matches
    and both sides rank by the identical (score desc, docid asc) key,
    so any phrase hit inside the primary window has phrase-rank ≤ its
    primary rank ≤ window_size — no phrase hit that matters can be
    cut. Plan: two engine top-k's + one (query_id, docid) left join +
    the top-k cut — no extra decode passes."""
    queries = localize_queries(spark, queries)  # two passes, one collect
    win = search_topk(spark, index_dir, queries, k=window_size,
                      n_ranges=n_ranges)
    ph = (search_phrase(spark, index_dir, queries, k=window_size,
                        n_ranges=n_ranges)
          .select("query_id", "docid",
                  F.col("score").alias("__phscore")))
    comb = (win.join(ph, ["query_id", "docid"], "left")
            .withColumn("score",
                        F.lit(float(query_weight)) * F.col("score")
                        + F.lit(float(rescore_weight))
                        * F.coalesce(F.col("__phscore"), F.lit(0.0))))
    return _top_hits(comb, k)


def search_top_hits(spark: SparkSession, index_dir, queries: DataFrame,
                    n_buckets: int = 10, k_hits: int = 3,
                    bucket_regex: str = HOST_RE,
                    round_to: int | None = None,
                    matched: DataFrame | None = None,
                    **bool_kwargs) -> DataFrame:
    """ES ``terms`` agg with a ``top_hits`` sub-agg: the top
    ``n_buckets`` buckets per query by (doc_count desc, bucket asc) —
    the Q17 terms-agg order — and within each kept bucket the top
    ``k_hits`` matching docs by (score desc, docid asc). This is ES's
    "best documents per category" idiom (group hits by host, show the
    3 best per host).

    ``round_to`` ranks and returns hits on ``round(score, round_to)``
    — the same cross-engine contract as :func:`search_page`.

    Plan shape: ONE matched-set ⋈ doclens join feeds both the bucket
    counting agg and the per-(query, bucket) hit ranks; the bucket
    top-N join back is a tiny broadcast (n_queries × n_buckets rows).
    Returns (query_id, bucket, doc_count, brank, hrank, docid,
    score)."""
    # the bucket-count agg and the hit ranks both read the match set
    matched = _shared_matches(spark, index_dir, queries, matched,
                              bool_kwargs)
    bk = (_matches(spark, index_dir, queries, matched, bool_kwargs,
                   _host(bucket_regex).alias("bucket"))
          .withColumn("__key", _score_key(round_to)))
    kept = _ranked(_counts(bk, "bucket"), "brank", n_buckets,
                   F.desc("doc_count"), F.asc("bucket"))
    hits = _ranked(bk, "hrank", k_hits, *_hit_order("__key"),
                   by=("query_id", "bucket"))
    return (hits.join(F.broadcast(kept), ["query_id", "bucket"])
            .select("query_id", "bucket", "doc_count", "brank", "hrank",
                    "docid", F.col("__key").alias("score")))


def search_histogram(spark: SparkSession, index_dir, queries: DataFrame,
                     interval: int = 25, n_buckets: int = 10000,
                     matched: DataFrame | None = None,
                     **bool_kwargs) -> DataFrame:
    """ES ``aggs: {histogram: {field: dl, interval: N}}`` alongside a
    query: fixed-width numeric buckets over the matched docs' doc
    length — ``key = floor(dl / interval) * interval`` (ES's histogram
    key formula), buckets ordered by KEY ascending, empty buckets
    omitted (``min_doc_count: 1``). Returns (query_id, bucket,
    doc_count, brank)."""
    j = (_matches(spark, index_dir, queries, matched, bool_kwargs, "dl")
         .withColumn("bucket", _dl_bucket(interval)))
    return _ranked(_counts(j, "bucket"), "brank", n_buckets, F.asc("bucket"))


def search_range_agg(spark: SparkSession, index_dir, queries: DataFrame,
                     ranges: list, matched: DataFrame | None = None,
                     **bool_kwargs) -> DataFrame:
    """ES ``aggs: {range: {field: dl, ranges: [...]}}``: each range is
    ``(key, lo, hi)`` with ``from`` INCLUSIVE, ``to`` EXCLUSIVE and
    ``None`` for an open end — ES's exact range-agg bounds. EVERY
    declared range comes back (ES returns empty buckets for the range
    agg — unlike terms/histogram there is no ``min_doc_count`` cut),
    ``brank`` = the declaration position, for every query in the input
    (a query with zero matches still reports all its ranges at 0).

    Plan shape: the ranges list is tiny and broadcast — the theta join
    against the matched⋈doclens rows is a BroadcastNestedLoopJoin over
    |ranges| rows (ranges may overlap, as in ES, so this is NOT an
    equi-join); the zero-fill grid is |queries|×|ranges|, also
    broadcast. Nothing here grows with the corpus except the matched
    set itself."""
    rows = [(i + 1, key,
             float(lo) if lo is not None else None,
             float(hi) if hi is not None else None)
            for i, (key, lo, hi) in enumerate(ranges)]
    rdf = local_df(
        spark, rows, "brank long, bucket string, lo double, hi double")
    j = _matches(spark, index_dir, queries, matched, bool_kwargs, "dl")
    cond = ((F.col("lo").isNull() | (F.col("dl") >= F.col("lo")))
            & (F.col("hi").isNull() | (F.col("dl") < F.col("hi"))))
    counts = _counts(j.join(F.broadcast(rdf), cond), "brank", "bucket")
    grid = (queries.select("query_id").distinct()
            .crossJoin(F.broadcast(rdf.select("brank", "bucket"))))
    return (grid.join(counts, ["query_id", "brank", "bucket"], "left")
            .select("query_id", "bucket",
                    F.coalesce("doc_count", F.lit(0)).cast("long")
                    .alias("doc_count"),
                    "brank"))


def _named_counts(j: DataFrame, named: list,
                  grid: DataFrame | None = None) -> DataFrame:
    """Per query, the count of ``j``'s rows meeting each (name,
    predicate) of ``named``: ONE codegen'd hash aggregation with a
    ``sum(CASE WHEN … )`` column per predicate (no per-predicate pass
    over the match set), then a driver-free unpivot to (query_id,
    bucket, doc_count, brank) rows, brank = declaration order.
    ``grid`` (query ids) left-joins ahead of the unpivot, so a query
    with no rows still reports every bucket, at 0."""
    cols = [f"__f{i}" for i in range(len(named))]
    agg = j.groupBy("query_id").agg(*[
        F.sum(F.when(p, 1).otherwise(0)).cast("long").alias(c)
        for c, (_, p) in zip(cols, named)])
    doc_count = F.col("doc_count")
    if grid is not None:
        agg = grid.join(agg, "query_id", "left")
        doc_count = F.coalesce(doc_count, F.lit(0))

    def by_col(vals) -> Column:
        return F.coalesce(*[F.when(F.col("fidx") == c, F.lit(v))
                            for c, v in zip(cols, vals)])

    return agg.unpivot(["query_id"], cols, "fidx", "doc_count").select(
        "query_id", by_col([n for n, _ in named]).alias("bucket"),
        doc_count.cast("long").alias("doc_count"),
        by_col(range(1, len(cols) + 1)).cast("long").alias("brank"))


def search_filters_agg(spark: SparkSession, index_dir, queries: DataFrame,
                       filters: dict, matched: DataFrame | None = None,
                       **bool_kwargs) -> DataFrame:
    """ES keyed ``filters`` agg: named sub-buckets, each counting the
    matched docs satisfying its predicate — a SQL expression over the
    doc-meta columns (docid, url, dl, warc_ts). Every named bucket is
    returned (count 0 included — ES keyed-filters semantics), ``brank``
    = declaration order.

    Plan shape: :func:`_named_counts` with a zero-fill left join from
    the query list."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs)
    return _named_counts(j, [(n, F.expr(p)) for n, p in filters.items()],
                         grid=queries.select("query_id").distinct())


def search_composite(spark: SparkSession, index_dir, queries: DataFrame,
                     page_size: int = 10, after: DataFrame | None = None,
                     bucket_regex: str = HOST_RE, interval: int = 25,
                     matched: DataFrame | None = None,
                     **bool_kwargs) -> DataFrame:
    """ES ``composite`` agg over two sources — a url-derived terms
    source (``bucket_regex`` group 1) and a dl histogram source —
    paging bucket TUPLES in composite-key order (k1 asc, k2 asc) with
    an ``after`` keyset cursor, exactly ES's scalable
    "stream every bucket out" API (the agg counterpart of Q19
    ``search_after``: deep pages never recount earlier buckets).

    ``after`` is (query_id, after_k1, after_k2) — the composite key of
    the previous page's LAST bucket; queries without a cursor row
    start at the first bucket. Both keys are integers/strings, so
    the cursor comparison is exact across engines (no FP).

    The broadcast cursor filter runs BEFORE the bucket ranks, so only
    buckets past the cursor are ranked. Returns (query_id, k1, k2,
    doc_count, brank)."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs,
                 _host(bucket_regex).alias("k1"),
                 _dl_bucket(interval).alias("k2"))
    counts = _counts(j, "k1", "k2")
    if after is not None:
        counts = (counts.join(F.broadcast(after), "query_id", "left")
                  .filter(F.col("after_k1").isNull()
                          | (F.col("k1") > F.col("after_k1"))
                          | ((F.col("k1") == F.col("after_k1"))
                             & (F.col("k2") > F.col("after_k2"))))
                  .drop("after_k1", "after_k2"))
    return _ranked(counts, "brank", page_size, F.asc("k1"), F.asc("k2"))


def search_pipeline_aggs(spark: SparkSession, index_dir,
                         queries: DataFrame, interval: str = "minute",
                         top_n: int | None = None,
                         matched: DataFrame | None = None,
                         **bool_kwargs) -> DataFrame:
    """ES *pipeline* aggregations over a date_histogram parent: for
    each calendar bucket of the matched docs, ``cumulative_sum`` of
    doc_count (running total across key-asc buckets), ``derivative``
    (doc_count minus the previous bucket's; the first bucket — where
    ES omits the derivative key entirely — reports 0, a deterministic
    NULL-free sentinel for the same fact), and ``bucket_sort`` by
    (doc_count desc, bucket asc) truncated to ``top_n`` buckets
    (``None`` keeps all). ``brank`` is the key-asc position the
    pipeline aggs are defined over, ``srank`` the bucket_sort rank.

    The pipeline windows run over the BUCKET rows of the Q22
    date-histogram agg — a few hundred rows per query whatever the
    corpus size; pipeline aggs in ES likewise run on the reduced
    buckets, never the documents."""
    j = _matches(spark, index_dir, queries, matched, bool_kwargs,
                 _calendar(interval).alias("bucket"))
    wk = Window.partitionBy("query_id").orderBy(F.asc("bucket"))
    wcum = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    res = (_counts(j, "bucket")
           .withColumn("cum_sum", F.sum("doc_count").over(wcum)
                       .cast("long"))
           .withColumn("deriv", F.coalesce(
               F.col("doc_count") - F.lag("doc_count", 1).over(wk),
               F.lit(0)).cast("long")))
    return _ranked(_ranked(res, "brank", None, F.asc("bucket")), "srank",
                   top_n, F.desc("doc_count"), F.asc("bucket"))


def search_collapse(spark: SparkSession, index_dir, queries: DataFrame,
                    k: int = TOP_K, inner_k: int = 3,
                    collapse_regex: str = HOST_RE,
                    round_to: int | None = None,
                    matched: DataFrame | None = None,
                    **bool_kwargs) -> DataFrame:
    """ES field ``collapse`` + ``inner_hits``: the result list is
    deduplicated to ONE representative hit per collapse key (the
    group's best hit by the sort key), the top ``k`` groups are
    returned ordered by their representative's key — ES collapse
    semantics: a strong group can hide weaker docs of the same key,
    and the k results are k DISTINCT keys — and each returned group
    carries its top ``inner_k`` member hits (``inner_hits``), ranked
    within the group.

    ``round_to`` ranks and returns the rounded score (the Q19
    cross-engine contract). ONE per-(query, key) rank serves both the
    representative choice and the inner-hit ranks; the groups rank
    over the representatives only (one row per group) and join back
    as a tiny broadcast. Returns (query_id, rank, ckey, hrank, docid,
    score): rank = the group's position, hrank = the hit's rank inside
    its group (hrank 1 IS the representative)."""
    # the group ranks and the inner hits both read the match set
    matched = _shared_matches(spark, index_dir, queries, matched,
                              bool_kwargs)
    j = (_matches(spark, index_dir, queries, matched, bool_kwargs,
                  _host(collapse_regex).alias("ckey"))
         .withColumn("__key", _score_key(round_to)))
    hits = _ranked(j, "hrank", None, *_hit_order("__key"),
                   by=("query_id", "ckey"))
    groups = (_ranked(hits.filter(F.col("hrank") == 1), "rank", k,
                      *_hit_order("__key"))
              .select("query_id", "ckey", "rank"))
    return (hits.filter(F.col("hrank") <= inner_k)
            .join(F.broadcast(groups), ["query_id", "ckey"])
            .select("query_id", "rank", "ckey", "hrank", "docid",
                    F.col("__key").alias("score")))


def search_explain(spark: SparkSession, index_dir, queries: DataFrame,
                   docs: DataFrame, k: int = TOP_K, round_to: int = 9,
                   rank_round_to: int | None = None,
                   n_ranges: int | None = None) -> DataFrame:
    """ES ``explain: true`` analog: for each top-``k`` hit, the
    per-term BM25 score breakdown ES prints — tf, df, the idf term,
    the tf norm, and the term's contribution — recomputed from the
    engine's OWN artifacts: df from the dictionary sink (``term IN``
    pushdown, summed across a chain), dl from the doclens sink,
    N/avgdl from the stats sink, per-hit tf by re-analyzing the hit's
    stored text (the same field-data path the highlighter and
    significant_terms use; tokenize = the frozen T(text) as built-in
    column functions). Only matching terms appear — exactly the leaf
    details ES's explanation tree carries for a sum-of-clauses query.

    The contribution uses the scoring formula's exact parenthesization
    ``idf · tf / (tf + k1·(1-b+b·dl/avgdl))`` so the value is
    bit-reproducible by any engine evaluating the same expression;
    ``round_to`` rounds the reported components, ``rank_round_to``
    ranks hits on the rounded retrieval score (the Q19 cross-engine
    contract). The full-precision contributions sum back to the hit's
    retrieval score (pytest-pinned).

    Plan shape: top-k retrieval, then k·|queries| hit rows join docs
    and explode to matched tokens only (an equi-join against the
    analyzed query terms prunes the token stream before the tf agg);
    the dictionary lookup is a pushed point scan. Returns (query_id,
    rank, docid, term, tf, df, idf_r, tfn_r, contrib_r, score_r)."""
    from ..config import B, K1
    queries = localize_queries(spark, queries)  # top-k + analysis passes
    top = search_topk(spark, index_dir, queries, k=k, n_ranges=n_ranges)
    if rank_round_to is not None:
        top = _top_hits(top, None, rank_round_to)
    # tombstone-corrected stats (N_eff, avgdl_eff, df_eff), the SAME
    # values the retrieval path scores with — explain contributions
    # must sum back to the retrieval score on re-crawl chains too
    chain = _chain(spark, index_dir)
    n_docs, avgdl = chain.n_docs, chain.avgdl
    qa = _QueryAnalysis(spark, queries)
    qterms = qa.qterms_df()
    terms = qa.terms
    dfm = _global_df_map(spark, chain, terms,
                         candidate_segments(spark, chain.dirs, terms))
    dfs = local_df(spark, sorted(dfm.items()), "term string, df long")
    hit = (_with_meta(spark, index_dir, top, "url", "dl")
           .join(docs.select("url", "text"), "url"))
    tf = (hit.withColumn("term", F.explode(_tokens("text")))
          .join(F.broadcast(qterms), ["query_id", "term"])
          .groupBy("query_id", "rank", "docid", "score", "dl", "term")
          .agg(F.count("*").cast("long").alias("tf")))
    ex = tf.join(F.broadcast(dfs), "term")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + F.lit(K1) * (F.lit(1.0 - B)
                            + F.lit(B) * F.col("dl") / F.lit(avgdl)))
    return ex.select(
        "query_id", "rank", "docid", "term", "tf", "df",
        F.round(idf, round_to).alias("idf_r"),
        F.round(F.col("tf") / denom, round_to).alias("tfn_r"),
        F.round(idf * F.col("tf") / denom, round_to).alias("contrib_r"),
        F.round("score", 6).alias("score_r"))


def suggest_phrases(spark: SparkSession, index_dir, phrases: DataFrame,
                    max_edits: int = 1, per_word: int = 3,
                    n_suggestions: int = 3) -> DataFrame:
    """ES *phrase suggester* analog ("did you mean" for whole queries):
    per-word candidates come from the term-suggester kernel
    (:func:`suggest_terms`, ``always`` mode — Levenshtein ≤
    ``max_edits``, ranked distance asc / df desc / term asc, capped at
    ``per_word``; the word itself rides along at edit 0), the bounded
    cartesian combinations are scored by REAL index evidence — the
    number of documents matching the WHOLE candidate phrase
    conjunctively, through the engine's own bool.must path
    (``search_matches(require_all=True)``) — and ranked (doc_count desc,
    total edits asc, suggestion asc), top ``n_suggestions`` per
    phrase. Combos equal to the input are excluded (ES suggests only
    corrections) and combos with ZERO conjunctive matches are dropped
    — the deterministic analog of ES's real-word confidence cutoff
    (its smoothed-LM score likewise favors collocations the index has
    actually seen).

    Plan shape: candidate generation is one Q23 dictionary scan for
    ALL distinct words; evidence is ONE engine query batch (every
    combo a query row — the shuffle is bounded by the candidate
    terms' postings, the same bound as scored retrieval); ranking is
    a tiny per-phrase rank. Driver-side work is only the
    human-scale combo assembly. Returns (phrase_id, phrase, srank,
    suggestion, edits, doc_count)."""
    from itertools import product

    out_schema = ("phrase_id long, phrase string, srank long, "
                  "suggestion string, edits long, doc_count long")
    rows = read_query_rows(phrases, "phrase_id", "phrase")
    words = sorted({w for r in rows for w in tokenize(r["phrase"])})
    if not words:
        return spark.createDataFrame([], out_schema)
    wdf = local_df(spark, list(enumerate(words)),
                   "word_id long, word string")
    cand_rows = suggest_terms(spark, index_dir, wdf, max_edits=max_edits,
                              n_suggestions=per_word,
                              suggest_mode="always").collect()
    cands: dict[str, list[tuple[str, int]]] = {}
    for r in cand_rows:
        cands.setdefault(r["word"], []).append((r["term"],
                                                int(r["distance"])))
    meta, combo_id = [], 0
    for r in rows:
        pid, toks = int(r["phrase_id"]), tokenize(r["phrase"])
        original = " ".join(toks)
        per = [[(w, 0)] + sorted(cands.get(w, [])) for w in toks]
        for pick in product(*per):
            sug = " ".join(t for t, _ in pick)
            if sug == original:
                continue
            meta.append((combo_id, pid, original, sug,
                         sum(e for _, e in pick)))
            combo_id += 1
    if not meta:
        return spark.createDataFrame([], out_schema)
    qdf = local_df(spark, [(cid, s) for cid, _, _, s, _ in meta],
                   "query_id long, qtext string")
    counts = _counts(search_matches(spark, index_dir, qdf, require_all=True))
    mdf = local_df(
        spark, meta, "query_id long, phrase_id long, phrase string, "
                     "suggestion string, edits long")
    # inner join: zero-evidence combos drop
    return (_ranked(mdf.join(counts, "query_id"), "srank", n_suggestions,
                    F.desc("doc_count"), F.asc("edits"), F.asc("suggestion"),
                    by=("phrase_id",))
            .select("phrase_id", "phrase", "srank", "suggestion",
                    "edits", "doc_count"))


# registered-set size above which percolate switches from the
# broadcast nested-loop plan (predicate cost O(|registered|) PER DOC)
# to term→query candidate pre-selection (cost O(doc's distinct tokens)
# per doc — the ES percolator-index shape).
PERCOLATE_PRESELECT_MIN = 4096


def percolate(spark: SparkSession, queries: DataFrame,
              docs: DataFrame) -> DataFrame:
    """ES *percolate* query — reverse search: match INCOMING documents
    against a set of REGISTERED queries at ingest time (alerting /
    saved-search routing), before anything reaches the index. Each
    registered query row is (query_id, qtext, kind, msm):

    - ``kind='must'`` — the doc must contain EVERY analyzed term
      (bool.must; a query term the doc lacks fails it);
    - ``kind='msm'`` — at least ``msm`` distinct analyzed terms
      (bool.should + minimum_should_match);
    - ``kind='phrase'`` — the exact analyzed token sequence occurs
      (match_phrase, slop 0).

    Returns (url, query_id, kind) — one row per (document, matching
    registered query).

    Plan shape — the part that matters at 10^12 docs/day ingest: the
    registered query set is broadcast and there is NO Exchange
    anywhere in the plan (plan-asserted, tests/test_plans.py) — both
    forms are column predicates under one broadcast nested-loop each.
    Term kinds: both sides' token sets are plain column expressions
    (the frozen JVM tokenizer), the predicate is
    ``size(array_intersect(doc_tokens, query_terms)) >= needed`` with
    ``needed = |query terms|`` for must and ``msm`` for msm — no
    explode, no aggregation, no shuffle. Phrase kind: the doc's
    normalized token stream is space-joined once and the test is a
    guarded-substring predicate (tokens are [a-z0-9]+ joined by single
    spaces, so ``' p1 p2 '`` substring-matches exactly the token
    subsequence). ES pays the same shape: every doc is tested against
    every registered query's memory-resident form; candidate
    pre-selection (ES's internal percolator index) is an optimization
    over the same contract, not a different answer."""
    # validate the registered set up front (it is broadcast-scale by
    # contract, so a driver check costs nothing): a must/phrase query
    # whose qtext analyzes to ZERO terms would yield qarr=[] and
    # need=0, silently matching EVERY incoming document; an msm query
    # with a null or < 1 msm silently matches nothing. Raise instead,
    # matching the other operators' validation style.
    qv = queries.select("query_id", "kind", "msm", "qtext").toPandas()
    for qid_, kind_, msm_, qtext_ in zip(qv["query_id"], qv["kind"],
                                         qv["msm"], qv["qtext"]):
        if kind_ in ("must", "phrase", "msm") and not tokenize(qtext_ or ""):
            raise ValueError(
                f"registered percolate query {qid_} ({kind_}) analyzes "
                f"to zero terms: {qtext_!r} — it would match every "
                f"(must/phrase) or no (msm) incoming document")
        if kind_ == "msm" and (msm_ is None or int(msm_) < 1):
            raise ValueError(
                f"registered percolate query {qid_} needs msm >= 1, "
                f"got {msm_!r}")

    if len(qv) >= PERCOLATE_PRESELECT_MIN:
        return _percolate_preselect(spark, qv, docs)

    d = docs.select("url", F.array_distinct(_tokens("text"))
                    .alias("tarr"),
                    F.concat(F.lit(" "),
                             F.concat_ws(" ", _tokens("text")),
                             F.lit(" ")).alias("hay"))

    term_q = (queries.filter(F.col("kind").isin("must", "msm"))
              .select("query_id", "kind", "msm",
                      F.array_distinct(_tokens("qtext"))
                      .alias("qarr")))
    need = (F.when(F.col("kind") == "must", F.size("qarr"))
            .otherwise(F.col("msm")))
    term_hits = (d.join(
        F.broadcast(term_q),
        F.size(F.array_intersect(F.col("tarr"), F.col("qarr"))) >= need)
        .select("url", "query_id", "kind"))

    phrase_q = (queries.filter(F.col("kind") == "phrase")
                .select("query_id", "kind",
                        F.concat(F.lit(" "),
                                 F.concat_ws(" ", _tokens("qtext")),
                                 F.lit(" ")).alias("needle")))
    phrase_hits = (d.join(
        F.broadcast(phrase_q), F.col("hay").contains(F.col("needle")))
        .select("url", "query_id", "kind"))
    return term_hits.unionByName(phrase_hits)


def _percolate_preselect(spark: SparkSession, qv, docs: DataFrame) -> DataFrame:
    """Candidate pre-selection percolator — the ES percolator-index
    shape for LARGE registered sets (round-7 verdict item 4).

    The broadcast nested-loop plan evaluates every registered predicate
    against every incoming doc: O(|registered|) work per doc, fine for
    thousands of saved searches, a scale wall at 10^5+. This path
    builds a term → [query] inverted map over the registered queries'
    analyzed terms (driver-side — the registered set is the same
    broadcast-scale object the BNL path ships), broadcasts it, and for
    each incoming doc counts per-query matched DISTINCT terms via map
    lookups on the doc's distinct tokens only — O(distinct tokens) per
    doc regardless of |registered|. The exact predicates then run on
    the shortlist alone:

    - must: matched-distinct-count == |analyzed terms| IS the predicate;
    - msm: matched-distinct-count >= msm IS the predicate;
    - phrase: all-terms-present is the necessary pre-filter; the exact
      guarded-substring test (' needle ' in ' hay ') runs per surviving
      (doc, query) pair only.

    Bit-identical matches to the broadcast plan (pytest-pinned): the
    tokenizer is the same frozen analyzer, and each predicate above is
    algebraically the BNL column predicate. Docs never shuffle — ONE
    mapInPandas pass over (url, text), no Exchange on the doc side at
    all (the output is the match rows themselves)."""
    import numpy as np

    term_to_q: dict[str, list] = {}
    qmeta: dict[int, tuple] = {}   # qid -> (kind, need, needle|None)
    for qid_, kind_, msm_, qtext_ in zip(qv["query_id"], qv["kind"],
                                         qv["msm"], qv["qtext"]):
        qid_ = int(qid_)
        toks = tokenize(qtext_ or "")
        uniq = sorted(set(toks))
        if kind_ == "must":
            need = len(uniq)
        elif kind_ == "msm":
            need = int(msm_)
        elif kind_ == "phrase":
            need = len(uniq)
        else:
            continue    # unknown kinds contribute nothing (BNL parity)
        needle = " " + " ".join(toks) + " " if kind_ == "phrase" else None
        qmeta[qid_] = (str(kind_), need, needle)
        for t in uniq:
            term_to_q.setdefault(t, []).append(qid_)
    b = spark.sparkContext.broadcast((term_to_q, qmeta))

    def match(batches):
        t2q, meta = b.value
        for pdf in batches:
            out_url, out_qid, out_kind = [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                toks = tokenize(text or "")
                counts: dict[int, int] = {}
                for t in set(toks):
                    for qid in t2q.get(t, ()):
                        counts[qid] = counts.get(qid, 0) + 1
                if not counts:
                    continue
                hay = None
                for qid, c in counts.items():
                    kind, need, needle = meta[qid]
                    if c < need:
                        continue
                    if needle is not None:
                        if hay is None:
                            hay = " " + " ".join(toks) + " "
                        if needle not in hay:
                            continue
                    out_url.append(url)
                    out_qid.append(qid)
                    out_kind.append(kind)
            if out_url:
                yield pd.DataFrame({"url": out_url,
                                    "query_id": np.asarray(out_qid, np.int64),
                                    "kind": out_kind})

    return docs.select("url", "text").mapInPandas(
        match, schema="url string, query_id long, kind string")


def search_adjacency_matrix(spark: SparkSession, index_dir,
                            queries: DataFrame, filters: dict,
                            matched: DataFrame | None = None,
                            **bool_kwargs) -> DataFrame:
    """ES ``adjacency_matrix`` agg: named filters A, B, … produce a
    bucket per filter AND per pairwise intersection (ES key format
    ``A&B``, the declared ``&`` separator), each counting the matched
    docs satisfying the conjunction; empty buckets are omitted (ES
    behavior) and buckets order key-asc per query. Predicates are SQL
    expressions over the doc-meta columns, like :func:`search_filters_agg`.

    Plan shape: :func:`_named_counts` — every single and pair key is a
    ``sum(CASE WHEN pa AND pb)`` column of the same agg (n(n+1)/2
    columns for n filters — ES documents the same quadratic growth and
    caps n at 100). Returns (query_id, bucket, doc_count, brank)."""
    names = list(filters)
    named = [(a if a == b else f"{a}&{b}",
              F.expr(filters[a]) if a == b
              else F.expr(filters[a]) & F.expr(filters[b]))
             for i, a in enumerate(names) for b in names[i:]]
    j = _matches(spark, index_dir, queries, matched, bool_kwargs)
    return _ranked(_named_counts(j, named).filter(F.col("doc_count") > 0),
                   "brank", None, F.asc("bucket"))


def global_metric_aggs(spark: SparkSession, index_dir,
                       queries: DataFrame, round_to: int = 9,
                       bucket_regex: str = HOST_RE) -> DataFrame:
    """ES ``global`` agg: metric aggregations computed over the WHOLE
    corpus, ignoring the query — ES attaches the same global row to
    every response, so one row per query_id is returned with the Q25
    metric columns computed over ALL live docs (the doclens sink
    directly; no match set is ever built).

    Plan shape: one hash agg over doclens to a SINGLE row, then a tiny
    broadcast cross join against the query ids."""
    meta = _doc_meta(spark, index_dir).select(
        "docid", "dl", _host(bucket_regex).alias("host"))
    g = meta.agg(*_dl_stats(round_to))
    return queries.select("query_id").distinct().crossJoin(F.broadcast(g))

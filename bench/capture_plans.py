"""Capture .explain('formatted') for the touched query paths.

Usage: python bench/capture_plans.py <out_dir> [index_dir] [--docs SF_DIR | --gen-pages N]

Uses only the public query API, so before/after plan files for two
trees come from the same script:

    python bench/capture_plans.py plans/r09            # current tree
    cd <other tree> && PYTHONPATH=. python <this tree>/bench/capture_plans.py <before dir>

Run each side from inside its own tree: Spark's Python workers put
their working directory first on ``sys.path``, so a run started in
another tree would score with that tree's kernels while its main
process plans with PYTHONPATH's.

The index must already exist (bench.py leaves /tmp/aarhus_bench_idx_0.1).
``--docs`` names the sf dir whose documents the index was built from
(sf0.1 by default); ``--gen-pages N`` says it was built from
``gen_pages(N)``. The stored text feeds the ops that re-analyze hits.
Explain only, apart from the jobs the query builders run themselves
(query analysis, dictionary lookups, the eager match-set checkpoint
of significant_terms / top_hits / collapse, and the page-1 cursors
of the two keyset-paging probes).
"""
import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.environ.get("PYTHONPATH",
                                  os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")

# filters / adjacency_matrix predicates over the doc-meta columns
ES_FILTERS = {"short": "dl < 60", "long": "dl >= 60",
              "early": "warc_ts < timestamp'2026-01-01 12:00:00'"}
ES_RANGES = [("s", None, 40), ("m", 40, 120), ("l", 120, None)]


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def es_probes(spark, idx, qdf, ph, docs) -> dict:
    """Every scored op as name -> zero-argument function returning its
    DataFrame, over ``idx`` (one dir or a chain), the (query_id, qtext)
    frame ``qdf``, the phrase frame ``ph`` and the stored-text source
    ``docs`` (url, text): the retrieval ops (:func:`retrieval_probes`)
    and every public ES op. ``search_page`` runs twice: from page 1,
    and from a cursor on the rounded key."""
    from pyspark.sql import functions as F

    from aarhus_spark.operators import eslayer as es

    def page_after():
        first = es.search_page(spark, idx, qdf, page_size=5, round_to=6)
        last = (first.filter(F.col("rank") == 5)
                .select("query_id", F.col("score").alias("after_score"),
                        F.col("docid").alias("after_docid")))
        return es.search_page(spark, idx, qdf, page_size=5, round_to=6,
                              after=spark.createDataFrame(last.collect(),
                                                          last.schema))

    def composite_after():
        first = es.search_composite(spark, idx, qdf, page_size=4)
        last = (first.filter(F.col("brank") == 4)
                .select("query_id", F.col("k1").alias("after_k1"),
                        F.col("k2").alias("after_k2")))
        return es.search_composite(spark, idx, qdf, page_size=4,
                                   after=spark.createDataFrame(
                                       last.collect(), last.schema))

    words = spark.createDataFrame([(0, "dta"), (1, "spark"), (2, "qurey")],
                                  "word_id long, word string")
    phrases = spark.createDataFrame([(0, "the dta"), (1, "hash jion")],
                                    "phrase_id long, phrase string")
    seeds = sorted(r["url"] for r in docs.select("url").limit(50).collect())
    mlt_q = spark.createDataFrame([(0, seeds[0]), (1, seeds[-1])],
                                  "query_id long, like_url string")
    registered = spark.createDataFrame(
        [(0, "the data", "must", 0), (1, "spark join data merge", "msm", 2),
         (2, "the data", "phrase", 0), (3, "data zzznever", "must", 0)],
        "query_id long, qtext string, kind string, msm int")
    boost_q = qdf.withColumn("neg_qtext", F.when(F.col("query_id") % 2 == 0,
                                                 F.lit("the")))
    return {
        **retrieval_probes(spark, idx, qdf, ph, boost_q),
        "search_matches": lambda: es.search_matches(spark, idx, qdf),
        "search_facets": lambda: es.search_facets(spark, idx, qdf,
                                                  n_buckets=8),
        "search_date_histogram": lambda: es.search_date_histogram(
            spark, idx, qdf, interval="hour"),
        "search_sigterms": lambda: es.search_significant_terms(
            spark, idx, qdf, docs, n_terms=10),
        "suggest_terms": lambda: es.suggest_terms(spark, idx, words),
        "search_function_score": lambda: es.search_function_score(
            spark, idx, qdf),
        "search_page": lambda: es.search_page(spark, idx, qdf, page_size=5),
        "search_page_after": page_after,
        "search_highlight": lambda: es.search_highlight(
            spark, idx, qdf, docs, k=10, window=4, round_to=6),
        "more_like_this": lambda: es.more_like_this(spark, idx, mlt_q, docs,
                                                    k=5),
        "search_metric_aggs": lambda: es.search_metric_aggs(spark, idx, qdf),
        "search_boosting": lambda: es.search_boosting(spark, idx, boost_q),
        "search_constant_score": lambda: es.search_constant_score(
            spark, idx, qdf, boost=2.0),
        "search_rescore": lambda: es.search_rescore(spark, idx, ph,
                                                    window_size=50, k=10),
        "search_top_hits": lambda: es.search_top_hits(
            spark, idx, qdf, n_buckets=4, k_hits=2, round_to=6),
        "search_histogram": lambda: es.search_histogram(spark, idx, qdf,
                                                        interval=20),
        "search_range_agg": lambda: es.search_range_agg(spark, idx, qdf,
                                                        ES_RANGES),
        "search_filters": lambda: es.search_filters_agg(spark, idx, qdf,
                                                        ES_FILTERS),
        "search_composite": composite_after,
        "search_pipeline_aggs": lambda: es.search_pipeline_aggs(
            spark, idx, qdf, interval="hour", top_n=5),
        "search_collapse": lambda: es.search_collapse(
            spark, idx, qdf, k=5, inner_k=2, round_to=6),
        "search_explain": lambda: es.search_explain(
            spark, idx, qdf, docs, k=5, rank_round_to=6),
        "suggest_phrases": lambda: es.suggest_phrases(spark, idx, phrases),
        "percolate": lambda: es.percolate(spark, registered, docs),
        "search_adjacency": lambda: es.search_adjacency_matrix(
            spark, idx, qdf, ES_FILTERS),
        "global_metric_aggs": lambda: es.global_metric_aggs(spark, idx, qdf),
    }


def retrieval_probes(spark, idx, qdf, ph, neg_q) -> dict:
    """The retrieval ops as name -> zero-argument function, over ``idx``:
    TAAT; top-k at 1 and 3 docid ranges in the plain, require_all,
    must_not (``neg_q``: ``qdf`` with a neg_qtext column) and
    proximity forms; phrase at slop 0 and 2, phrase_prefix, the span
    ops and intervals; the term-rewrite ops and match_bool_prefix."""
    from aarhus_spark.operators import search as s
    from aarhus_spark.operators import spans

    def rows(col, *vals):
        return spark.createDataFrame(list(enumerate(vals)),
                                     f"query_id long, {col} string")

    out = {"search_taat": lambda: s.search_taat(spark, idx, qdf)}
    for form, q, kw in (("", qdf, {}), ("_and", qdf, {"require_all": True}),
                        ("_not", neg_q, {}),
                        ("_prox", qdf, {"score_mode": "proximity"})):
        for nr in (1, 3):
            out[f"search_topk{form}_r{nr}"] = (
                lambda q=q, kw=kw, nr=nr: s.search_topk(spark, idx, q,
                                                        n_ranges=nr, **kw))
    span_not = spark.createDataFrame(
        [(0, "the data", "sort"), (1, "sort data", "the")],
        "query_id long, qtext string, exclude string")
    return {
        **out,
        "search_phrase_slop0": lambda: s.search_phrase(spark, idx, ph),
        "search_phrase_slop2": lambda: s.search_phrase(spark, idx, ph, slop=2),
        "search_phrase_prefix": lambda: s.search_phrase_prefix(
            spark, idx, rows("qtext", "the da", "sort d")),
        "search_span_near": lambda: spans.search_span_near(
            spark, idx, ph, slop=3, in_order=True),
        "search_span_not": lambda: spans.search_span_not(
            spark, idx, span_not, post=2),
        "search_span_first": lambda: spans.search_span_first(
            spark, idx, rows("qtext", "data", "the"), end=5),
        "search_intervals": lambda: spans.search_intervals(
            spark, idx, rows("qtext", "the|of data", "sort data"), max_gaps=2),
        "search_prefix": lambda: s.search_prefix(
            spark, idx, rows("prefix", "da", "sp")),
        "search_fuzzy": lambda: s.search_fuzzy(
            spark, idx, rows("fterm", "dta", "sprak")),
        "search_wildcard": lambda: s.search_wildcard(
            spark, idx, rows("wpattern", "d*a", "s?ort")),
        "search_regexp": lambda: s.search_regexp(
            spark, idx, rows("rpattern", "da.*", "s[a-z]+")),
        "search_match_bool_prefix": lambda: s.search_match_bool_prefix(
            spark, idx, rows("qtext", "the da", "sort j")),
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("out_dir")
    p.add_argument("index_dir", nargs="?", default="/tmp/aarhus_bench_idx_0.1")
    src = p.add_mutually_exclusive_group()
    src.add_argument("--docs", default="/root/testdata/sf0.1")
    src.add_argument("--gen-pages", type=int)
    args = p.parse_args()
    out_dir, idx_dir = args.out_dir, args.index_dir
    os.makedirs(out_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))

    from aarhus_spark.session import get_spark
    spark = get_spark("capture-plans", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    import pandas as pd
    from aarhus_spark.sources.fixtures import gen_pages, gen_queries
    qdf = spark.createDataFrame(gen_queries(pd.DataFrame()))
    ph = spark.createDataFrame(
        [(0, "hash join"), (1, "sort data")], "query_id long, qtext string")
    if args.gen_pages:
        pages = spark.createDataFrame(
            gen_pages(args.gen_pages).drop_duplicates("url", keep="last"))
    else:
        from aarhus_spark.sources.io import pages_from_documents
        pages = pages_from_documents(spark, args.docs)

    from aarhus_spark.operators.search import (search_phrase, search_wand,
                                               search_wand_ranges)

    plans = {
        "search_wand": lambda: search_wand(spark, idx_dir, qdf),
        "search_wand_ranges": lambda: search_wand_ranges(
            spark, idx_dir, qdf, n_ranges=8),
        "search_phrase": lambda: search_phrase(spark, idx_dir, ph),
        **es_probes(spark, idx_dir, qdf, ph, pages),
    }
    # r8 session-2 additions: the span path gained LocalRelation query
    # frames (search.local_df) — capture it too
    from aarhus_spark.operators.spans import search_span_near
    plans["search_span"] = lambda: search_span_near(
        spark, idx_dir, ph, slop=3, in_order=True)
    # both arms of the per-query dispatcher: the single-group WAND path
    # through search_topk and the (query, docid range) path of every
    # positional kernel
    from aarhus_spark.operators.search import search_phrase_prefix, search_topk
    plans["search_topk_1"] = lambda: search_topk(spark, idx_dir, qdf,
                                                 n_ranges=1)
    plans["search_phrase_ranges"] = lambda: search_phrase(
        spark, idx_dir, ph, n_ranges=4)
    plans["search_phrase_prefix_ranges"] = lambda: search_phrase_prefix(
        spark, idx_dir, ph, n_ranges=4)
    plans["search_span_ranges"] = lambda: search_span_near(
        spark, idx_dir, ph, slop=3, in_order=True, n_ranges=4)
    for name, fn in plans.items():
        try:
            txt = grab(fn())
        except Exception as e:  # pragma: no cover
            txt = f"ERROR {type(e).__name__}: {e}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print("wrote", name)

    # multi_match: one field-tagged union → broadcast query-term join
    # → one exchange into the per-query WAND kernel
    try:
        from aarhus_spark.operators.multifield import search_multi_match
        mf_idx = idx_dir + "_mfplans"
        if not os.path.exists(os.path.join(mf_idx, "multifield.json")):
            from pyspark.sql import functions as F
            from aarhus_spark.operators.multifield import build_field_indexes
            build_field_indexes(spark, pages, mf_idx, fields={
                "text": F.col("text"),
                "title": F.substring(F.col("text"), 1, 40)})
        mm = search_multi_match(spark, mf_idx, qdf, k=10,
                                boosts={"title": 2.0})
        with open(os.path.join(out_dir, "multi_match.txt"), "w") as f:
            f.write(grab(mm))
        print("wrote multi_match")
    except Exception as e:  # pragma: no cover
        print("multi_match plans failed:", e)
    spark.stop()


if __name__ == "__main__":
    main()

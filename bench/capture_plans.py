"""Capture .explain('formatted') for the touched query paths.

Usage: python bench/capture_plans.py <out_dir> [index_dir]

Uses only the public query API, so before/after plan files for two
trees come from the same script:

    python bench/capture_plans.py plans/r09            # current tree
    PYTHONPATH=<other tree> python bench/capture_plans.py <before dir>

The index must already exist (bench.py leaves /tmp/aarhus_bench_idx_0.1).
Explain only — no job runs beyond the analysis/dictionary lookups the
query builders themselves perform.
"""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.environ.get("PYTHONPATH",
                                  os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    out_dir = sys.argv[1]
    idx_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/aarhus_bench_idx_0.1"
    os.makedirs(out_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))

    from aarhus_spark.session import get_spark
    spark = get_spark("capture-plans", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    import pandas as pd
    from aarhus_spark.sources.fixtures import gen_queries
    from aarhus_spark.sources.io import pages_from_documents
    qdf = spark.createDataFrame(gen_queries(pd.DataFrame()))
    ph = spark.createDataFrame(
        [(0, "hash join"), (1, "sort data")], "query_id long, qtext string")
    pages = pages_from_documents(spark, "/root/testdata/sf0.1")

    from aarhus_spark.operators.search import (search_phrase, search_taat,
                                               search_wand,
                                               search_wand_ranges)
    from aarhus_spark.operators.eslayer import (search_facets,
                                                search_function_score,
                                                search_matches,
                                                search_metric_aggs,
                                                search_rescore,
                                                search_significant_terms)

    plans = {
        "search_taat": lambda: search_taat(spark, idx_dir, qdf),
        "search_wand": lambda: search_wand(spark, idx_dir, qdf),
        "search_wand_ranges": lambda: search_wand_ranges(
            spark, idx_dir, qdf, n_ranges=8),
        "search_phrase": lambda: search_phrase(spark, idx_dir, ph),
        "search_facets": lambda: search_facets(spark, idx_dir, qdf,
                                               n_buckets=8),
        "search_metric_aggs": lambda: search_metric_aggs(spark, idx_dir, qdf),
        "search_matches": lambda: search_matches(spark, idx_dir, qdf),
        "search_function_score": lambda: search_function_score(
            spark, idx_dir, qdf),
        "search_rescore": lambda: search_rescore(spark, idx_dir, ph,
                                                 window_size=50, k=10),
        "search_sigterms": lambda: search_significant_terms(
            spark, idx_dir, qdf, pages, n_terms=10),
    }
    # r8 session-2 additions: the span and highlight paths gained
    # LocalRelation query frames (search.local_df) — capture them too
    from aarhus_spark.operators.eslayer import search_highlight
    from aarhus_spark.operators.spans import search_span_near
    plans["search_span"] = lambda: search_span_near(
        spark, idx_dir, ph, slop=3, in_order=True)
    plans["search_highlight"] = lambda: search_highlight(
        spark, idx_dir, qdf, pages, k=10, window=4)
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

"""Value identity across executor parallelism: every op that runs through
the per-query dispatcher (``search._per_query``), ``search_taat``, and the
ES scored ops over them (rescore, function_score, highlight and the match
set every ES aggregation reads) return the same rows, with scores equal
bit for bit, in a local[1] session as in the suite's local[4] session —
with one group per query and with (query, docid range) groups."""

import json
import os
import subprocess
import sys

import pytest

from aarhus_spark.sources.fixtures import gen_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.dirname(os.path.abspath(__file__))
_N_PAGES = 240
_TERMS = ["the data", "hash the", "index of", "merge the", "spark", "of in"]
_PHRASES = ["of the", "the the", "in the", "to the"]


def _rows(spark, root: str) -> list[list]:
    """(op, n_ranges, *row) for every dispatched op at n_ranges 1 and 3,
    floats as ``float.hex``, over the multi-field index ``root`` (its
    ``field=text`` dir is a plain positional index)."""
    from aarhus_spark.operators import eslayer, search
    from aarhus_spark.operators.multifield import search_multi_match
    from aarhus_spark.operators.spans import (search_intervals,
                                              search_span_first,
                                              search_span_near,
                                              search_span_not)

    text = os.path.join(root, "field=text")
    docs = spark.createDataFrame(gen_pages(_N_PAGES)).select("url", "text")
    qdf = spark.createDataFrame(list(enumerate(_TERMS)),
                                "query_id long, qtext string")
    ph = spark.createDataFrame(list(enumerate(_PHRASES)),
                               "query_id long, qtext string")
    one = spark.createDataFrame(list(enumerate(["sp", "ind", "th"])),
                                "query_id long, qtext string")
    nots = spark.createDataFrame([(0, "of the", "in"), (1, "in the", "of")],
                                 "query_id long, qtext string, exclude string")
    firsts = spark.createDataFrame([(0, "data"), (1, "of")],
                                   "query_id long, qtext string")
    ivs = spark.createDataFrame([(0, "the|of data"), (1, "in to|a")],
                                "query_id long, qtext string")
    ops = {
        "topk": lambda nr: search.search_topk(spark, text, qdf, k=7,
                                              n_ranges=nr),
        "phrase": lambda nr: search.search_phrase(spark, text, ph, k=7,
                                                  n_ranges=nr, slop=1),
        "phrase_proximity": lambda nr: search.search_phrase(
            spark, text, ph, k=7, n_ranges=nr, slop=2,
            score_mode="proximity"),
        "phrase_prefix": lambda nr: search.search_phrase_prefix(
            spark, text, ph.selectExpr("query_id", "substr(qtext, 1, 5) AS qtext"),
            k=7, n_ranges=nr),
        "phrase_prefix_one_token": lambda nr: search.search_phrase_prefix(
            spark, text, one, k=7, n_ranges=nr),
        "span_near": lambda nr: search_span_near(spark, text, ph, slop=2,
                                                 in_order=False, k=7,
                                                 n_ranges=nr),
        "span_not": lambda nr: search_span_not(spark, text, nots, pre=1,
                                               post=1, k=7, n_ranges=nr),
        "span_first": lambda nr: search_span_first(spark, text, firsts,
                                                   end=5, k=7, n_ranges=nr),
        "intervals": lambda nr: search_intervals(spark, text, ivs, max_gaps=2,
                                                 ordered=False, k=7,
                                                 n_ranges=nr),
        # search_taat takes no fan-out: both passes run the same call
        "taat": lambda nr: search.search_taat(spark, text, qdf, k=7),
        # multi_match sizes its fan-out from default_n_ranges alone
        "multi_match": lambda nr: search_multi_match(
            spark, root, qdf, k=7, boosts={"title": 2.0}),
        "rescore": lambda nr: eslayer.search_rescore(
            spark, text, ph, window_size=20, k=7, rescore_weight=2.0,
            n_ranges=nr),
        # function_score and matches fan out through default_n_ranges, so
        # the nr=3 pass runs the match set's no-merge-window path
        "function_score": lambda nr: eslayer.search_function_score(
            spark, text, qdf, k=7),
        "highlight": lambda nr: eslayer.search_highlight(
            spark, text, qdf, docs, k=7, window=3, n_ranges=nr),
        "matches": lambda nr: eslayer.search_matches(spark, text, qdf),
    }
    out = []
    sized = search.default_n_ranges
    try:
        for nr in (1, 3):
            search.default_n_ranges = lambda n_docs, nr=nr: nr
            for name, op in ops.items():
                out += [[name, nr, *(v.hex() if isinstance(v, float) else v
                                      for v in r)] for r in op(nr).collect()]
    finally:
        search.default_n_ranges = sized
    return sorted(out)


@pytest.fixture(scope="module")
def mf_root(spark, tmpdir_session):
    from pyspark.sql import functions as F
    from aarhus_spark.operators.multifield import build_field_indexes
    root = os.path.join(tmpdir_session, "parallelism_mf")
    build_field_indexes(spark, spark.createDataFrame(gen_pages(_N_PAGES)), root,
                        fields={"text": F.col("text"),
                                "title": F.substring(F.col("text"), 1, 60)},
                        n_partitions=2, n_buckets=2, salts=2)
    return root


def test_local1_equals_local4_bitwise(spark, mf_root):
    # without coalescing, the groups spread over all 8 shuffle partitions
    # here, against one partition in the local[1] session
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        here = _rows(spark, mf_root)
    finally:
        spark.conf.set(key, old)
    # every op and both fan-outs produce hits, so the comparison bites
    assert {(r[0], r[1]) for r in here} == {
        (op, nr) for op in ("topk", "phrase", "phrase_proximity",
                            "phrase_prefix", "phrase_prefix_one_token",
                            "span_near", "span_not", "span_first",
                            "intervals", "taat", "multi_match",
                            "rescore", "function_score", "highlight",
                            "matches")
        for nr in (1, 3)}
    code = f"""
import json, sys
sys.path[:0] = [{REPO!r}, {TESTS!r}]
from aarhus_spark.session import get_spark
from test_parallelism_identity import _rows
spark = get_spark("local1", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
print(json.dumps(_rows(spark, {mf_root!r})))
spark.stop()
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300,
                         env={**os.environ, "AARHUS_DRIVER_MEM": "1g"})
    assert res.returncode == 0, res.stderr[-2000:]
    assert json.loads(res.stdout.strip().splitlines()[-1]) == here

"""Results must not depend on session config: the oracle-critical ops
return the same rows in a session at Spark's default SQL config (Arrow
conversion off, AQE untuned; ``default_spark`` in conftest.py) as in
the engine's ``get_spark`` session. Run alone with
``pytest -m default_session``."""

import os

import pytest
from pyspark.sql import functions as F

from aarhus_spark.operators.eslayer import search_range_agg
from aarhus_spark.operators.multifield import build_field_indexes, search_multi_match
from aarhus_spark.operators.search import search_phrase, search_topk
from aarhus_spark.sources.fixtures import gen_pages, gen_queries
from aarhus_spark.textops import tokenize

pytestmark = pytest.mark.default_session


@pytest.fixture(scope="module")
def corpus(spark, tmpdir_session):
    """A title+text field index over 300 pages; its text field is a
    complete single-dir index. Queries: every 4th of gen_queries' term
    sets and, for phrases, each of 12 pages' first two tokens."""
    pdf = gen_pages(300)
    root = os.path.join(tmpdir_session, "default_session_idx")
    build_field_indexes(spark, spark.createDataFrame(pdf), root,
                        {"title": F.substring("text", 1, 40), "text": F.col("text")},
                        n_partitions=2, n_buckets=2, salts=2)
    terms = gen_queries(pdf).iloc[::4]
    phrases = [(i, " ".join(tokenize(t)[:2]))
               for i, t in enumerate(pdf["text"].dropna().head(12))]
    return root, os.path.join(root, "field=text"), terms, phrases


def _same_rows(spark, default_spark, op, queries, schema=None):
    """Rows of ``op`` in both sessions, which must be equal and non-empty."""
    got = [sorted(map(tuple, op(s, s.createDataFrame(queries, schema)).collect()))
           for s in (spark, default_spark)]
    assert got[0], "the fixture must give the op something to return"
    assert got[1] == got[0]


def test_topk_default_session(spark, default_spark, corpus):
    _, text, terms, _ = corpus
    _same_rows(spark, default_spark, lambda s, q: search_topk(s, text, q), terms)


def test_phrase_default_session(spark, default_spark, corpus):
    _, text, _, phrases = corpus
    _same_rows(spark, default_spark, lambda s, q: search_phrase(s, text, q),
               phrases, "query_id long, qtext string")


def test_multi_match_default_session(spark, default_spark, corpus):
    root, _, terms, _ = corpus
    _same_rows(spark, default_spark,
               lambda s, q: search_multi_match(s, root, q, boosts={"title": 2.0}),
               terms)


def test_range_agg_default_session(spark, default_spark, corpus):
    """Open range ends stay NULL with Arrow conversion off."""
    _, text, terms, _ = corpus
    spec = [("*-30", None, 30), ("10-30", 10, 30), ("30-*", 30, None)]
    _same_rows(spark, default_spark,
               lambda s, q: search_range_agg(s, text, q, spec), terms)

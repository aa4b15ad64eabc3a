"""Plan-shape assertions (SURVEY.md §5): predicates reach the parquet
scan, the dictionary join broadcasts, and no row-at-a-time Python UDF
(BatchEvalPython) appears on any hot path — only Arrow nodes
(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)."""

import os

import pytest

from aarhus_spark.operators.build import prepare_pages
from aarhus_spark.operators.search import _QueryAnalysis, candidate_segments
from aarhus_spark.sources.fixtures import gen_pages
from aarhus_spark.sources.io import read_pages


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmpdir_session):
    path = os.path.join(tmpdir_session, "pages_pq")
    spark.createDataFrame(gen_pages(300)).write.mode("overwrite").parquet(path)
    return path


def test_lang_filter_pushed_to_scan(spark, pages_parquet):
    df = prepare_pages(read_pages(spark, pages_parquet))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "").replace("'", "") or \
           "EqualTo(lang,en)" in plan
    # no row-Python anywhere in the prepare pipeline
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the E(html) vectorized UDF


def test_html_column_pruned_for_narrow_projection(spark, pages_parquet):
    """P1: a projection that doesn't need the html payload must not scan
    it (Catalyst column pruning reaching ReadSchema)."""
    df = (read_pages(spark, pages_parquet)
          .filter("lang = 'en'").select("url", "warc_ts"))
    plan = _plan(df)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines
    assert all("html" not in l and "text:" not in l for l in scan_lines), scan_lines


def test_search_uses_broadcast_and_term_pushdown(spark, tmpdir_session, pages_parquet):
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.operators.search import search_taat
    idx = os.path.join(tmpdir_session, "idx_plan")
    build_index(spark, read_pages(spark, pages_parquet), idx,
                n_partitions=3, n_buckets=2, salts=2)
    qdf = spark.createDataFrame([(0, "the spark data")], "query_id long, qtext string")
    res = search_taat(spark, idx, qdf)
    plan = _plan(res)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan
    # term IN (...) reaches the segments parquet scan
    seg = candidate_segments(spark, idx, ["the", "spark", "data"])
    seg_plan = _plan(seg)
    assert "PushedFilters" in seg_plan and "In(term" in seg_plan


def test_tokenize_is_arrow_not_row_python(spark, pages_parquet):
    from aarhus_spark.operators.build import (prepare_and_assign_docids,
                                              tokenize_docs)
    docs, _, _ = prepare_and_assign_docids(spark, read_pages(spark, pages_parquet), 3)
    toks = tokenize_docs(docs)
    plan = _plan(toks)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_query_analysis_no_row_python(spark):
    """Query analysis runs in-process, not in Spark tasks: the
    (query_id, term) frames the scorers join against are
    LocalRelations, with no Python stage."""
    qdf = spark.createDataFrame(
        [(0, "a b", "c", "b d"), (1, "b e", None, None)],
        "query_id long, qtext string, neg_qtext string, must_qtext string")
    qa = _QueryAnalysis(spark, qdf)
    for df in (qa.qterms_df(), qa.kinds_df()):
        assert "BatchEvalPython" not in _plan(df)
        assert (df._jdf.queryExecution().optimizedPlan().getClass()
                .getSimpleName() == "LocalRelation")
    assert sorted(map(tuple, qa.kinds_df().collect())) == [
        (0, "a", 0), (0, "b", 1), (0, "c", 2), (0, "d", 1),
        (1, "b", 0), (1, "e", 0)]


def test_range_join_carries_both_span_bounds(spark, tmpdir_session, pages_parquet):
    """The chunk-parallel (query, range) join must prune on BOTH ends of
    a row's docid span: __max_docid >= lo AND first_docid <= hi. With
    only the low predicate, a late-docid tail row replicates into every
    earlier range's group (~n_ranges/2 copies at scale)."""
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.operators.search import search_wand_ranges
    idx = os.path.join(tmpdir_session, "idx_plan2")
    if not os.path.exists(os.path.join(idx, "stats.json")):
        build_index(spark, read_pages(spark, pages_parquet), idx,
                    n_partitions=3, n_buckets=2, salts=2)
    qdf = spark.createDataFrame([(0, "the spark data")], "query_id long, qtext string")
    plan = _plan(search_wand_ranges(spark, idx, qdf, n_ranges=4))
    flat = plan.replace(" ", "")
    assert "__max_docid" in flat and "first_docid" in flat
    assert ">=lo" in flat.replace("'", "") or "(__max_docid>=lo)" in flat
    assert "<=hi" in flat.replace("'", "") or "(first_docid<=hi)" in flat


def test_near_dup_topn_has_no_unpartitioned_window_over_pairs(spark, sf_dir):
    """The near-dup top-N must not funnel the full candidate-pair set
    through one task: the first window is partitioned (per-group top-N);
    only the tiny merged survivor set may see a global sort."""
    from aarhus_spark.operators.similarity import embedding_near_dup_pairs
    from aarhus_spark.sources.io import read_table
    df = embedding_near_dup_pairs(read_table(spark, sf_dir, "embeddings"),
                                  max_vec_id=100, top_n=5, n_groups=8)
    plan = _plan(df)
    # two Window nodes: the partitioned local one and the global merge
    # over <= n_groups*top_n rows; the PARTITIONED one must come first
    # (below the global one in the tree = applied to the big input)
    assert plan.count("Window") >= 2
    # the local window is keyed by pmod(va, n_groups)
    assert "pmod" in plan


def test_phrase_range_join_prunes_and_stays_arrow(spark, tmpdir_session, pages_parquet):
    """Q8: the phrase chunk-parallel path must reuse the pruned range
    join ([first_docid, __max_docid] span intersect) and stay on the
    Arrow path (no row-Python)."""
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.operators.search import search_phrase
    idx = os.path.join(tmpdir_session, "idx_plan2")
    if not os.path.exists(os.path.join(idx, "stats.json")):
        from aarhus_spark.sources.io import read_pages as _rp
        build_index(spark, _rp(spark, pages_parquet), idx,
                    n_partitions=3, n_buckets=2, salts=2)
    qdf = spark.createDataFrame([(0, "the spark")], "query_id long, qtext string")
    plan = _plan(search_phrase(spark, idx, qdf, n_ranges=4))
    flat = plan.replace(" ", "")
    assert "__max_docid" in flat and "first_docid" in flat
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "PushedFilters" in plan and "In(term" in plan


def test_percolate_zero_shuffles(spark, pages_parquet):
    """The percolator's ENTIRE plan — both the term-set and phrase
    forms — is broadcast nested-loops over column predicates: no
    Exchange other than the tiny broadcast of the registered set (the
    ingest-scale contract: documents never shuffle)."""
    from aarhus_spark.operators.eslayer import percolate
    docs = spark.read.parquet(pages_parquet).select("url", "text")
    qdf = spark.createDataFrame(
        [(0, "the data", "phrase", 0), (1, "the data", "must", 0),
         (2, "the data query", "msm", 2)],
        "query_id long, qtext string, kind string, msm int")
    plan = _plan(percolate(spark, qdf, docs))
    phys = plan[plan.index("== Physical Plan =="):]
    assert "BroadcastNestedLoopJoin" in phys
    assert "Exchange" not in phys.replace("BroadcastExchange", ""), phys


def test_range_agg_is_broadcast_theta_join(spark, tmpdir_session, pages_parquet):
    """The range agg's overlap-capable join against the declared ranges
    must be a BroadcastNestedLoopJoin (theta, tiny build side), never a
    sort-merge join."""
    import os
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.operators.eslayer import search_range_agg
    out = os.path.join(tmpdir_session, "idx_plan_range")
    from aarhus_spark.operators.build import IndexPaths
    if not os.path.exists(IndexPaths(out).stats):
        build_index(spark, spark.read.parquet(pages_parquet), out,
                    n_partitions=2, n_buckets=2, salts=2)
    qdf = spark.createDataFrame([(0, "the data")],
                                "query_id long, qtext string")
    plan = _plan(search_range_agg(spark, out, qdf,
                                  [("*-30", None, 30), ("30-*", 30, None)]))
    phys = plan[plan.index("== Physical Plan =="):]
    assert "BroadcastNestedLoopJoin" in phys


def test_read_queries_keeps_optional_bool_columns(spark, tmpdir_session):
    """S2 source: the documented per-query optional columns
    (neg_qtext / must_qtext / exclude) must survive the read — a fixed
    2-column schema used to drop them silently, making the CLI's
    per-query bool parquet path unreachable."""
    import os
    import pandas as pd
    import pytest
    from aarhus_spark.sources.io import read_queries
    p = os.path.join(tmpdir_session, "q_opt.parquet")
    pd.DataFrame({"query_id": [0], "qtext": ["a b"],
                  "neg_qtext": ["c"], "exclude": ["d"]}).to_parquet(p)
    df = read_queries(spark, p)
    assert set(df.columns) == {"query_id", "qtext", "neg_qtext", "exclude"}
    r = df.collect()[0]
    assert (r["query_id"], r["qtext"], r["neg_qtext"], r["exclude"]) \
        == (0, "a b", "c", "d")
    p2 = os.path.join(tmpdir_session, "q_bad.parquet")
    pd.DataFrame({"qtext": ["a"]}).to_parquet(p2)
    with pytest.raises(ValueError, match="query_id"):
        read_queries(spark, p2)

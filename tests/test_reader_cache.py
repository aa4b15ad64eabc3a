"""Planning reads an index dir's stats, reader DataFrames and
tombstones once per commit (operators/search.py ``_IndexReaders``):
a dir rebuilt in place, or given new tombstones, must be served as it
is now, never from the cache."""

import json
import os
import shutil

import numpy as np
import pandas as pd

from aarhus_spark.config import FORMAT_VERSION
from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.operators.incremental import build_delta
from aarhus_spark.operators.search import (_sql_in, load_stats, load_tombstones,
                                           search_topk)
from aarhus_spark.sources.fixtures import gen_pages, gen_queries

BUILD = dict(n_partitions=2, n_buckets=2, salts=2)


def _topk(spark, dirs, queries):
    return (search_topk(spark, dirs, spark.createDataFrame(queries), k=10)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))


def test_rebuild_in_place_serves_new_index(spark, tmpdir_session):
    pages = gen_pages(400)
    here = os.path.join(tmpdir_session, "rcache_inplace")
    fresh = os.path.join(tmpdir_session, "rcache_fresh")
    queries = gen_queries(pages).iloc[::4]
    build_index(spark, spark.createDataFrame(pages.iloc[:150]), here, **BUILD)
    old_n = load_stats(here)["N"]
    old = _topk(spark, here, queries)          # caches `here`'s readers
    shutil.rmtree(here)
    build_index(spark, spark.createDataFrame(pages.iloc[150:]), here, **BUILD)
    build_index(spark, spark.createDataFrame(pages.iloc[150:]), fresh, **BUILD)
    assert load_stats(here)["N"] == load_stats(fresh)["N"] != old_n
    new = _topk(spark, here, queries)
    pd.testing.assert_frame_equal(new, _topk(spark, fresh, queries))
    assert not new.equals(old)


def test_chain_sees_new_tombstones(spark, tmpdir_session):
    pages = gen_pages(300)
    pages = pages[~pages["url"].duplicated(keep=False)].reset_index(drop=True)
    base = os.path.join(tmpdir_session, "rcache_base")
    delta = os.path.join(tmpdir_session, "rcache_delta")
    build_index(spark, spark.createDataFrame(pages.iloc[:250]), base, **BUILD)
    queries = gen_queries(pages).iloc[::4]

    # a delta of new pages only: no dead docids, cached as such
    build_delta(spark, spark.createDataFrame(pages.iloc[250:]), base, delta,
                on_recrawl="tombstone", **BUILD)
    assert load_tombstones(spark, [base, delta])[0].size == 0
    _topk(spark, [base, delta], queries)

    # the same delta rebuilt in place with re-crawls of base pages
    rec = pages.iloc[:250:5].copy()
    rec["text"] = rec["text"].fillna("") + " recrawled revision"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=2)
    shutil.rmtree(delta)
    build_delta(spark, spark.createDataFrame(pd.concat([rec, pages.iloc[250:]])),
                base, delta, on_recrawl="tombstone", **BUILD)
    indexed = set(spark.read.parquet(IndexPaths(base).doclens).toPandas()["url"])
    n_dead = len(indexed & set(rec["url"]))
    dead, _ = load_tombstones(spark, [base, delta])
    assert dead.size == n_dead > 0
    got = _topk(spark, [base, delta], queries)
    assert not np.isin(got["docid"].to_numpy(), dead).any()
    # a session with no cached readers gives the same answer
    pd.testing.assert_frame_equal(got, _topk(spark.newSession(), [base, delta], queries))

    # tombstones/ alone changes (build_delta writes it after stats.json)
    tombs, aside = os.path.join(delta, "tombstones"), os.path.join(tmpdir_session, "aside")
    os.rename(tombs, aside)
    try:
        assert load_tombstones(spark, [base, delta])[0].size == 0
        bare = _topk(spark, [base, delta], queries)
        pd.testing.assert_frame_equal(
            bare, _topk(spark.newSession(), [base, delta], queries))
        assert not bare.equals(got)
    finally:
        os.rename(aside, tombs)
    assert load_tombstones(spark, [base, delta])[0].size == n_dead
    pd.testing.assert_frame_equal(_topk(spark, [base, delta], queries), got)


def test_stats_cache_sees_rewritten_stats(tmp_path):
    """load_stats re-parses stats.json whenever its commit key changes."""
    path = IndexPaths(str(tmp_path)).stats
    for n in (3, 40, 500):
        with open(path, "w") as f:
            json.dump({"format_version": FORMAT_VERSION, "N": n}, f)
        assert load_stats(str(tmp_path))["N"] == n


def test_sql_in_round_trips_quotes_and_backslashes(spark):
    words = ["it's", "back\\slash", "\\'", "'", "\\", "tab\\t", "uni\\u0041",
             "pct\\%", "ünïcode", "plain"]
    df = spark.createDataFrame([(w,) for w in words + ["other", "it"]],
                               "term string")
    assert sorted(r.term for r in df.filter(_sql_in("term", words)).collect()) \
        == sorted(words)
    longs = [-(1 << 63), (1 << 63) - 1, 0, -7, np.int64(12)]
    dl = spark.createDataFrame([(int(v),) for v in longs] + [(5,)], "thash long")
    assert sorted(r.thash for r in dl.filter(_sql_in("thash", longs)).collect()) \
        == sorted(int(v) for v in longs)
    assert df.filter(_sql_in("term", [])).count() == 0


def test_doclens_reader_reused_per_commit(spark, tmpdir_session):
    """The doclens reader is built once per commit of a dir and rebuilt
    when the dir is rebuilt in place."""
    from aarhus_spark.operators.search import _readers
    pages = gen_pages(300)
    pages = pages[~pages["url"].duplicated(keep=False)].reset_index(drop=True)
    here = os.path.join(tmpdir_session, "rcache_doclens")
    build_index(spark, spark.createDataFrame(pages.iloc[:100]), here, **BUILD)
    old = _readers(spark, here).doclens
    assert _readers(spark, here).doclens is old
    assert old.count() == load_stats(here)["N"]
    shutil.rmtree(here)
    build_index(spark, spark.createDataFrame(pages.iloc[100:]), here, **BUILD)
    new = _readers(spark, here).doclens
    assert new is not old
    assert new.count() == load_stats(here)["N"] > 100
    assert _readers(spark, here).doclens is new

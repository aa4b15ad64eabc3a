"""What one dispatched top-k call costs Spark: its job count and the
width of its kernel stage, read from the status tracker under a job
group, and the bound on the (query, term) pairs a call may dispatch.
The ES match set is such a call too, and the ES ops over it run a
fixed number of jobs."""

import os
import uuid

import pytest

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@pytest.fixture(scope="module")
def idx(spark, tmpdir_session):
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.sources.fixtures import gen_pages
    out = os.path.join(tmpdir_session, "idx_dispatch_cost")
    build_index(spark, spark.createDataFrame(gen_pages(200)), out,
                n_partitions=2, n_buckets=2, salts=2)
    return out


@pytest.fixture(scope="module")
def chain(spark, idx, tmpdir_session):
    """``idx`` plus a delta that re-crawls every 10th url, tombstoning
    the base versions."""
    import pandas as pd
    from aarhus_spark.operators.incremental import build_delta
    from aarhus_spark.sources.fixtures import gen_pages
    pdf = gen_pages(200)
    rec = pdf[pdf["url"].isin(sorted(set(pdf["url"]))[::10])]
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec = rec.assign(text=rec["text"].fillna("") + " recrawled revision",
                     html=None, warc_ts=rec["warc_ts"] + pd.Timedelta(days=2))
    delta = os.path.join(tmpdir_session, "idx_dispatch_cost_delta")
    build_delta(spark, spark.createDataFrame(rec), idx, delta,
                on_recrawl="tombstone", n_partitions=2, n_buckets=2, salts=2)
    return [idx, delta]


def _queries(spark, texts):
    # a LocalRelation, as callers pass it: reading it runs no job
    from aarhus_spark.operators.search import local_df
    return local_df(spark, list(enumerate(texts)), "query_id long, qtext string")


def _traced(spark, plan) -> tuple[list, list[int], int]:
    """(rows, job ids, tasks the last job ran) of building and
    collecting one call under a fresh job group."""
    sc = spark.sparkContext
    group = f"dispatch-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dispatch cost")
    try:
        rows = plan().collect()
    finally:
        for key in _GROUP_KEYS:
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    # the map stage an earlier job ran is listed again, skipped, with
    # no completed task
    tasks = sum(tracker.getStageInfo(s).numCompletedTasks
                for s in tracker.getJobInfo(jobs[-1]).stageIds)
    return rows, jobs, tasks


def test_search_calls_run_two_jobs(spark, idx):
    from aarhus_spark.operators.search import search_phrase, search_topk
    from aarhus_spark.operators.spans import search_span_near
    terms = _queries(spark, ["the data", "index of", "merge the", "to in"])
    phrases = _queries(spark, ["of the", "in the"])
    calls = {
        "topk": lambda: search_topk(spark, idx, terms),
        "phrase": lambda: search_phrase(spark, idx, phrases),
        "span_near": lambda: search_span_near(spark, idx, phrases, slop=2,
                                              in_order=False),
    }
    for name, plan in calls.items():
        rows, jobs, _ = _traced(spark, plan)
        assert rows, name
        assert len(jobs) == 2, (name, jobs)
    rows, jobs, _ = _traced(spark, lambda: search_topk(spark, idx, terms,
                                                       n_ranges=3))
    assert rows and len(jobs) <= 3, jobs


def test_kernel_stage_spreads_queries_over_tasks(spark, idx):
    """AQE coalesces a small shuffle by bytes into one partition; the
    kernel stage must still run the 4 queries' groups in parallel."""
    from aarhus_spark.operators.search import search_topk
    terms = _queries(spark, ["the data", "index of", "merge the", "to in"])
    rows, _, tasks = _traced(spark, lambda: search_topk(spark, idx, terms))
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3}
    assert tasks > 1


def test_query_rows_budget_raises(spark, idx, monkeypatch):
    from aarhus_spark import config
    from aarhus_spark.operators.search import search_phrase, search_topk
    qdf = _queries(spark, ["the data of", "index of the"])   # 6 pairs
    monkeypatch.setattr(config, "QUERY_ROWS_BUDGET", 6)
    assert search_topk(spark, idx, qdf).collect()
    monkeypatch.setattr(config, "QUERY_ROWS_BUDGET", 5)
    for op in (search_topk, search_phrase):
        with pytest.raises(ValueError, match="QUERY_ROWS_BUDGET"):
            op(spark, idx, qdf)


def test_query_frame_reads_are_bounded(spark, idx, monkeypatch):
    """Every read of a caller's query frame stops past the budget:
    search_taat (and so every ES aggregation) and localize_queries,
    over a LocalRelation and over an RDD-backed frame alike."""
    from aarhus_spark import config
    from aarhus_spark.operators.search import localize_queries, search_taat
    texts = ["the data", "index of", "merge the"]
    rdd_backed = spark.createDataFrame(list(enumerate(texts)),
                                       "query_id long, qtext string")
    monkeypatch.setattr(config, "QUERY_ROWS_BUDGET", 3)
    for qdf in (_queries(spark, texts), rdd_backed):
        assert search_taat(spark, idx, qdf).collect()
        assert localize_queries(spark, qdf).count() == 3
    monkeypatch.setattr(config, "QUERY_ROWS_BUDGET", 2)
    for qdf in (_queries(spark, texts), rdd_backed):
        with pytest.raises(ValueError, match="QUERY_ROWS_BUDGET"):
            search_taat(spark, idx, qdf)
        with pytest.raises(ValueError, match="QUERY_ROWS_BUDGET"):
            localize_queries(spark, qdf)


def test_rewrite_ops_run_the_same_jobs_at_1_and_8_rows(spark, idx):
    """Every term-rewrite op expands all its query rows in one
    dictionary scan: its job count does not grow with the rows."""
    from aarhus_spark.operators import search as S
    ops = {
        "prefix": (S.search_prefix, "prefix",
                   ["qu", "s", "dat", "merge", "in", "th", "zzz", "q"]),
        "fuzzy": (S.search_fuzzy, "fterm",
                  ["data", "quary", "vale", "spork", "indx", "the", "zzzz", "merg"]),
        "wildcard": (S.search_wildcard, "wpattern",
                     ["quer*", "s?ark*", "*08", "jo?n*", "zz*nope", "d*a", "in*", "t?e"]),
        "regexp": (S.search_regexp, "rpattern",
                   ["merge[0-9]*", "(hash|scan)[0-9]{0,2}", "qu.*y2?", "data|doc[0-9]+",
                    "zzz+nope", "th.*", "s[a-z]+", "i.*"]),
        "bool_prefix": (S.search_match_bool_prefix, "qtext",
                        ["the dat", "quick s", "index q", "merge th", "zzz", "of the",
                         "spark in", "a"]),
        "phrase_prefix": (S.search_phrase_prefix, "qtext",
                          ["of the", "the dat", "index q", "merge th", "zzz", "quick s",
                           "spark in", "a"]),
    }
    for name, (op, col, values) in ops.items():
        jobs = []
        for n in (1, 8):
            qdf = S.local_df(spark, list(enumerate(values[:n])),
                             f"query_id long, {col} string")
            rows, ids, _ = _traced(spark, lambda: op(spark, idx, qdf))
            assert rows, (name, n)
            jobs.append(len(ids))
        assert jobs[0] == jobs[1] <= 4, (name, jobs)


def test_match_set_ops_run_fixed_jobs(spark, idx):
    """The ES match set is one dispatched call (search_topk with
    k=None): 2 jobs, as for top-k. The aggregations over it add only
    their own join and agg stages. Over the TAAT match set these ran
    3, 6, 6 and 5 jobs."""
    from aarhus_spark.operators import eslayer as E
    terms = _queries(spark, ["the data", "index of", "merge the", "to in"])
    calls = {
        "matches": (lambda: E.search_matches(spark, idx, terms), 2),
        "facets": (lambda: E.search_facets(spark, idx, terms), 5),
        "metric_aggs": (lambda: E.search_metric_aggs(spark, idx, terms), 5),
        "function_score": (lambda: E.search_function_score(spark, idx, terms),
                           4),
    }
    for name, (plan, want) in calls.items():
        _traced(spark, plan)   # the first call also fills the reader cache
        rows, jobs, _ = _traced(spark, plan)
        assert rows, name
        assert len(jobs) == want, (name, jobs)


def test_more_like_this_jobs_do_not_grow_with_seeds(spark, idx, chain):
    """All seeds' texts come from one read of ``docs`` and their terms
    from one dictionary lookup, on one dir and on a chain alike."""
    from aarhus_spark.operators.eslayer import more_like_this
    from aarhus_spark.sources.fixtures import gen_pages
    from aarhus_spark.operators.search import local_df
    pdf = gen_pages(200)
    docs = spark.createDataFrame(pdf[["url", "text"]].fillna(""))
    urls = sorted(set(pdf["url"]))[1:3]
    for index_dir in (idx, chain):
        jobs = []
        for n in (1, 1, 2):   # the first call also fills the reader cache
            seeds = local_df(spark, list(enumerate(urls[:n])),
                             "query_id long, like_url string")
            rows, ids, _ = _traced(spark, lambda: more_like_this(
                spark, index_dir, seeds, docs))
            assert {r["query_id"] for r in rows} == set(range(n))
            jobs.append(len(ids))
        assert jobs[1] == jobs[2], (index_dir, jobs)

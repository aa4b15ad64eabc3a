"""The status-store reader behind the traced run's per-layer counts."""

import numpy as np

from perfbench.tracer import _union_s
from perfbench.workloads import Bench

POOLED = ("build: doclens sink", "build: head-detect sample")


def test_union_clips_and_merges():
    assert _union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert _union_s([], 0, 1) == 0


def test_pooled_build_jobs_are_all_counted(spark, tmp_path):
    """build_index runs its doclens sink and head-detect sample from a
    thread pool. Those threads do not inherit the caller's job group, so
    attributing jobs by group would drop them; the job-id window counts
    every job and every task of the build."""
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.sources.fixtures import gen_pages_block

    pages = spark.createDataFrame(gen_pages_block(np.arange(300), seed=3))
    b = Bench(spark, str(tmp_path), seed=3, cores=2, trace=True)
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-call", "one traced call")
    try:
        m0 = b.tracer.job_mark()
        b.call("build", "build_index",
               lambda: build_index(spark, pages, str(tmp_path / "idx")), action=None)
        m2 = b.tracer.job_mark()
    finally:
        sc.setJobGroup(None, None)
    counts = b.calls[0].counts
    assert not b.calls[0].problems and b.tracer.unfinalized == 0
    assert counts["jobs"] == m2 - m0 > 2

    store = b.tracer._store
    jobs = [store.job(j) for j in range(m0, m2)]
    pooled = [j for j in jobs if j["description"] in POOLED]
    assert {j["description"] for j in pooled} == set(POOLED)
    assert all(j["jobGroup"] != "perfbench-call" for j in pooled)
    assert {s.attrs["description"] for s in b.tracer.spans if s.kind == "job"} >= set(POOLED)

    # tasks agree with an independent count from the status tracker
    tracker = sc.statusTracker()
    stage_ids = {sid for j in range(m0, m2) for sid in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(sid) for sid in stage_ids]
    assert counts["tasks"] == sum(i.numCompletedTasks for i in infos if i is not None)

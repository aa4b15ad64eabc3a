"""A6/S6 spill evidence (SURVEY §4.2): the metrics sink must record
per-stage executor spill bytes, and a genuinely forced spill must show
up nonzero — both in the live status-store reader and in a build's
metrics.jsonl under a force-spill JVM."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aarhus_spark.metrics import spill_totals

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spill_totals_sees_forced_window_spill(spark):
    """Force the window operator to spill (dynamic SQL conf) and assert
    the status-store reader observes nonzero disk spill."""
    before_mem, before_disk = spill_totals(spark)
    old = spark.conf.get("spark.sql.windowExec.buffer.spill.threshold", None)
    try:
        spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "2048")
        spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "2048")
        w = (Window.partitionBy(F.expr("id % 2")).orderBy("id")
             .rowsBetween(Window.unboundedPreceding, 0))
        (spark.range(150_000)
         .withColumn("rs", F.sum("id").over(w))
         .agg(F.max("rs")).collect())
    finally:
        if old is not None:
            spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", old)
        spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
    after_mem, after_disk = spill_totals(spark)
    assert after_disk > before_disk, "forced window spill not observed"
    assert after_mem >= before_mem


def test_build_metrics_record_spill_fields(spark, tmpdir_session):
    """Every metrics.jsonl stage line carries the spill delta fields
    (zero on an unpressured build — the field exists and is honest)."""
    from aarhus_spark.operators.build import IndexPaths, build_index
    from aarhus_spark.sources.fixtures import gen_pages
    out = os.path.join(tmpdir_session, "idx_spillfields")
    build_index(spark, spark.createDataFrame(gen_pages(120)), out,
                n_partitions=2, n_buckets=2, salts=2)
    with open(IndexPaths(out).metrics) as f:
        lines = [json.loads(l) for l in f]
    assert len(lines) >= 4
    for m in lines:
        assert "mem_spill_bytes" in m and "disk_spill_bytes" in m
        assert m["mem_spill_bytes"] >= 0 and m["disk_spill_bytes"] >= 0


def test_forced_spill_build_records_nonzero_spill(tmpdir_session):
    """The full A6 evidence: a fresh JVM with
    spark.shuffle.spill.numElementsForceSpillThreshold pinned low makes
    the fragment stage's sortWithinPartitions spill to disk; the build
    must complete CORRECTLY and metrics.jsonl must show nonzero spill
    bytes for at least one stage."""
    out = os.path.join(tmpdir_session, "idx_forced_spill")
    code = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from aarhus_spark.session import get_spark
from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.sources.fixtures import gen_pages
spark = get_spark("spill", master="local[2]", shuffle_partitions=4,
                  extra={{"spark.shuffle.spill.numElementsForceSpillThreshold": "500"}})
spark.sparkContext.setLogLevel("ERROR")
stats = build_index(spark, spark.createDataFrame(gen_pages(400)), {out!r},
                    n_partitions=2, n_buckets=2, salts=2)
with open(IndexPaths({out!r}).metrics) as f:
    lines = [json.loads(l) for l in f]
print(json.dumps({{"N": stats["N"],
                   "disk": sum(m["disk_spill_bytes"] for m in lines),
                   "mem": sum(m["mem_spill_bytes"] for m in lines)}}))
spark.stop()
"""
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=420)
    assert res.returncode == 0, res.stderr[-2000:]
    payload = json.loads(res.stdout.strip().splitlines()[-1])
    assert payload["N"] > 300
    assert payload["disk"] > 0, payload  # the forced sort spill is recorded


class _FakeStage:
    """A status-store StageData stand-in (stageId, status, spills)."""

    def __init__(self, sid, status, mem, disk):
        self.sid, self.st, self.mem, self.disk = sid, status, mem, disk

    def stageId(self):
        return self.sid

    def status(self):
        st = self.st
        return type("Status", (), {"toString": lambda self: st})()

    def memoryBytesSpilled(self):
        return self.mem

    def diskBytesSpilled(self):
        return self.disk


class _FakeSeq(list):
    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class _FakeSpark:
    """Just enough of SparkSession/py4j for SpillTracker: the status
    store's ``stageList`` returns ``self.stages`` in the given order."""

    def __init__(self):
        from types import SimpleNamespace as NS
        self.stages: list = []
        store = NS(stageList=lambda *a: _FakeSeq(self.stages))
        tracker = NS(getActiveStageIds=lambda: [
            s.sid for s in self.stages if s.st == "ACTIVE"])
        self.sparkContext = NS(
            _jvm=NS(java=NS(util=NS(ArrayList=list)), double=float),
            _gateway=NS(new_array=lambda *a: []),
            _jsc=NS(sc=lambda: NS(statusStore=lambda: store)),
            statusTracker=lambda: tracker)


def test_spilltracker_counts_pending_stage_that_spills_later():
    """A stage that is PENDING (inactive, zero metrics) when read must not
    be finalized: when it later runs and spills, the spill is counted —
    also when the store lists stages in ascending id order."""
    from aarhus_spark.metrics import SpillTracker
    fake = _FakeSpark()
    fake.stages = [_FakeStage(0, "COMPLETE", 10, 100),
                   _FakeStage(1, "PENDING", 0, 0)]
    tr = SpillTracker(fake)
    fake.stages = [_FakeStage(0, "COMPLETE", 10, 100),
                   _FakeStage(1, "COMPLETE", 7, 500),
                   _FakeStage(2, "ACTIVE", 0, 30)]
    assert tr.delta() == {"mem_spill_bytes": 7, "disk_spill_bytes": 530}
    fake.stages = [_FakeStage(0, "COMPLETE", 10, 100),
                   _FakeStage(1, "COMPLETE", 7, 500),
                   _FakeStage(2, "COMPLETE", 1, 60),
                   _FakeStage(3, "SKIPPED", 0, 0)]
    assert tr.delta() == {"mem_spill_bytes": 1, "disk_spill_bytes": 30}
    assert tr.delta() == {"mem_spill_bytes": 0, "disk_spill_bytes": 0}

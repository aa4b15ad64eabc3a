"""The two workloads, the closed loop that drives them and the metrics
computed from its call records.

One client thread issues each call only after the previous one returned
(closed loop, one client). A call is one public aarhus_spark operator:
its plan phase builds the returned DataFrame, its exec phase is the
action (``collect``); write operators are all exec.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aarhus_spark import oracle
from aarhus_spark.operators import eslayer, multifield, spans
from aarhus_spark.operators.build import build_index
from aarhus_spark.operators.compact import compact_indexes
from aarhus_spark.operators.incremental import build_delta
from aarhus_spark.operators.search import (search_phrase, search_topk,
                                           search_wand_ranges)

from . import checks, corpus, probes
from .tracer import Tracer

TITLE_CHARS = 40
TITLE_BOOST = 2.0
BUILD_STAGES = {"prepare+docids+doclens": "prepare", "head-detect": "head_detect",
                "fragments": "fragments", "merge+segments": "merge",
                "dictionary": "dictionary"}
COMPACT_STAGES = {"compact:docid-map+doclens": "docid_map",
                  "compact:head-detect": "head_detect", "fragments": "fragments",
                  "merge+segments": "merge", "dictionary": "dictionary"}
TRACE_METRICS = {"plan_ms": "ms", "exec_ms": "ms", "jobs": "count", "tasks": "count",
                 "shuffle_bytes": "B", "core_idle_frac": "fraction",
                 "input_records_per_hit": "rows/hit"}
SELF_LAYERS = ("build", "search", "spans", "multifield", "eslayer",
               "incremental", "compact")


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def read_metrics_jsonl(index_dir: str) -> list[dict]:
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def docid_urls(dirs: list[str]) -> dict[int, str]:
    """docid -> url over an index chain, read from the doclens sinks."""
    out = {}
    for d in dirs:
        t = pq.read_table(os.path.join(d, "doclens"), columns=["docid", "url"])
        out.update(zip(t["docid"].to_pylist(), t["url"].to_pylist()))
    return out


def tombstone_count(delta_dir: str) -> int:
    path = os.path.join(delta_dir, "tombstones")
    return pq.read_table(path).num_rows if os.path.isdir(path) else 0


@dataclass
class Call:
    layer: str
    op: str
    phase: str                 # setup | run | build | sweep
    start: float
    wall_s: float
    plan_s: float
    exec_s: float
    n_queries: int = 0
    hits: int = 0
    problems: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)


class Bench:
    """State of one benchmark run: the Spark session, seeded inputs,
    indexes, the tracer and every call made."""

    def __init__(self, spark, work: str, seed: int, cores: int, trace: bool):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.tracer = Tracer(spark, trace)
        self.same = checks.SameAnswer()
        self.calls: list[Call] = []
        self.phase = "setup"
        self.base = None            # single-directory index over the corpus
        self.rebuilt = None         # the measured build_index of the corpus
        self.mf_root = None         # two-field (title, text) index
        self.batches: dict[str, tuple] = {}
        self.extra: dict = {}

    # -- the call wrapper ------------------------------------------------

    def call(self, layer: str, op: str, plan, action=collect, check=None,
             n_queries: int = 0):
        """Run one operator call: ``plan()`` returns a DataFrame (or, for
        a write, its result) and ``action`` consumes it. ``check(out)``
        returns a list of problems; an exception or any problem makes
        the call a failure. Returns the action's output (None on an
        exception)."""
        tr = self.tracer
        m0, t0 = tr.job_mark(), time.time()
        t1 = m1 = None
        out, problems = None, []
        try:
            df = plan()
            t1, m1 = time.time(), tr.job_mark()
            out = action(df) if action else df
        except Exception as e:  # a failing operator is counted, not fatal
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        t2, m2 = time.time(), tr.job_mark()
        if t1 is None:
            t1, m1 = t2, m2
        if out is not None and check is not None:
            try:
                problems = check(out)
            except Exception as e:
                problems = [f"check raised {type(e).__name__}: {e}"]
        name = f"{layer}.{op}"
        counts = tr.record_call(name, t0, t1, t2, (m0, m1, m2) if tr.enabled else None,
                                {"phase": self.phase, "n_queries": n_queries})
        c = Call(layer, op, self.phase, t0, t2 - t0, t1 - t0, t2 - t1, n_queries,
                 len(out) if isinstance(out, list) else 0, problems[:3], counts)
        self.calls.append(c)
        return out

    # -- set-up ----------------------------------------------------------

    def load_corpus(self) -> None:
        self.pages_pdf = corpus.pages(self.seed)
        self.pages = self.spark.createDataFrame(self.pages_pdf)
        self.oracle = oracle.build(self.pages_pdf.to_dict("records"))
        self.terms = corpus.Terms(self.oracle)
        self.text_bytes = sum(len(t.encode())
                              for t in corpus.live_texts(self.pages_pdf).values())

    def _n_docs_check(self, want: int):
        return lambda stats: ([] if stats.get("N") == want
                              else [f"index holds {stats.get('N')} docs, oracle {want}"])

    def build_fields(self, with_title: bool) -> None:
        """Index the corpus with build_field_indexes: the text field alone,
        or title (first 40 chars of the text, boosted at query time)
        first and then text. The first text field built is a complete
        single-directory index of the corpus and serves as ``base``."""
        fields = {"text": F.col("text")}
        if with_title:
            fields = {"title": F.substring("text", 1, TITLE_CHARS), **fields}
        root = os.path.join(self.work, "+".join(fields))
        n = self.oracle.n_docs
        self.call("build", "build_field_indexes",
                  lambda: multifield.build_field_indexes(self.spark, self.pages, root, fields),
                  action=None,
                  check=lambda st: [p for s in st.values()
                                    for p in self._n_docs_check(n)(s)])
        if with_title:
            self.mf_root = root
        if self.base is None:
            self.base = os.path.join(root, "field=text")

    def rebuild(self) -> None:
        """A fresh build_index of the corpus on the warm session, inside
        the query window: the build behind docs_per_s and the build.*
        layer metrics. The set-up's first build runs on a cold JVM, whose
        just-in-time compilation makes its wall vary from run to run."""
        self.phase = "build"
        out = os.path.join(self.work, "rebuild")
        self.call("build", "build_index",
                  lambda: build_index(self.spark, self.pages, out), action=None,
                  check=self._n_docs_check(self.oracle.n_docs))
        self.rebuilt = out
        with open(os.path.join(out, "stats.json")) as f:
            self.extra["text_build"] = {k: v for k, v in json.load(f).items()
                                        if k in ("N", "wall_s")}

    # -- query operators -------------------------------------------------

    def batch(self, op: str):
        """(25-query frame, 1-query frame, query texts, oracle answers for
        the 25-query frame) for ``op``, made once per run from the seed."""
        if op in self.batches:
            return self.batches[op]
        rng = np.random.default_rng([self.seed, sum(map(ord, op))])
        t = self.terms
        texts = {
            "topk": lambda: corpus.mixed_queries(t, rng),
            "topk_and": lambda: corpus.pair_queries(t, rng, 0, 400),
            "topk_ranges": lambda: corpus.mixed_queries(t, rng),
            "phrase": lambda: corpus.pair_queries(t, rng, 0, 15),
            "span_near": lambda: corpus.pair_queries(t, rng, 0, 15),
            "multi_match": lambda: corpus.mixed_queries(t, rng),
            "rescore": lambda: corpus.pair_queries(t, rng, 0, 60),
        }.get(op, lambda: corpus.bounded_queries(t, rng))()
        full, one = corpus.batches(texts, rng)
        answers = None
        if op in ("topk", "topk_ranges"):
            answers = corpus.topk_answers(self.oracle, full)
        elif op == "topk_and":
            answers = corpus.topk_answers(self.oracle, full, require_all=True)
        elif op == "facets":
            answers = corpus.facet_answers(self.oracle, full)
        elif op == "metric_aggs":
            answers = corpus.metric_answers(self.oracle, full)
        frames = (self.spark.createDataFrame(full), self.spark.createDataFrame(one))
        qtexts = (dict(zip(full.query_id.tolist(), full.qtext)),
                  dict(zip(one.query_id.tolist(), one.qtext)))
        self.batches[op] = (frames, qtexts, answers)
        return self.batches[op]

    def query(self, op: str, size: int) -> None:
        """One call of query operator ``op`` on its 25- or 1-query batch."""
        (full, one), (qt_full, qt_one), answers = self.batch(op)
        qdf, qtexts = (full, qt_full) if size > 1 else (one, qt_one)
        sp, base = self.spark, self.base
        want = (None if answers is None
                else {q: answers.get(q, []) for q in qtexts})

        def same(rows):
            return self.same.check(op, qtexts, rows)

        layer, plan, check = {
            "topk": ("search", lambda: search_topk(sp, base, qdf),
                     lambda rows: checks.ranked(rows, want)),
            "topk_and": ("search", lambda: search_topk(sp, base, qdf, require_all=True),
                         lambda rows: checks.ranked(rows, want)),
            "topk_ranges": ("search", lambda: search_wand_ranges(
                                sp, base, qdf, n_ranges=self.cores),
                            lambda rows: checks.ranked(rows, want)),
            "phrase": ("search", lambda: search_phrase(sp, base, qdf), same),
            "span_near": ("spans", lambda: spans.search_span_near(
                              sp, base, qdf, slop=3, in_order=True), same),
            "multi_match": ("multifield", lambda: multifield.search_multi_match(
                                sp, self.mf_root, qdf, boosts={"title": TITLE_BOOST}),
                            same),
            "facets": ("eslayer", lambda: eslayer.search_facets(
                           sp, base, qdf, n_buckets=64),
                       lambda rows: checks.counts(
                           _facet_rows(rows), want_nonempty(want), "buckets")),
            "metric_aggs": ("eslayer", lambda: eslayer.search_metric_aggs(sp, base, qdf),
                            lambda rows: checks.counts(
                                {int(r[0]): tuple(int(x) for x in r[1:5]) for r in rows},
                                want_nonempty(want), "stats")),
            "function_score": ("eslayer", lambda: eslayer.search_function_score(
                                   sp, base, qdf, k=10, scale_days=0.002), same),
            "highlight": ("eslayer", lambda: eslayer.search_highlight(
                              sp, base, qdf, self.pages, k=10, window=4), same),
            "rescore": ("eslayer", lambda: eslayer.search_rescore(
                            sp, base, qdf, window_size=50, k=10, rescore_weight=2.0),
                        same),
            "significant_terms": ("eslayer", lambda: eslayer.search_significant_terms(
                                      sp, base, qdf, self.pages, n_terms=10), same),
        }[op]
        self.call(layer, op, plan, check=check, n_queries=len(qtexts))

    # -- update cycle ----------------------------------------------------

    def update_cycle(self) -> None:
        """build_delta over re-crawled and new pages, a topk batch over the
        base+delta chain, compact_indexes, the same batch over the
        compacted index. Leaves ``base`` and the oracle as they were."""
        sp, base = self.spark, self.base
        delta, comp = os.path.join(self.work, "delta"), os.path.join(self.work, "compact")
        batch_pdf = corpus.recrawl_batch(self.seed, corpus.live_texts(self.pages_pdf),
                                         self.terms)
        rows = pd.concat([self.pages_pdf, batch_pdf], ignore_index=True)
        n_live = len(corpus.live_texts(rows))
        orc = oracle.build(rows.to_dict("records"))
        pages = sp.createDataFrame(batch_pdf)
        with open(os.path.join(base, "stats.json")) as f:
            n_base = json.load(f)["N"]

        def delta_check(stats):
            dead = tombstone_count(delta)
            self.extra["tombstones"] = dead
            got = n_base + stats.get("N", 0) - dead
            return [] if got == n_live else [f"chain holds {got} live docs, want {n_live}"]

        self.call("incremental", "build_delta",
                  lambda: build_delta(sp, pages, [base], delta, on_recrawl="tombstone"),
                  action=None, check=delta_check)
        rng = np.random.default_rng([self.seed, 11])
        qpdf = corpus.batch_frame(corpus.mixed_queries(corpus.Terms(orc), rng))
        qdf, want = sp.createDataFrame(qpdf), corpus.topk_answers(orc, qpdf)

        def as_urls(rows, dirs):
            urls = docid_urls(dirs)
            return {q: [(r, urls[d], s) for r, d, s in v]
                    for q, v in checks.by_query(rows).items()}

        chain = self.call(
            "search", "chain_topk", lambda: search_topk(sp, [base, delta], qdf),
            check=lambda rows: checks.ranked_by_url(
                as_urls(rows, [base, delta]),
                {q: [(r, orc.urls[d], s) for r, d, s in v] for q, v in want.items()}),
            n_queries=len(qpdf))
        self.call("compact", "compact_indexes",
                  lambda: compact_indexes(sp, [base, delta], comp), action=None,
                  check=self._n_docs_check(orc.n_docs))
        self.call(
            "search", "compacted_topk", lambda: search_topk(sp, comp, qdf),
            check=lambda rows: checks.ranked(rows, want) + (
                [] if chain is None else checks.ranked_by_url(
                    as_urls(rows, [comp]), as_urls(chain, [base, delta]))),
            n_queries=len(qpdf))
        self.extra["compact_metrics"] = read_metrics_jsonl(comp)


def _facet_rows(rows) -> dict[int, dict[str, int]]:
    out: dict[int, dict[str, int]] = {}
    for q, bucket, n, _ in rows:
        out.setdefault(int(q), {})[bucket] = int(n)
    return out


def want_nonempty(want: dict) -> dict:
    return {q: v for q, v in want.items() if v}


# -- workloads -------------------------------------------------------------

RETRIEVAL = ("topk", "topk_and", "topk_ranges", "phrase", "span_near", "multi_match")
ANALYTICS = ("facets", "function_score", "highlight", "metric_aggs", "rescore",
             "significant_terms")
MIN_ROUNDS = 2


WORKLOADS = {"retrieval": RETRIEVAL, "analytics": ANALYTICS}


def setup(b: Bench, workload: str) -> None:
    """Corpus and oracle; the index (text field only for analytics; title,
    then text for retrieval, whose multi_match reads both); then every
    query batch of the workload with its oracle answers."""
    b.load_corpus()
    b.build_fields(with_title=workload == "retrieval")
    for op in WORKLOADS[workload]:
        b.batch(op)


def run_window(b: Bench, workload: str, seconds: float) -> None:
    """Whole rounds of the workload, at least MIN_ROUNDS, until ``seconds``
    have passed. A round calls each operator on its 25-query batch, and
    ``topk`` also on its 1-query batch for the per-call overhead. Later
    rounds repeat the first round's batches, so every answer without an
    oracle is compared with its earlier answer. The warm rebuild runs
    after the first round: spread over a longer stretch, the measured
    calls are less often all caught by one slow spell of a shared host."""
    t_end, rounds = time.time() + seconds, 0
    while rounds < MIN_ROUNDS or time.time() < t_end:
        b.phase = "run"
        for op in WORKLOADS[workload]:
            b.query(op, 25)
            if op == "topk":
                b.query(op, 1)
        rounds += 1
        if rounds == 1:
            b.rebuild()


def sweep(b: Bench) -> None:
    """Traced runs only: call once every operator the workload did not,
    and run one update cycle, so each per-layer metric is measured in
    every traced run."""
    b.phase = "sweep"
    done = {c.op for c in b.calls}
    for op in RETRIEVAL + ANALYTICS:
        if op in done:
            continue
        if op == "multi_match" and b.mf_root is None:
            b.build_fields(with_title=True)
        b.query(op, 25)
    b.update_cycle()


# -- metrics ---------------------------------------------------------------

def end_to_end(b: Bench, setup_s: float, peak_rss_mb: float) -> dict:
    """docs_per_s is the warm rebuild of the whole corpus inside the
    query window (``Bench.rebuild``)."""
    run = [c for c in b.calls if c.phase == "run"]
    queries = [c for c in run if c.n_queries]
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (b.extra["text_build"]["N"] / b.extra["text_build"]["wall_s"],
                       "1/s"),
        "queries_per_s": (sum(c.n_queries for c in queries)
                          / sum(c.wall_s for c in queries), "1/s"),
        "call_p50_ms": (statistics.median(c.wall_s for c in run) * 1e3, "ms"),
        "index_bytes_per_text_byte": (dir_bytes(b.base) / b.text_bytes, "B/B"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(b: Bench, probe_values: dict, gc_s: float, wall_s: float) -> dict:
    out: dict[str, tuple] = {}
    stages = {m["stage"]: m for m in read_metrics_jsonl(b.rebuilt)}
    for stage, name in BUILD_STAGES.items():
        out[f"build.{name}_s"] = (stages[stage]["wall_s"], "s")
    out["build.spill_bytes"] = (float(sum(m["mem_spill_bytes"] + m["disk_spill_bytes"]
                                          for m in stages.values())), "B")
    for op in RETRIEVAL + ANALYTICS:
        calls = [c for c in b.calls if c.op == op]
        layer = calls[0].layer
        wall = sum(c.wall_s for c in calls)
        hits = sum(c.hits for c in calls)
        vals = {
            "plan_ms": _mean(c.plan_s * 1e3 for c in calls),
            "exec_ms": _mean(c.exec_s * 1e3 for c in calls),
            "jobs": _mean(c.counts["jobs"] for c in calls),
            "tasks": _mean(c.counts["tasks"] for c in calls),
            "shuffle_bytes": _mean(c.counts["shuffle_bytes"] for c in calls),
            "core_idle_frac": 1.0 - sum(c.counts["run_ms"] for c in calls) / 1e3
                              / (wall * b.cores),
            "input_records_per_hit": sum(c.counts["input_records"] for c in calls)
                                     / max(hits, 1),
        }
        for k, unit in TRACE_METRICS.items():
            out[f"{layer}.{op}.{k}"] = (vals[k], unit)
    out["incremental.build_delta_s"] = (
        next(c.wall_s for c in b.calls if c.op == "build_delta"), "s")
    out["incremental.tombstones"] = (float(b.extra["tombstones"]), "count")
    compact = {m["stage"]: m["wall_s"] for m in b.extra["compact_metrics"]}
    for stage, name in COMPACT_STAGES.items():
        out[f"compact.{name}_s"] = (compact[stage], "s")
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = (sum(c.counts["self_s"] for c in b.calls
                                      if c.layer == layer), "s")
    out["codec.decode_mb_per_s"] = (probe_values["codec"], "MB/s")
    out["textops.tokenize_mb_per_s"] = (probe_values["textops"], "MB/s")
    out["session.jvm_gc_s"] = (gc_s, "s")
    out["trace.overhead_frac"] = (b.tracer.overhead_s / wall_s, "fraction")
    out["trace.unfinalized"] = (float(b.tracer.unfinalized), "count")
    return out


def run_probes(b: Bench) -> tuple[dict, list[str]]:
    texts = list(corpus.live_texts(b.pages_pdf).values())
    codec, p1 = probes.codec_decode(b.base)
    tok, p2 = probes.textops_tokenize(texts)
    return {"codec": codec, "textops": tok}, p1 + p2

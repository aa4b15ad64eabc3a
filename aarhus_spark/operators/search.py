"""Query-time BM25 top-k retrieval (SURVEY.md §2.10, §3.2).

Two execution paths over the same segment artifacts, plus a pure-
DataFrame brute-force scorer; all three are rank- AND bit-identical
(3-way equivalence test, SURVEY §5):

Q1→Q4 ``search_taat``  — distributed term-at-a-time. Segment rows for
  the query terms (parquet scan with ``term IN`` pushdown → row-group
  skip) are decoded in ``mapInPandas`` (numpy), producing per-posting
  contributions idf·partial; per-(query,doc) scores are then summed
  with ``aggregate(sort_array(collect_list(struct(term,contrib))))`` —
  a fold in sorted term order, which pins the FP addition order to the
  frozen contract (§1.3.4) no matter how Spark shuffles. Scales to any
  corpus: the shuffle is bounded by the postings of the query terms.

Q1→Q5 ``search_topk`` — per-query block-max pruning. Each query's
  term rows are gathered with ``applyInPandas`` and scored document-
  at-a-time over the block-max metadata: the docid space is cut into
  elementary intervals at block boundaries, each interval's upper
  bound is Σ_t idf_t·max_partial(block_t covering it), intervals are
  processed in descending-bound order, and processing stops when the
  bound falls below the current top-k threshold — whole blocks are
  never decoded (Broder'03 WAND / Ding & Suel'11 block-max, re-shaped
  interval-at-a-time so the inner loop is numpy, not per-doc Python).
  Exact top-k: stop condition is strict (<), ties keep flowing.

Q7 ``harness.q_bm25_brute_sql`` — the brute-force Spark SQL twin
  (explode → join → agg → window), checked against the harness's
  DuckDB oracle ``harness._bm25_oracle_sql``.

``search_topk`` is the DEFAULT entry point. Every scored op reads its
index chain once (:func:`_chain`: live N and avgdl, dead docids, docid
domain). Every top-k kernel (WAND, phrase, phrase_prefix, spans,
intervals, multi_match) runs through one dispatcher, :func:`_per_query`,
which sizes the chunk-parallel fan-out from the domain
(``default_n_ranges``): one group per query when one range suffices
(small indexes, no merge stage), otherwise one group per (query, docid
range) plus a merge window. ``search_wand`` and ``search_wand_ranges``
are ``search_topk`` with the fan-out fixed.
"""

from __future__ import annotations

import functools
import heapq
import json
import os
import re
from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from ..codec import decode_blocks
from ..config import FORMAT_VERSION, TOP_K
from ..hashing import xxhash64 as spark_xxhash64
from ..scoring import idf as _idf
from ..textops import tokenize, tokenize_series
from .build import (IndexPaths, read_dictionary, read_doclens,
                    read_fragments, read_segments)

RESULT_SCHEMA = "query_id long, rank int, docid long, score double"


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-side frame as an Arrow-backed LocalRelation.

    ``createDataFrame(list)`` parallelizes the rows into an RDD of
    ``defaultParallelism`` slices, so EVERY materialization of the
    frame — a broadcast hash-relation build, a LocalTableScan feed, a
    ``collect`` — schedules a full task wave (~0.3 s for a 25-row
    frame at local[32], measured r8). An Arrow table embeds the rows in
    the logical plan as a LocalRelation instead (same pipeline measured
    0.55 → 0.26 s). On Spark 4.1.2 a ``collect`` of it is job-free
    (~6 ms), but not every use is: a ``BroadcastExchange`` over its
    LocalTableScan still runs one job of ``defaultParallelism`` tasks
    to build the relation, and so does ``toPandas`` with Arrow
    conversion on (one job, 4 tasks at local[4]) — so query frames are
    read with ``collect`` and the dispatcher takes rows, not a frame
    (:func:`_per_query`). The table is typed
    from the DDL ``schema`` and carries explicit validity, so ``None``
    stays NULL and the plan stays a LocalRelation whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set (a pandas
    frame would turn ``None`` in a float column into NaN, which only
    the Arrow conversion maps back to NULL)."""
    import pyarrow as pa

    arrow_schema = _arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema))


@functools.lru_cache(maxsize=None)
def _arrow_schema(schema: str):
    """Arrow schema of a DDL string (parsed once per process: the DDL
    parse is a JVM round trip, and local_df's schemas are constants)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(schema))


def _check_rows_budget(n: int, what: str) -> None:
    from ..config import QUERY_ROWS_BUDGET
    if n > QUERY_ROWS_BUDGET:
        raise ValueError(
            f"{n} {what}, past the enforced budget of {QUERY_ROWS_BUDGET} "
            f"(config.QUERY_ROWS_BUDGET): split the query batch.")


def read_query_rows(queries: DataFrame, *cols: str, pandas: bool = False):
    """The ``cols`` (default: all) of a caller's query frame on the
    driver, as Rows (``collect``) or as a pandas frame. Query frames
    are human-scale by contract, and the bound is enforced: at most
    ``config.QUERY_ROWS_BUDGET + 1`` rows are read, and past the budget
    this raises. Over a LocalRelation the limit folds into the
    relation, so the read stays job-free (see :func:`local_df`)."""
    from ..config import QUERY_ROWS_BUDGET
    q = (queries.select(*cols) if cols else queries).limit(QUERY_ROWS_BUDGET + 1)
    rows = q.toPandas() if pandas else q.collect()
    _check_rows_budget(len(rows), "or more query frame rows read to the driver")
    return rows


def localize_queries(spark: SparkSession, queries: DataFrame) -> DataFrame:
    """Collect a (human-scale, by contract) queries frame ONCE and
    re-embed it as an Arrow LocalRelation with the same schema.

    Ops that consume the frame more than once — rescore (primary pass
    + phrase pass), highlight/explain (top-k + term analysis),
    boosting (positive + negative match sets) — otherwise pay one full
    task wave PER consumer when handed an RDD-backed frame
    (``createDataFrame(list)``); localizing makes every later
    analysis/collect job-free (see :func:`local_df`). Already-local
    frames pass through unread (their row count is still checked
    against the budget of :func:`read_query_rows`), so the common
    pandas-backed caller pays nothing. Values and schema are identical
    either way."""
    try:
        plan = queries._jdf.queryExecution().optimizedPlan()
        n_local = (plan.data().size()
                   if plan.getClass().getSimpleName() == "LocalRelation" else None)
    except Exception:  # pragma: no cover — introspection is best-effort
        n_local = None
    if n_local is not None:
        _check_rows_budget(n_local, "query frame rows")
        return queries
    return spark.createDataFrame(read_query_rows(queries, pandas=True),
                                 schema=queries.schema)


# ---------------------------------------------------------------------------
# Per-directory index state, read once per commit
# ---------------------------------------------------------------------------

def _commit_key(path: str) -> tuple[int, int, int] | None:
    """(st_mtime_ns, st_size, st_ino) of the file or directory that
    commits one piece of an index dir; None when it does not exist."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


# index dir -> (commit key of its stats.json, parsed stats)
_stats_cache: dict[str, tuple[tuple[int, int, int], dict]] = {}


def load_stats(index_dir: str) -> dict:
    """Read stats.json and REFUSE a layout-version mismatch: e.g. a v0.1
    index dir (tail rows present in BOTH segments/ and fragments/) read
    by layered-store code would silently double-serve tail postings —
    wrong scores, no error. Readers must fail loudly instead.

    Parsed once per commit: build and compaction write stats.json last,
    so its :func:`_commit_key` changes whenever the dir is rebuilt and
    the cached dict is reused until then. Callers must not mutate it."""
    path = IndexPaths(index_dir).stats
    key = _commit_key(path)   # before the read: a file replaced meanwhile is re-read next call
    hit = _stats_cache.get(index_dir)
    if key is not None and hit is not None and hit[0] == key:
        return hit[1]
    with open(path) as f:
        st = json.load(f)
    ver = st.get("format_version")
    if ver != FORMAT_VERSION:
        raise ValueError(
            f"index dir {index_dir!r} has on-disk layout version {ver!r} but "
            f"this engine reads version {FORMAT_VERSION}. Reading a mismatched "
            f"layout silently corrupts results (e.g. tail postings served "
            f"twice); rebuild the index or run the matching engine version.")
    if key is not None:
        _stats_cache[index_dir] = (key, st)
    return st


class _IndexReaders:
    """One session's readers over one committed index dir: the
    candidate-row layers, the dictionary and the doclens sink as
    DataFrames (each over a parquet relation whose file listing is
    taken once, when it is created) and the dir's tombstone rows.
    Valid for the stats.json commit ``key``; the tombstones carry their
    own key, the ``tombstones/`` dir's, because ``build_delta`` writes
    them after stats.json. A cache of readers, not of results: every
    query still scans the files."""

    def __init__(self, spark: SparkSession, index_dir: str, key: tuple):
        self._spark, self._dir, self.key = spark, index_dir, key
        self._tomb_key: tuple | None = ()    # () = not read yet
        self._tombs: pd.DataFrame | None = None

    @functools.cached_property
    def dictionary(self) -> DataFrame:
        return read_dictionary(self._spark, self._dir)

    @functools.cached_property
    def doclens(self) -> DataFrame:
        return read_doclens(self._spark, self._dir)

    # The candidate-row layers (build.py merge stage) as segment
    # columns plus the dir's build avgdl (``src_avgdl``: scorers rescale
    # block bounds by it); None for a layer stats.json records as empty
    # (a pre-r8 index without the keys scans both).
    @functools.cached_property
    def head(self) -> DataFrame | None:
        st = load_stats(self._dir)
        if not st.get("has_head", True):
            return None
        return (read_segments(self._spark, self._dir)
                .withColumn("src_avgdl", F.lit(float(st["avgdl"]))))

    @functools.cached_property
    def tail(self) -> DataFrame | None:
        """Tail terms, served straight from their single fragment row
        (df = n, chunk = 0); the build never rewrites them."""
        st = load_stats(self._dir)
        frag_dir = IndexPaths(self._dir).fragments
        if not st.get("has_tail", os.path.isdir(frag_dir) and bool(os.listdir(frag_dir))):
            return None
        maxpost = int(st.get("build_config", {}).get("max_postings_per_row", 1 << 62))
        return (read_fragments(self._spark, self._dir)
                .filter(~F.col("is_head") & (F.col("n") <= maxpost))
                .select("term", F.col("n").alias("df"), "cf",
                        F.lit(0).alias("chunk"), "n", "first_docid", "blocks",
                        "postings", F.lit(float(st["avgdl"])).alias("src_avgdl")))

    def tombstones(self) -> pd.DataFrame | None:
        """(docid, dl) rows of this dir's tombstones/, or None."""
        tpath = os.path.join(self._dir, "tombstones")
        key = _commit_key(tpath)
        if key != self._tomb_key:
            tombs = None
            if key is not None and any(f.endswith(".parquet")
                                       for f in os.listdir(tpath)):
                # schema'd like every engine sink (doclens' types): no
                # footer-inference job before the collect
                tombs = (self._spark.read.schema("docid long, dl long")
                         .parquet(tpath).toPandas())
            self._tomb_key, self._tombs = key, tombs
        return self._tombs


def _readers(spark: SparkSession, index_dir: str) -> _IndexReaders:
    """The session's :class:`_IndexReaders` for ``index_dir``, rebuilt
    when stats.json has a new commit key (validated by load_stats). The
    map lives on the session object, so it dies with the session; a
    WeakKeyDictionary would not let it die, because every DataFrame
    holds its session."""
    key = _commit_key(IndexPaths(index_dir).stats)
    cache = spark.__dict__.setdefault("_aarhus_index_readers", {})
    r = cache.get(index_dir)
    if key is None or r is None or r.key != key:
        load_stats(index_dir)
        r = cache[index_dir] = _IndexReaders(spark, index_dir, key)
    return r


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: ``\\`` and ``'`` are
    backslash-escaped, as Spark's default parser expects."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_in(col: str, values) -> str:
    """``col IN (v, …)`` as SQL text, for ``DataFrame.filter`` or
    ``F.expr``: one parse, one py4j call. ``Column.isin`` makes a py4j
    round trip per literal (hundreds per search call); the parsed form
    is the same ``In`` predicate and reaches the parquet scan as the
    same PushedFilters. Strings are quoted by :func:`_sql_str`; integers
    carry the ``L`` (bigint) suffix. No values: ``false``."""
    lits = [f"{int(v)}L" if isinstance(v, (int, np.integer)) else _sql_str(str(v))
            for v in values]
    return f"{col} IN ({', '.join(lits)})" if lits else "false"


def _as_dirs(index_dir) -> list[str]:
    return [index_dir] if isinstance(index_dir, str) else list(index_dir)


def load_tombstones(spark: SparkSession, dirs) -> tuple[np.ndarray, int]:
    """Dead (tombstoned) docids over an index chain, with their Σdl.

    A delta built with ``on_recrawl='tombstone'`` (operators/
    incremental.py) writes a ``tombstones/`` parquet into its dir:
    one (docid, dl, url) row per base document superseded by a
    re-crawl. Query time must (a) never return a dead docid, and
    (b) score with corpus stats AS IF the dead docs were gone —
    N_eff, avgdl_eff in :func:`_chain`; per-term df correction in
    :func:`_global_df_map` (the monolithic-rebuild equivalence the
    harness verifies depends on all three).

    Returns (sorted dead docid array, Σdl of dead docs). Collected to
    the driver (once per ``tombstones/`` commit, see
    :class:`_IndexReaders`): tombstones are bounded by re-crawls per
    delta between compactions — the same cardinality class as the
    query-term lists the scorers already broadcast. Compaction purges
    them; the bound is ENFORCED (config.TOMBSTONE_BUDGET): past it this
    raises instead of silently bloating every scorer closure and
    broadcast.

    Defense in depth: docids are DEDUPLICATED across the chain before
    the Σdl — a duplicate tombstone row (e.g. from a buggy writer)
    would otherwise corrupt N_eff/avgdl_eff and feed a non-unique
    array into the assume_unique np.isin calls downstream.
    """
    from ..config import TOMBSTONE_BUDGET
    frames = [t for t in (_readers(spark, d).tombstones() for d in _as_dirs(dirs))
              if t is not None]
    if not frames:
        return np.empty(0, dtype=np.int64), 0
    pdf = pd.concat(frames, ignore_index=True).drop_duplicates("docid")
    if len(pdf) > TOMBSTONE_BUDGET:
        raise ValueError(
            f"index chain carries {len(pdf)} tombstoned docids, past the "
            f"enforced budget of {TOMBSTONE_BUDGET} (config.TOMBSTONE_BUDGET / "
            f"$AARHUS_TOMBSTONE_BUDGET). The dead-docid set rides in every "
            f"scorer closure and broadcast — compact the chain "
            f"(operators.compact.compact_indexes purges tombstones "
            f"physically) before querying it further.")
    dead = np.sort(pdf["docid"].to_numpy(np.int64))
    return dead, int(pdf["dl"].sum())


class _Chain(NamedTuple):
    """An index chain (base + deltas) as every scored op reads it, once
    per call (:func:`_chain`): its ``dirs``; the LIVE corpus stats a
    monolithic rebuild without the tombstoned docs would score with,
    ``n_docs`` = N_eff = ΣN − |dead| and ``avgdl`` = avgdl_eff =
    (Σdl − Σdl_dead)/N_eff; ``dead``, the sorted tombstoned docids
    (:func:`load_tombstones`); and ``domain``, the inclusive docid
    range (lo, hi), (0, -1) when empty.

    Each dir's stored block bounds were computed with its own BUILD
    avgdl (``src_avgdl`` on every candidate row); scorers rescale them
    by max(1, avgdl/src_avgdl), which stays a safe upper bound because
    BM25's partial is increasing in avgdl (proof in
    operators/incremental.py)."""
    dirs: list[str]
    n_docs: int
    avgdl: float
    dead: np.ndarray
    domain: tuple[int, int]


def _chain(spark: SparkSession, index_dir) -> _Chain:
    """THE read of an index chain (one dir or a list) for a scored op:
    stats.json per dir (:func:`load_stats`) and the tombstones.

    The domain comes from each dir's persisted build_config
    (docid_offset + N): docids are dense in [offset, offset + N) per
    dir by construction (dense url-rank + offset, build.py), so it is
    exact, and unlike [0, ΣN) it stays correct for a delta index
    queried on its own, whose docids all sit at offset ≥ N_base. On a
    dense chain its size is ΣN, the raw count the fan-out is sized
    from (:func:`_per_query`)."""
    dirs = _as_dirs(index_dir)
    n_docs, sumdl, lo, hi = 0, 0.0, None, None
    for d in dirs:
        st = load_stats(d)
        n = int(st["N"])
        n_docs += n
        sumdl += float(st["avgdl"]) * n
        if n:
            off = int(st.get("build_config", {}).get("docid_offset", 0))
            lo = off if lo is None else min(lo, off)
            hi = off + n - 1 if hi is None else max(hi, off + n - 1)
    avgdl = sumdl / n_docs if n_docs else 0.0
    dead, dl_dead = load_tombstones(spark, dirs)
    if dead.size:
        sumdl = avgdl * n_docs - dl_dead
        n_docs -= int(dead.size)
        avgdl = sumdl / n_docs if n_docs else 0.0
    return _Chain(dirs, n_docs, avgdl, dead,
                  (0, -1) if lo is None else (lo, hi))


def _drop_dead(spark: SparkSession, df: DataFrame, dead: np.ndarray,
               col: str = "docid") -> DataFrame:
    """``df`` without the rows whose ``col`` is a dead docid: THE
    tombstone filter on a frame, one broadcast left-anti join (``df``
    itself when nothing is dead). A join, not an In-literal, so the
    plan and the task closure stay flat in the dead set; the set
    reaches the JVM as one Arrow column, not a Python list of tuples,
    whose row-by-row serialization is needlessly slow near
    config.TOMBSTONE_BUDGET."""
    if not dead.size:
        return df
    dead_df = spark.createDataFrame(pd.DataFrame({col: dead.astype(np.int64)}))
    return df.join(F.broadcast(dead_df), col, "left_anti")


# ---------------------------------------------------------------------------
# Query argument checks and the proximity min-cover window
# ---------------------------------------------------------------------------

def _check_bool_args(require_all: bool, min_should_match: int | None,
                     has_must: bool = False) -> None:
    if require_all and min_should_match is not None:
        raise ValueError("require_all (bool.must over every term) and "
                         "min_should_match are mutually exclusive — must is "
                         "minimum_should_match = |analyzed terms|")
    if require_all and has_must:
        raise ValueError("require_all and a must_qtext column are mutually "
                         "exclusive — require_all already makes every qtext "
                         "term a must clause; put required terms in must_qtext "
                         "and optional ones in qtext instead")
    if min_should_match is not None and min_should_match < 1:
        raise ValueError(f"min_should_match must be >= 1, got {min_should_match}")


def _check_score_mode(score_mode: str) -> None:
    if score_mode not in ("bm25", "proximity"):
        raise ValueError(f"score_mode must be 'bm25' or 'proximity', "
                         f"got {score_mode!r}")


def _min_window_flat(pos: np.ndarray, labels: np.ndarray) -> int:
    """Width (max − min) of the smallest position window containing at
    least one position of EVERY distinct label — the classic k-sorted-
    lists minimum-cover, two-pointer over the position-sorted stream.
    0 when only one distinct label is present. Both proximity paths
    (WAND per-candidate, TAAT per-row UDF) funnel here, so the integer
    width — and therefore the adjusted score — is trivially identical."""
    uniq = np.unique(labels)
    if uniq.size <= 1:
        return 0
    order = np.argsort(pos, kind="stable")
    p = pos[order]
    t = np.searchsorted(uniq, labels[order])   # labels -> dense 0..m-1
    need = uniq.size
    count = np.zeros(need, dtype=np.int64)
    have = 0
    best = np.iinfo(np.int64).max
    lo = 0
    for hi in range(p.size):
        c = t[hi]
        count[c] += 1
        if count[c] == 1:
            have += 1
        while have == need:
            w = int(p[hi]) - int(p[lo])
            if w < best:
                best = w
            c2 = t[lo]
            count[c2] -= 1
            if count[c2] == 0:
                have -= 1
            lo += 1
    return best


def _min_window(pos_lists: list[np.ndarray]) -> int:
    """Min-cover width over per-term position lists (one list per
    distinct matched term)."""
    if len(pos_lists) <= 1:
        return 0
    pos = np.concatenate(pos_lists)
    labels = np.concatenate([np.full(a.size, i, dtype=np.int64)
                             for i, a in enumerate(pos_lists)])
    return _min_window_flat(pos, labels)


@F.pandas_udf(LongType())
def _width_of_entries(cs: pd.Series) -> pd.Series:
    """Per-row min-cover width over the collected (term, contrib, pos)
    struct array of search_taat's proximity mode — one position list
    per matched positive term (terms are unique per (query, doc))."""
    out = np.zeros(len(cs), dtype=np.int64)
    for i, entries in enumerate(cs):
        out[i] = _min_window([np.asarray(e["pos"], dtype=np.int64)
                              for e in entries])
    return pd.Series(out)


# ---------------------------------------------------------------------------
# Q3: candidate segment rows with term pushdown
# ---------------------------------------------------------------------------

def candidate_segments(spark: SparkSession, index_dir, terms: list[str]) -> DataFrame:
    """Parquet scan of segment rows restricted to the query terms — the
    ``isin`` predicate reaches the scan (PushedFilters) and skips row
    groups via min/max + dictionary stats. Accepts one dir or a list
    (base + delta indexes); each row carries its dir's build avgdl so
    scorers can rescale block bounds.

    The segment store is LAYERED (build.py merge stage): head/oversized
    terms live merged+chunked in ``segments/``; tail terms are served
    directly from their single fragment row in ``fragments/``. Each
    layer's projection is cached per commit (:class:`_IndexReaders`);
    a call adds one parsed filter per layer."""
    term_in = _sql_in("term", terms)
    # fragment rows are written in xxhash64(term) order (the shuffle
    # sort key), so row-group min/max stats are tight on thash, NOT on
    # term — push the equivalent hash predicate (driver-side
    # hashing.xxhash64 ≡ Spark's xxhash64, pinned by test) so tail
    # lookups still skip row groups; the exact term filter stays for
    # hash-collision correctness
    tail_in = f"{_sql_in('thash', [spark_xxhash64(t) for t in terms])} AND {term_in}"
    parts = []
    for d in _as_dirs(index_dir):
        readers = _readers(spark, d)
        if readers.head is not None:
            parts.append(readers.head.filter(term_in))
        if readers.tail is not None:
            parts.append(readers.tail.filter(tail_in))
    if not parts:      # every layer recorded absent (empty indexes)
        from .build import SEGMENT_SCHEMA
        return (spark.createDataFrame([], SEGMENT_SCHEMA)
                .withColumn("src_avgdl", F.lit(0.0)))
    return functools.reduce(DataFrame.unionByName, parts)


def _dictionaries(spark: SparkSession, index_dir) -> list[DataFrame]:
    """Each chain dir's (term, df) dictionary reader; a term has one
    row per dir it occurs in."""
    return [_readers(spark, d).dictionary.select("term", "df")
            for d in _as_dirs(index_dir)]


def chain_dictionary(spark: SparkSession, index_dir) -> DataFrame:
    """A chain's (term, df): df summed over the dirs' dictionaries. A
    single dir's reader is returned as is — its terms are unique, so
    no aggregation runs. The stored df, not tombstone-corrected (see
    :func:`_global_df_map` for that)."""
    dicts = _dictionaries(spark, index_dir)
    if len(dicts) == 1:
        return dicts[0]
    return (functools.reduce(DataFrame.unionByName, dicts)
            .groupBy("term").agg(F.sum("df").alias("df")))


def _global_df_map(spark: SparkSession, chain: _Chain, terms: list[str],
                   seg: DataFrame | None = None) -> dict[str, int]:
    """Global df per candidate term = Σ df over the chain's per-dir
    dictionaries (tiny: ≤ |dirs|·|query terms| rows, collected and
    summed in-process). ONE ``collect`` over the union of the dirs'
    dictionary readers, each with a pushed ``term IN`` filter, instead
    of aggregating the segment rows — the segments are then scanned
    exactly once, by the scorer. Without ``seg`` this is the STORED df.

    With ``seg`` (the terms' candidate rows) on a chain with dead
    docids: df must count LIVE postings only — a monolithic rebuild
    would never have indexed the superseded doc. The dictionaries can't
    know which docs died after their build, so the correction is
    computed at query time from the candidate rows themselves: one
    extra distributed pass that decodes ONLY blocks whose docid span
    intersects the dead set (searchsorted skip — on a mostly-live index
    nearly every block is skipped undecoded) and counts dead members
    per term. Bounded by the query terms' postings, like the scorer
    scan itself."""
    term_in = _sql_in("term", terms)
    dicts = [d.filter(term_in) for d in _dictionaries(spark, chain.dirs)]
    out: dict[str, int] = {}
    for r in functools.reduce(DataFrame.union, dicts).collect():
        out[r["term"]] = out.get(r["term"], 0) + int(r["df"])
    if chain.dead.size and seg is not None and out:
        dead_arr = chain.dead  # closure capture (sorted)

        def count_dead(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for term, first, payload, blks in zip(
                        pdf["term"], pdf["first_docid"], pdf["postings"], pdf["blocks"]):
                    offs = _offsets(blks)
                    c, prev_last = 0, int(first) - 1
                    for bi, b in enumerate(blks):
                        last = int(b["last_docid"])
                        lo = np.searchsorted(dead_arr, prev_last + 1, side="left")
                        hi = np.searchsorted(dead_arr, last, side="right")
                        if hi > lo:  # some dead docid falls in this block's span
                            d_ids = decode_blocks(payload, offs, bi, bi + 1)[0]
                            c += int(np.isin(d_ids, dead_arr[lo:hi],
                                             assume_unique=True).sum())
                        prev_last = last
                    if c:
                        rows.append((term, c))
                if rows:
                    yield pd.DataFrame(rows, columns=["term", "dead_n"])

        dc = (seg.select("term", "first_docid", "blocks", "postings")
              .mapInPandas(count_dead, schema="term string, dead_n long")
              .groupBy("term").agg(F.sum("dead_n").alias("dead_n")).collect())
        for r in dc:
            out[r["term"]] = out[r["term"]] - int(r["dead_n"])
    return out


QTERMS_SCHEMA = "query_id long, term string"


class _QueryAnalysis:
    """Driver-side analysis of the (human-scale) query table.

    Query lists are driver-known, human-scale inputs (the same
    cardinality class every scorer already closure-captures), so the
    query columns are read with ONE bounded ``collect``
    (:func:`read_query_rows`) — job-free over a LocalRelation
    (:func:`local_df`), unlike an Arrow ``toPandas`` — and analyzed
    in-process by the identical frozen tokenizer
    (``textops.tokenize_series``), into per-clause (query_id, term)
    pandas frames. The build's tokenizer runs over the same strings,
    so query and index terms agree by construction. The dispatcher —
    top-k retrieval and every ES match set alike — takes the pairs as
    Python rows (:meth:`kinds_pdf`); only the reference path
    ``search_taat`` joins them as frames (:meth:`qterms_df`,
    :meth:`kinds_df`: LocalRelations, each broadcast a Spark job).
    """

    def __init__(self, spark: SparkSession, queries: DataFrame):
        self._spark = spark
        cols = [c for c in ("query_id", "qtext", "neg_qtext", "must_qtext")
                if c in queries.columns]
        qp = pd.DataFrame(read_query_rows(queries, *cols), columns=cols)
        self.qterms_pdf = self._explode(qp, "qtext")
        self.neg_pdf = (self._explode(qp, "neg_qtext")
                        if "neg_qtext" in qp.columns else None)
        self.must_pdf = (self._explode(qp, "must_qtext")
                         if "must_qtext" in qp.columns else None)
        # "column present but all null" degrades to "no clause", exactly
        # like the DataFrame path's empty-collect checks
        if self.neg_pdf is not None and not len(self.neg_pdf):
            self.neg_pdf = None
        if self.must_pdf is not None and not len(self.must_pdf):
            self.must_pdf = None
        self.terms = sorted(self.qterms_pdf["term"].unique())
        self.neg_terms = (sorted(self.neg_pdf["term"].unique())
                          if self.neg_pdf is not None else [])
        self.must_terms = (sorted(self.must_pdf["term"].unique())
                           if self.must_pdf is not None else [])

    @staticmethod
    def _explode(qp: pd.DataFrame, col: str) -> pd.DataFrame:
        """Distinct (query_id, term) of one text column (tokenize →
        explode → dropna → drop_duplicates)."""
        pdf = qp.dropna(subset=[col])
        if not len(pdf):
            return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                                 "term": pd.Series([], dtype="object")})
        ex = pd.DataFrame({"query_id": pdf["query_id"].astype("int64"),
                           "term": tokenize_series(pdf[col])})
        return (ex.explode("term").dropna(subset=["term"])
                .drop_duplicates().reset_index(drop=True))

    @property
    def all_terms(self) -> list[str]:
        return sorted(set(self.terms) | set(self.neg_terms)
                      | set(self.must_terms))

    def qterms_df(self) -> DataFrame:
        return self._spark.createDataFrame(self.qterms_pdf, QTERMS_SCHEMA)

    def kinds_pdf(self) -> pd.DataFrame:
        """Should/must/must_not (query_id, term) pairs with a ``kind``
        flag (0/1/2), max-deduped per (query, term) — a term in both
        should and must counts once as must; an excluded term keeps
        only the exclusion; plain qterms (no ``kind``) when no bool
        clause exists."""
        if self.neg_pdf is None and self.must_pdf is None:
            return self.qterms_pdf
        frames = [self.qterms_pdf.assign(kind=0)]
        if self.must_pdf is not None:
            frames.append(self.must_pdf.assign(kind=1))
        if self.neg_pdf is not None:
            frames.append(self.neg_pdf.assign(kind=2))
        allp = pd.concat(frames, ignore_index=True)
        return allp.groupby(["query_id", "term"], as_index=False)["kind"].max()

    def kinds_df(self) -> DataFrame:
        """:meth:`kinds_pdf` as a LocalTableScan."""
        kinds = self.kinds_pdf()
        return self._spark.createDataFrame(
            kinds, QTERMS_SCHEMA + (", kind int" if "kind" in kinds else ""))

    def qn_df(self) -> DataFrame:
        """|distinct analyzed terms| per query (the require_all target)."""
        qn = (self.qterms_pdf.groupby("query_id", as_index=False)
              .size().rename(columns={"size": "qn"}))
        return self._spark.createDataFrame(qn, "query_id long, qn long")

    def qn_map(self) -> dict[int, int]:
        return {int(q): int(n) for q, n in
                self.qterms_pdf.groupby("query_id").size().items()}

    def must_qn_df(self) -> DataFrame:
        qn = (self.must_pdf.groupby("query_id", as_index=False)
              .size().rename(columns={"size": "qn_must"}))
        return self._spark.createDataFrame(qn, "query_id long, qn_must long")

    def must_term_map(self) -> dict[int, set] | None:
        if self.must_pdf is None:
            return None
        out: dict[int, set] = {}
        for q, t in zip(self.must_pdf["query_id"], self.must_pdf["term"]):
            out.setdefault(int(q), set()).add(t)
        return out


def _stored_df(term: str, row_df) -> float:
    return float(row_df)


def _df_of(spark: SparkSession, chain: _Chain, terms: list[str],
           seg: DataFrame):
    """THE df a scorer of the candidate rows ``seg`` reads, as
    ``df_of(term, row_df) → float`` (``row_df``: a row's stored ``df``).
    On a single plain dir the stored df IS the global df — head chunks
    carry the merger's df_total, tail rows df = n — so the row's value
    serves and no dictionary job runs. On a multi-dir chain (per-dir
    rows carry per-dir df) or with dead docids (df must count live
    postings) it is the :func:`_global_df_map` value."""
    if len(chain.dirs) == 1 and not chain.dead.size:
        return _stored_df
    dfm = _global_df_map(spark, chain, terms, seg)
    return lambda term, _row_df: float(dfm[term])


def _score_key(round_to: int | None = None) -> Column:
    """The hit sort key: the score, or round(score, round_to) — the
    cross-engine key, so an FP summation-order difference can never
    flip a rank."""
    return F.col("score") if round_to is None else F.round("score", round_to)


def _hit_order(key: Column | str = "score") -> list[Column]:
    """THE hit order of every ranked result: ``key`` desc, docid asc."""
    return [F.desc(key), F.asc("docid")]


def _top_hits(df: DataFrame, k: int | None,
              round_to: int | None = None) -> DataFrame:
    """(query_id, rank, docid, score) of ``df`` in hit order, ``rank``
    an int row number per query, cut at ``k`` (None keeps all).
    ``round_to`` ranks on :func:`_score_key` and keeps the raw score."""
    w = Window.partitionBy("query_id").orderBy(*_hit_order(_score_key(round_to)))
    ranked = df.withColumn("rank", F.row_number().over(w))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "rank", "docid", "score")


# ---------------------------------------------------------------------------
# Q4: distributed TAAT scoring with exact fold order
# ---------------------------------------------------------------------------

def search_taat(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    require_all: bool = False,
    min_should_match: int | None = None,
    score_mode: str = "bm25",
) -> DataFrame:
    """Distributed top-k. Returns (query_id, rank, docid, score).

    The reference path (Q1→Q4): every posting decodes into a JVM row,
    joins the broadcast query terms and folds with ``collect_list`` in
    sorted-term order. Production retrieval and the ES match sets run
    :func:`search_topk`, which tests pin bit-identical to this fold.
    Each option below is one more column or predicate on that single
    aggregation: none adds a shuffle or a second decode.

    ``score_mode="proximity"``: multiply each doc's BM25 sum by
    1/(1 + min_window_width) over the positions of its matched
    positive terms (contract in :func:`_wand_one_query`); the decode
    carries each posting's positions into the folded structs.

    ``require_all=True`` (ES ``bool.must``): a document scores only if
    it matches EVERY analyzed query term, out-of-vocabulary ones
    included, which therefore empty the result (ES's behavior for a
    must-clause on a missing term).

    ``min_should_match=m`` (ES ``minimum_should_match``): a document
    scores only if it matches at least m distinct analyzed terms; the
    score sums over the terms it DOES match. A query with fewer
    in-vocabulary terms than m empties (an OOV should-clause never
    matches).

    ``bool.must_not``: a nullable ``neg_qtext`` column, analyzed with
    the same tokenizer; a document matching ANY excluded term is
    dropped and excluded terms score nothing (ES non-scoring
    must_not). Excluded-term postings ride the decoded stream, flagged
    by ``kind``.

    ``bool.must`` + should: a nullable ``must_qtext`` column holds
    per-query REQUIRED terms — a doc scores only if it matches every
    analyzed must term (OOV must terms empty the query); ``qtext``
    then carries the optional should clauses, gated by
    ``min_should_match`` (default 0 with a must clause present — the
    ES default). Scores sum over every matched positive term once, in
    sorted-term order (a term in both clauses counts as must)."""
    chain = _chain(spark, index_dir)
    n_docs, avgdl = chain.n_docs, chain.avgdl
    _check_score_mode(score_mode)
    prox = score_mode == "proximity"
    qa = _QueryAnalysis(spark, queries)
    terms, neg_terms, must_terms = qa.terms, qa.neg_terms, qa.must_terms
    has_must = qa.must_pdf is not None
    _check_bool_args(require_all, min_should_match, has_must=has_must)
    if not terms and not must_terms:
        return spark.createDataFrame([], schema=RESULT_SCHEMA)
    has_neg = bool(neg_terms)
    all_terms = qa.all_terms
    seg = candidate_segments(spark, chain.dirs, all_terms)
    df_of = _df_of(spark, chain, all_terms, seg)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..scoring import partial as _partial
        for pdf in batches:
            # few rows per batch (one per (term, chunk)); plain column
            # zip — no pandas row materialization
            for term, row_df, payload, blks in zip(
                    pdf["term"], pdf["df"], pdf["postings"], pdf["blocks"]):
                # proximity mode also carries each posting's position
                # list through the aggregation
                docids, tfs, dls, _, pos = decode_blocks(
                    payload, _offsets(blks), positions=prox)
                if not docids.size:
                    continue
                w = _idf(df_of(term, row_df), n_docs)
                # exact: partial recomputed from (tf, dl) with the
                # COMBINED avgdl — stored block bounds are not used here
                contrib = w * _partial(tfs, dls, avgdl)
                if prox:
                    yield pd.DataFrame({
                        "term": term, "docid": docids, "contrib": contrib,
                        "pos": np.split(pos, np.cumsum(tfs)[:-1])})
                else:
                    yield pd.DataFrame({"term": term, "docid": docids,
                                        "contrib": contrib})

    dec_schema = ("term string, docid long, contrib double, pos array<long>"
                  if prox else "term string, docid long, contrib double")
    decoded = _drop_dead(spark, seg.select("term", "df", "blocks", "postings")
                         .mapInPandas(decode, schema=dec_schema), chain.dead)

    # proximity mode rides the SAME aggregation: the struct gains the
    # pos array as a trailing field (sort_array still orders by the
    # unique term prefix, so the fold order is unchanged)
    entry = (F.struct("term", "contrib", "pos") if prox
             else F.struct("term", "contrib"))
    if not has_neg and not has_must:
        scored = (
            decoded.join(F.broadcast(qa.qterms_df()), "term")
            .groupBy("query_id", "docid")
            .agg(F.sort_array(F.collect_list(entry)).alias("cs"))
            .withColumn("score", F.aggregate(
                "cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]))
        )
        if require_all:
            # |matched terms| per (query, doc) vs |analyzed terms| per query
            scored = (scored.join(F.broadcast(qa.qn_df()), "query_id")
                      .filter(F.size("cs") == F.col("qn")).drop("qn"))
        elif min_should_match is not None:
            scored = scored.filter(F.size("cs") >= F.lit(min_should_match))
    else:
        # bool clauses in the SAME aggregation: the decoded stream joins
        # the kind-flagged union of should/must/must_not query terms
        # (0/1/2, max-deduped per (query, term) — _QueryAnalysis.kinds_df);
        # collect_list skips the nulled must_not structs, so the fold
        # order over positive terms is unchanged; clause-split counts
        # are conditional sums over the same rows — zero extra shuffles
        qterms_all = qa.kinds_df()
        scored = (
            decoded.join(F.broadcast(qterms_all), "term")
            .groupBy("query_id", "docid")
            .agg(F.sort_array(F.collect_list(
                    F.when(F.col("kind") < 2, entry)
                 )).alias("cs"),
                 F.sum(F.when(F.col("kind") == 1, 1).otherwise(0)).alias("must_cnt"),
                 F.max(F.col("kind") == 2).alias("neg_hit"))
            .filter(~F.col("neg_hit") & (F.size("cs") > 0)).drop("neg_hit")
            .withColumn("score", F.aggregate(
                "cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]))
        )
        if require_all:     # has_must is False here (_check_bool_args)
            scored = (scored.join(F.broadcast(qa.qn_df()), "query_id")
                      .filter(F.size("cs") == F.col("qn")).drop("qn"))
        else:
            if has_must:
                # every analyzed must term (OOV included) has to match
                scored = (scored.join(F.broadcast(qa.must_qn_df()),
                                      "query_id", "left")
                          .filter(F.col("must_cnt")
                                  == F.coalesce("qn_must", F.lit(0)))
                          .drop("qn_must"))
            if min_should_match is not None:
                scored = scored.filter(
                    F.size("cs") - F.col("must_cnt") >= F.lit(min_should_match))
        scored = scored.drop("must_cnt")
    if prox:
        # same double expression as the WAND kernel: s * (1.0/(1.0+w))
        scored = scored.withColumn(
            "score",
            F.col("score") * (F.lit(1.0) /
                              (F.lit(1.0) +
                               _width_of_entries(F.col("cs")).cast("double"))))
    return _top_hits(scored.drop("cs"), k)


# ---------------------------------------------------------------------------
# Q5: block-max WAND (per-query, interval-at-a-time, exact)
# ---------------------------------------------------------------------------

def _empty_result() -> pd.DataFrame:
    return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                         "rank": pd.Series([], dtype="int32"),
                         "docid": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float64")})


def _offsets(blks) -> np.ndarray:
    """A row's block byte offsets, the block index every decode takes."""
    return np.fromiter((b["offset"] for b in blks), np.int64, len(blks))


def _block_table(g: pd.DataFrame, n_docs: int, avgdl: float,
                 df_of, ti0: int = 0
                 ) -> tuple[list[str], list[float], list[tuple]]:
    """Sorted terms, their idfs, and the block-max table of one index's
    term rows: one ``(start, end, ub, ti, payload, offsets, bi)`` tuple
    per posting block (``offsets`` = its row's block offsets, ``bi`` its
    index there), ``ti`` = ti0 + the term's sorted position
    (the frozen summation order §1.3.4). Chunks of the same term behave
    as extra blocks; a term's df is ``df_of`` (:func:`_df_of`) of its
    first row.

    Rows from a delta/base mix are ordered by (first_docid, chunk) —
    src docid ranges are disjoint across dirs by construction
    (docid_offset). Block bounds stored at build time used that dir's
    avgdl; rescale by max(1, avgdl/src_avgdl) — a proven-safe upper
    bound (see :class:`_Chain`). Each row's first block starts at the
    row's TRUE first_docid (stored since format v3), so a block never
    covers intervals before its first posting."""
    # plain column zip — no pandas row materialization (an iterrows
    # here costs one Python Series build per (term, chunk) row)
    src_it = g["src_avgdl"] if "src_avgdl" in g.columns else [None] * len(g)
    term_rows: dict[str, list[tuple]] = {}
    for row in zip(g["term"], g["chunk"], g["first_docid"], g["df"],
                   g["blocks"], g["postings"], src_it):
        term_rows.setdefault(row[0], []).append(row)
    terms = sorted(term_rows)
    idfs: list[float] = []
    blocks: list[tuple] = []
    for ti, t in enumerate(terms, ti0):
        rows = sorted(term_rows[t], key=lambda r: (int(r[2]), int(r[1])))
        idf = _idf(df_of(t, rows[0][3]), n_docs)
        idfs.append(idf)
        for (_t, _chunk, first_docid, _df, blks, payload, src_avgdl) in rows:
            offs = _offsets(blks)
            scale = max(1.0, avgdl / float(src_avgdl)) if src_avgdl is not None else 1.0
            prev_last = int(first_docid) - 1
            for bi, b in enumerate(blks):
                blocks.append((prev_last + 1, int(b["last_docid"]),
                               idf * float(b["max_partial"]) * scale,
                               ti, payload, offs, bi))
                prev_last = int(b["last_docid"])
    return terms, idfs, blocks


class _BlockScan:
    """Interval-at-a-time scan over a block table — the machinery both
    block-max WAND kernels share (:func:`_wand_one_query`,
    ``multifield._multi_match_one_query``).

    Blocks wholly outside [range_lo, range_hi] are dropped; the docid
    space is cut into elementary intervals at the surviving block
    ends. ``ubs[grp, iv]`` sums, in block-table order, the bounds of
    the blocks covering interval ``iv`` whose term index maps to bound
    group ``grp`` (``group_of_ti``; a single group when None). Blocks
    decode lazily, at most once, the first time an interval they
    cover is scored; a term's contribution is idf·partial(tf, dl) with
    that term's avgdl (``avgdls[ti]``)."""

    def __init__(self, blocks: list[tuple], range_lo: int, range_hi: int,
                 idfs: list[float], avgdls: list[float],
                 group_of_ti: list[int] | None = None, n_groups: int = 1,
                 prox: bool = False):
        self.blocks = [b for b in blocks
                       if b[1] >= range_lo and b[0] <= range_hi]
        self.range_lo, self.range_hi = range_lo, range_hi
        self.idfs, self.avgdls, self.prox = idfs, avgdls, prox
        self.ends = np.unique(np.array([b[1] for b in self.blocks],
                                       dtype=np.int64))
        self.starts = np.concatenate(([0], self.ends[:-1] + 1))
        n_iv = self.ends.size
        self.ubs = np.zeros((n_groups, n_iv), dtype=np.float64)
        self.cover: list[list[int]] = [[] for _ in range(n_iv)]
        for bi, (s, e, ub, ti, _payload, _offs, _rbi) in enumerate(self.blocks):
            lo = np.searchsorted(self.ends, s, side="left")
            hi = np.searchsorted(self.ends, e, side="left")
            grp = group_of_ti[ti] if group_of_ti is not None and ti >= 0 else 0
            self.ubs[grp, lo:hi + 1] += ub
            for iv in range(lo, hi + 1):
                self.cover[iv].append(bi)
        self.decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.neg: dict[int, np.ndarray] = {}      # must_not block docids
        self.pos: dict[int, tuple] = {}           # prox: (tfs, positions)

    def walk(self, ub: np.ndarray, top: "_TopK") -> Iterator[tuple[int, int, int]]:
        """(interval, lo_docid, hi_docid) in descending-bound order,
        clipped to the docid range; stops once every remaining
        interval's bound is strictly below the k-th score (ties keep
        flowing — exact top-k)."""
        for iv in np.argsort(-ub, kind="stable"):
            if top.full() and ub[iv] < top.theta:
                break
            lo_d = max(int(self.starts[iv]), self.range_lo)
            hi_d = min(int(self.ends[iv]), self.range_hi)
            if lo_d <= hi_d:
                yield iv, lo_d, hi_d

    def gather(self, iv: int, lo_d: int, hi_d: int
               ) -> tuple[list[tuple], list[np.ndarray]]:
        """Per-term ``(docids, contribs, ti, bi, sel)`` for the docs in
        [lo_d, hi_d], in ascending term-index order, and the must_not
        docids there (blocks with ti = -1 contribute no score; they only
        collect exclusion docids)."""
        from ..scoring import partial as _partial

        per_term: list[tuple] = []
        excl: list[np.ndarray] = []
        for bi in sorted(self.cover[iv], key=lambda b: self.blocks[b][3]):
            _s, _e, _ub, ti, payload, offs, rbi = self.blocks[bi]
            if ti < 0:
                if bi not in self.neg:
                    self.neg[bi] = decode_blocks(payload, offs, rbi, rbi + 1)[0]
                dneg = self.neg[bi]
                mneg = (dneg >= lo_d) & (dneg <= hi_d)
                if mneg.any():
                    excl.append(dneg[mneg])
                continue
            if bi not in self.decoded:
                # scoring streams only: in proximity mode positions
                # decode later (positions_of), only for blocks whose
                # docs survive the theta mask
                d, t, l, _, _ = decode_blocks(payload, offs, rbi, rbi + 1)
                self.decoded[bi] = (
                    d, self.idfs[ti] * _partial(t, l, self.avgdls[ti]))
            d, c = self.decoded[bi]
            sel = (d >= lo_d) & (d <= hi_d)
            if sel.any():
                per_term.append((d[sel], c[sel], ti, bi, sel))
        return per_term, excl

    def positions_of(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        """``(tfs, flat positions)`` of block ``bi``, decoded once."""
        if bi not in self.pos:
            _s, _e, _ub, _ti, payload, offs, rbi = self.blocks[bi]
            _, t, _, _, p = decode_blocks(payload, offs, rbi, rbi + 1,
                                          positions=True)
            self.pos[bi] = (t, p)
        return self.pos[bi]


class _TopK:
    """Exact top-k by (score desc, docid asc): a (score, -docid)
    min-heap whose root score is the pruning threshold ``theta``.
    ``k=None`` keeps every match: it never fills, so ``theta`` stays
    -inf and nothing is pruned; the matches collect as arrays, ordered
    once in :meth:`frame`."""

    def __init__(self, k: int | None):
        self.k = k
        self.heap: list[tuple[float, int]] = []
        self.parts: list[tuple[np.ndarray, np.ndarray]] = []
        self.theta = -np.inf

    def full(self) -> bool:
        return self.k is not None and len(self.heap) >= self.k

    def mask(self, docids: np.ndarray, scores: np.ndarray
             ) -> tuple[np.ndarray, np.ndarray]:
        """Numpy-mask before the Python heap loop: once the heap is
        full, a candidate with score < theta can never enter it —
        (sc, -d) < (theta, -d0) whenever sc < theta, regardless of
        docid. Ties (sc == theta) MUST survive: they can still win on
        the docid tiebreak. Keeps the per-interval Python work
        O(survivors), not O(interval size), on flat-score tails."""
        if not self.full():
            return docids, scores
        keep = scores >= self.theta
        if keep.all():
            return docids, scores
        return docids[keep], scores[keep]

    def push(self, docids: np.ndarray, scores: np.ndarray) -> None:
        if self.k is None:
            self.parts.append((docids, scores))
            return
        heap, k = self.heap, self.k
        for d, sc in zip(docids.tolist(), scores.tolist()):
            item = (sc, -d)
            if len(heap) < k:
                heapq.heappush(heap, item)
                if len(heap) == k:
                    self.theta = heap[0][0]
            elif heap and item > heap[0]:
                heapq.heapreplace(heap, item)
                self.theta = heap[0][0]

    def frame(self, qid: int) -> pd.DataFrame:
        parts = self.parts or [(
            np.array([-nd for _, nd in self.heap], dtype=np.int64),
            np.array([sc for sc, _ in self.heap], dtype=np.float64))]
        docids = np.concatenate([d for d, _ in parts])
        scores = np.concatenate([sc for _, sc in parts])
        order = np.lexsort((docids, -scores))
        return pd.DataFrame({
            "query_id": qid,
            "rank": np.arange(1, order.size + 1, dtype=np.int32),
            "docid": docids[order],
            "score": scores[order],
        })


def _wand_one_query(g: pd.DataFrame, n_docs: int, avgdl: float,
                    k: int | None,
                    df_of=_stored_df,
                    range_lo: int = 0, range_hi: int | None = None,
                    min_match: int | None = None,
                    must_terms: frozenset | None = None,
                    n_must: int = 0,
                    dead: np.ndarray | None = None,
                    score_mode: str = "bm25") -> pd.DataFrame:
    """When (range_lo, range_hi) restrict the docid space, only docs in
    that range are scored (blocks outside are never decoded) — the
    chunk-parallel mode of :func:`_per_query`. Exact within the
    range: a doc's full term set is present in any group that contains
    rows overlapping its docid. ``k=None`` scores every match in the
    range: nothing is pruned (:class:`_TopK`).

    ``min_match`` (ES bool semantics on the WAND path): a doc scores
    only if it matches at least ``min_match`` distinct query terms.
    ``bool.must`` (require_all) passes |analyzed terms| — a doc can
    match at most that many, so ``>=`` degenerates to "all of them",
    and an OOV must-term empties the result exactly like ES;
    ``minimum_should_match=m`` passes m directly. Block-max pruning
    stays valid — the disjunctive interval bound is an upper bound for
    any matched subset — and two extra skips apply: intervals covered
    by fewer than ``min_match`` distinct positive terms can't contain
    a match, and the per-doc term count falls out of the contribution
    entries for free (a doc appears in at most one covering block per
    term, so entries per doc = matched distinct terms).

    ``must_terms``/``n_must`` (mixed ES bool, round 6): the query's
    required clause as a term set — a doc scores only if it matches
    ALL ``n_must`` analyzed must terms (n_must counts OOV must terms
    too, so those empty the result); ``min_match`` then applies to the
    SHOULD terms alone (the remaining positive terms; default None =
    optional, exactly ES's minimum_should_match default when a must
    clause is present). Scores still sum over every matched positive
    term in sorted-term fold order. The same two skips split by
    clause: an interval missing a must term, or covering fewer should
    terms than min_match, can't contain a match.

    ``bool.must_not``: rows flagged ``is_neg`` (excluded-term posting
    rows joined into the group by the caller) contribute NO score and
    no interval upper bound; their blocks are decoded LAZILY — only in
    intervals that actually get scored — and every candidate docid they
    contain is masked before the heap, so an excluded doc is never
    returned. Non-scoring exclusion, exactly ES must_not.

    ``dead`` (tombstoned docids, sorted int64): masked out of every
    candidate set before the heap — the re-crawl overwrite path
    (operators/incremental.py) marks superseded base docids dead and
    query time must never return them.

    ``score_mode="proximity"`` (opt-in, round 7 — the bool-path analog
    of search_phrase's proximity mode): each candidate's BM25 sum is
    multiplied by 1/(1 + min_window_width), where min_window_width is
    the width (max − min position) of the smallest window containing
    at least one occurrence of EVERY distinct positive term the doc
    matched — 0 (factor 1.0) for single-term matches. Block-max
    pruning stays exact: the factor is ≤ 1, so every BM25 interval
    upper bound still bounds the adjusted score, and the pre-heap
    theta mask (BM25 ≥ theta) keeps a superset of the docs that can
    enter the heap. Positions decode lazily — only for blocks in
    intervals that actually get scored, only after the theta mask —
    via the same two-pass split the phrase path uses (scoring streams
    first, a block's positions only once a candidate in it survives).
    Bit-identical to search_taat's proximity mode (the width funnels
    through the same _min_window_flat and the adjustment is the same
    double expression s * (1.0/(1.0+w)))."""
    prox = score_mode == "proximity"

    if range_hi is None:
        range_hi = np.iinfo(np.int64).max
    qid = int(g["query_id"].iloc[0])
    gneg = None
    if "kind" in g.columns:
        neg_mask = g["kind"].to_numpy() == 2
        gneg = g[neg_mask]
        g = g[~neg_mask]
        if len(g) == 0:
            # no positive term has postings here — nothing can score
            # (a must_not-only query is not a top-k relevance query)
            return _empty_result()
    terms, idfs, blocks = _block_table(g, n_docs, avgdl, df_of)
    # must-clause term indexes; a must term with NO postings in this
    # group leaves len(must_ti) < n_must and every interval skips —
    # the OOV-must → empty contract falls out for free
    must_ti = ({ti for ti, t in enumerate(terms) if t in must_terms}
               if must_terms is not None else None)
    track_ti = must_ti is not None or min_match is not None

    # must_not blocks ride the same table with term index -1: zero
    # upper-bound contribution (they can only REMOVE candidates), but
    # present in the interval cover so the gather loop can decode them
    # lazily and mask their docids
    if gneg is not None and len(gneg):
        blocks += [(s, e, 0.0, -1, *rest) for s, e, _ub, _ti, *rest
                   in _block_table(gneg, n_docs, avgdl, df_of)[2]]

    scan = _BlockScan(blocks, range_lo, range_hi, idfs,
                      [avgdl] * len(idfs), prox=prox)
    if not scan.blocks:
        return _empty_result()
    top = _TopK(k)
    for iv, lo_d, hi_d in scan.walk(scan.ubs[0], top):
        if track_ti:
            cov = {scan.blocks[b][3] for b in scan.cover[iv]} - {-1}
            if must_ti is not None:
                # every must term has to cover the interval; should
                # coverage has to reach the should minimum
                if len(cov & must_ti) < n_must:
                    continue
                if min_match is not None and len(cov - must_ti) < min_match:
                    continue
            elif min_match is not None and len(cov) < min_match:
                continue  # fewer positive terms cover the interval than must match
        # contributions per term in sorted-term order; must_not blocks
        # only collect exclusion docids
        per_term, excl = scan.gather(iv, lo_d, hi_d)
        if not per_term:
            continue
        alld = np.concatenate([p[0] for p in per_term])
        allc = np.concatenate([p[1] for p in per_term])
        uniq, inv = np.unique(alld, return_inverse=True)
        scores = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(scores, inv, allc)  # adds in array order = sorted term order
        if must_ti is not None:
            # entries per doc per term ≤ 1, so clause-split bincounts
            # over the entry term-indexes count matched distinct terms
            allti = np.concatenate([np.full(p[0].size, p[2], dtype=np.int64)
                                    for p in per_term])
            mmask = np.isin(allti, np.fromiter(must_ti, dtype=np.int64,
                                               count=len(must_ti)))
            keep = np.bincount(inv[mmask], minlength=uniq.size) == n_must
            if min_match is not None:
                keep &= (np.bincount(inv[~mmask], minlength=uniq.size)
                         >= min_match)
            uniq, scores = uniq[keep], scores[keep]
            if uniq.size == 0:
                continue
        elif min_match is not None:
            # entries per doc = matched distinct terms (≤1 block/term/doc)
            keep = np.bincount(inv, minlength=uniq.size) >= min_match
            uniq, scores = uniq[keep], scores[keep]
            if uniq.size == 0:
                continue
        if excl:
            keep = ~np.isin(uniq, np.concatenate(excl))
            uniq, scores = uniq[keep], scores[keep]
            if uniq.size == 0:
                continue
        if dead is not None and dead.size:
            keep = ~np.isin(uniq, dead)
            if not keep.all():
                uniq, scores = uniq[keep], scores[keep]
                if uniq.size == 0:
                    continue
        # in proximity mode `scores` here are still the raw BM25 sums —
        # upper bounds of the adjusted scores (factor ≤ 1), so the
        # theta mask keeps a superset and pruning stays exact
        uniq, scores = top.mask(uniq, scores)
        if prox and uniq.size:
            # positions ONLY for theta-surviving candidates: decode a
            # block's positions at most once (scan.positions_of), slice
            # the interval's docs (sel), then the candidates' runs
            didx_l: list[np.ndarray] = []
            pos_l: list[np.ndarray] = []
            lab_l: list[np.ndarray] = []
            for (dsel, _c, ti2, bi2, sel2) in per_term:
                m = np.isin(dsel, uniq, assume_unique=True)
                if not m.any():
                    continue
                tf_full, pos_full = scan.positions_of(bi2)
                pos_sel = pos_full[np.repeat(sel2, tf_full)]
                tf_sel = tf_full[sel2]
                idx = np.searchsorted(uniq, dsel[m])
                didx_l.append(np.repeat(idx, tf_sel[m]))
                pos_l.append(pos_sel[np.repeat(m, tf_sel)])
                lab_l.append(np.full(int(tf_sel[m].sum()), ti2,
                                     dtype=np.int64))
            didx = np.concatenate(didx_l)
            posf = np.concatenate(pos_l).astype(np.int64)
            labf = np.concatenate(lab_l)
            order_d = np.argsort(didx, kind="stable")
            didx, posf, labf = didx[order_d], posf[order_d], labf[order_d]
            bounds = np.searchsorted(didx, np.arange(uniq.size + 1))
            widths = np.zeros(uniq.size, dtype=np.int64)
            for i in range(uniq.size):
                lo2, hi2 = int(bounds[i]), int(bounds[i + 1])
                if hi2 > lo2:
                    widths[i] = _min_window_flat(posf[lo2:hi2],
                                                 labf[lo2:hi2])
            scores = scores * (1.0 / (1.0 + widths.astype(np.float64)))
        top.push(uniq, scores)
    return top.frame(qid)


def search_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int | None = TOP_K,
    n_ranges: int | None = None,
    require_all: bool = False,
    min_should_match: int | None = None,
    score_mode: str = "bm25",
) -> DataFrame:
    """THE default query path: per-query exact top-k with block-max
    pruning (:func:`_wand_one_query`), dispatched by
    :func:`_per_query`. ``k=None`` returns every match, unranked, as
    (query_id, docid, score) — the ES match set. ``n_ranges`` defaults to
    the dispatcher's sizing (:func:`_per_query`): one range → one
    applyInPandas group per query (small index fast path, no merge
    stage; the gathered rows are per-term encoded bytes, tiny relative
    to the corpus); more → chunk-parallel WAND over fixed docid ranges
    (no task ever holds a full head posting list).
    ``require_all=True`` = conjunctive bool.must with mandatory-term
    interval skipping — the scale path for conjunctive queries;
    ``min_should_match``, a ``neg_qtext`` column (bool.must_not) and a
    ``must_qtext`` column (mixed bool.must + optional should clauses)
    carry the remaining ES bool semantics — see search_taat; all paths
    are bit-identical to it (asserted in tests).
    ``score_mode="proximity"``: opt-in position-window score weighting
    (contract in :func:`_wand_one_query`)."""
    chain = _chain(spark, index_dir)
    n_docs, avgdl, dead = chain.n_docs, chain.avgdl, chain.dead
    _check_score_mode(score_mode)
    qa = _QueryAnalysis(spark, queries)
    must_by_q = qa.must_term_map()
    _check_bool_args(require_all, min_should_match,
                     has_must=must_by_q is not None)
    if not qa.terms and not qa.must_terms:
        empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
        return empty if k is not None else empty.drop("rank")
    all_terms = qa.all_terms
    seg = candidate_segments(spark, chain.dirs, all_terms)
    df_of = _df_of(spark, chain, all_terms, seg)
    qn = qa.qn_map() if require_all else None

    def kernel(qid: int, g: pd.DataFrame, lo: int, hi: int | None) -> pd.DataFrame:
        # require_all and must_qtext are exclusive (_check_bool_args)
        mt = (frozenset(must_by_q.get(qid, ())) if must_by_q is not None
              else None)
        mm = qn[qid] if qn is not None else min_should_match
        return _wand_one_query(g, n_docs, avgdl, k, df_of, range_lo=lo,
                               range_hi=hi, min_match=mm, must_terms=mt,
                               n_must=len(mt or ()), dead=dead,
                               score_mode=score_mode)

    hits = _per_query(spark, seg, qa.kinds_pdf().itertuples(index=False, name=None),
                      chain.domain, n_ranges, k, kernel)
    return hits if k is not None else hits.drop("rank")


def search_wand(spark: SparkSession, index_dir: str, queries: DataFrame,
                k: int = TOP_K, require_all: bool = False,
                min_should_match: int | None = None,
                score_mode: str = "bm25") -> DataFrame:
    """:func:`search_topk` with one group per query."""
    return search_topk(spark, index_dir, queries, k=k, n_ranges=1,
                       require_all=require_all,
                       min_should_match=min_should_match,
                       score_mode=score_mode)


def search_wand_ranges(spark: SparkSession, index_dir: str,
                       queries: DataFrame, k: int = TOP_K, n_ranges: int = 8,
                       require_all: bool = False,
                       min_should_match: int | None = None,
                       score_mode: str = "bm25") -> DataFrame:
    """:func:`search_topk` over ``n_ranges`` fixed docid ranges (the
    single-group path when ``n_ranges`` is 1)."""
    return search_topk(spark, index_dir, queries, k=k, n_ranges=n_ranges,
                       require_all=require_all,
                       min_should_match=min_should_match,
                       score_mode=score_mode)


def default_n_ranges(n_docs: int, target_docs_per_range: int = 1 << 22) -> int:
    """Size the chunk-parallel fan-out from corpus stats: ~4M docs per
    range keeps a range's decoded slice of a head posting list (≤ range
    width postings/term) comfortably inside one task's memory at any
    corpus size, capped at 512 groups per query."""
    return max(1, min(512, -(-n_docs // target_docs_per_range)))


def _per_query(spark: SparkSession, seg: DataFrame, qterms: Iterable[tuple],
               domain: tuple[int, int], n_ranges: int | None, k: int | None,
               kernel) -> DataFrame:
    """THE per-query dispatch of every top-k kernel: candidate rows
    ``seg`` fanned out to the queries that hold their term, grouped and
    handed to ``kernel(qid, g, range_lo, range_hi)``, which returns
    that group's RESULT_SCHEMA top-k.

    ``qterms`` are driver-side (query_id, term[, kind]) rows. They
    reach the plan as one ``inline(from_json('<json>', …)[term])``,
    which Catalyst folds into a map literal: no broadcast join, whose
    build was a Spark job (``F.create_map`` with one literal per entry
    measured 10–29% slower). Past ``config.QUERY_ROWS_BUDGET`` pairs
    this raises. The kernel stage runs over ``min(groups,
    defaultParallelism)`` hash partitions of the group key, which AQE
    does not coalesce into one task and the ``groupBy`` reuses.

    ``n_ranges`` None: :func:`default_n_ranges` of the size of
    ``domain``, the chain's inclusive docid range (:class:`_Chain`) —
    the one site that sizes the fan-out, for every op.
    ``n_ranges <= 1``: one applyInPandas group per query, range
    (0, None). Otherwise the domain is cut into ``n_ranges`` fixed
    global ranges, each (query, range) pair is an independent group
    running the kernel restricted to [range_lo, range_hi], and the
    per-range candidates (≤ n_ranges·k per query) merge with the Q6
    window: global rank by (score desc, docid asc). Exact: every doc's
    docid lies in exactly one range, and every term row whose span
    covers that docid joins the range, so a kernel that only scores
    docs inside its range sees each doc's full row set once. For the
    same reason ``k=None`` (a match set) needs no merge: the union of
    the groups' rows is the answer (their ranks are per group).

    Range bounds come from the ACTUAL docid domain (per-dir
    docid_offset + N), not [0, n_docs): a delta index queried alone has
    all docids ≥ its offset, which [0, n_docs) would silently miss
    entirely. A row joins exactly the ranges its TRUE docid span
    [first_docid, __max_docid] intersects (range ids from integer
    division, clamped to the domain's ranges) — both bounds are
    needed: without the low side, a tail term whose postings sit late
    in the docid space is copied into every earlier range's group
    (~n_ranges/2 replication, ×512 at the fan-out cap) and decodes
    nothing there. Exactness never depends on this pruning, only task
    size does: any row holding a posting for a doc in [lo, hi] spans
    that doc's docid and therefore joins the range."""
    dom_lo, dom_hi = domain
    if n_ranges is None:
        n_ranges = default_n_ranges(dom_hi - dom_lo + 1)
    rows = list(qterms)
    _check_rows_budget(len(rows), "(query, term) pairs in one top-k call")
    fan: dict[str, list[dict]] = {}
    for qid, term, *kind in rows:
        fan.setdefault(term, []).append(
            {"query_id": int(qid), **({"kind": int(kind[0])} if kind else {})})
    struct = "query_id:bigint" + (",kind:int" if rows and len(rows[0]) > 2 else "")
    fanned = seg.selectExpr("*", (
        f"inline(from_json({_sql_str(json.dumps(fan, separators=(',', ':')))}, "
        f"'map<string,array<struct<{struct}>>>')[term])"))
    n_groups = len({r[0] for r in rows}) * max(1, n_ranges)
    n_parts = max(1, min(n_groups, spark.sparkContext.defaultParallelism))

    def run(key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        if len(key) == 1:
            return kernel(int(key[0]), g, 0, None)
        return kernel(int(key[0]), g, int(g["lo"].iloc[0]),
                      int(g["hi"].iloc[0]))

    if n_ranges <= 1:
        return (fanned.repartition(n_parts, "query_id").groupBy("query_id")
                .applyInPandas(run, RESULT_SCHEMA))
    if dom_hi < dom_lo:
        return spark.createDataFrame([], schema=RESULT_SCHEMA)
    width = max(1, (dom_hi - dom_lo + 1 + n_ranges - 1) // n_ranges)

    def rng_of(col: str) -> str:
        return f"least({n_ranges - 1}, greatest(0, ({col} - {dom_lo}) div {width}))"

    seg_r = (fanned
             .selectExpr("*", "element_at(blocks, -1).last_docid AS __max_docid")
             .selectExpr("*", f"explode(sequence({rng_of('first_docid')}, "
                              f"{rng_of('__max_docid')})) AS rng")
             .selectExpr("*", f"{dom_lo} + rng * {width} AS lo",
                         f"{dom_lo} + (rng + 1) * {width} - 1 AS hi")
             # the membership the range ids encode (drops no row)
             .filter("__max_docid >= lo AND first_docid <= hi"))
    cands = (seg_r.repartition(n_parts, "query_id", "rng")
             .groupBy("query_id", "rng").applyInPandas(run, RESULT_SCHEMA))
    return cands if k is None else _top_hits(cands, k)


class _PositionalTerms(NamedTuple):
    """One query's terms for :func:`_positional_topk`: a candidate doc
    holds every ``required`` term and some term of each ``any_of``
    group; ``optional`` terms are decoded for the match step only
    (span_not's exclude: never required, never scored). ``scored``:
    the required and any_of terms in sorted (fold) order; the BM25 sum
    runs over those present in the group."""
    required: tuple = ()
    any_of: tuple = ()
    optional: tuple = ()

    @property
    def scored(self) -> list[str]:
        return sorted({*self.required, *(t for grp in self.any_of for t in grp)})


def _positional_topk(spark: SparkSession, index_dir, plans: dict,
                     n_ranges: int | None, k: int, match) -> DataFrame:
    """THE decode → match → score skeleton of every positional op
    (phrase, phrase_prefix, spans, intervals), over :func:`_per_query`.

    At plan time: the chain (:func:`_chain`), candidate rows for the
    terms of every ``plans`` entry ({query_id: :class:`_PositionalTerms`}),
    the df source (:func:`_df_of`) and the distinct (query_id, term)
    rows; ``n_ranges`` None leaves the fan-out to :func:`_per_query`.
    Per group: the two-pass
    :func:`_decode_candidate_positions`, then the op's match step
    ``match(qid, inter, per_term)``, then the ranking — the
    disjunctive BM25 sum over the query's scored terms in sorted-term
    fold order (frozen §1.3.4), restricted to the matched docs, and the
    (score desc, docid asc) top-k cut.

    The match step returns ``(matched_local, widths, only)``: sorted
    unique indexes into ``inter`` of the matching docs; each one's
    minimum window width, or None — given widths, scores are
    multiplied by 1/(1 + width) (proximity mode); and ``{term:
    docids}`` for scored terms that score only in those docs
    (phrase_prefix's expansions, which score where they complete the
    phrase)."""
    from ..scoring import partial as _partial

    chain = _chain(spark, index_dir)
    n_docs, avgdl, dead = chain.n_docs, chain.avgdl, chain.dead
    query_terms = {qid: sorted({*p.scored, *p.optional})
                   for qid, p in plans.items()}
    terms = sorted({t for ts in query_terms.values() for t in ts})
    if not terms:
        return spark.createDataFrame([], schema=RESULT_SCHEMA)
    seg = candidate_segments(spark, chain.dirs, terms)
    df_of = _df_of(spark, chain, terms, seg)

    def kernel(qid: int, g: pd.DataFrame, lo: int, hi: int | None) -> pd.DataFrame:
        p = plans[qid]
        inter, per_term = _decode_candidate_positions(
            g, p.required, p.any_of, p.optional, lo, hi, dead)
        if inter.size == 0:
            return _empty_result()
        matched_local, widths, only = match(qid, inter, per_term)
        if matched_local.size == 0:
            return _empty_result()
        matched = inter[matched_local]
        row_df = dict(zip(g["term"], g["df"]))
        scores = np.zeros(matched.size, dtype=np.float64)
        for t in p.scored:
            if t not in per_term:
                continue   # an absent any_of alternative
            d, tf, dl, _pos = per_term[t]
            sel = np.isin(d, only.get(t, matched), assume_unique=True)
            idx = np.searchsorted(matched, d[sel])
            scores[idx] += _idf(df_of(t, row_df[t]), n_docs) * _partial(
                tf[sel], dl[sel], avgdl)
        if widths is not None:
            scores *= 1.0 / (1.0 + widths.astype(np.float64))
        order = np.lexsort((matched, -scores))[:k]
        return pd.DataFrame({
            "query_id": qid,
            "rank": np.arange(1, order.size + 1, dtype=np.int32),
            "docid": matched[order],
            "score": scores[order],
        })

    return _per_query(spark, seg,
                      [(qid, t) for qid, ts in query_terms.items() for t in ts],
                      chain.domain, n_ranges, k, kernel)


# ---------------------------------------------------------------------------
# Q8: phrase queries over positional postings (format v4)
# ---------------------------------------------------------------------------

def _sloppy_match(phrase: list[tuple[int, str]],
                  per_term: dict[str, tuple], inter: np.ndarray,
                  slop: int,
                  want_width: bool = False) -> tuple[np.ndarray, np.ndarray | None]:
    """Local indexes (into ``inter``) of docs matching the phrase with
    ``slop`` (semantics in :func:`_phrase_match`), plus — when
    ``want_width`` — each matched doc's MINIMUM window width (max−min
    of the chosen adjusted positions over all valid assignments), the
    proximity-scoring signal; None otherwise. Returns
    ``(matched_local, widths | None)``.

    max−min of the chosen adjusted positions ≤ slop ⟺ they all fit in a
    window [w, w+slop], and WLOG w is one of the observed adjusted
    values — so the candidate window starts are the union of every
    constraint's (local_doc << 32 | adjusted) keys, and a window is
    feasible iff EVERY constraint has a key in [w, w+slop] for that doc
    (one vectorized searchsorted per constraint). Adjusted = pos − o +
    o_max keeps keys non-negative. Constraints sharing a term must then
    use DISTINCT raw positions — verified per (matched doc, window) by
    an exact greedy interval matching, only when the phrase actually
    repeats a term.

    Width exactness: for window start w, taking each constraint's FIRST
    key ≥ w minimizes the assignment's maximum; at w = (the optimal
    assignment's minimum value, itself an observed key) that greedy
    choice has min ≥ w and max ≤ the optimal max, so its width is ≤ —
    hence = — the optimum. min over feasible w is therefore the true
    minimum width, at zero extra searchsorted cost (the per-constraint
    first keys are already in hand)."""
    o_max = max(o for o, _ in phrase)
    keys_per_constraint: list[np.ndarray] = []
    for o, t in phrase:
        # adjusted = pos − o + o_max ≥ 0 (pos ≥ 0, o ≤ o_max)
        keys_per_constraint.append(np.unique(
            _position_keys(per_term, t, inter, o - o_max)))
    window_starts = np.unique(np.concatenate(keys_per_constraint))
    ok = np.ones(window_starts.size, dtype=bool)
    maxkv = window_starts.copy()        # running max of chosen (first) keys
    for keys in keys_per_constraint:
        idx = np.searchsorted(keys, window_starts, side="left")
        valid = idx < keys.size
        kv = keys[np.minimum(idx, keys.size - 1)]
        # first key ≥ w must be in the SAME doc and within w+slop (same
        # doc → the int64 difference is the pure adjusted-position gap)
        valid &= (kv >> np.int64(32)) == (window_starts >> np.int64(32))
        valid &= (kv - window_starts) <= slop
        ok &= valid
        if not ok.any():
            return np.empty(0, dtype=np.int64), (np.empty(0, dtype=np.int64)
                                                 if want_width else None)
        if want_width:
            np.maximum(maxkv, kv, out=maxkv, where=ok)
    feasible = window_starts[ok]
    matched_local = np.unique(feasible >> np.int64(32))

    # distinctness for repeated terms (rare): exact greedy interval
    # matching per (doc, feasible window) — intervals sorted by right
    # endpoint, each takes the smallest unused position; optimal for
    # same-length intervals with ascending endpoints.
    offsets_of: dict[str, list[int]] = {}
    for o, t in phrase:
        offsets_of.setdefault(t, []).append(o)
    rep_terms = {t: sorted(os_) for t, os_ in offsets_of.items() if len(os_) > 1}
    if not rep_terms:
        if not want_width:
            return matched_local, None
        # min over each doc's feasible windows of (max chosen − w)
        wdoc = feasible >> np.int64(32)
        wwid = (maxkv - window_starts)[ok]
        widths = np.full(matched_local.size, np.int64(slop), dtype=np.int64)
        np.minimum.at(widths, np.searchsorted(matched_local, wdoc), wwid)
        return matched_local, widths
    wdoc = feasible >> np.int64(32)
    wadj = feasible & np.int64(0xFFFFFFFF)
    keep: list[int] = []
    widths_l: list[int] = []
    single_keys = [(o, keys) for (o, _t), keys in zip(phrase, keys_per_constraint)
                   if _t not in rep_terms]
    for dl_ in matched_local.tolist():
        docid = int(inter[dl_])
        pos_of = {}
        for t in rep_terms:
            d, tf, _dl, pos = per_term[t]
            docc = np.repeat(d, tf)
            pos_of[t] = np.sort(pos[docc == docid].astype(np.int64))
        best_w: int | None = None
        for w in wadj[wdoc == dl_].tolist():
            all_ok = True
            chosen_min, chosen_max = None, None
            for t, offs in rep_terms.items():
                positions = pos_of[t]
                used = np.iinfo(np.int64).min
                for o in offs:
                    lo, hi = w - o_max + o, w - o_max + o + slop
                    i = int(np.searchsorted(positions, max(lo, used + 1), side="left"))
                    if i >= positions.size or positions[i] > hi:
                        all_ok = False
                        break
                    used = int(positions[i])
                    if want_width:
                        adj = used - o + o_max    # back to window coordinates
                        chosen_min = adj if chosen_min is None else min(chosen_min, adj)
                        chosen_max = adj if chosen_max is None else max(chosen_max, adj)
                if not all_ok:
                    break
            if all_ok and want_width:
                # non-repeated constraints: first key ≥ (doc, w), already
                # known feasible within [w, w+slop] from the window pass
                base = (np.int64(dl_) << np.int64(32)) | np.int64(w)
                for _o, keys in single_keys:
                    kv = int(keys[np.searchsorted(keys, base, side="left")])
                    adj = kv & 0xFFFFFFFF
                    chosen_min = adj if chosen_min is None else min(chosen_min, adj)
                    chosen_max = adj if chosen_max is None else max(chosen_max, adj)
                wd = int(chosen_max - chosen_min) if chosen_min is not None else 0
                best_w = wd if best_w is None else min(best_w, wd)
            elif all_ok:
                keep.append(dl_)
                break
        if want_width and best_w is not None:
            keep.append(dl_)
            widths_l.append(best_w)
    return (np.asarray(keep, dtype=np.int64),
            np.asarray(widths_l, dtype=np.int64) if want_width else None)



def _decode_candidate_positions(g: pd.DataFrame, required, any_of=(),
                                optional=(), range_lo: int = 0,
                                range_hi: int | None = None,
                                dead: np.ndarray | None = None) -> tuple:
    """Shared two-pass positional decode for every positional kernel
    (the decode step of :func:`_positional_topk`).

    PASS 1 decodes scoring streams only, one call per row over its
    contiguous blocks overlapping [range_lo, range_hi], and intersects
    the candidate docids (rows/dirs are docid-disjoint so each term's
    docids are sorted unique after the ordered concat): a doc needs
    every ``required`` term and at least one term of every ``any_of``
    group (the intervals query's any_of leaves, phrase_prefix's
    expansions) — an any_of term, or even a whole block set, may be
    absent as long as its group is still covered. Dead docids drop from
    the intersection. PASS 2 decodes positions ONLY for blocks that
    still hold a candidate, and keeps candidate docs' rows per term.

    ``optional`` terms are decoded and candidate-restricted the same
    way but do NOT participate in the intersection and may be absent
    (span_not's exclude clause: needed for the overlap test, never a
    match requirement, never scored).

    Returns ``(inter, per_term)`` — sorted candidate docids and
    ``term -> (docids, tfs, dls, flat_positions)`` (positions grouped
    by posting in docid order). ``inter`` is empty when no doc can
    match; ``per_term`` then is undefined."""
    none = (np.array([], dtype=np.int64), {})
    term_rows: dict[str, list[tuple]] = {}
    src_it = g["src_avgdl"] if "src_avgdl" in g.columns else [None] * len(g)
    for row in zip(g["term"], g["chunk"], g["first_docid"], g["blocks"],
                   g["postings"], src_it):
        term_rows.setdefault(row[0], []).append(row)
    groups = [[t] for t in sorted(set(required))] + [list(g_) for g_ in any_of]
    if any(all(t not in term_rows for t in grp) for grp in groups):
        return none  # a required term or a whole any_of group is absent
    hard_required = set(required)
    if range_hi is None:
        range_hi = np.iinfo(np.int64).max

    all_terms = sorted({t for grp in groups for t in grp}) + [
        t for t in optional if t in term_rows]
    per_term_blocks: dict[str, list[tuple]] = {}   # (d,tf,dl,sel,payload,offs,bi)
    for t in all_terms:
        blocks = []
        for (_t, chunk, first, blks, payload, _src) in sorted(
                term_rows.get(t, []), key=lambda r: (int(r[2]), int(r[1]))):
            lasts = np.fromiter((b["last_docid"] for b in blks), np.int64,
                                len(blks))
            starts = np.concatenate(([int(first)], lasts[:-1] + 1))
            # the blocks overlapping the range are contiguous
            b_lo = int(np.searchsorted(lasts, range_lo, side="left"))
            b_hi = int(np.searchsorted(starts, range_hi, side="right"))
            if b_lo >= b_hi:
                continue
            offs = _offsets(blks)
            d, tf, dl, counts, _ = decode_blocks(payload, offs, b_lo, b_hi)
            cut = np.cumsum(counts)[:-1]
            for bi, d_b, tf_b, dl_b in zip(range(b_lo, b_hi), np.split(d, cut),
                                           np.split(tf, cut), np.split(dl, cut)):
                sel = (d_b >= range_lo) & (d_b <= range_hi)
                if sel.any():
                    blocks.append((d_b[sel], tf_b[sel], dl_b[sel], sel,
                                   payload, offs, bi))
        if not blocks and t in hard_required:
            return none
        per_term_blocks[t] = blocks

    def _docids_of(t: str) -> np.ndarray:
        blks = per_term_blocks.get(t, [])
        if not blks:
            return np.array([], dtype=np.int64)
        return np.concatenate([b[0] for b in blks])

    inter = None
    for grp in groups:
        if len(grp) == 1:
            td = _docids_of(grp[0])
        else:
            td = np.array([], dtype=np.int64)
            for t in grp:
                td = np.union1d(td, _docids_of(t))
        inter = td if inter is None else np.intersect1d(inter, td,
                                                        assume_unique=True)
        if inter.size == 0:
            return none
    if dead is not None and dead.size:
        inter = inter[~np.isin(inter, dead)]
    if inter.size == 0:
        return none

    per_term: dict[str, tuple] = {}
    for t in all_terms:
        ds, tfl, dll, pfl = [], [], [], []
        for (d, tf, dl, sel, payload, offs, bi) in per_term_blocks[t]:
            keep = np.isin(d, inter, assume_unique=True)
            if not keep.any():
                continue
            _, tf_full, _, _, pos = decode_blocks(payload, offs, bi, bi + 1,
                                                  positions=True)
            pos = pos[np.repeat(sel, tf_full)]    # range-restrict like pass 1
            ds.append(d[keep]); tfl.append(tf[keep]); dll.append(dl[keep])
            pfl.append(pos[np.repeat(keep, tf)])
        if not ds:
            if t in hard_required:
                return none
            continue  # absent optional/any_of term: simply no rows
        per_term[t] = (np.concatenate(ds), np.concatenate(tfl),
                       np.concatenate(dll), np.concatenate(pfl))
    return inter, per_term


def _position_keys(per_term: dict, t: str, inter: np.ndarray,
                   o: int = 0) -> np.ndarray:
    """Int64 keys ``(local_docid << 32) | (position − o)`` of every
    occurrence of ``t`` at a position ≥ ``o`` among the candidate docs,
    in posting order — sorted, as positions ascend within a posting
    (local = index into the sorted candidate array ``inter`` — dense,
    so the composite can never overflow at 10^12-docid scale). Empty
    when ``t`` has no candidate rows."""
    if t not in per_term:
        return np.array([], dtype=np.int64)
    d, tf, _dl, pos = per_term[t]
    docc = np.repeat(d, tf)
    keep = pos >= o
    local = np.searchsorted(inter, docc[keep]).astype(np.int64)
    return (local << np.int64(32)) | (pos[keep].astype(np.int64) - o)


def _exact_anchor_keys(phrase: list[tuple[int, str]], per_term: dict,
                       inter: np.ndarray) -> np.ndarray:
    """Exact-adjacency anchor intersection over every (offset, term)
    constraint of an analyzed phrase: returns the sorted
    :func:`_position_keys` ``(local_docid << 32) | anchor_position`` of
    every document position where the exact sequence starts.
    Constraints sharing an offset are alternatives for that slot
    (Lucene MultiPhraseQuery — phrase_prefix's trailing slot lists every
    expansion), so a slot's keys are the union of its terms'. Repeated
    terms need no distinctness check — one anchor a serves offsets o≠o'
    with distinct positions a+o, a+o' automatically. Empty when no doc
    holds the sequence, and for an empty phrase."""
    slots: dict[int, list[str]] = {}
    for o, t in phrase:
        slots.setdefault(o, []).append(t)
    anchors = np.array([], dtype=np.int64)
    for i, (o, ts) in enumerate(slots.items()):
        key = np.unique(np.concatenate(
            [_position_keys(per_term, t, inter, o) for t in ts]))
        anchors = key if i == 0 else np.intersect1d(anchors, key,
                                                    assume_unique=True)
        if anchors.size == 0:
            break
    return anchors


def _phrase_match(phrase: list[tuple[int, str]], slop: int,
                  want_width: bool, inter: np.ndarray,
                  per_term: dict) -> tuple:
    """match_phrase (+ slop) match step of :func:`_positional_topk`.

    Semantics (documented contract, ES match_phrase parity on the
    filter side):

    - ``slop=0`` (exact): a doc matches iff the exact token sequence
      occurs — for every (offset o, term t) of the analyzed phrase
      there is one anchor position a with a+o ∈ positions(doc, t).
    - ``slop=s`` (proximity, ES match_phrase ``slop`` / Lucene sloppy
      phrase): a doc matches iff one document position can be chosen
      per phrase constraint — DISTINCT positions for constraints
      sharing a term (a token occupies one position) — such that every
      pairwise displacement |(p_i − o_i) − (p_j − o_j)| ≤ s;
      equivalently max−min of the adjusted positions ≤ s. This is the
      adjusted-position window Lucene's SloppyPhraseScorer accepts
      (transposed terms match at slop 2, per the ES docs), and it is
      exactly SQL-expressible (pairwise range predicates), which keeps
      the DuckDB twin exact-by-construction.

    Matching docs are ranked by the standard disjunctive BM25 sum over
    the phrase's DISTINCT terms (frozen fold order §1.3.4) — the score
    set is a subset of the disjunctive scorer's, so the DuckDB twin is
    the disjunctive oracle restricted to matching docs.

    ``score_mode="proximity"`` (opt-in, round 6): multiply each matched
    doc's BM25 sum by 1/(1 + min_window_width), where min_window_width
    is the smallest max−min of chosen adjusted positions over all valid
    (distinct-position) assignments — 1.0 for an in-order exact match,
    decaying as the best match spreads out. The ES/Lucene analogue is
    SloppyPhraseScorer's 1/(1+matchLength) slop factor; this contract
    (best match only, not summed over matches) is simpler, documented,
    and pinned against a brute-force oracle in tests. The default
    ("bm25") is unchanged — existing driver entries stay bit-stable.

    Vectorized end to end: anchors/window-starts are intersected as
    (local_doc_id << 32 | shifted position) int64 keys — local dense
    doc ids (not raw docids) so the composite can never overflow at
    10^12-docid scale; the per-doc Python fallback runs ONLY for the
    rare repeated-term sloppy phrase, on already-matched docs.
    """
    if slop <= 0:
        anchors = _exact_anchor_keys(phrase, per_term, inter)
        return np.unique(anchors >> np.int64(32)), None, {}
    return (*_sloppy_match(phrase, per_term, inter, slop, want_width), {})


def _query_tokens(queries: DataFrame) -> dict[int, list[str]]:
    """Each query's analyzed ``qtext`` tokens, ordered and
    duplicate-keeping (the phrase "the data the" is three constraints
    at offsets 0, 1, 2); rows sharing a query_id concatenate, null or
    token-less texts add nothing. Read by :func:`read_query_rows`."""
    out: dict[int, list[str]] = {}
    for r in read_query_rows(queries, "query_id", "qtext"):
        toks = tokenize(r["qtext"]) if r["qtext"] is not None else []
        if toks:
            out.setdefault(int(r["query_id"]), []).extend(toks)
    return out


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    n_ranges: int | None = None,
    slop: int = 0,
    score_mode: str = "bm25",
) -> DataFrame:
    """Phrase top-k (ES match_phrase parity, incl. ``slop`` proximity —
    semantics in :func:`_phrase_match`; ``score_mode="proximity"``
    additionally weights scores by 1/(1+min window width), closest
    match first) over the positional index.
    Dispatches like :func:`search_topk`: small index -> one
    applyInPandas group per query; large -> chunk-parallel groups over
    fixed docid ranges (exact: a doc's anchors/windows are evaluated
    entirely inside the one range that contains its docid, and every
    term row whose span covers that docid joins the range)."""
    tokens = _query_tokens(queries)
    return _positional_topk(
        spark, index_dir,
        {qid: _PositionalTerms(toks) for qid, toks in tokens.items()},
        n_ranges, k,
        lambda qid, inter, per_term: _phrase_match(
            list(enumerate(tokens[qid])), slop, score_mode == "proximity",
            inter, per_term))


# ---------------------------------------------------------------------------
# Q12-Q16 term rewrites (prefix, fuzzy, wildcard, regexp): one dictionary
# scan per call
# ---------------------------------------------------------------------------

MAX_PREFIX_EXPANSIONS = 1024


class _TermCond(NamedTuple):
    """One query row's rewrite condition on a dictionary ``term``: the
    term range ``[prefix, prefix⊕1)`` of a literal ``prefix`` (none
    when empty) AND the SQL predicate ``match`` (none when None). The
    range is what reaches the parquet scan: the dictionary is written
    term-SORTED, so row-group min/max stats prune outside it."""
    prefix: str = ""
    match: str | None = None

    def range_sql(self) -> str:
        # exclusive upper bound: the last char bumped (terms are
        # [a-z0-9]+, so +1 of the last code point is safe)
        hi = self.prefix[:-1] + chr(ord(self.prefix[-1]) + 1)
        return f"term >= {_sql_str(self.prefix)} AND term < {_sql_str(hi)}"

    def sql(self) -> str:
        parts = (([self.range_sql()] if self.prefix else [])
                 + ([self.match] if self.match is not None else []))
        return " AND ".join(f"({p})" for p in parts)


def _expansion_frame(spark: SparkSession, index_dir, conds: list[_TermCond],
                     cap: int) -> DataFrame:
    """(qi, term): the capped expansion of every condition ``conds[qi]``
    from ONE scan of the chain's dictionaries. Each dictionary row is
    tagged with the indexes of the conditions it meets; when every
    condition has a literal prefix, the OR of their ranges filters the
    scan and reaches it as PushedFilters. On a chain df is summed per
    (qi, term) across the dirs; each qi's terms are ranked by df desc,
    term asc and cut at ``cap``. The chain's sum and the ranking window
    share one Exchange on ``qi``."""
    dicts = _dictionaries(spark, index_dir)
    dic = functools.reduce(DataFrame.unionByName, dicts)
    if all(c.prefix for c in conds):
        dic = dic.filter(" OR ".join(f"({c.range_sql()})" for c in conds))
    tags = ", ".join(f"IF({c.sql()}, {qi}, NULL)" for qi, c in enumerate(conds))
    tagged = dic.selectExpr(
        f"explode(filter(array({tags}), x -> x IS NOT NULL)) AS qi", "term", "df")
    if len(dicts) > 1:
        tagged = (tagged.repartition("qi").groupBy("qi", "term")
                  .agg(F.sum("df").alias("df")))
    w = Window.partitionBy("qi").orderBy(F.desc("df"), F.asc("term"))
    return (tagged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(cap)).select("qi", "term"))


def _expand_dict_terms(spark: SparkSession, index_dir, conds: list[_TermCond],
                       cap: int) -> list[list[str]]:
    """THE dictionary-expansion kernel of every term-rewrite query:
    each condition's expanded terms (sorted), from one
    :func:`_expansion_frame` ``collect`` for the whole call however
    many rows it carries."""
    if not conds:
        return []
    got: list[list[str]] = [[] for _ in conds]
    for r in _expansion_frame(spark, index_dir, conds, cap).collect():
        got[r["qi"]].append(r["term"])
    return [sorted(g) for g in got]


def _search_rewrite(spark: SparkSession, index_dir, queries: DataFrame,
                    col: str, cond_of, k: int, cap: int,
                    n_ranges: int | None) -> DataFrame:
    """THE body of the single-term rewrite ops (Q12, Q13, Q15, Q16):
    each (query_id, ``col``) row's value becomes a :class:`_TermCond`
    (``cond_of``, which validates it), all rows expand in one
    dictionary scan, and each expansion runs as a BM25 disjunction
    through ``search_topk`` (WAND pruning, chunk-parallel ranges)."""
    rows = read_query_rows(queries, "query_id", col)
    exps = _expand_dict_terms(spark, index_dir,
                              [cond_of(r[col]) for r in rows], cap)
    qdf = local_df(spark, [(int(r["query_id"]), " ".join(e))
                           for r, e in zip(rows, exps)],
                   "query_id long, qtext string")
    return search_topk(spark, index_dir, qdf, k=k, n_ranges=n_ranges)


def _prefix_cond(prefix: str) -> _TermCond:
    p = prefix.strip().lower()
    if not p or not all("a" <= c <= "z" or "0" <= c <= "9" for c in p):
        raise ValueError(f"prefix must be a non-empty [a-z0-9]+ string, "
                         f"got {prefix!r}")
    return _TermCond(p)


def expand_prefix_terms(spark: SparkSession, index_dir, prefix: str,
                        cap: int = MAX_PREFIX_EXPANSIONS) -> list[str]:
    """Dictionary range scan ``term >= p AND term < p⊕1`` (pushed to the
    parquet scan; the dictionary is written term-SORTED so row-group
    min/max stats prune everything outside the range) → matching terms,
    capped at ``cap`` by df desc / term asc — the deterministic analog
    of ES's rewrite cap (``indices.query.bool.max_clause_count``).
    Multi-dir chains sum df across dirs before the cap."""
    return _expand_dict_terms(spark, index_dir, [_prefix_cond(prefix)], cap)[0]


def search_prefix(spark: SparkSession, index_dir, queries: DataFrame,
                  k: int = TOP_K, cap: int = MAX_PREFIX_EXPANSIONS,
                  n_ranges: int | None = None) -> DataFrame:
    """BM25 top-k for prefix queries: each row of ``queries`` is
    (query_id, prefix); the prefix expands against the term dictionary
    (range pushdown, df-capped) and the expanded disjunction runs
    through the standard engine path (:func:`_search_rewrite`).

    Scoring is ES ``rewrite=scoring_boolean``: expanded terms score as
    a normal BM25 disjunction (each with its own idf). ES's default
    ``constant_score`` rewrite is a deliberate non-goal — it discards
    ranking information and its "score" is just the boost; the
    scoring rewrite is the one with verifiable semantics.

    Driver-side work is one dictionary scan for all the call's
    prefixes; everything heavy stays in the engine path."""
    return _search_rewrite(spark, index_dir, queries, "prefix", _prefix_cond,
                           k, cap, n_ranges)


# ---------------------------------------------------------------------------
# Q13: fuzzy term queries (ES query_string `word~N`)
# ---------------------------------------------------------------------------

def _fuzzy_cond(term: str, max_edits: int) -> _TermCond:
    t = term.strip().lower()
    if not t or not all("a" <= c <= "z" or "0" <= c <= "9" for c in t):
        raise ValueError(f"fuzzy term must be a non-empty [a-z0-9]+ string, "
                         f"got {term!r}")
    if max_edits not in (0, 1, 2):
        raise ValueError("max_edits must be 0, 1 or 2 (ES fuzziness)")
    # a cheap length pre-filter ahead of the levenshtein
    return _TermCond(match=(
        f"length(term) BETWEEN {len(t) - max_edits} AND {len(t) + max_edits} "
        f"AND levenshtein(term, {_sql_str(t)}) <= {max_edits}"))


def expand_fuzzy_terms(spark: SparkSession, index_dir, term: str,
                       max_edits: int = 2,
                       cap: int = MAX_PREFIX_EXPANSIONS) -> list[str]:
    """Dictionary scan for terms within ``max_edits`` Levenshtein
    distance of ``term`` (distance 0 = the term itself included, as in
    Lucene). The distance filter is the JVM built-in ``levenshtein`` —
    a full |vocabulary| scan like Lucene's FST automaton walk, over the
    engine's smallest table; capped by df desc / term asc like the
    prefix rewrite."""
    return _expand_dict_terms(spark, index_dir, [_fuzzy_cond(term, max_edits)],
                              cap)[0]


def search_fuzzy(spark: SparkSession, index_dir, queries: DataFrame,
                 k: int = TOP_K, max_edits: int = 2,
                 cap: int = MAX_PREFIX_EXPANSIONS,
                 n_ranges: int | None = None) -> DataFrame:
    """BM25 top-k for single-term fuzzy queries: each row of
    ``queries`` is (query_id, fterm); the term expands against the
    dictionary within ``max_edits`` and the expansion scores as a
    normal BM25 disjunction through the standard engine path
    (rewrite=scoring_boolean — same declared choice as
    :func:`search_prefix`)."""
    return _search_rewrite(spark, index_dir, queries, "fterm",
                           lambda t: _fuzzy_cond(t, max_edits), k, cap, n_ranges)


# ---------------------------------------------------------------------------
# Q14: match_phrase_prefix (ES search-as-you-type phrase + trailing prefix)
# ---------------------------------------------------------------------------

MAX_PHRASE_PREFIX_EXPANSIONS = 50   # ES match_phrase_prefix max_expansions


def _phrase_prefix_match(fixed: list[str], expansions: list[str],
                         inter: np.ndarray, per_term: dict) -> tuple:
    """match_phrase_prefix match step of :func:`_positional_topk`.

    Documented contract (ES parity on the filter side): the analyzed
    phrase is ``fixed + [prefix]``; the trailing prefix was expanded
    against the term dictionary into ``expansions`` (df-desc-capped,
    the same deterministic rewrite cap as Q12). A doc matches iff the
    exact token sequence ``fixed + [e]`` occurs for SOME expansion e
    (slop is a declared non-goal — ES's default slop 0): the trailing
    slot lists every expansion as an alternative, so the anchors are
    those of the whole phrase, a single-token query's lone slot
    included. Matching docs are ranked by the disjunctive BM25 sum over
    the sorted distinct union of the FIXED terms and the expansions
    that complete the phrase in THAT doc (each term once — an
    expansion equal to a fixed term does not double-count), the
    exactly-SQL-expressible analog of Lucene's MultiPhraseQuery
    scoring."""
    slot = len(fixed)
    anchors = _exact_anchor_keys(
        list(enumerate(fixed)) + [(slot, e) for e in expansions],
        per_term, inter)
    # an expansion scores only in the docs where it fills the slot at
    # one of those anchors; a fixed term scores in every match
    only = {}
    for e in set(expansions) - set(fixed):
        hit = np.intersect1d(
            anchors, np.unique(_position_keys(per_term, e, inter, slot)),
            assume_unique=True)
        only[e] = inter[np.unique(hit >> np.int64(32))]
    return np.unique(anchors >> np.int64(32)), None, only


def search_phrase_prefix(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    n_ranges: int | None = None,
    max_expansions: int = MAX_PHRASE_PREFIX_EXPANSIONS,
) -> DataFrame:
    """ES ``match_phrase_prefix`` top-k: the query text analyzes to a
    phrase whose LAST token is a prefix; every query's prefix expands
    in one dictionary scan (range pushdown, df-desc cap
    ``max_expansions`` — ES default 50) and a doc matches iff the exact
    sequence ``fixed + [e]`` occurs for some expansion e. Ranking
    contract in :func:`_phrase_prefix_match`. Dispatches like
    :func:`search_phrase`: single applyInPandas group per query on a
    small index, chunk-parallel docid ranges on a large one (exact —
    a doc's anchors are evaluated inside its one range)."""
    tokens = _query_tokens(queries)
    exps = dict(zip(tokens, _expand_dict_terms(
        spark, index_dir, [_prefix_cond(toks[-1]) for toks in tokens.values()],
        max_expansions)))
    return _positional_topk(
        spark, index_dir,
        {qid: _PositionalTerms(toks[:-1], [exps[qid]])
         for qid, toks in tokens.items()},
        n_ranges, k,
        lambda qid, inter, per_term: _phrase_prefix_match(
            tokens[qid][:-1], exps[qid], inter, per_term))


# ---------------------------------------------------------------------------
# Q15: wildcard term queries (ES `wildcard` / query_string `wi*d`, `w?rd`)
# Q16: regexp term queries (ES `regexp` / query_string /pattern/)
# ---------------------------------------------------------------------------

_TERM_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"


def _wildcard_literal_prefix(pattern: str) -> str:
    """Literal chars before the first `*`/`?` — the pushable term range."""
    i = 0
    while i < len(pattern) and pattern[i] not in "*?":
        i += 1
    return pattern[:i]


def _wildcard_cond(pattern: str) -> _TermCond:
    p = pattern.strip().lower()
    if not p or any(c not in _TERM_CHARS + "*?" for c in p):
        raise ValueError(f"wildcard pattern must be a non-empty "
                         f"[a-z0-9*?]+ string, got {pattern!r}")
    if all(c in "*?" for c in p):
        raise ValueError("wildcard pattern needs >=1 literal character "
                         f"(ES rejects pure-wildcard too), got {pattern!r}")
    like = p.replace("*", "%").replace("?", "_")
    return _TermCond(_wildcard_literal_prefix(p), f"term LIKE {_sql_str(like)}")


def expand_wildcard_terms(spark: SparkSession, index_dir, pattern: str,
                          cap: int = MAX_PREFIX_EXPANSIONS) -> list[str]:
    """Dictionary expansion for an ES ``wildcard`` pattern over the
    [a-z0-9] term alphabet: ``*`` matches any run (incl. empty), ``?``
    exactly one char. The scan predicate is the JVM ``LIKE`` translation
    (``*``→``%``, ``?``→``_`` — no escaping needed, the validated
    alphabet contains neither ``%`` nor ``_``); any literal prefix
    before the first wildcard additionally pushes a term range to the
    parquet scan, so `pre*`-shaped patterns prune row groups exactly
    like Q12 prefixes, while leading-wildcard patterns degrade to the
    full (still smallest-table) dictionary scan — the same cost shape
    Lucene documents for its wildcard automata."""
    return _expand_dict_terms(spark, index_dir, [_wildcard_cond(pattern)], cap)[0]


def search_wildcard(spark: SparkSession, index_dir, queries: DataFrame,
                    k: int = TOP_K, cap: int = MAX_PREFIX_EXPANSIONS,
                    n_ranges: int | None = None) -> DataFrame:
    """BM25 top-k for wildcard term queries: each row of ``queries`` is
    (query_id, wpattern); the pattern expands against the dictionary
    (:func:`expand_wildcard_terms`) and the expansion scores as a
    normal BM25 disjunction through the standard engine path
    (rewrite=scoring_boolean — the same declared choice as
    :func:`search_prefix`; ES's constant_score rewrite discards
    ranking information)."""
    return _search_rewrite(spark, index_dir, queries, "wpattern",
                           _wildcard_cond, k, cap, n_ranges)


def _regex_literal_prefix(p: str) -> str:
    """Mandatory literal prefix of a regex, for term-range pushdown.

    Conservative by construction: a top-level alternation or any
    backslash escape disables the prefix entirely; otherwise the prefix
    is the leading run of plain [a-z0-9] literals, minus the last one
    if a quantifier (``* ? + {``) makes it optional/repeatable. A
    shorter-than-possible prefix only costs pruning, never correctness
    — the anchored regex itself is re-checked on every scanned term."""
    if "\\" in p:
        return ""
    depth = 0
    for c in p:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return ""
    i = 0
    while i < len(p) and p[i] in _TERM_CHARS:
        i += 1
    if i < len(p) and p[i] in "*?+{":
        i -= 1
    return p[:max(i, 0)]


def _regexp_cond(pattern: str) -> _TermCond:
    p = pattern.strip().lower()
    if not p:
        raise ValueError("regexp pattern must be non-empty")
    try:
        re.compile(p)
    except re.error as e:
        raise ValueError(f"invalid regexp pattern {pattern!r}: {e}") from e
    return _TermCond(_regex_literal_prefix(p),
                     f"term RLIKE {_sql_str(f'^(?:{p})$')}")


def expand_regexp_terms(spark: SparkSession, index_dir, pattern: str,
                        cap: int = MAX_PREFIX_EXPANSIONS) -> list[str]:
    """Dictionary expansion for an ES ``regexp`` term query. Matching is
    whole-term (Lucene regexps are implicitly anchored): the scan
    predicate is JVM ``RLIKE '^(?:pattern)$'``. Patterns must stay in
    the Java-regex subset (validated driver-side with ``re.compile`` to
    fail fast; the harness twin additionally pins the tested subset to
    RE2-compatible syntax). A mandatory literal prefix, when one can be
    proven (:func:`_regex_literal_prefix`), pushes a term range to the
    parquet scan like Q12/Q15."""
    return _expand_dict_terms(spark, index_dir, [_regexp_cond(pattern)], cap)[0]


def search_regexp(spark: SparkSession, index_dir, queries: DataFrame,
                  k: int = TOP_K, cap: int = MAX_PREFIX_EXPANSIONS,
                  n_ranges: int | None = None) -> DataFrame:
    """BM25 top-k for regexp term queries: each row of ``queries`` is
    (query_id, rpattern); whole-term regex expansion
    (:func:`expand_regexp_terms`), scored as a BM25 disjunction through
    the standard engine path (rewrite=scoring_boolean)."""
    return _search_rewrite(spark, index_dir, queries, "rpattern",
                           _regexp_cond, k, cap, n_ranges)


def search_match_bool_prefix(spark: SparkSession, index_dir,
                             queries: DataFrame, k: int = TOP_K,
                             cap: int = MAX_PREFIX_EXPANSIONS,
                             n_ranges: int | None = None) -> DataFrame:
    """ES ``match_bool_prefix`` — the other search-as-you-type family
    member (Q14's sibling): the analyzed terms become INDEPENDENT bool
    should clauses, the LAST term a prefix (dictionary-expanded — the
    Q12 range scan, df-desc cap, scoring_boolean rewrite; one scan for
    all rows). Unlike ``match_phrase_prefix`` no adjacency is required:
    ``quick brown f`` matches docs containing ``quick``, ``brown``, or
    any ``f``-prefixed term ANYWHERE, every matched clause scoring
    independently (ES default operator OR). The expanded disjunction
    runs through the standard engine path — WAND pruning intact. A
    prefix with no dictionary expansion leaves the fixed terms alone,
    exactly ES's behavior for an unexpandable trailing token."""
    rows = read_query_rows(queries, "query_id", "qtext")
    toks = [tokenize(r["qtext"]) for r in rows]
    exps = iter(_expand_dict_terms(spark, index_dir,
                                   [_prefix_cond(t[-1]) for t in toks if t], cap))
    expanded = [(int(r["query_id"]),
                 " ".join(sorted(set(t[:-1]) | set(next(exps)))) if t else "")
                for r, t in zip(rows, toks)]
    qdf = local_df(spark, expanded, "query_id long, qtext string")
    return search_topk(spark, index_dir, qdf, k=k, n_ranges=n_ranges)

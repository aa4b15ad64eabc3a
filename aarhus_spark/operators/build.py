"""Distributed SPIMI-style inverted-index build (SURVEY.md §2.3, §3.1).

Pipeline (one ``build_index`` call):

  S1 pages scan
  → P1-P4   project / lang filter / empty guard / dedup-by-url (window)
  → P5      E(html) via vectorized Arrow UDF where text is null
  → T8      global lexicographic dense docID assignment (2-pass, no
            monotonically_increasing_id)
  → T1      tokenize → per-posting (docid, term, tf, dl, posb) rows via
            mapInPandas (format v4: posb = the posting's term positions
            already VByte-encoded — ~1 byte/occurrence through the
            shuffle; phrase queries decode them at search time)
  → T2-T4   doclens, term dictionary (df, cf), corpus stats (N, avgdl)
  → T5      head-term skew salting: docid-RANGE salts (contiguous
            fragments → the merge is an ordered concat, delta-gaps small)
  → big shuffle: repartition by bucket = hash(term, salt) — the ONE
            wide exchange of the build (SURVEY §3.1)
  → O1+T6   sortWithinPartitions(term, docid) → blocked VByte posting
            fragments via mapInPandas (numpy codec, no per-row Python)
  → S3+S5   fragments written partitionBy(bucket) with one manifest
            JSON per bucket — the checkpoint/resume unit
  → T7      merge: HEAD (salted) fragments k-way merged per term via
            applyInPandas into the segments/ overlay; tail fragments
            are already final segment rows and are served straight
            from fragments/ at query time (layered store — no
            full-corpus rewrite)
  → S4+S6   doclens/stats/metrics sinks.

Resumability (BASELINE.json north rule): fragment buckets are
content-addressed by a deterministic ``bucket = hash(term) ^ mix(salt)
mod n_buckets`` (vectorized C siphash with a fixed key — stable across
processes); a rerun recomputes only buckets whose manifest is missing
(kill/rerun e2e test in tests/test_resume.py), reusing the persisted
head-term classification in ``heads.json``.

Scale notes (10^12 docs, SURVEY §7 "hard parts"): every wide operation
here shuffles rows that are O(tokens) with ~20-byte rows; head-term
skew is bounded by range-salting (max fragment ≈ df/SALTS); no
posting list ever materializes unchunked beyond MAX_POSTINGS_PER_ROW;
the merge moves only encoded bytes, never re-shuffles raw tokens.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codec import decode_blocks_pos_bytes, encode_blocks, encode_pos_chunks
from ..config import (BLOCK_SIZE, FORMAT_VERSION, HEAD_DF_QUANTILE,
                      MAX_POSTINGS_PER_ROW, SALTS)
from ..hashing import xxhash64 as spark_xxhash64
from ..textops import extract_series, tokenize_series

TOKENS_SCHEMA = "docid long, term string, tf long, dl long"

# format-v4 token stream: one row per POSTING, positions pre-encoded as
# a VByte byte run (codec.encode_pos_chunks) — ~1 byte per occurrence
# through the big shuffle instead of a 20+-byte occurrence row, and the
# fragment encoder assembles block position sections by byte concat,
# never re-encoding a value
POSTING_SCHEMA = "docid long, term string, tf long, dl long, posb binary"

# pyarrow schema for task-side fragment parquet writes (the
# per-bucket checkpoint unit; see _make_fragment_encoder)
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

_BLOCKS_PA = pa.list_(pa.struct([
    ("last_docid", pa.int64()),
    ("max_partial", pa.float64()),
    ("offset", pa.int64()),
]))
FRAG_PA_SCHEMA = pa.schema([
    ("term", pa.string()),
    # xxhash64(term), seed 42 — fragment rows are written in thash
    # order (the shuffle sort key), so row-group min/max stats on THIS
    # column stay tight while term's are hash-scattered; tail lookups
    # push `thash IN (...)` (hashing.xxhash64 = Spark's fn, pinned by
    # test) alongside the exact term filter
    ("thash", pa.int64()),
    ("salt", pa.int32()),
    ("is_head", pa.bool_()),
    ("n", pa.int64()),
    ("cf", pa.int64()),
    ("first_docid", pa.int64()),  # true low end of the row's docid span
    ("blocks", _BLOCKS_PA),
    ("postings", pa.binary()),
])

FRAGMENT_SUMMARY_SCHEMA = "bucket int, rows long, postings long, wall_s double"

# Spark-typed mirror of FRAG_PA_SCHEMA (for the empty-corpus fallback)
FRAG_PA_SCHEMA_SPARK = [
    T.StructField("term", T.StringType()),
    T.StructField("thash", T.LongType()),
    T.StructField("salt", T.IntegerType()),
    T.StructField("is_head", T.BooleanType()),
    T.StructField("n", T.LongType()),
    T.StructField("cf", T.LongType()),
    T.StructField("first_docid", T.LongType()),
    T.StructField("blocks", T.ArrayType(T.StructType([
        T.StructField("last_docid", T.LongType()),
        T.StructField("max_partial", T.DoubleType()),
        T.StructField("offset", T.LongType()),
    ]))),
    T.StructField("postings", T.BinaryType()),
]

SEGMENT_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("df", T.LongType()),      # GLOBAL postings count for the term
    T.StructField("cf", T.LongType()),      # global collection frequency
    T.StructField("chunk", T.IntegerType()),
    T.StructField("n", T.LongType()),       # postings in THIS row
    T.StructField("first_docid", T.LongType()),  # first docid in THIS row
    T.StructField("blocks", T.ArrayType(T.StructType([
        T.StructField("last_docid", T.LongType()),
        T.StructField("max_partial", T.DoubleType()),
        T.StructField("offset", T.LongType()),
    ]))),
    T.StructField("postings", T.BinaryType()),
])

# ---------------------------------------------------------------------------
# Schema'd readers for the engine's own sinks. Every layout here is
# pinned by the writers in this module, so schema inference (a driver-
# side footer read + listing per spark.read.parquet call, ~50-100 ms
# each, one per query op per artifact) buys nothing — the guide's
# "driver should do almost no work" rule (§5/§7.3) applied to planning.
# ---------------------------------------------------------------------------

FRAGMENTS_READ_SCHEMA = T.StructType(
    list(FRAG_PA_SCHEMA_SPARK) + [T.StructField("bucket", T.IntegerType())])

DICTIONARY_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("df", T.LongType()),
    T.StructField("cf", T.LongType()),
])

DOCLENS_SCHEMA = T.StructType([
    T.StructField("docid", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("dl", T.LongType()),
    T.StructField("warc_ts", T.TimestampType()),
])


def read_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(SEGMENT_SCHEMA).parquet(IndexPaths(index_dir).segments)


def read_fragments(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(FRAGMENTS_READ_SCHEMA).parquet(
        IndexPaths(index_dir).fragments)


def read_dictionary(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(DICTIONARY_SCHEMA).parquet(
        IndexPaths(index_dir).dictionary)


def read_doclens(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(DOCLENS_SCHEMA).parquet(IndexPaths(index_dir).doclens)


@dataclass
class IndexPaths:
    root: str

    @property
    def segments(self) -> str: return os.path.join(self.root, "segments")
    @property
    def fragments(self) -> str: return os.path.join(self.root, "fragments")
    @property
    def doclens(self) -> str: return os.path.join(self.root, "doclens")
    @property
    def dictionary(self) -> str: return os.path.join(self.root, "dictionary")
    @property
    def stats(self) -> str: return os.path.join(self.root, "stats.json")
    @property
    def manifests(self) -> str: return os.path.join(self.root, "manifests")
    @property
    def metrics(self) -> str: return os.path.join(self.root, "metrics.jsonl")
    @property
    def build_config(self) -> str: return os.path.join(self.root, "build_config.json")


# ---------------------------------------------------------------------------
# P1-P5: prepare pages
# ---------------------------------------------------------------------------

def prepare_pages(pages: DataFrame) -> DataFrame:
    """lang filter, E(html) where text is null, empty guard, dedup-by-url
    latest-warc_ts-wins with max-text tiebreak (frozen §1.3.3).
    Returns the winning page rows (url, warc_ts, text and every other
    page column; a caller's projection prunes the rest through the
    window, P1).

    Standalone operator form (one url-shuffle for the dedup window),
    used by ``multifield.build_field_indexes``, whose field expressions
    may read any page column. ``build_index`` does NOT call this — it
    uses the fused :func:`prepare_and_assign_docids`, which performs
    dedup + extract + filter inside the docid range-shuffle and saves a
    full-corpus exchange; both produce identical rows (asserted in
    tests).
    """
    from pyspark.sql.window import Window

    @F.pandas_udf(T.StringType())
    def extract_udf(html: pd.Series) -> pd.Series:
        return extract_series(html)

    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc_nulls_last("text"))
    return (
        pages
        .filter(F.col("lang") == "en")                       # P2 → pushed to scan
        .withColumn("rn", F.row_number().over(w))            # P4 dedup
        .filter(F.col("rn") == 1).drop("rn")
        .withColumn("text", F.when(F.col("text").isNull(),
                                   extract_udf(F.col("html"))).otherwise(F.col("text")))  # P5
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))  # P3
    )


# ---------------------------------------------------------------------------
# T8: global lexicographic dense docID assignment (2-pass)
# ---------------------------------------------------------------------------

def prepare_and_assign_docids(spark: SparkSession, pages: DataFrame,
                              n_partitions: int, docid_offset: int = 0):
    """Fused P2-P5 + T8: ONE full-corpus shuffle instead of two.

    The docid assignment needs a range-shuffle by url anyway; since
    range partitioning colocates equal urls, the latest-wins dedup,
    the E(html) extraction, and the empty-text filter all run inside
    the same partition-sorted pass (one Python/Arrow round trip),
    and the separate dedup-window exchange of :func:`prepare_pages`
    disappears. Docids come from :func:`_dense_docids`.
    Returns ((docid, url, text, warc_ts, dl) persisted and materialized,
    N, Σdl).
    """
    rp = (
        pages.filter(F.col("lang") == "en")                    # P2 → pushed to scan
        .select("url", "warc_ts", "html", "text")
        .repartitionByRange(n_partitions, "url")
        .sortWithinPartitions("url", F.desc("warc_ts"), F.desc_nulls_last("text"))
    )

    def dedup_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_url: str | None = None  # dedup across batch boundary
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = ~pdf["url"].duplicated(keep="first")       # P4 (sorted: first = winner)
            if last_url is not None:
                keep &= pdf["url"] != last_url
            last_url = pdf["url"].iloc[-1]
            pdf = pdf[keep]
            if len(pdf) == 0:
                continue
            nulls = pdf["text"].isna()
            if nulls.any():                                   # P5 vectorized E(html)
                pdf = pdf.copy()
                pdf.loc[nulls, "text"] = extract_series(pdf.loc[nulls, "html"])
            pdf = pdf[pdf["text"].notna() & (pdf["text"].str.len() > 0)]  # P3
            if len(pdf):
                # T2 inline: dl = |T(text)| computed here so doclens and
                # corpus stats never need a pass over the token stream.
                # warc_ts of the WINNER rides along → doclens records the
                # max warc_ts per url, which incremental re-crawl
                # detection needs (operators/incremental.py)
                dl = tokenize_series(pdf["text"]).map(len)
                yield pdf[["url", "text", "warc_ts"]].assign(dl=dl.astype("int64"))

    deduped = rp.mapInPandas(
        dedup_extract, schema="url string, text string, warc_ts timestamp, dl long")
    return _dense_docids(spark, deduped, ["url", "text", "warc_ts", "dl"],
                         docid_offset, DataFrame.count)


def _dense_docids(spark: SparkSession, rp: DataFrame, cols: list[str],
                  docid_offset: int, materialize):
    """T8 for build and compaction: docids are dense url ranks in global
    sort order, from ``rp`` range-partitioned and partition-sorted by
    url, in two passes: pass 1 collects the per-partition counts and
    Σdl (tiny; no separate full-corpus agg job) to compute offsets;
    pass 2 adds offset + local index inside mapInPandas. Correct for
    ANY range boundary choice (ranges are disjoint and ordered), so it
    is partition-count-independent — unlike monotonically_increasing_id.
    ``rp`` is persisted with its partition id so both passes see the
    same materialization, and released once ``materialize`` (the
    caller's first action over the output: build's count, compaction's
    doclens write) has loaded the output — Spark re-plans a cached
    dependent that is not loaded yet when its input is unpersisted.
    The offsets broadcast stays: a lost cached partition of the output
    recomputes through it. Returns ((docid, *cols) persisted, N, Σdl)."""
    ranked = (rp.withColumn("pid", F.spark_partition_id())
              .persist(StorageLevel.MEMORY_AND_DISK))
    rows = ranked.groupBy("pid").agg(
        F.count("*").alias("cnt"), F.sum("dl").alias("sumdl")).collect()
    sumdl = sum(int(r["sumdl"] or 0) for r in rows)
    offsets, acc = {}, docid_offset
    for r in sorted(rows, key=lambda r: r["pid"]):
        offsets[r["pid"]] = acc
        acc += r["cnt"]
    b_offsets = spark.sparkContext.broadcast(offsets)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            off = b_offsets.value[int(pdf["pid"].iloc[0])]
            pdf = pdf.assign(docid=np.arange(local, local + len(pdf), dtype=np.int64) + off)
            local += len(pdf)
            yield pdf[["docid", *cols]]

    schema = T.StructType([T.StructField("docid", T.LongType())] + [
        T.StructField(c, ranked.schema[c].dataType) for c in cols])
    out = ranked.mapInPandas(assign, schema=schema).persist(StorageLevel.MEMORY_AND_DISK)
    materialize(out)
    ranked.unpersist()
    return out, acc - docid_offset, sumdl


def tokenize_docs(docs: DataFrame) -> DataFrame:
    """mapInPandas; inside each Arrow batch everything is vectorized
    pandas (findall → explode → C groupby) — no per-row Python on the
    hot path (BASELINE.json:15). dl rides on every row so the posting
    encoder never needs a docid join (codec.py docstring)."""

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = tokenize_series(pdf["text"])
            ex = pd.DataFrame({"docid": pdf["docid"]}).assign(term=toks)
            ex = ex.explode("term", ignore_index=True).dropna(subset=["term"])
            if len(ex) == 0:
                continue
            tf = ex.groupby(["docid", "term"], sort=False).size().rename("tf").reset_index()
            dl = tf.groupby("docid", sort=False)["tf"].transform("sum")
            tf["dl"] = dl
            yield tf[["docid", "term", "tf", "dl"]]

    return docs.mapInPandas(tok, schema=TOKENS_SCHEMA)


def _tokenize_batch_core(docids: pd.Series, texts: pd.Series):
    """One batch of (docid, text) -> per-posting COLUMNS, format v4.

    Vectorized: explode -> per-doc cumcount (positions) -> ONE lexsort
    by (docid, term-code) keeping position order stable -> run-length
    tf -> ONE VByte pass over all position deltas
    (codec.encode_pos_chunks). Terms stay DICTIONARY-coded (one Python
    string per unique, int codes per posting) and positions stay ONE
    contiguous uint8 buffer with per-posting byte lengths — nothing
    per-posting is a Python object (the round-6 scaling measurement
    attributed the fragments-stage 1->4 loss to ~45M small `bytes`
    allocations per 1M-page build; BENCH/BASELINE.md "next mitigation").

    Returns ``(docid, codes, uniques, tf, dl, pos_buf, pos_lens)`` as
    numpy arrays (uniques: object ndarray of unique term strings), or
    ``None`` for an effectively-empty batch.
    """
    toks = tokenize_series(texts)
    ex = pd.DataFrame({"docid": docids}).assign(term=toks)
    ex = ex.explode("term", ignore_index=True).dropna(subset=["term"])
    if len(ex) == 0:
        return None
    grp = ex.groupby("docid", sort=False)
    pos = grp.cumcount().to_numpy(np.int64)
    dl_occ = grp["term"].transform("size").to_numpy(np.int64)
    docid_occ = ex["docid"].to_numpy(np.int64)
    term_codes, term_uniques = pd.factorize(ex["term"], sort=False)
    order = np.lexsort((term_codes, docid_occ))    # stable: pos stays ascending
    docid_occ, term_codes = docid_occ[order], term_codes[order]
    pos, dl_occ = pos[order], dl_occ[order]
    if docid_occ.size > 1:
        change = np.flatnonzero((docid_occ[1:] != docid_occ[:-1])
                                | (term_codes[1:] != term_codes[:-1])) + 1
        starts = np.concatenate(([0], change))
    else:
        starts = np.zeros(1, dtype=np.int64)
    ends = np.concatenate((starts[1:], [docid_occ.size]))
    tfs = ends - starts
    buf, plens = encode_pos_chunks(pos, tfs)
    return (docid_occ[starts], term_codes[starts],
            np.asarray(term_uniques, dtype=object), tfs, dl_occ[starts],
            buf, plens)


def tokenize_postings(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pandas materialization of :func:`_tokenize_batch_core` — one row
    per posting with ``posb`` bytes objects. Kept for direct callers and
    tests; the build pipeline itself uses the Arrow path
    (:func:`tokenize_salt_bucket`), which never materializes per-posting
    Python objects."""
    core = _tokenize_batch_core(pdf["docid"], pdf["text"])
    if core is None:
        return pd.DataFrame({"docid": pd.Series([], dtype="int64"),
                             "term": pd.Series([], dtype="object"),
                             "tf": pd.Series([], dtype="int64"),
                             "dl": pd.Series([], dtype="int64"),
                             "posb": pd.Series([], dtype="object")})
    docid, codes, uniques, tfs, dl, buf, plens = core
    return pd.DataFrame({
        "docid": docid, "term": uniques[codes], "tf": tfs, "dl": dl,
        "posb": byte_runs(buf, plens),
    })


def byte_runs(buf: np.ndarray, lens: np.ndarray) -> list[bytes]:
    """Split one contiguous uint8 buffer into per-posting ``bytes``
    runs of the given lengths (the ``posb`` column's values)."""
    boff = np.concatenate(([0], np.cumsum(lens)))
    mv = memoryview(buf.tobytes())
    return [bytes(mv[int(boff[i]):int(boff[i + 1])]) for i in range(lens.size)]


_SALT_MIX = np.uint64(0x9E3779B97F4A7C15)


def _salt_key(uniques, codes: np.ndarray, docids: np.ndarray, head_set: frozenset,
              n_docs: int, salts: int, docid_offset: int):
    """T5 per posting: ``(is_head, salt)`` — the docid-RANGE salt for
    head terms (monotone in docid, so a term's salted fragments are
    docid-disjoint and the merge is an ordered concat), 0 for tail.
    Head membership is tested once per UNIQUE term (``uniques``) and
    gathered by ``codes``."""
    uniq_head = np.fromiter((u in head_set for u in uniques), np.bool_,
                            count=len(uniques))
    is_head = uniq_head[codes]
    salt = np.where(is_head,
                    np.minimum(salts - 1,
                               (docids - docid_offset) * salts // max(n_docs, 1)),
                    0).astype(np.int32)
    return is_head, salt


def _bucket_key(uniques, codes: np.ndarray, docids: np.ndarray, head_set: frozenset,
                n_docs: int, salts: int, n_buckets: int, docid_offset: int) -> np.ndarray:
    """The shuffle key and resume unit of every index writer:
    ``bucket = hash(term) ^ mix(salt) mod n_buckets`` per posting, the
    term hash taken once per UNIQUE term (``pd.util.hash_array`` — C
    siphash with a fixed key, deterministic across processes, which the
    per-bucket resume relies on)."""
    _, salt = _salt_key(uniques, codes, docids, head_set, n_docs, salts, docid_offset)
    uniq_hash = pd.util.hash_array(np.asarray(uniques, dtype=object))
    return ((uniq_hash[codes] ^ (salt.astype(np.uint64) * _SALT_MIX))
            % np.uint64(n_buckets)).astype(np.int32)


def _binary_from_buffer(buf: np.ndarray, lens: np.ndarray) -> pa.Array:
    """Arrow binary array over ONE contiguous uint8 buffer + per-value
    byte lengths — zero-copy for the data buffer, no per-value Python."""
    offs = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    if offs[-1] > np.iinfo(np.int32).max:  # pragma: no cover — ~2 GiB/batch
        raise ValueError("position payload per batch exceeds int32 offsets")
    return pa.Array.from_buffers(
        pa.binary(), lens.size,
        [None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(buf)])


def tokenize_salt_bucket(docs: DataFrame, head_terms: list[str], n_docs: int,
                         salts: int, n_buckets: int, docid_offset: int) -> DataFrame:
    """T1+T5 in one python pass: tokenize AND attach the shuffle key.

    Format v4: per-POSTING rows with the position stream pre-encoded to
    VByte bytes (``posb``, ~1 byte per occurrence) - the shuffle keeps
    the r3 per-posting row count and gains only the compact position
    payload; every later stage concatenates those bytes, never
    re-encoding a value (codec.encode_blocks pos_encoded path).

    ``mapInArrow``, not ``mapInPandas``: the output RecordBatch is
    assembled column-at-a-time from the core's numpy arrays — ``term``
    via a C-side take over the batch's unique strings, ``posb`` via
    :func:`_binary_from_buffer` over the single contiguous position
    buffer. A pandas round-trip here would materialize one Python
    ``bytes`` + one ``str`` PER POSTING (~45M objects per 1M pages),
    which round 6 measured as the dominant 1->4 scaling loss
    (BENCH/BASELINE.md).

    The bucket is derived vectorized per UNIQUE term then gathered by
    code (:func:`_bucket_key`), so the token stream needs NO broadcast
    join and carries only one extra int32 through the big shuffle. The
    encoder recomputes salt/is_head from the same closure inputs
    (:func:`_salt_key`).
    """
    head_set = frozenset(head_terms)

    def tok(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sch = rb.schema
            docid_s = rb.column(sch.get_field_index("docid")).to_pandas()
            text_s = rb.column(sch.get_field_index("text")).to_pandas()
            core = _tokenize_batch_core(docid_s, text_s)
            if core is None:
                continue
            docid, codes, uniques, tfs, dl, buf, plens = core
            bucket = _bucket_key(uniques, codes, docid, head_set, n_docs,
                                 salts, n_buckets, docid_offset)
            term = pc.take(pa.array(uniques, type=pa.string()),
                           pa.array(codes, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(docid), term, pa.array(tfs), pa.array(dl),
                 _binary_from_buffer(buf, plens), pa.array(bucket)],
                names=["docid", "term", "tf", "dl", "posb", "bucket"])

    return docs.select("docid", "text").mapInArrow(
        tok, schema=POSTING_SCHEMA + ", bucket int")


# ---------------------------------------------------------------------------
# T6: fragment encoder (runs after the big (term,salt)-bucket shuffle)
# ---------------------------------------------------------------------------

def _make_fragment_encoder(avgdl: float, fragments_dir: str, manifests_dir: str,
                           head_terms: list[str], n_docs: int, salts: int,
                           docid_offset: int):
    """mapInArrow fn over partitions sorted by
    (bucket, xxhash64(term), term, docid) — equal-term runs contiguous,
    term ORDER within a bucket is hash-scattered (the external sort's
    comparator win; encode_merge_finalize documents the tradeoff).

    Encodes one blocked-VByte fragment per (term, salt) run — carrying
    the trailing group across Arrow batch boundaries — and writes the
    bucket's parquet file + manifest ITSELF (tmp + atomic rename), so a
    completed bucket survives a mid-job kill: this is the per-partition
    checkpoint unit of BASELINE.json's resumability requirement, unlike
    a job-level parquet commit which discards everything on failure.
    Yields a single summary row per bucket (S6 metrics).

    Arrow path (round 7): term strings are dictionary-decoded C-side
    (one Python string per RUN, not per posting) and the ``posb``
    column is consumed as its underlying contiguous (offsets, data)
    buffers — a run's position section is ONE numpy slice, fed straight
    to ``encode_blocks(pos_encoded=...)``. The previous pandas path
    materialized per-posting ``bytes`` + ``str`` objects and re-joined
    them (``b"".join`` + per-posting ``len()``) — measured as the
    fragments stage's dominant 1->4 scaling loss (BENCH/BASELINE.md)."""

    class _BucketSink:
        """One open parquet writer + manifest per bucket; a partition may
        hold several buckets (hash(bucket)%n can collide), but rows are
        sorted by bucket so at most one sink is open at a time."""

        def __init__(self, bucket: int):
            self.bucket = bucket
            self.t0 = time.time()
            self.rows_in = 0
            self.postings = 0
            self.frag_rows = 0
            self.pending: list[dict] = []
            self.writer: pq.ParquetWriter | None = None
            self.dir = os.path.join(fragments_dir, f"bucket={bucket}")
            # tmp name carries the task ATTEMPT id: with speculative
            # execution or a zombie attempt, two attempts of the same
            # partition must never interleave writes into one file —
            # each publishes its own complete tmp with one os.replace
            from pyspark import TaskContext
            tc = TaskContext.get()
            att = tc.taskAttemptId() if tc is not None else 0
            self.tmp = os.path.join(self.dir, f".part-0.parquet.tmp-{att}")
            self.man_tmp = os.path.join(manifests_dir, f".bucket-{bucket}.tmp-{att}")

        def add(self, r: dict) -> None:
            self.postings += r["n"]
            self.pending.append(r)
            if len(self.pending) >= 512:
                self._write()

        def _write(self) -> None:
            if not self.pending:
                return
            if self.writer is None:
                os.makedirs(self.dir, exist_ok=True)
                # snappy, not zstd: the postings payload is delta+VByte
                # packed and measurably incompressible — the r8 A/B at
                # 60k pages wrote 33.8 MB of fragments under zstd, lz4,
                # snappy AND none alike, while the fragment stage wall
                # was 6.9 s (zstd) vs 4.5 s (snappy/none). Heavy codecs
                # here are pure CPU overhead (guide §2.3: high-entropy
                # payloads); snappy keeps cheap insurance for corpora
                # whose metadata columns do compress.
                self.writer = pq.ParquetWriter(self.tmp, FRAG_PA_SCHEMA,
                                               compression="snappy")
            cols = {k: [r[k] for r in self.pending] for k in FRAG_PA_SCHEMA.names}
            self.writer.write_table(pa.table(cols, schema=FRAG_PA_SCHEMA))
            self.frag_rows += len(self.pending)
            self.pending.clear()

        def close(self) -> dict:
            self._write()
            if self.writer is not None:
                self.writer.close()
                # data object first, manifest (= commit marker) LAST:
                # resume only trusts buckets whose manifest exists
                os.replace(self.tmp, os.path.join(self.dir, "part-0.parquet"))
            wall = time.time() - self.t0
            man = {"bucket": self.bucket, "rows": self.rows_in,
                   "postings": self.postings, "fragments": self.frag_rows,
                   "tokens_per_sec": self.rows_in / wall if wall > 0 else None,
                   "wall_s": wall}
            dst = os.path.join(manifests_dir, f"bucket-{self.bucket}.json")
            with open(self.man_tmp, "w") as f:
                json.dump(man, f)
            os.replace(self.man_tmp, dst)  # idempotent under task retry
            # sweep sibling tmp files left by failed/zombie/speculative
            # attempts of THIS bucket (dot-prefixed, so readers already
            # ignore them — this only stops the disk leak across retries
            # and resumes). A zombie still holding a deleted inode keeps
            # writing harmlessly to it; it never publishes.
            import glob
            for stale in glob.glob(os.path.join(self.dir, ".part-0.parquet.tmp-*")):
                try:
                    os.remove(stale)
                except OSError:
                    pass
            for stale in glob.glob(os.path.join(
                    manifests_dir, f".bucket-{self.bucket}.tmp-*")):
                try:
                    os.remove(stale)
                except OSError:
                    pass
            return man

    head_set = frozenset(head_terms)

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # trailing (term, salt) run awaiting continuation in the next
        # batch: numeric numpy arrays + ONE term string + one pos buffer
        carry: dict | None = None
        sink: _BucketSink | None = None
        summaries: list[dict] = []

        def flush_run(bucket: int, term: str, salt: int, is_head: bool,
                      docids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                      pbuf: np.ndarray, plens: np.ndarray) -> None:
            """One (term, salt) run of per-posting rows sorted by docid;
            ``pbuf``/``plens`` hold the run's pre-encoded position bytes
            as ONE contiguous uint8 buffer + per-posting byte lengths —
            assembled into block position sections by slicing (codec
            pos_encoded path), zero re-encoding, zero per-posting
            Python objects."""
            nonlocal sink
            if sink is None or sink.bucket != bucket:
                if sink is not None:
                    summaries.append(sink.close())
                sink = _BucketSink(bucket)
            payload, blocks = encode_blocks(docids, tfs, dls, avgdl, BLOCK_SIZE,
                                            pos_encoded=(pbuf, plens))
            sink.rows_in += int(tfs.sum())
            sink.add({
                "term": term,
                "thash": spark_xxhash64(term),
                "salt": salt,
                "is_head": is_head,
                "n": int(docids.size),
                "cf": int(tfs.sum()),
                "first_docid": int(docids[0]),
                "blocks": [{"last_docid": b0[0], "max_partial": b0[1], "offset": b0[2]} for b0 in blocks],
                "postings": payload,
            })

        def flush_carry() -> None:
            nonlocal carry
            if carry is not None:
                flush_run(carry["bucket"], carry["term"], carry["salt"],
                          carry["is_head"], carry["docid"], carry["tf"],
                          carry["dl"], carry["pbuf"], carry["plens"])
                carry = None

        for rb in batches:
            if rb.num_rows == 0:
                continue
            sch = rb.schema
            # terms dictionary-encoded C-side: int codes per posting,
            # ONE Python string per unique-in-batch (materialized only
            # at run boundaries below)
            enc = rb.column(sch.get_field_index("term")).dictionary_encode()
            codes = enc.indices.to_numpy()
            uniques = enc.dictionary.to_pylist()
            docid = rb.column(sch.get_field_index("docid")).to_numpy()
            tf = rb.column(sch.get_field_index("tf")).to_numpy()
            dl = rb.column(sch.get_field_index("dl")).to_numpy()
            bucket_a = rb.column(sch.get_field_index("bucket")).to_numpy()
            posb = rb.column(sch.get_field_index("posb"))
            # the binary column's raw Arrow (offsets, data) buffers:
            # a run's position section is data[offs[s]:offs[e]]
            off_dt = np.int64 if pa.types.is_large_binary(posb.type) else np.int32
            poffs = np.frombuffer(posb.buffers()[1], dtype=off_dt)[
                posb.offset: posb.offset + len(posb) + 1].astype(np.int64)
            pdata = np.frombuffer(posb.buffers()[2], dtype=np.uint8)
            # salt/is_head recomputed from the same closure inputs the
            # tokenizer used (they are not shuffled — one int32 less
            # through the big exchange)
            is_head_a, salt_a = _salt_key(uniques, codes, docid, head_set,
                                          n_docs, salts, docid_offset)
            # The stream is sorted with equal-term runs contiguous and
            # salt MONOTONE in docid within a term (range salting), so
            # every (term, salt) group is one contiguous run: detect
            # run boundaries on the int dictionary codes (the pandas
            # path compared object strings; this is a pure int compare).
            n = rb.num_rows
            if n > 1:
                change = (codes[1:] != codes[:-1]) | (salt_a[1:] != salt_a[:-1])
                starts = np.concatenate(([0], np.flatnonzero(change) + 1))
            else:
                starts = np.zeros(1, dtype=np.int64)
            ends = np.concatenate((starts[1:], [n]))
            s0 = int(starts[0])
            if carry is not None and not (carry["term"] == uniques[codes[s0]]
                                          and carry["salt"] == int(salt_a[s0])
                                          and carry["bucket"] == int(bucket_a[s0])):
                flush_carry()
            # all runs but the trailing one are complete — flush them,
            # prepending the carried prefix to the first if it matched
            for i in range(starts.size - 1):
                s, e = int(starts[i]), int(ends[i])
                d_, t_, l_ = docid[s:e], tf[s:e], dl[s:e]
                pb = pdata[poffs[s]:poffs[e]]
                pl = np.diff(poffs[s:e + 1])
                if carry is not None:       # only possible when i == 0
                    d_ = np.concatenate((carry["docid"], d_))
                    t_ = np.concatenate((carry["tf"], t_))
                    l_ = np.concatenate((carry["dl"], l_))
                    pb = np.concatenate((carry["pbuf"], pb))
                    pl = np.concatenate((carry["plens"], pl))
                    carry = None
                flush_run(int(bucket_a[s]), uniques[codes[s]], int(salt_a[s]),
                          bool(is_head_a[s]), d_, t_, l_, pb, pl)
            # the trailing run may continue in the next batch: hold it
            # back (copies detach it from the Arrow batch's lifetime)
            s, e = int(starts[-1]), int(ends[-1])
            run = {"bucket": int(bucket_a[s]), "term": uniques[codes[s]],
                   "salt": int(salt_a[s]), "is_head": bool(is_head_a[s]),
                   "docid": docid[s:e].copy(), "tf": tf[s:e].copy(),
                   "dl": dl[s:e].copy(),
                   "pbuf": pdata[poffs[s]:poffs[e]].copy(),
                   "plens": np.diff(poffs[s:e + 1])}
            if carry is not None:   # whole batch was one continuing run
                run = {**run, "term": carry["term"],
                       "docid": np.concatenate((carry["docid"], run["docid"])),
                       "tf": np.concatenate((carry["tf"], run["tf"])),
                       "dl": np.concatenate((carry["dl"], run["dl"])),
                       "pbuf": np.concatenate((carry["pbuf"], run["pbuf"])),
                       "plens": np.concatenate((carry["plens"], run["plens"]))}
            carry = run

        flush_carry()
        if sink is not None:
            summaries.append(sink.close())
        if summaries:
            yield pa.RecordBatch.from_arrays(
                [pa.array([m["bucket"] for m in summaries], pa.int32()),
                 pa.array([m["rows"] for m in summaries], pa.int64()),
                 pa.array([m["postings"] for m in summaries], pa.int64()),
                 pa.array([m["wall_s"] for m in summaries], pa.float64())],
                names=["bucket", "rows", "postings", "wall_s"])

    return encode


# ---------------------------------------------------------------------------
# T7: merge fragments → final segments (chunked)
# ---------------------------------------------------------------------------

def _make_merger(avgdl: float, max_postings_per_row: int):
    def merge(key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        term = key[0]
        if len(g) == 1 and g["n"].iloc[0] <= max_postings_per_row:
            r = g.iloc[0]
            return pd.DataFrame([{
                "term": term, "df": int(r["n"]), "cf": int(r["cf"]),
                "chunk": 0, "n": int(r["n"]),
                "first_docid": int(r["first_docid"]), "blocks": r["blocks"],
                "postings": r["postings"],
            }])
        # k-way merge: fragments are docid-range-disjoint (range
        # salting), so the salt-ordered concatenation is ALREADY
        # docid-sorted, and the merge never needs to touch a position
        # VALUE — per-posting position byte runs are independently
        # concatenable (deltas reset at posting starts), so they pass
        # through verbatim (decode_blocks_pos_bytes → the
        # encode_blocks pos_encoded path). Round 6: this replaced a
        # full position decode + re-encode (O(Σtf) VByte work per head
        # term, the dominant and worst-scaling share of the merge
        # stage) with O(n-postings) scoring-stream decode + byte
        # concat; the docid argsort on already-sorted data is gone too.
        g = g.sort_values("salt")
        parts = [decode_blocks_pos_bytes(p, [b["offset"] for b in blocks])
                 for p, blocks in zip(g["postings"], g["blocks"])]
        docids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        if docids.size > 1 and not bool(np.all(docids[1:] > docids[:-1])):
            # range salting keeps a term's fragments docid-disjoint (the
            # salt is monotone in docid; the resume guard and heads.json
            # keep one salt space), so an overlap is a corrupt or mixed
            # fragment store — not something to re-sort silently
            raise ValueError(
                f"head fragments of term {term!r} overlap in docid: the "
                f"fragment store is corrupt or mixes two salt spaces")
        pbuf = np.concatenate([p[3] for p in parts])
        plens = np.concatenate([p[4] for p in parts])
        boff = np.concatenate(([0], np.cumsum(plens)))
        df_total, cf_total = int(docids.size), int(tfs.sum())
        rows = []
        for ci, s in enumerate(range(0, df_total, max_postings_per_row)):
            e = min(s + max_postings_per_row, df_total)
            payload, blocks = encode_blocks(
                docids[s:e], tfs[s:e], dls[s:e], avgdl, BLOCK_SIZE,
                pos_encoded=(pbuf[int(boff[s]):int(boff[e])], plens[s:e]))
            rows.append({
                "term": term, "df": df_total, "cf": cf_total, "chunk": ci,
                "n": e - s,
                "first_docid": int(docids[s]),
                "blocks": [{"last_docid": b[0], "max_partial": b[1], "offset": b[2]} for b in blocks],
                "postings": payload,
            })
        return pd.DataFrame(rows)

    return merge


# ---------------------------------------------------------------------------
# The index-writing frame: build_index and compact_indexes differ only in
# the token stream they feed encode_merge_finalize
# ---------------------------------------------------------------------------

class _IndexJob:
    """The ledger every index-writing job keeps (``build_index`` and
    ``compact_indexes``): paths and partition defaults, the
    completed-resume early return (``done``), the resume config guard
    and ``build_config.json``, T5's persisted head set, the per-stage
    metrics log and the final ``stats.json`` + ``metrics.jsonl``."""

    def __init__(self, spark: SparkSession, out_dir: str, *,
                 n_partitions: int | None, n_buckets: int | None, salts: int,
                 head_df_quantile: float, max_postings_per_row: int,
                 resume: bool, docid_offset: int):
        from ..metrics import SpillTracker
        self.paths = IndexPaths(out_dir)
        os.makedirs(self.paths.manifests, exist_ok=True)
        self.n_partitions = n_partitions or max(spark.sparkContext.defaultParallelism, 8)
        self.n_buckets = n_buckets or self.n_partitions
        self.salts, self.head_df_quantile = salts, head_df_quantile
        self.max_postings_per_row = max_postings_per_row
        self.resume, self.docid_offset = resume, docid_offset
        self.metrics: list[dict] = []
        self.t0 = time.time()
        self._spill = SpillTracker(spark)
        self.done: dict | None = None
        # completed job: resume is a no-op whatever config was requested
        # (config changes only the physical layout, not the logical index)
        if resume and os.path.exists(self.paths.stats) and _dir_complete(self.paths.segments):
            with open(self.paths.stats) as f:
                self.done = json.load(f)
            return
        # resume guard: refuse to CONTINUE an interrupted run under a
        # different config — mixing two bucket-id / salt / codec spaces
        # silently corrupts the index. A fresh run persists its config
        # before any fragment is written.
        cfg = {"format_version": FORMAT_VERSION,
               "n_buckets": self.n_buckets, "salts": salts, "docid_offset": docid_offset,
               "block_size": BLOCK_SIZE, "max_postings_per_row": max_postings_per_row,
               "head_df_quantile": head_df_quantile}
        if resume and os.path.exists(self.paths.build_config):
            with open(self.paths.build_config) as f:
                stored = json.load(f)
            if stored != cfg:
                diff = {k: (stored.get(k), cfg[k]) for k in cfg if stored.get(k) != cfg[k]}
                raise ValueError(
                    f"resume=True with a different build config than the original "
                    f"run (stored vs current): {diff}. Resuming would mix incompatible "
                    f"bucket-id spaces; rerun with the original config or rebuild "
                    f"without resume.")
        else:
            with open(self.paths.build_config, "w") as f:
                json.dump(cfg, f)

    def stage(self, name: str, t0: float, **kw) -> None:
        # S6: per-stage wall + executor spill deltas (SURVEY §4.2)
        self.metrics.append({"stage": name, "wall_s": time.time() - t0,
                             **self._spill.delta(), **kw})

    def head_set(self, df: DataFrame, frac: float) -> tuple[list[str], int]:
        """T5 head terms: (term, df) rows above the ``head_df_quantile``
        of ``df`` — a ``frac`` sample's counts (build) or the exact
        union dictionary (compaction, frac = 1) — and at least
        2·BLOCK_SIZE·frac, so a head term spans more than two blocks.
        Persisted to ``heads.json``: resume MUST reuse the original
        classification or bucket assignments would shift mid-job."""
        heads_path = os.path.join(self.paths.root, "heads.json")
        if self.resume and os.path.exists(heads_path):
            with open(heads_path) as f:
                heads = json.load(f)
            return heads["terms"], heads["thr"]
        # persisted: the quantile pass and the head filter both consume
        # this frame — without the persist its upstream (the sample
        # tokenize+agg) runs TWICE (measured ~half the head-detect wall)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            t = df.agg(F.percentile_approx("df", self.head_df_quantile).alias("t")).collect()[0]["t"]
            thr = max(int(t or 0), int(2 * BLOCK_SIZE * frac) + 1)
            terms = [r["term"] for r in df.filter(F.col("df") > thr).select("term").collect()]
        finally:
            df.unpersist()
        with open(heads_path, "w") as f:
            json.dump({"terms": terms, "thr": thr, "frac": frac}, f)
        return terms, thr

    def finish(self, *, n_docs: int, avgdl: float, n_terms: int, has_head: bool,
               head_thr: int, **extra) -> dict:
        """S4/S6: write stats.json and append the stage log to metrics.jsonl."""
        stats = {
            "format_version": FORMAT_VERSION,
            "N": n_docs,
            "avgdl": avgdl,
            "n_terms": n_terms,
            # layered store: does fragments/ hold tail rows — and segments/
            # any merged head rows — to union at query time? Cached here so
            # per-query planning never stats a directory (at object-store
            # scale a LIST call per query per dir) and never scans an empty
            # layer
            "has_tail": os.path.isdir(self.paths.fragments) and bool(os.listdir(self.paths.fragments)),
            "has_head": has_head,
            "build_config": {
                "n_partitions": self.n_partitions, "n_buckets": self.n_buckets,
                "salts": self.salts, "head_thr": head_thr, "docid_offset": self.docid_offset,
                "block_size": BLOCK_SIZE, "max_postings_per_row": self.max_postings_per_row,
            },
            **extra,
            "wall_s": time.time() - self.t0,
        }
        with open(self.paths.stats, "w") as f:
            json.dump(stats, f, indent=1)
        with open(self.paths.metrics, "a") as f:
            for m in self.metrics:
                f.write(json.dumps(m) + "\n")
        return stats


def _concurrently(spark: SparkSession, *jobs) -> list[tuple[object, float]]:
    """Run independent Spark jobs, one driver thread each, so the second
    back-fills executors the first leaves idle (guide §2.6). ``jobs``
    are ``(job description, fn)`` pairs; returns each fn's (result,
    wall) in order.

    Rule: a persisted frame that two of the jobs read must be
    materialized BEFORE this call (build_index's docs, counted by
    :func:`_dense_docids`) — two concurrent first consumers would
    otherwise race the cache and each compute it (measured +9.6 s on a
    1M-page local[1] build)."""
    from concurrent.futures import ThreadPoolExecutor

    def run(desc: str, fn):
        spark.sparkContext.setJobDescription(desc)
        t = time.time()
        return fn(), time.time() - t

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [pool.submit(run, desc, fn) for desc, fn in jobs]
        out = [f.result() for f in futures]
    spark.sparkContext.setJobDescription(None)
    return out


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    n_partitions: int | None = None,
    n_buckets: int | None = None,
    salts: int = SALTS,
    head_df_quantile: float = HEAD_DF_QUANTILE,
    max_postings_per_row: int = MAX_POSTINGS_PER_ROW,
    resume: bool = False,
    docid_offset: int = 0,
) -> dict:
    """Run the full build; returns the stats dict (also written to
    stats.json). ``resume=True`` recomputes only fragment buckets whose
    manifest is missing and skips completed stages."""
    job = _IndexJob(spark, out_dir, n_partitions=n_partitions, n_buckets=n_buckets,
                    salts=salts, head_df_quantile=head_df_quantile,
                    max_postings_per_row=max_postings_per_row, resume=resume,
                    docid_offset=docid_offset)
    if job.done is not None:
        return job.done

    # --- P1-P5 + T2 + T8 (fused: one url range-shuffle, one Python pass;
    #     dl computed inline so no pass over the token stream is needed
    #     for doclens/corpus stats) ---
    t0 = time.time()
    docs, n_docs, sumdl = prepare_and_assign_docids(spark, pages, job.n_partitions,
                                                    docid_offset)
    avgdl = float(sumdl) / n_docs if n_docs else 0.0

    # --- S4 doclens sink ∥ T5 head-term detection (the two jobs share
    #     no dependency — both consume the persisted docs — so the
    #     sample tokenize back-fills executors the write leaves idle;
    #     measured ~0.6 s off every build at sf0.1). Head set on a
    #     SAMPLE (one small python pass; the full token stream is
    #     touched exactly once, in the fragment job). 20k docs bounds
    #     the sample tokenize to a constant cost at any corpus size; the
    #     df-quantile threshold estimate is already stable well below
    #     this (head terms sit orders of magnitude above the 99.9th
    #     percentile) ---
    frac = min(1.0, 20_000 / max(n_docs, 1))
    sample = docs if frac >= 1.0 else docs.sample(fraction=frac, seed=42)
    # both jobs read docs, already materialized (_concurrently's rule)
    _, ((head_terms, head_thr), hd_wall) = _concurrently(
        spark,
        ("build: doclens sink", lambda: docs.select("docid", "url", "dl", "warc_ts")
         .write.mode("overwrite").parquet(job.paths.doclens)),
        ("build: head-detect sample", lambda: job.head_set(
            tokenize_docs(sample).groupBy("term").agg(F.count("*").alias("df")), frac)))
    # stage names/count unchanged (manifest_audit counts distinct
    # stages); the two walls overlap on the cluster
    job.stage("prepare+docids+doclens", t0, n_docs=n_docs, avgdl=avgdl)
    job.stage("head-detect", time.time() - hd_wall,
              head_thr=head_thr, n_head=len(head_terms))

    # --- T1 tokenize + T5 salt/bucket in ONE python pass → big shuffle
    #     (token stream flows straight into the encoder: never persisted,
    #     never re-read, no broadcast join, shuffle key is one int32) ---
    salted = tokenize_salt_bucket(docs, head_terms, n_docs, salts,
                                  job.n_buckets, docid_offset)
    stats = encode_merge_finalize(spark, salted, job, avgdl=avgdl, n_docs=n_docs,
                                  head_terms=head_terms, head_thr=head_thr)
    docs.unpersist()
    return stats


def encode_merge_finalize(spark: SparkSession, salted: DataFrame, job: _IndexJob, *,
                          avgdl: float, n_docs: int, head_terms: list[str],
                          head_thr: int, **extra) -> dict:
    """The shared back half of every index-producing job (build_index
    and compact_indexes): resume-filter → THE big bucket shuffle →
    fragment encode with the per-bucket checkpoint sink → head-merge
    overlay → dictionary → stats. ``salted`` is the per-posting token
    stream (docid, term, tf, dl, posb, bucket); ``extra`` entries join
    the stats dict, which is returned."""
    paths, n_buckets = job.paths, job.n_buckets
    max_postings_per_row = job.max_postings_per_row
    # --- resume filter: only buckets without a manifest ---
    done = _done_buckets(paths.manifests) if job.resume else set()
    if not job.resume:
        import shutil
        shutil.rmtree(paths.fragments, ignore_errors=True)
        shutil.rmtree(paths.manifests, ignore_errors=True)
        os.makedirs(paths.manifests, exist_ok=True)
    if done:
        salted = salted.filter(~F.col("bucket").isin(sorted(done)))

    # --- the big shuffle + T6 encode + S3/S5 per-bucket checkpoint sink ---
    t0 = time.time()
    if len(done) < n_buckets:
        summary = (
            salted.repartition(n_buckets, "bucket")
            # xxhash64(term) ahead of the string: the external sort's
            # row comparator decides almost every cross-term comparison
            # on the 8-byte hash instead of scanning term bytes; equal
            # terms (and the ~0 true collisions) fall through to the
            # string tiebreak, so equal-term runs stay contiguous and
            # within-term order is still docid (salt stays monotone) —
            # the encoder's run detection is unchanged. Fragment row
            # ORDER within a bucket changes (hash order) — tradeoff:
            # within-bucket parquet row groups no longer have tight
            # term min/max stats, so tail-term lookups in
            # candidate_segments can't prune row groups on the term
            # column; they prune on the stored thash column instead
            # (same hash function, sorted order — see FRAG_PA_SCHEMA).
            .sortWithinPartitions("bucket", F.xxhash64("term"), "term", "docid")
            .mapInArrow(_make_fragment_encoder(avgdl, paths.fragments, paths.manifests,
                                               head_terms, n_docs, job.salts,
                                               job.docid_offset),
                        schema=FRAGMENT_SUMMARY_SCHEMA)
        ).collect()  # tiny: one row per bucket; forces execution
    else:
        summary = []
    job.stage("fragments", t0, n_buckets=n_buckets, resumed_buckets=len(done),
              built_buckets=len(summary))

    # --- T7 merge → segments (HEAD/oversized terms only) ---
    # Tail fragments (one unsalted row per term, already ≤ one chunk)
    # ARE final segment rows; rewriting them through a tail-passthrough
    # job would copy ~95% of the index bytes for nothing — a full-corpus
    # write+read that neither scales (it is one column-copy job) nor
    # adds information. The segment store is therefore LAYERED: the
    # query path unions this merged head overlay with the tail rows
    # read straight from the fragment store (search.candidate_segments).
    t0 = time.time()
    if not os.path.isdir(paths.fragments) or not os.listdir(paths.fragments):
        # empty corpus (e.g. a delta build with zero new pages):
        # materialize empty-but-valid artifacts so search over the dir works
        frags = spark.createDataFrame([], schema=FRAGMENTS_READ_SCHEMA)
    else:
        frags = spark.read.schema(FRAGMENTS_READ_SCHEMA).parquet(paths.fragments)
    head = (
        frags.filter(F.col("is_head") | (F.col("n") > max_postings_per_row))
        # explicit width: merge groups are CPU-heavy per input byte
        # (decode + concat + re-encode of a head term's postings), so
        # AQE's byte-based coalescing (session.py parallelismFirst=
        # false) would pack several multi-second groups into one task —
        # measured at the 1M-page protocol: merge stage 34.9 s → 52.5 s
        # at local[4]. A pinned hash partitioning by term keeps the
        # groups spread; groupBy reuses it, so still ONE exchange.
        .repartition(n_buckets, "term")
        .groupBy("term").applyInPandas(_make_merger(avgdl, max_postings_per_row), SEGMENT_SCHEMA)
    )

    # --- T3 dictionary: derived from fragment METADATA (|fragment| rows,
    #     pure JVM) — no second aggregation over the raw token stream.
    # term-SORTED: prefix/wildcard queries range-scan the dictionary
    # (term >= p AND term < p⊕1, search.expand_prefix_terms) and the
    # sort gives every row group tight term min/max stats. One extra
    # exchange+sort on |vocabulary| rows — negligible next to the
    # posting stages at any corpus size.
    # n_terms rides the write itself (CollectMetrics via Observation) —
    # no read-back count job; and the two independent finalize jobs
    # (head merge overlay, dictionary) run CONCURRENTLY so the second
    # back-fills executors freed by the first's stragglers (guide §2.6).
    from pyspark.sql import Observation
    obs = Observation()
    dic = (frags.groupBy("term")
           .agg(F.sum("n").alias("df"), F.sum("cf").alias("cf"))
           .sort("term")
           .observe(obs, F.count(F.lit(1)).alias("n_terms")))
    # head-overlay row count rides the segments write the same way
    # n_terms rides the dictionary write: stats.json caches has_head so
    # query planning can skip scanning an EMPTY overlay (a corpus with
    # no head terms — candidate_segments) without a per-query listing
    obs_head = Observation()
    head = head.observe(obs_head, F.count(F.lit(1)).alias("head_rows"))

    def write(frame: DataFrame, path: str, observed: Observation, name: str) -> int:
        frame.write.mode("overwrite").parquet(path)
        return int(observed.get[name])

    (head_rows, seg_wall), (n_terms, dic_wall) = _concurrently(
        spark,
        ("finalize: head merge overlay",
         lambda: write(head, paths.segments, obs_head, "head_rows")),
        ("finalize: dictionary", lambda: write(dic, paths.dictionary, obs, "n_terms")))
    # stage names/count unchanged (manifest_audit counts distinct
    # stages); the two walls now OVERLAP on the cluster
    job.stage("merge+segments", t0 + max(0.0, (time.time() - t0) - seg_wall))
    job.stage("dictionary", time.time() - dic_wall, n_terms=n_terms)
    return job.finish(n_docs=n_docs, avgdl=avgdl, n_terms=n_terms,
                      has_head=head_rows > 0, head_thr=head_thr, **extra)


def _dir_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _done_buckets(manifests_dir: str) -> set[int]:
    out = set()
    if not os.path.isdir(manifests_dir):
        return out
    for name in os.listdir(manifests_dir):
        if name.startswith("bucket-") and name.endswith(".json"):
            out.add(int(name[len("bucket-"):-len(".json")]))
    return out

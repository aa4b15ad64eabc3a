"""Index compaction — ES/Lucene force-merge parity (SURVEY §2.11 X6+).

``compact_indexes`` merges a base+delta index CHAIN into ONE index that
is equal to a monolithic rebuild over the union corpus — including the
docids — WITHOUT re-reading or re-tokenizing any source page. It runs
in the build's own index-writing frame (build.py): the ``_IndexJob``
ledger (paths, resume guard, build_config.json, head set, stage log,
stats), the ``_concurrently`` job pair, ``_dense_docids``,
``_bucket_key`` and ``encode_merge_finalize``.
It differs from a build only in the token stream it feeds the back half:

1. new docids: the union of the per-dir doclens is range-partitioned
   by url and ranked by ``_dense_docids``, which reproduces the
   monolithic assignment exactly — a monolithic build's docid IS the
   url's global rank;
2. every fragment row of every input dir is decoded back to its
   per-posting (docid, term, tf, dl, posb) rows (numpy, mapInPandas —
   the encoder's exact inverse, bit-lossless by the codec roundtrip
   property, positions included);
3. token rows join the docid map (O(postings), the same order as the
   build's own big shuffle), take their bucket from ``_bucket_key`` and
   flow into ``encode_merge_finalize``: fragment encode with per-bucket
   checkpoints → head merge overlay → dictionary → stats.

Equality with a monolithic rebuild is exact: the doc set is identical
(delta building guarantees url-disjointness), dl and tf are stored
per posting, and avgdl = Σdl/N is computed from the same integers, so
every BM25 score is bit-identical (asserted in tests/test_compact.py).

Head-term classification uses the union DICTIONARY (exact df, frac =
1), not a sample — compaction already knows every term's global df for
free.

Tombstone purge (re-crawl overwrite chains, operators/incremental.py):
docids tombstoned anywhere in the chain are dropped from BOTH the
union doclens (so the superseded url contributes exactly one live row
to the docid ranking) and the decoded token stream (broadcast anti
joins — the dead set is bounded by re-crawls per chain). The compacted
index is therefore bit-equal to a monolithic latest-wins rebuild and
carries no tombstones itself — the physical purge ES's force-merge
performs for deleted docs.
"""

from __future__ import annotations

import time
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import decode_blocks_pos_bytes
from ..config import HEAD_DF_QUANTILE, MAX_POSTINGS_PER_ROW, SALTS
from .build import (_bucket_key, _concurrently, _dense_docids, _IndexJob,
                    byte_runs, encode_merge_finalize, read_dictionary,
                    read_doclens, read_fragments)

# per-posting (format v4): posb = the posting's pre-encoded positions
TOKENS_SCHEMA = "dir_id int, docid long, term string, tf long, dl long, posb binary"


def _union_doclens(spark: SparkSession, dirs: list[str]) -> DataFrame:
    return reduce(DataFrame.unionByName, [
        read_doclens(spark, d).select(F.lit(i).alias("dir_id"),
                                      F.col("docid").alias("old_docid"),
                                      "url", "dl", "warc_ts")
        for i, d in enumerate(dirs)])


def decode_fragments_to_tokens(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Per-posting (dir_id, docid, term, tf, dl, posb) rows from every
    fragment row of every dir — the fragment encoder's exact inverse.
    Position runs pass through as VERBATIM bytes
    (decode_blocks_pos_bytes, the merger's decoder, which also
    rejects a block whose position stream does not end at the next
    block's offset): per-posting streams are self-delimiting and
    independently concatenable, so the compacted index reproduces them
    bit-identically without ever decoding a position value."""
    def make_dec(dir_id: int):
        def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # accumulate decoded rows and yield LARGE batches: a yield
            # per fragment row costs one Arrow batch each (thousands of
            # tiny batches per task at real vocab sizes)
            acc: list[pd.DataFrame] = []
            acc_rows = 0
            for pdf in batches:
                for term, payload, blks in zip(pdf["term"], pdf["postings"],
                                               pdf["blocks"]):
                    d, tf, dl, pbuf, plens = decode_blocks_pos_bytes(
                        payload, [b["offset"] for b in blks])
                    if not d.size:
                        continue
                    acc.append(pd.DataFrame({
                        "dir_id": np.int32(dir_id), "docid": d, "term": term,
                        "tf": tf, "dl": dl, "posb": byte_runs(pbuf, plens),
                    }))
                    acc_rows += d.size
                    if acc_rows >= 65536:
                        yield pd.concat(acc, ignore_index=True)
                        acc, acc_rows = [], 0
            if acc:
                yield pd.concat(acc, ignore_index=True)
        return dec

    return reduce(DataFrame.unionByName, [
        read_fragments(spark, d).select("term", "blocks", "postings")
        .mapInPandas(make_dec(i), schema=TOKENS_SCHEMA)
        for i, d in enumerate(dirs)])


def salt_bucket_tokens(tokens: DataFrame, head_terms: list[str], n_docs: int,
                       salts: int, n_buckets: int) -> DataFrame:
    """Attach the bucket shuffle key (build._bucket_key, per unique term
    of each batch) to existing token rows, so the per-bucket
    checkpoint/resume semantics carry over from the build."""
    head_set = frozenset(head_terms)

    def key(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes, uniques = pd.factorize(pdf["term"].to_numpy(object))
            bucket = _bucket_key(uniques, codes, pdf["docid"].to_numpy(np.int64),
                                 head_set, n_docs, salts, n_buckets, 0)
            yield pdf[["docid", "term", "tf", "dl", "posb"]].assign(bucket=bucket)

    return tokens.mapInPandas(key, schema="docid long, term string, tf long, "
                                          "dl long, posb binary, bucket int")


def compact_indexes(
    spark: SparkSession,
    dirs: list[str],
    out_dir: str,
    *,
    n_partitions: int | None = None,
    n_buckets: int | None = None,
    salts: int = SALTS,
    head_df_quantile: float = HEAD_DF_QUANTILE,
    max_postings_per_row: int = MAX_POSTINGS_PER_ROW,
    resume: bool = False,
) -> dict:
    """Merge ``dirs`` (a base+delta chain) into one index at ``out_dir``
    that is bit-equal to a monolithic rebuild over the union corpus.
    Returns the stats dict (same shape as build_index's).

    ``resume=True`` mirrors build_index's semantics: a completed
    compaction returns its stats; an interrupted one recomputes only
    fragment buckets without a manifest (the docid map and the decode
    stream re-run — they are the cheap upstream, exactly like the
    scan/tokenize stages of a resumed build) and refuses to continue
    under a different config."""
    job = _IndexJob(spark, out_dir, n_partitions=n_partitions, n_buckets=n_buckets,
                    salts=salts, head_df_quantile=head_df_quantile,
                    max_postings_per_row=max_postings_per_row, resume=resume,
                    docid_offset=0)
    if job.done is not None:
        return job.done

    # --- new docid map + corpus stats (one pass over the union
    #     doclens; tombstoned docids are purged first — module
    #     docstring) ∥ exact head set from the union dictionary (the
    #     two stages read disjoint inputs — doclens + tombstones vs
    #     dictionaries — so they overlap on the cluster) ---
    t0 = time.time()

    def docid_map():
        from .search import _drop_dead, load_tombstones
        union_dl = _drop_dead(spark, _union_doclens(spark, dirs),
                              load_tombstones(spark, dirs)[0], "old_docid")
        rp = union_dl.repartitionByRange(job.n_partitions, "url").sortWithinPartitions("url")
        return _dense_docids(
            spark, rp, ["dir_id", "old_docid", "url", "dl", "warc_ts"], 0,
            lambda m: m.select("docid", "url", "dl", "warc_ts")
            .write.mode("overwrite").parquet(job.paths.doclens))

    dic = reduce(DataFrame.unionByName,
                 [read_dictionary(spark, d).select("term", "df") for d in dirs])
    ((id_map, n_docs, sumdl), _), ((head_terms, head_thr), hd_wall) = _concurrently(
        spark,
        ("compact: docid map + doclens", docid_map),
        ("compact: head-detect", lambda: job.head_set(
            dic.groupBy("term").agg(F.sum("df").alias("df")), 1.0)))
    avgdl = float(sumdl) / n_docs if n_docs else 0.0
    # stage names/count unchanged; the two walls overlap on the cluster
    job.stage("compact:docid-map+doclens", t0, n_docs=n_docs, avgdl=avgdl)
    job.stage("compact:head-detect", time.time() - hd_wall,
              head_thr=head_thr, n_head=len(head_terms))

    # --- decode → remap docids (the one extra O(postings) shuffle
    #     compaction pays vs a build: the join against the id map).
    #     Tombstoned docs purge themselves here: they are absent from
    #     the id map, so the INNER join drops their token rows. ---
    from ..config import COMPACT_BCAST_DOCIDS_MAX
    join_map = id_map.select("dir_id", "old_docid", "docid")
    if n_docs <= COMPACT_BCAST_DOCIDS_MAX:
        # broadcast the docid map: the O(postings) token stream is the
        # big side and must not be shuffled by this join — with the
        # broadcast, the only wide exchange it crosses is the build's
        # own bucket shuffle (encode_merge_finalize)
        join_map = F.broadcast(join_map)
    tokens = (decode_fragments_to_tokens(spark, dirs)
              .withColumnRenamed("docid", "old_docid")
              .join(join_map, ["dir_id", "old_docid"])
              .select("docid", "term", "tf", "dl", "posb"))
    salted = salt_bucket_tokens(tokens, head_terms, n_docs, salts, job.n_buckets)
    stats = encode_merge_finalize(spark, salted, job, avgdl=avgdl, n_docs=n_docs,
                                  head_terms=head_terms, head_thr=head_thr,
                                  compacted_from=list(dirs))
    id_map.unpersist()
    return stats

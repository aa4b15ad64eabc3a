"""Index compaction — ES/Lucene force-merge parity (SURVEY §2.11 X6+).

``compact_indexes`` merges a base+delta index CHAIN into ONE index that
is equal to a monolithic rebuild over the union corpus — including the
docids — WITHOUT re-reading or re-tokenizing any source page:

1. new docids: the union of the per-dir doclens is range-partitioned
   by url and ranked (the same two-pass dense-rank scheme the build
   uses), which reproduces the monolithic assignment exactly — a
   monolithic build's docid IS the url's global rank;
2. every fragment row of every input dir is decoded back to its
   per-occurrence (docid, term, pos, dl) token rows (numpy,
   mapInPandas — the encoder's exact inverse, bit-lossless by the
   codec roundtrip property, positions included);
3. token rows shuffle-join the docid map (O(postings), the same order
   as the build's own big shuffle) and flow into the shared back half
   of the build pipeline (build.encode_merge_finalize): salt/bucket →
   fragment encode with per-bucket checkpoints → head merge overlay →
   dictionary → stats.

Equality with a monolithic rebuild is exact: the doc set is identical
(delta building guarantees url-disjointness), dl and tf are stored
per posting, and avgdl = Σdl/N is computed from the same integers, so
every BM25 score is bit-identical (asserted in tests/test_compact.py).

Head-term classification uses the union DICTIONARY (exact df), not a
sample — compaction already knows every term's global df for free.

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

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import decode_blocks_pos_bytes
from ..config import (BLOCK_SIZE, FORMAT_VERSION, HEAD_DF_QUANTILE,
                      MAX_POSTINGS_PER_ROW, SALTS)
from .build import (IndexPaths, _salt_of, byte_runs, encode_merge_finalize,
                    read_dictionary, read_doclens, read_fragments)

# per-posting (format v4): posb = the posting's pre-encoded positions
TOKENS_SCHEMA = "dir_id int, docid long, term string, tf long, dl long, posb binary"


def _union_doclens(spark: SparkSession, dirs: list[str]) -> DataFrame:
    out = None
    for i, d in enumerate(dirs):
        dl = (read_doclens(spark, d)
              .select(F.lit(i).alias("dir_id"), F.col("docid").alias("old_docid"),
                      "url", "dl", "warc_ts"))
        out = dl if out is None else out.unionByName(dl)
    return out


def _assign_new_docids(spark: SparkSession, doclens: DataFrame,
                       n_partitions: int):
    """Monolithic docids for the union corpus: global url rank via the
    build's two-pass range-partition scheme. Returns (map_df, N, Σdl);
    map_df = (dir_id, old_docid, docid, url, dl, warc_ts), persisted."""
    from pyspark import StorageLevel

    rp = (doclens.repartitionByRange(n_partitions, "url")
          .sortWithinPartitions("url")
          .withColumn("pid", F.spark_partition_id())
          .persist(StorageLevel.MEMORY_AND_DISK))
    rows = rp.groupBy("pid").agg(
        F.count("*").alias("cnt"), F.sum("dl").alias("sumdl")).collect()
    counts = {r["pid"]: r["cnt"] for r in rows}
    sumdl = sum(int(r["sumdl"] or 0) for r in rows)
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            off = b_offsets.value[int(pdf["pid"].iloc[0])]
            pdf = pdf.assign(docid=np.arange(local, local + len(pdf),
                                             dtype=np.int64) + off)
            local += len(pdf)
            yield pdf[["dir_id", "old_docid", "docid", "url", "dl", "warc_ts"]]

    out = rp.mapInPandas(
        assign, schema="dir_id int, old_docid long, docid long, url string, "
                       "dl long, warc_ts timestamp")
    return out.persist(StorageLevel.MEMORY_AND_DISK), acc, sumdl


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

    out = None
    for i, d in enumerate(dirs):
        toks = (read_fragments(spark, d)
                .select("term", "blocks", "postings")
                .mapInPandas(make_dec(i), schema=TOKENS_SCHEMA))
        out = toks if out is None else out.unionByName(toks)
    return out


def _head_terms_from_dictionaries(spark: SparkSession, dirs: list[str],
                                  head_df_quantile: float) -> tuple[list[str], int]:
    """Exact head classification from the union dictionary (df summed
    across dirs) — no sampling needed at compaction time."""
    dic = None
    for d in dirs:
        piece = read_dictionary(spark, d).select("term", "df")
        dic = piece if dic is None else dic.unionByName(piece)
    from pyspark import StorageLevel
    dic = (dic.groupBy("term").agg(F.sum("df").alias("df"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        thr_row = dic.agg(F.percentile_approx("df", head_df_quantile).alias("t")).collect()[0]
        head_thr = max(int(thr_row["t"] or 0), 2 * BLOCK_SIZE + 1)
        head_terms = [r["term"] for r in
                      dic.filter(F.col("df") > head_thr).select("term").collect()]
    finally:
        dic.unpersist()
    return head_terms, head_thr


def salt_bucket_tokens(tokens: DataFrame, head_terms: list[str], n_docs: int,
                       salts: int, n_buckets: int) -> DataFrame:
    """Attach the (salt-mixed) bucket shuffle key to existing token rows
    — the non-tokenizing twin of build.tokenize_salt_bucket, same keying
    math so the per-bucket checkpoint/resume semantics carry over."""
    head_set = frozenset(head_terms)

    def key(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            salt, _ = _salt_of(pdf["term"], pdf["docid"], head_set,
                               n_docs, salts, 0)
            th = pd.util.hash_array(pdf["term"].to_numpy(object))
            bucket = ((th ^ (salt.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)))
                      % np.uint64(n_buckets)).astype(np.int32)
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
    from .build import _dir_complete

    paths = IndexPaths(out_dir)
    os.makedirs(paths.manifests, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    n_partitions = n_partitions or max(cpus, 8)
    n_buckets = n_buckets or n_partitions
    metrics: list[dict] = []
    t_all0 = time.time()

    if resume and os.path.exists(paths.stats) and _dir_complete(paths.segments):
        with open(paths.stats) as f:
            return json.load(f)
    cfg = {"format_version": FORMAT_VERSION,
           "n_buckets": n_buckets, "salts": salts, "docid_offset": 0,
           "block_size": BLOCK_SIZE, "max_postings_per_row": max_postings_per_row,
           "head_df_quantile": head_df_quantile}
    if resume and os.path.exists(paths.build_config):
        with open(paths.build_config) as f:
            stored = json.load(f)
        if stored != cfg:
            diff = {k: (stored.get(k), cfg[k]) for k in cfg if stored.get(k) != cfg[k]}
            raise ValueError(
                f"resume=True with a different compaction config than the "
                f"original run (stored vs current): {diff}.")

    from ..metrics import SpillTracker
    spill = SpillTracker(spark)

    def stage(name: str, t0: float, **kw) -> None:
        metrics.append({"stage": name, "wall_s": time.time() - t0,
                        **spill.delta(), **kw})

    if not (resume and os.path.exists(paths.build_config)):
        with open(paths.build_config, "w") as f:
            json.dump(cfg, f)

    # --- new docid map + corpus stats (one pass over the union
    #     doclens; tombstoned docids are purged first — module
    #     docstring) ∥ exact head set from the union dictionary (guide
    #     §2.6: the two stages read disjoint inputs — doclens +
    #     tombstones vs dictionaries — so they overlap on the cluster;
    #     head classification is reused on resume: bucket assignments
    #     must not shift mid-compaction) ---
    t0 = time.time()
    from concurrent.futures import ThreadPoolExecutor

    def _docid_map():
        spark.sparkContext.setJobDescription("compact: docid map + doclens")
        from .search import load_tombstones
        dead, _dl_dead = load_tombstones(spark, dirs)
        union_dl = _union_doclens(spark, dirs)
        if dead.size:
            # Arrow path (one numpy→Arrow column), not a python list of
            # tuples — bounded by TOMBSTONE_BUDGET but needlessly
            # driver-heavy near the ceiling otherwise (same fix as
            # incremental.py mask path)
            dead_df = spark.createDataFrame(
                pd.DataFrame({"dead_docid": dead.astype(np.int64)}))
            union_dl = union_dl.join(
                F.broadcast(dead_df),
                union_dl["old_docid"] == dead_df["dead_docid"],
                "left_anti")
        m, n, sdl = _assign_new_docids(spark, union_dl, n_partitions)
        m.select("docid", "url", "dl", "warc_ts") \
            .write.mode("overwrite").parquet(paths.doclens)
        return m, n, sdl

    def _head_detect() -> tuple[list, int, float]:
        spark.sparkContext.setJobDescription("compact: head-detect")
        t = time.time()
        heads_path = os.path.join(out_dir, "heads.json")
        if resume and os.path.exists(heads_path):
            with open(heads_path) as f:
                hm = json.load(f)
            return hm["terms"], hm["thr"], time.time() - t
        terms, thr = _head_terms_from_dictionaries(spark, dirs, head_df_quantile)
        with open(heads_path, "w") as f:
            json.dump({"terms": terms, "thr": thr, "frac": 1.0}, f)
        return terms, thr, time.time() - t

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_map = pool.submit(_docid_map)
        f_hd = pool.submit(_head_detect)
        id_map, n_docs, sumdl = f_map.result()
        head_terms, head_thr, hd_wall = f_hd.result()
    spark.sparkContext.setJobDescription(None)
    avgdl = float(sumdl) / n_docs if n_docs else 0.0
    # stage names/count unchanged; the two walls overlap on the cluster
    stage("compact:docid-map+doclens", t0, n_docs=n_docs, avgdl=avgdl)
    stage("compact:head-detect", time.time() - hd_wall,
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
    salted = salt_bucket_tokens(tokens, head_terms, n_docs, salts, n_buckets)

    n_terms, has_head = encode_merge_finalize(
        spark, salted, paths, avgdl=avgdl, head_terms=head_terms, n_docs=n_docs,
        salts=salts, n_buckets=n_buckets, max_postings_per_row=max_postings_per_row,
        docid_offset=0, resume=resume, stage=stage)

    stats = {
        "format_version": FORMAT_VERSION,
        "N": n_docs,
        "avgdl": avgdl,
        "n_terms": n_terms,
        "has_tail": os.path.isdir(paths.fragments) and bool(os.listdir(paths.fragments)),
        "has_head": has_head,
        "build_config": {
            "n_partitions": n_partitions, "n_buckets": n_buckets,
            "salts": salts, "head_thr": head_thr, "docid_offset": 0,
            "block_size": BLOCK_SIZE, "max_postings_per_row": max_postings_per_row,
        },
        "compacted_from": list(dirs),
        "wall_s": time.time() - t_all0,
    }
    with open(paths.stats, "w") as f:
        json.dump(stats, f, indent=1)
    with open(paths.metrics, "a") as f:
        for m in metrics:
            f.write(json.dumps(m) + "\n")
    id_map.unpersist()
    return stats

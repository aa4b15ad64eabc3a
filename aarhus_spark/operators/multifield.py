"""Multi-field indexing + ES ``multi_match`` retrieval.

Reference parity: aarhus's real documents are multi-field emails
(from/to/subject/body) indexed into Elasticsearch, where a query
searches several fields at once and combines per-field BM25 scores —
``best_fields`` (dis-max: the best single field wins, optionally
blended with a ``tie_breaker``) or ``most_fields`` (sum) [PK — ES
multi_match]. SURVEY §2 Q11.

Spark-first design: one standard single-field index PER FIELD under
``out_root/field=<name>/``, all sharing ONE docid space — the corpus
membership and the url→docid map are decided once, on the canonical
``text`` field (frozen P2-P4 prepare semantics), and every field index
is built over exactly that document set.  Fields that are empty for a
document are indexed as a zero-token placeholder so the document keeps
its docid everywhere (dl=0 ⇒ it simply never matches in that field —
ES's behaviour for a missing field).  This reuses the entire existing
build/search stack unchanged: per-field df/avgdl/N statistics fall out
of each field's own index, exactly like Lucene's per-field postings.

Query side: one block-max WAND kernel per query over the field-tagged
candidate rows of every field (Broder'03 / Ding & Suel'11 with a
combined cross-field interval bound), exact and bit-identical to the
field-sorted fold of per-field TAAT scores; no per-field match set is
materialized or shuffled.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# a single control char: passes the non-empty corpus guard, tokenizes
# to ZERO terms (the tokenizer only emits [a-z0-9]+ runs) — the
# "missing field" placeholder that keeps docid spaces aligned
EMPTY_FIELD_SENTINEL = "\x01"

MULTIFIELD_MANIFEST = "multifield.json"


def _field_dir(out_root: str, name: str) -> str:
    return os.path.join(out_root, f"field={name}")


def build_field_indexes(spark: SparkSession, pages: DataFrame,
                        out_root: str, fields: dict[str, Column],
                        **build_kw) -> dict:
    """Build one inverted index per field over a SHARED docid space.

    ``fields`` maps field name → Column expression producing that
    field's text from the canonical page row (columns: url, warc_ts,
    html, text, lang — ``text`` already extracted/deduped).  The first
    step applies the frozen P2-P4 prepare ONCE
    (:func:`~aarhus_spark.operators.build.prepare_pages`: lang filter,
    E(html) where text is null, empty-text guard, dedup-by-url
    latest-wins) so every field sees the same winning row per url;
    per-field builds then substitute the field expression as the page
    text (empty → :data:`EMPTY_FIELD_SENTINEL`, which indexes as dl=0)
    and run the standard :func:`~aarhus_spark.operators.build.build_index`.  Docids
    are assigned by lexicographic url order over identical url sets,
    so the per-field maps are identical by construction (asserted
    cheaply here via N).
    """
    from pyspark import StorageLevel

    from .build import build_index, prepare_pages

    base = prepare_pages(pages).persist(StorageLevel.MEMORY_AND_DISK)
    stats: dict[str, dict] = {}
    try:
        for name, expr in fields.items():
            fpages = base.select(
                "url", "warc_ts",
                F.lit(None).cast("binary").alias("html"),
                F.coalesce(F.nullif(expr, F.lit("")),
                           F.lit(EMPTY_FIELD_SENTINEL)).alias("text"),
                F.lit("en").alias("lang"))
            stats[name] = build_index(spark, fpages,
                                      _field_dir(out_root, name), **build_kw)
        ns = {name: s["N"] for name, s in stats.items()}
        if len(set(ns.values())) > 1:   # pragma: no cover — by construction
            raise AssertionError(f"field corpora diverged: {ns}")
        with open(os.path.join(out_root, MULTIFIELD_MANIFEST), "w") as f:
            json.dump({"fields": list(fields), "N": next(iter(ns.values()))}, f)
    finally:
        base.unpersist()
    return stats


def list_fields(out_root: str) -> list[str]:
    with open(os.path.join(out_root, MULTIFIELD_MANIFEST)) as f:
        return json.load(f)["fields"]


def search_multi_match(spark: SparkSession, index_root: str,
                       queries: DataFrame, k: int = 10,
                       fields: list[str] | None = None,
                       boosts: dict[str, float] | None = None,
                       mode: str = "best_fields",
                       tie_breaker: float = 0.0) -> DataFrame:
    """ES ``multi_match`` top-k over a multi-field index.

    ``best_fields``: score = max over fields + tie_breaker · (sum of
    the other fields) — ES dis_max with tie_breaker (default 0.0 ⇒
    pure max). ``most_fields``: score = sum over fields. Per-field
    boosts multiply that field's BM25 score (ES ``fields=["f^2"]``).
    Queries are (query_id, qtext) rows; other columns are ignored.

    One pass, shaped like :func:`~.search.search_topk`: every field's
    candidate segment rows, tagged with their field, are unioned,
    fanned out to the queries holding their term and scored by ONE
    block-max WAND kernel per query (:func:`_multi_match_one_query`),
    so no (query, doc, field) score is ever materialized or shuffled.
    Exact, not a rescoring of per-field top-k lists: each field's score
    is the same sorted-term fold as ``search_taat``, times the field's
    boost, and the fields fold in field-name order from 0.0 — the sum
    left to right, the best with ``greatest`` — so scores are
    bit-identical to summing per-field TAAT scores in that order.
    Above one docid range the kernel runs per (query, docid range) and
    the ranges merge (:func:`~.search._per_query`, which sizes the
    fan-out from a field's docid domain: fields share docids).
    """
    from .search import (RESULT_SCHEMA, _chain, _df_of, _per_query,
                         _QueryAnalysis, candidate_segments)

    if mode not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown multi_match mode: {mode!r}")
    fields = sorted(set(fields or list_fields(index_root)))
    boosts = boosts or {}
    qa = _QueryAnalysis(spark, queries.select("query_id", "qtext"))
    if not qa.terms:
        return spark.createDataFrame([], schema=RESULT_SCHEMA)
    fstats, seg, dead = [], None, np.empty(0, dtype=np.int64)
    for name in fields:
        chain = _chain(spark, _field_dir(index_root, name))
        fseg = candidate_segments(spark, chain.dirs, qa.terms)
        fstats.append((name, chain.n_docs, chain.avgdl,
                       _df_of(spark, chain, qa.terms, fseg),
                       float(boosts.get(name, 1.0))))
        # docids are shared across fields: a doc dead in one is dead
        dead = np.union1d(dead, chain.dead)
        fseg = fseg.withColumn("field", F.lit(name))
        seg = fseg if seg is None else seg.unionByName(fseg)
    args = (fstats, dead, mode, float(tie_breaker), k)
    # the last field's domain serves: fields share docids
    return _per_query(
        spark, seg, qa.qterms_pdf.itertuples(index=False, name=None),
        chain.domain, None, k,
        lambda qid, g, lo, hi: _multi_match_one_query(
            g, *args, range_lo=lo, range_hi=hi))


def _combine(fscores: np.ndarray, hit: np.ndarray, mode: str,
             tie_breaker: float) -> np.ndarray:
    """Cross-field combine of boosted per-field scores (rows = fields
    in name order, columns = docs; ``hit`` marks the fields a doc
    matched). Folds from 0.0 over the matched fields in row order —
    ``total`` adds left to right, ``best`` takes ``greatest`` — so the
    double arithmetic is the field-sorted fold of ES's combine:
    most_fields = total, best_fields = best + tie·(total − best)."""
    total = np.zeros(fscores.shape[1], dtype=np.float64)
    best = np.zeros(fscores.shape[1], dtype=np.float64)
    for v, m in zip(fscores, hit):
        total = np.where(m, total + v, total)
        best = np.where(m, np.maximum(best, v), best)
    if mode == "most_fields":
        return total
    return best + tie_breaker * (total - best)


def _multi_match_one_query(g: pd.DataFrame, fstats: list[tuple],
                           dead: np.ndarray, mode: str, tie_breaker: float,
                           k: int, range_lo: int = 0,
                           range_hi: int | None = None) -> pd.DataFrame:
    """Exact combined top-k for one query (or one docid range of it)
    over field-tagged candidate rows.

    ``fstats`` = (field, N, avgdl, df source, boost) per field in
    name order. Every field's blocks go into ONE block table (term
    indexes field-major, terms sorted within a field) cut into one set
    of elementary intervals (``search._BlockScan``). A candidate's
    per-field score is that field's sorted-term ``np.add.at`` fold —
    exactly ``_wand_one_query``'s — times the field's boost; fields
    combine by :func:`_combine`.

    Pruning: an interval's bound is the combine of boost_f · Σ (covering
    block bounds of field f). The combine is monotone in every field
    score when every boost is ≥ 0 and 0 ≤ tie_breaker ≤ 1, so the
    bound then holds for every doc in the interval; it is widened by a
    relative 1e-12 so double rounding in the combine can never drop it
    below a real score. For any other parameters the bound is +inf:
    the same kernel, exact, without pruning."""
    from .search import _block_table, _BlockScan, _empty_result, _TopK

    if range_hi is None:
        range_hi = np.iinfo(np.int64).max
    blocks: list[tuple] = []
    idfs: list[float] = []
    avgdls: list[float] = []
    field_of_ti: list[int] = []
    for fi, (name, n_docs, avgdl, df_of, _boost) in enumerate(fstats):
        gf = g[g["field"] == name]
        if not len(gf):
            continue
        _, fidfs, fblocks = _block_table(gf, n_docs, avgdl, df_of,
                                         ti0=len(idfs))
        blocks += fblocks
        idfs += fidfs
        avgdls += [avgdl] * len(fidfs)
        field_of_ti += [fi] * len(fidfs)
    scan = _BlockScan(blocks, range_lo, range_hi, idfs, avgdls,
                      field_of_ti, len(fstats))
    if not scan.blocks:
        return _empty_result()
    boost = np.array([s[4] for s in fstats], dtype=np.float64)[:, None]
    if (boost >= 0.0).all() and 0.0 <= tie_breaker <= 1.0:
        ub = _combine(boost * scan.ubs, np.ones(scan.ubs.shape, dtype=bool),
                      mode, tie_breaker) * (1.0 + 1e-12)
    else:
        ub = np.full(scan.ends.size, np.inf)
    fi_of = np.array(field_of_ti, dtype=np.int64)
    top = _TopK(k)
    for iv, lo_d, hi_d in scan.walk(ub, top):
        per_term, _ = scan.gather(iv, lo_d, hi_d)
        if not per_term:
            continue
        alld = np.concatenate([p[0] for p in per_term])
        allc = np.concatenate([p[1] for p in per_term])
        allf = np.concatenate([np.full(p[0].size, fi_of[p[2]])
                               for p in per_term])
        uniq, inv = np.unique(alld, return_inverse=True)
        fscores = np.zeros((len(fstats), uniq.size), dtype=np.float64)
        # adds in array order = field-major, sorted-term order
        np.add.at(fscores, (allf, inv), allc)
        hit = np.zeros(fscores.shape, dtype=bool)
        hit[allf, inv] = True
        scores = _combine(fscores * boost, hit, mode, tie_breaker)
        if dead.size:
            keep = ~np.isin(uniq, dead)
            uniq, scores = uniq[keep], scores[keep]
        top.push(*top.mask(uniq, scores))
    return top.frame(int(g["query_id"].iloc[0]))

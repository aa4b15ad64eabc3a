"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join → exact-Jaccard verify), SimHash, and n-gram Jaccard —
each expressed as DataFrame transformations whose expensive parts are
hash-partitioned joins/aggregations (scale: the LSH band join shuffles
only (doc_id, band_hash) pairs, never text; the verify join touches
only candidate pairs).

Cross-engine-portable hashing: md5-based 60-bit ints (see
harness.py), so every operator here has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tokenizer contract shared by the Spark operators and the DuckDB
# oracle twins: lowercase, then extract [a-z0-9]+ runs. CONTRACT NOTE —
# ASCII corpus assumed: Spark/Python (str.lower) and DuckDB (lower())
# implement different Unicode case maps; e.g. Python lowercases 'İ' to
# 'i' + COMBINING DOT ABOVE, so the two sides can extract different
# [a-z0-9]+ runs from non-ASCII text. On ASCII text (the frozen fixture
# contract, SURVEY §1.3.2) the mappings agree byte-for-byte. Feeding
# non-ASCII corpora through the dedup oracles requires pinning both
# sides to an explicit ASCII-only case fold first.
TOKS_EXPR = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"


def _h(expr: str) -> str:
    """Portable 60-bit hash of a string expression (Spark dialect)."""
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, text) -> (doc_id, sh): distinct n-gram token shingles.

    Vectorized Arrow pass (mapInPandas), not a JVM higher-order-function
    pipeline: `transform(sequence(...), i -> element_at(...))` under an
    explode defeats common-subexpression elimination and re-runs the
    tokenizer regex per lambda reference — measured 5.6× slower than
    this pandas pass on the sf0.1 corpus. Token semantics are exactly
    ``TOKS_EXPR`` (the DuckDB twin's contract): lowercase [a-z0-9]+
    runs, no length cap."""

    def sh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = pdf[text_col].str.lower().str.findall("[a-z0-9]+")
            shs = toks.map(
                lambda t: list({" ".join(g) for g in zip(*(t[i:] for i in range(n)))})
                if len(t) >= n else [])
            out = (pd.DataFrame({"doc_id": pdf["doc_id"], "sh": shs})
                   .explode("sh").dropna(subset=["sh"]))
            if len(out):
                yield out

    return df.mapInPandas(sh, schema="doc_id long, sh string")


def exact_duplicates(df: DataFrame, key: str = "text") -> DataFrame:
    """Exact dedup by content hash-groupBy: rows whose ``key`` equals an
    earlier row's. Returns (doc_id, keep_id). One shuffle on md5(key)
    (never the full text at scale — group on the digest)."""
    groups = (
        df.groupBy(F.md5(key).alias("k"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    return (
        df.select("doc_id", F.md5(key).alias("k"))
        .join(groups, "k")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", "keep_id")
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = 8) -> DataFrame:
    """(doc_id, sh) -> (doc_id, m0..m{n-1}): MinHash signature via
    n_hashes salted portable hashes, one hash-agg pass."""
    aggs = []
    for i in range(n_hashes):
        salted = "concat('" + str(i) + ":', sh)"
        aggs.append(F.expr(f"min({_h(salted)})").alias(f"m{i}"))
    return sh.groupBy("doc_id").agg(*aggs)


def _lsh_candidate_pairs_lazy(sig: DataFrame, n_hashes: int = 8,
                              band_size: int = 2,
                              max_bucket: int = 64):
    """Candidate-pair DAG without materialization: returns
    ``(cand_lazy, bands_persisted)``. The caller owns the bands cache —
    it must keep it alive until the one action that consumes ``cand``
    has run, then unpersist. Shared by :func:`lsh_candidate_pairs`
    (standalone, eager) and :func:`minhash_lsh_dedup` (which folds the
    candidate DAG into the verify job: one Spark action instead of two
    materialize+re-read round trips of the pair set — identical rows,
    r8 A/B)."""
    from pyspark import StorageLevel

    n_bands = n_hashes // band_size
    bands = None
    for b in range(n_bands):
        cols = "||','||".join(
            f"CAST(m{b * band_size + j} AS STRING)" for j in range(band_size))
        piece = sig.select(
            "doc_id", F.lit(b).alias("band"), F.expr(_h(f"({cols})")).alias("bh"))
        bands = piece if bands is None else bands.unionByName(piece)
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    freq = bands.groupBy("band", "bh").agg(
        F.count("*").alias("f"), F.min("doc_id").alias("rep"))
    small = freq.filter(F.col("f") <= max_bucket).select("band", "bh")
    bs = bands.join(small, ["band", "bh"], "left_semi")
    a = bs.alias("a")
    b2 = bs.alias("b")
    full = (
        a.join(b2, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    star = (
        bands.join(freq.filter(F.col("f") > max_bucket).select("band", "bh", "rep"),
                   ["band", "bh"])
        .filter(F.col("doc_id") != F.col("rep"))     # rep = bucket min < doc_id
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return full.unionByName(star).distinct(), bands


def lsh_candidate_pairs(sig: DataFrame, n_hashes: int = 8, band_size: int = 2,
                        max_bucket: int = 64) -> DataFrame:
    """Band the signature (rows of band_size hashes), hash each band,
    self-join on (band, band_hash) -> distinct candidate (doc_a, doc_b).

    Degenerate-bucket handling: a band bucket holding f docs generates
    O(f²) pairs inside ONE join key — mass-duplicated boilerplate (or a
    tiny vocabulary) can put millions of docs in one bucket and melt a
    single task at web scale. Buckets with > max_bucket docs therefore
    do NOT all-pairs self-join; they emit STAR pairs instead —
    (bucket-min doc_id, member) — O(f) pairs that keep every member
    connected to one representative, which is exactly what keep-one
    dedup needs. The recall trade, stated honestly: pairs BETWEEN two
    non-representative members of an oversized cluster are not emitted,
    and a near-dup cluster that saturates one band's bucket saturates
    its other n_bands-1 buckets too (its signatures are near-identical),
    so those member-member pairs are genuinely not produced anywhere —
    they are NOT "caught in another band". Deterministic; mirrored in
    the DuckDB oracle twin (harness_data._minhash_duck).

    Note: the union of per-band selects, NOT an explode of a per-row
    struct array — the branches share one ReusedExchange over the
    signature aggregation, and the measured wall is ~1.4 s faster at
    sf0.1 than the explode variant (r8 A/B)."""
    cand, bands = _lsh_candidate_pairs_lazy(sig, n_hashes, band_size,
                                            max_bucket)
    # materialize the (small) pair set eagerly, then RELEASE the bands
    # cache — returning a lazy frame on top of a persisted internal
    # DataFrame would leak cached partitions on every call in a
    # long-lived session (the caller can't unpersist what it never
    # sees). localCheckpoint truncates the lineage so downstream
    # consumers never re-derive from the unpersisted bands. Cluster
    # caveat: an eager localCheckpoint keeps its blocks only on the
    # executors that computed them, with no lineage, so a lost executor
    # fails the consumer instead of recomputing.
    cand = cand.localCheckpoint(eager=True)
    bands.unpersist()
    return cand


def jaccard_verify(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("ns"))
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, (F.col("y.doc_id") == F.col("doc_b")) & (F.col("y.sh") == F.col("x.sh")))
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("ni"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .withColumn("jac", F.col("ni") / (F.col("sa.ns") + F.col("sb.ns") - F.col("ni")))
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard_r"))
    )


def minhash_lsh_dedup(df: DataFrame, n_hashes: int = 8, band_size: int = 2,
                      threshold: float = 0.5, max_bucket: int = 64) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH bands →
    candidate join (degenerate buckets > max_bucket dropped) → exact
    Jaccard verify ≥ threshold.

    The shingle stream is persisted: signatures, the intersection join
    (twice) and the size agg all consume it — four recomputations
    otherwise. At cluster scale swap the persist for a parquet/object
    -store checkpoint of the same frame (it is O(shingles) ≫ corpus
    rows, but each row is ~30 B).

    The candidate DAG stays LAZY here (``_lsh_candidate_pairs_lazy``)
    and folds into the verify action: the standalone eager
    checkpoint-then-re-read of the pair set bought nothing inside the
    fused pipeline — one action instead of two (identical rows, r8
    A/B; the wall win is the removed materialize+re-read round trip).
    The bands and shingle caches are released only after the single
    verify action."""
    from pyspark import StorageLevel

    sh = shingles(df).persist(StorageLevel.MEMORY_AND_DISK)
    sig = minhash_signatures(sh, n_hashes)
    cand, bands = _lsh_candidate_pairs_lazy(sig, n_hashes, band_size,
                                            max_bucket)
    # eager: materialize the verified pairs, then release the shingle
    # and bands caches (same leak-on-return argument and cluster
    # caveat as lsh_candidate_pairs: a lost executor fails the
    # consumer instead of recomputing)
    out = jaccard_verify(cand, sh, threshold).localCheckpoint(eager=True)
    bands.unpersist()
    sh.unpersist()
    return out


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        max_shingle_freq: int = 20) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold WITHOUT LSH (the exact
    baseline). Frequent-shingle filtering bounds the self-join: a
    shingle occurring in > max_shingle_freq docs generates O(f²) pairs
    and near-zero Jaccard signal, so it is dropped from candidate
    generation (deterministic, applied identically in the oracle);
    Jaccard is still computed over ALL shingles."""
    from pyspark import StorageLevel

    sh = shingles(df).persist(StorageLevel.MEMORY_AND_DISK)
    rare = (sh.groupBy("sh").agg(F.count("*").alias("f"))
            .filter(F.col("f") <= max_shingle_freq).select("sh"))
    sh_r = sh.join(rare, "sh")
    x = sh_r.alias("x")
    y = sh_r.alias("y")
    cand = (
        x.join(y, (F.col("x.sh") == F.col("y.sh"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # eager, then release the shingle cache (same leak-on-return
    # argument and cluster caveat as lsh_candidate_pairs)
    out = jaccard_verify(cand, sh, threshold).localCheckpoint(eager=True)
    sh.unpersist()
    return out


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash): sign-of-sum over per-token
    hash bits (distinct tokens, weight 1). One explode + one hash agg."""
    tok = (
        df.withColumn("toks", F.expr(TOKS_EXPR))
        .select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
        .withColumn("hv", F.expr(_h("term")))
    )
    aggs = [
        F.sum(F.when(F.expr(f"(shiftright(hv, {b}) & 1) = 1"), 1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*aggs)
    expr = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return agg.select("doc_id", F.expr(f"CAST({expr} AS BIGINT)").alias("simhash"))

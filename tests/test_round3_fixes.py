"""Round-3 regression tests: index format v3 (per-row first_docid +
format_version gate), range-join low-side pruning metadata, the
oversized-LSH-bucket star-pairing, and the ANN candidate-bucket cap."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from aarhus_spark.codec import decode_blocks
from aarhus_spark.config import FORMAT_VERSION
from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.operators.search import load_stats, search_wand
from aarhus_spark.sources.fixtures import gen_pages, gen_queries


@pytest.fixture(scope="module")
def idx(spark, tmpdir_session):
    pdf = gen_pages(500)
    out = os.path.join(tmpdir_session, "idx_r3")
    build_index(spark, spark.createDataFrame(pdf), out,
                n_partitions=4, n_buckets=3, salts=3,
                max_postings_per_row=120)
    return pdf, out


def test_stats_carry_format_version_and_tail_flag(idx):
    _, out = idx
    st = load_stats(out)
    assert st["format_version"] == FORMAT_VERSION
    assert st["has_tail"] is True
    with open(IndexPaths(out).build_config) as f:
        assert json.load(f)["format_version"] == FORMAT_VERSION


def test_reader_refuses_layout_mismatch(idx, tmpdir_session):
    """A v0.1/v0.2 dir read by v0.3 code would silently double-serve or
    mis-prune postings — load_stats must refuse instead."""
    _, out = idx
    bad = os.path.join(tmpdir_session, "idx_r3_badver")
    import shutil
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(out, bad)
    p = IndexPaths(bad).stats
    st = json.load(open(p))
    st["format_version"] = FORMAT_VERSION - 1
    json.dump(st, open(p, "w"))
    with pytest.raises(ValueError, match="layout version"):
        load_stats(bad)
    del st["format_version"]           # pre-versioning dir
    json.dump(st, open(p, "w"))
    with pytest.raises(ValueError, match="layout version"):
        load_stats(bad)


def test_first_docid_matches_decoded_postings(spark, idx):
    """Every fragment AND segment row's stored first_docid must equal the
    first decoded docid of its first block (the range join's low-side
    pruning bound — a wrong value silently drops postings from ranges)."""
    _, out = idx
    for path in (IndexPaths(out).fragments, IndexPaths(out).segments):
        rows = (spark.read.parquet(path)
                .select("first_docid", "blocks", "postings").collect())
        assert rows
        for r in rows:
            d = decode_blocks(r["postings"],
                              [b["offset"] for b in r["blocks"]], 0, 1)[0]
            assert int(r["first_docid"]) == int(d[0])
            # and the last block's last_docid bounds the row from above
            assert int(r["first_docid"]) <= int(r["blocks"][-1]["last_docid"])


def test_range_join_low_bound_prunes(spark, idx):
    """The (query, range) fan-out must NOT replicate a row into ranges
    entirely below its docid span. Reconstructed from the same inputs
    the operator uses: with the low-side bound, a row joins exactly
    ceil(span/width)-ish ranges instead of every range ≥ its start."""
    from aarhus_spark.operators.search import _chain
    _, out = idx
    frags = (spark.read.parquet(IndexPaths(out).fragments)
             .withColumn("max_docid", F.element_at("blocks", -1)["last_docid"])
             .select("first_docid", "max_docid").collect())
    lo_dom, hi_dom = _chain(spark, [out]).domain
    n_ranges = 8
    width = max(1, (hi_dom - lo_dom + 1 + n_ranges - 1) // n_ranges)
    bounds = [(lo_dom + r * width, lo_dom + (r + 1) * width - 1)
              for r in range(n_ranges)]
    old_pred = new_pred = 0
    for r in frags:
        for lo, hi in bounds:
            if r["max_docid"] >= lo:
                old_pred += 1
                if r["first_docid"] <= hi:
                    new_pred += 1
    # tail rows sit in narrow docid spans → the low bound must prune
    assert new_pred < old_pred
    # and every joined row genuinely overlaps its range
    for r in frags:
        for lo, hi in bounds:
            joined = r["max_docid"] >= lo and r["first_docid"] <= hi
            overlap = not (r["max_docid"] < lo or r["first_docid"] > hi)
            assert joined == overlap


def test_wand_still_bit_identical_after_v3(spark, idx):
    """End-to-end guard: the v3 metadata + theta mask changed no result
    bit (ranges-vs-single equality is separately covered in
    test_wand_ranges.py)."""
    from aarhus_spark.operators.search import search_wand_ranges
    pdf, out = idx
    qdf = spark.createDataFrame(gen_queries(pdf).head(12))
    a = sorted(tuple(r) for r in search_wand(spark, out, qdf).collect())
    b = sorted(tuple(r) for r in
               search_wand_ranges(spark, out, qdf, n_ranges=6).collect())
    assert a == b


def test_lsh_star_pairs_for_oversized_buckets(spark):
    """A near-dup cluster larger than max_bucket must stay connected via
    star pairs to the bucket-min representative (previously: silently
    dropped entirely)."""
    from aarhus_spark.operators.dedup import minhash_lsh_dedup
    text = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [(i, text) for i in range(8)]          # 8 identical docs
    rows += [(100, "completely different words nothing shared here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_lsh_dedup(df, max_bucket=3).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    # every member 1..7 connected to representative 0 with jaccard 1.0
    for i in range(1, 8):
        assert (0, i) in pairs
    assert all(r["jaccard_r"] == 1.0 for r in got)
    assert not any(100 in p for p in pairs)


def test_ann_lsh_bucket_cap(spark):
    """cosine_topk_lsh with a huge cap equals the uncapped semantics;
    with a small cap, candidates are the lowest-vec_id bucket members
    (deterministic) and queries still return results."""
    from aarhus_spark.operators.similarity import cosine_topk_lsh
    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(8).astype(float).tolist())
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    big = sorted(tuple(r) for r in
                 cosine_topk_lsh(emb, [0, 1], [0, 1, 2], k=5,
                                 max_bucket=1 << 30).collect())
    dflt = sorted(tuple(r) for r in
                  cosine_topk_lsh(emb, [0, 1], [0, 1, 2], k=5).collect())
    assert big == dflt                      # default cap inactive at this N
    small = cosine_topk_lsh(emb, [0, 1], [0, 1, 2], k=5, max_bucket=4).collect()
    assert len(small) > 0
    # capped candidate set ⊆ the 4 lowest-vec_id members of each bucket
    # (minus the query itself) — recomputed independently
    from aarhus_spark.operators.similarity import sign_lsh_buckets
    b = {r["vec_id"]: r["bucket"]
         for r in sign_lsh_buckets(emb, [0, 1, 2]).collect()}
    by_bucket = {}
    for vid in sorted(b):
        by_bucket.setdefault(b[vid], []).append(vid)
    allowed = {v for mem in by_bucket.values() for v in mem[:4]}
    assert all(r["vec_id"] in allowed for r in small)

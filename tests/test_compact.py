"""Compaction (ES force-merge parity): compacting a base+delta chain
must reproduce a monolithic rebuild EXACTLY — same docids (url ranks),
same doclens, same stats, and bit-identical BM25 results."""

import json
import os

import pytest

from aarhus_spark.operators.build import IndexPaths, build_index
from aarhus_spark.operators.compact import compact_indexes
from aarhus_spark.operators.incremental import build_delta
from aarhus_spark.operators.search import search_taat, search_topk
from aarhus_spark.sources.fixtures import gen_pages, gen_queries


@pytest.fixture(scope="module")
def three_indexes(spark, tmpdir_session):
    pdf = gen_pages(900)
    pdf = pdf[~pdf["url"].duplicated(keep=False)].reset_index(drop=True)
    base_pages = spark.createDataFrame(pdf.iloc[:600])
    all_pages = spark.createDataFrame(pdf)
    mono = os.path.join(tmpdir_session, "cp_mono")
    base = os.path.join(tmpdir_session, "cp_base")
    delta = os.path.join(tmpdir_session, "cp_delta")
    comp = os.path.join(tmpdir_session, "cp_out")
    build_index(spark, all_pages, mono, n_partitions=4, n_buckets=5, salts=2)
    build_index(spark, base_pages, base, n_partitions=4, n_buckets=5, salts=2)
    build_delta(spark, all_pages, base, delta, n_partitions=4, n_buckets=5, salts=2)
    compact_indexes(spark, [base, delta], comp, n_partitions=4, n_buckets=5, salts=2)
    return pdf, mono, comp


def test_compacted_stats_equal_monolithic(spark, three_indexes):
    _, mono, comp = three_indexes
    s_m = json.load(open(IndexPaths(mono).stats))
    s_c = json.load(open(IndexPaths(comp).stats))
    assert s_c["N"] == s_m["N"]
    assert s_c["avgdl"] == s_m["avgdl"]          # bit-equal: Σdl/N of same ints
    assert s_c["n_terms"] == s_m["n_terms"]


def test_compacted_doclens_equal_monolithic(spark, three_indexes):
    _, mono, comp = three_indexes
    m = sorted((r["docid"], r["url"], r["dl"]) for r in
               spark.read.parquet(IndexPaths(mono).doclens).collect())
    c = sorted((r["docid"], r["url"], r["dl"]) for r in
               spark.read.parquet(IndexPaths(comp).doclens).collect())
    assert c == m  # docids themselves equal: compaction == monolithic ranks


def test_compacted_search_bit_identical(spark, three_indexes):
    pdf, mono, comp = three_indexes
    qdf = spark.createDataFrame(gen_queries(pdf).head(15))
    want = sorted(map(tuple, search_taat(spark, mono, qdf).collect()))
    got_taat = sorted(map(tuple, search_taat(spark, comp, qdf).collect()))
    got_wand = sorted(map(tuple, search_topk(spark, comp, qdf, n_ranges=3).collect()))
    assert len(want) > 0
    assert got_taat == want   # docids AND scores bit-identical
    assert got_wand == want


def test_compacted_dictionary_equal_monolithic(spark, three_indexes):
    _, mono, comp = three_indexes
    m = sorted(tuple(r) for r in spark.read.parquet(IndexPaths(mono).dictionary).collect())
    c = sorted(tuple(r) for r in spark.read.parquet(IndexPaths(comp).dictionary).collect())
    assert c == m


def test_compact_resume_recomputes_only_missing_bucket(spark, three_indexes,
                                                       tmpdir_session):
    """Kill one bucket of a compacted index (manifest + data, stats and
    segments gone) → resume recomputes only that bucket and the result
    still bit-matches the monolithic build."""
    import shutil

    from aarhus_spark.operators.build import _done_buckets
    from aarhus_spark.operators.incremental import build_delta  # noqa: F401
    pdf, mono, comp = three_indexes
    broken = os.path.join(tmpdir_session, "cp_broken")
    shutil.copytree(comp, broken)
    p = IndexPaths(broken)
    os.remove(os.path.join(p.manifests, "bucket-2.json"))
    shutil.rmtree(os.path.join(p.fragments, "bucket=2"))
    os.remove(p.stats)
    shutil.rmtree(p.segments)
    assert _done_buckets(p.manifests) == {0, 1, 3, 4}
    base = os.path.join(tmpdir_session, "cp_base")
    delta = os.path.join(tmpdir_session, "cp_delta")
    # continuing the interrupted compaction under another config would
    # mix two bucket spaces: refused before any bucket is touched
    with pytest.raises(ValueError, match="build config"):
        compact_indexes(spark, [base, delta], broken, n_partitions=4, n_buckets=5,
                        salts=3, resume=True)
    assert _done_buckets(p.manifests) == {0, 1, 3, 4}
    compact_indexes(spark, [base, delta], broken, n_partitions=4, n_buckets=5,
                    salts=2, resume=True)
    assert _done_buckets(p.manifests) == set(range(5))
    qdf = spark.createDataFrame(gen_queries(pdf).head(10))
    want = sorted(map(tuple, search_taat(spark, mono, qdf).collect()))
    got = sorted(map(tuple, search_taat(spark, broken, qdf).collect()))
    assert got == want


def test_compact_rejects_misaligned_position_stream(spark, three_indexes,
                                                    tmpdir_session):
    """A fragment row whose last block's position stream stops short of
    the payload end (one trailing byte) must fail the compaction decode,
    as it fails the build's merger, instead of being copied verbatim."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aarhus_spark.operators.compact import decode_fragments_to_tokens

    _, mono, _ = three_indexes
    bad = os.path.join(tmpdir_session, "cp_misaligned")
    shutil.copytree(mono, bad)
    files = glob.glob(os.path.join(IndexPaths(bad).fragments, "**",
                                   "*.parquet"), recursive=True)
    assert files
    for f in files:
        t = pq.ParquetFile(f).read()
        i = t.schema.get_field_index("postings")
        padded = pa.array([p + b"\x00" for p in t.column(i).to_pylist()],
                          type=t.schema.field(i).type)
        pq.write_table(t.set_column(i, t.schema.field(i), padded), f)
    assert decode_fragments_to_tokens(spark, [mono]).count() > 0
    with pytest.raises(Exception, match="payload/offset mismatch"):
        decode_fragments_to_tokens(spark, [bad]).count()


def test_index_writers_release_their_cache(spark, tmpdir_session):
    """build_index, build_delta and compact_indexes each leave the
    session's persisted RDDs as they found them: the dense-docid
    ranking's partition-id frame is released once its output is
    loaded, and the output once the index is written."""
    import pandas as pd

    pdf = gen_pages(150)
    base = os.path.join(tmpdir_session, "rel_base")
    delta = os.path.join(tmpdir_session, "rel_delta")
    comp = os.path.join(tmpdir_session, "rel_comp")
    rec = pdf.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec = rec.iloc[::7].assign(warc_ts=lambda d: d["warc_ts"] + pd.Timedelta(days=2))
    kw = dict(n_partitions=2, n_buckets=3, salts=2)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    start = persistent().size()
    sizes = []
    build_index(spark, spark.createDataFrame(pdf), base, **kw)
    sizes.append(persistent().size())
    build_delta(spark, spark.createDataFrame(rec), base, delta,
                on_recrawl="tombstone", **kw)
    sizes.append(persistent().size())
    compact_indexes(spark, [base, delta], comp, **kw)
    sizes.append(persistent().size())
    assert os.path.isdir(os.path.join(delta, "tombstones"))
    assert sizes == [start] * 3

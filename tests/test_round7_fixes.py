"""Round-7 regression tests.

1. ``hashing.xxhash64`` ≡ Spark's ``F.xxhash64`` (the thash pushdown's
   correctness hinge) across lengths covering every tail path.
2. The Arrow-path fragment encoder (mapInArrow, contiguous position
   buffers) produces a bit-identical index to the round-6 contract:
   e2e build → decode → compare against a pandas re-derivation, plus
   carry-across-batch behaviour exercised directly.
3. ``scripts/search.py`` flag/mode validation errors.
4. ``candidate_segments`` pushes the thash predicate for tail lookups.
"""

from __future__ import annotations

import random
import string
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from aarhus_spark.hashing import xxhash64


# ---------------------------------------------------------------------------
# 1. xxhash64 parity with Spark
# ---------------------------------------------------------------------------

def test_xxhash64_reference_vectors():
    # standard XXH64 vectors (Spark == reference for len % 8 < 4)
    assert xxhash64(b"", seed=0) & (2**64 - 1) == 0xEF46DB3751D8E999
    assert xxhash64(b"a", seed=0) & (2**64 - 1) == 0xD24EC4F1A98C6E5B


def test_xxhash64_matches_spark(spark):
    rng = random.Random(7)
    words = [""] + ["".join(rng.choice(string.ascii_lowercase + "0139_é")
                            for _ in range(n)) for n in range(1, 41)]
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["h"] for r in
           df.select("w", F.xxhash64("w").alias("h")).collect()}
    for w in words:
        assert xxhash64(w) == got[w], f"mismatch for {w!r} (len {len(w)})"


# ---------------------------------------------------------------------------
# 2. Arrow fragment encoder: carry-across-batches + bit identity
# ---------------------------------------------------------------------------

def _posting_batch(rows):
    """rows: list of (docid, term, tf, dl, posb bytes, bucket)."""
    docid, term, tf, dl, posb, bucket = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(docid), pa.int64()), pa.array(list(term), pa.string()),
         pa.array(list(tf), pa.int64()), pa.array(list(dl), pa.int64()),
         pa.array(list(posb), pa.binary()),
         pa.array(list(bucket), pa.int32())],
        names=["docid", "term", "tf", "dl", "posb", "bucket"])


def test_encoder_carry_across_batches(tmp_path):
    """A (term, salt) run spanning three Arrow batches must encode as
    ONE fragment, with the position bytes stitched in order."""
    from aarhus_spark.codec import decode_blocks, encode_pos_chunks
    from aarhus_spark.operators.build import _make_fragment_encoder

    frag_dir, man_dir = str(tmp_path / "frags"), str(tmp_path / "mans")
    import os
    os.makedirs(man_dir)
    enc = _make_fragment_encoder(avgdl=3.0, fragments_dir=frag_dir,
                                 manifests_dir=man_dir, head_terms=[],
                                 n_docs=30, salts=2, docid_offset=0)
    # 30 postings for one tail term, one position each, split 11/8/11
    docids = np.arange(30, dtype=np.int64)
    positions = (docids % 7).astype(np.int64)
    tfs = np.ones(30, dtype=np.int64)
    buf, plens = encode_pos_chunks(positions, tfs)
    boff = np.concatenate(([0], np.cumsum(plens)))
    posb = [bytes(buf[boff[i]:boff[i + 1]].tobytes()) for i in range(30)]
    rows = [(int(d), "zz", 1, 3, posb[i], 5) for i, d in enumerate(docids)]
    batches = [_posting_batch(rows[:11]), _posting_batch(rows[11:19]),
               _posting_batch(rows[19:])]
    out = list(enc(iter(batches)))
    assert len(out) == 1 and out[0].num_rows == 1  # one bucket summary
    import pyarrow.parquet as pq
    frag = pq.read_table(frag_dir + "/bucket=5").to_pylist()
    assert len(frag) == 1, "run spanning batches must become ONE fragment"
    r = frag[0]
    assert r["term"] == "zz" and r["n"] == 30 and r["thash"] == xxhash64("zz")
    d, t, l, _, p = decode_blocks(
        r["postings"], [b["offset"] for b in r["blocks"]], positions=True)
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(p, positions)


def test_encoder_salt_boundary_splits_runs(tmp_path):
    """A HEAD term's range-salt boundary must split fragments even when
    the rows arrive inside one batch."""
    from aarhus_spark.codec import encode_pos_chunks
    from aarhus_spark.operators.build import _make_fragment_encoder
    import os
    frag_dir, man_dir = str(tmp_path / "frags"), str(tmp_path / "mans")
    os.makedirs(man_dir)
    enc = _make_fragment_encoder(avgdl=2.0, fragments_dir=frag_dir,
                                 manifests_dir=man_dir, head_terms=["hh"],
                                 n_docs=10, salts=2, docid_offset=0)
    docids = np.arange(10, dtype=np.int64)
    tfs = np.ones(10, dtype=np.int64)
    buf, plens = encode_pos_chunks(np.zeros(10, np.int64), tfs)
    boff = np.concatenate(([0], np.cumsum(plens)))
    rows = [(int(d), "hh", 1, 2,
             bytes(buf[boff[i]:boff[i + 1]].tobytes()), 3)
            for i, d in enumerate(docids)]
    list(enc(iter([_posting_batch(rows)])))
    import pyarrow.parquet as pq
    frag = sorted(pq.read_table(frag_dir + "/bucket=3").to_pylist(),
                  key=lambda r: r["salt"])
    assert [r["salt"] for r in frag] == [0, 1]
    assert [r["n"] for r in frag] == [5, 5]
    assert all(r["is_head"] for r in frag)


def test_merger_refuses_overlapping_head_fragments():
    """Range salting keeps a head term's fragments docid-disjoint, so
    overlapping fragments mean a corrupt or mixed fragment store: the
    merger raises, naming the term, instead of re-sorting."""
    from aarhus_spark.codec import encode_blocks, encode_pos_chunks
    from aarhus_spark.operators.build import _make_merger

    def fragment(salt, docids):
        docids = np.asarray(docids, dtype=np.int64)
        tfs = np.ones(docids.size, dtype=np.int64)
        payload, blocks = encode_blocks(
            docids, tfs, np.full(docids.size, 3, dtype=np.int64), 3.0, 128,
            pos_encoded=encode_pos_chunks(np.zeros(docids.size, np.int64), tfs))
        return {"term": "hh", "salt": salt, "is_head": True, "n": docids.size,
                "cf": docids.size, "first_docid": int(docids[0]),
                "blocks": [{"last_docid": b[0], "max_partial": b[1], "offset": b[2]}
                           for b in blocks],
                "postings": payload}

    merge = _make_merger(avgdl=3.0, max_postings_per_row=1000)
    merged = merge(("hh",), pd.DataFrame([fragment(1, [3, 4]), fragment(0, [0, 1, 2])]))
    assert list(merged["n"]) == [5] and list(merged["first_docid"]) == [0]
    with pytest.raises(ValueError, match="'hh' overlap"):
        merge(("hh",), pd.DataFrame([fragment(0, [0, 2, 4]), fragment(1, [1, 3])]))


def test_tokenize_postings_pandas_wrapper():
    """The pandas materialization (kept for compat) still produces the
    v4 per-posting shape with correct positions."""
    from aarhus_spark.operators.build import tokenize_postings
    pdf = pd.DataFrame({"docid": [1, 2], "text": ["b a b", "c"]})
    out = tokenize_postings(pdf).sort_values(["docid", "term"])
    assert list(out["term"]) == ["a", "b", "c"]
    assert list(out["tf"]) == [1, 2, 1]
    assert list(out["dl"]) == [3, 3, 1]


# ---------------------------------------------------------------------------
# 3. scripts/search.py flag validation
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("argv", [
    ["--mode", "phrase", "--must-not", "x"],
    ["--mode", "phrase", "--require-all"],
    ["--mode", "phrase", "--min-should-match", "2"],
    ["--mode", "prefix", "--score-mode", "proximity"],
    ["--mode", "taat", "--slop", "2"],
])
def test_search_cli_rejects_incompatible_flags(argv):
    res = subprocess.run(
        [sys.executable, "scripts/search.py", "--index", "/nonexistent",
         "--queries", "/nonexistent", *argv],
        capture_output=True, text=True, cwd="/root/repo")
    assert res.returncode == 2, res.stderr       # argparse error exit
    assert "only appl" in res.stderr


# ---------------------------------------------------------------------------
# 4. thash pushdown reaches the tail scan
# ---------------------------------------------------------------------------

def test_tail_lookup_pushes_thash(spark, tmpdir_session, sf_dir):
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import candidate_segments
    idx = _ensure_index(spark, sf_dir)
    seg = candidate_segments(spark, idx, ["zirconium", "the"])
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "thash" in plan, "tail scan must carry the thash predicate"
    # and the pushed filter reaches the parquet source
    assert "PushedFilters" in plan

"""Frozen engine constants (SURVEY.md §1.3 — the reference contract).

These values must never drift without regenerating golden files:
both the Spark engine and the independent NumPy oracle import them,
so rank-identity (BASELINE.json north rule) holds by construction
and is re-asserted in tests.
"""

# BM25 parameters — Lucene BM25Similarity defaults (BASELINE.json:6).
K1: float = 1.2
B: float = 0.75

# Top-k retrieval default (BASELINE.json metric: "BM25 top-10").
TOP_K: int = 10

# Tokenizer: max token length (ES standard analyzer drops >255 by
# default; we freeze 64 per SURVEY §1.3.2 — ASCII web text fixture
# never produces longer tokens, so equivalence is exact where tested).
MAX_TOKEN_LEN: int = 64

# Posting-list block size (postings per block-max block; Ding & Suel
# SIGIR'11 use 64-128; Lucene uses 128).
BLOCK_SIZE: int = 128

# Max postings encoded into a single segment row. A merged posting
# list longer than this is split into chunked rows (term, chunk_id)
# so no single Arrow record / executor task ever holds an unbounded
# head-term posting list — the 10^12-doc scale guard (SURVEY §7).
MAX_POSTINGS_PER_ROW: int = 1 << 20

# Skew salting: number of docid-range salts for head terms (SURVEY
# §2.3 T5). Head terms (df above the quantile threshold) are split
# into SALTS disjoint docid ranges before the big term shuffle;
# range-based (not hash-based) salting keeps each fragment
# docid-contiguous so the merge is an ordered concat, and delta-gaps
# stay small.
SALTS: int = 16

# df-quantile that defines "head term" for salting (SURVEY §2.5 A4).
HEAD_DF_QUANTILE: float = 0.999

# Max dead (tombstoned) docids a query-time index CHAIN may carry.
# The re-crawl overwrite path (operators/incremental.py) keeps dead
# docids as a driver-side sorted array that is closure-captured by the
# scorers and broadcast-anti-joined — cheap only while the set stays
# small relative to the corpus. The bound is ENFORCED, not asserted in
# prose: load_tombstones raises past it, pointing at compaction (which
# purges tombstones physically). Env-overridable for ops/tests.
import os as _os

TOMBSTONE_BUDGET: int = int(_os.environ.get("AARHUS_TOMBSTONE_BUDGET", 2_000_000))

# Max (query_id, term) pairs one top-k call may dispatch. The per-query
# dispatcher (operators/search._per_query) embeds the pairs in the query
# plan as one literal map, which every kernel-stage task deserializes,
# so its size is bounded here, not left to grow with the batch: past it
# the call raises and asks for a smaller batch. 100k pairs is ~2.5 MB of
# literal (a 50-query batch of 1024-way prefix expansions fits); no
# fallback path exists.
QUERY_ROWS_BUDGET: int = 100_000

# Compaction: broadcast the (dir_id, old_docid) → docid map into the
# token-remap join while the union corpus is at most this many docs —
# the token stream (O(postings), the heavy side) is then never
# shuffled by the join; only the build's own bucket exchange moves it
# (guide §3.1: broadcast replaces a shuffle of the big side). 4M rows
# ≈ ~100 MB built relation — the "few hundred MB is fine" band; past
# it the sort-merge join path takes over. Env-overridable per cluster.
COMPACT_BCAST_DOCIDS_MAX: int = int(
    _os.environ.get("AARHUS_COMPACT_BCAST_DOCIDS_MAX", 4_000_000))

# On-disk index layout version, written into build_config.json and
# stats.json at build time and VERIFIED at read time: readers refuse a
# mismatched layout instead of silently mis-serving it (a v0.1 dir read
# by v0.2+ code would double-serve tail postings — segments AND
# fragments both carry them there). History:
#   1 = v0.1 monolithic segments (tail rows copied into segments/)
#   2 = v0.2 layered store (segments = head overlay; tail from fragments)
#   3 = v0.3 layered store + per-row first_docid (chunk-parallel WAND
#       range-join pruning needs the true low end of each row's span)
#   4 = v0.4 positional postings: each block carries a fourth VByte
#       stream of per-posting term positions (codec.py) for phrase /
#       proximity queries. The first three streams are byte-identical
#       to v3 and the position stream sits after them, so BM25 scoring
#       never touches it — but a v3 reader would mis-serve a v4 dir's
#       tail/segment split assumptions, hence the version bump.
#   5 = v0.5 fragment rows gain a stored xxhash64(term) column
#       (``thash``): rows are written in thash order (the shuffle's
#       8-byte sort comparator), so row-group min/max pruning for
#       tail-term lookups moves from term (now hash-scattered) to
#       thash. Posting payload bytes are UNCHANGED from v4; a v4
#       reader would merely lose tail pruning, but the version gate
#       keeps reader and writer honest about the physical layout.
FORMAT_VERSION: int = 5

"""ES/Lucene span queries (round 7): span_near (ordered + unordered),
span_not, span_first — positional structure queries over the format-v5
postings, the last Lucene query family aarhus's ES layer exposes that
the engine did not yet answer [PK — ES span queries / Lucene SpanQuery;
SURVEY §2 Q37-Q39].

Semantics (documented contracts, Lucene parity for single-term
clauses — each clause span occupies exactly one position):

- ``span_near(clauses, slop, in_order=True)``: a doc matches iff one
  position p_i can be chosen per clause (the SAME term in two clauses
  needs two distinct positions) with p_1 < p_2 < … < p_n and total
  intervening slack ``p_n − p_1 − (n−1) ≤ slop`` — Lucene
  NearSpansOrdered's match-length budget for unit-length spans.
- ``in_order=False``: any arrangement, same budget on the covering
  window: ``(max p − min p) − (n−1) ≤ slop`` — NearSpansUnordered.
  This is EXACTLY the engine's sloppy-phrase window feasibility with
  all phrase offsets 0 and slop' = slop + n − 1, so the unordered path
  reuses the Q9 kernel (`_sloppy_match`) verbatim — including its
  distinct-positions handling for repeated clause terms.
- ``span_not(include_phrase, exclude, pre, post)``: the include clause
  is an EXACT phrase (the common ES idiom — "this phrase, not near
  X"); a doc matches iff SOME occurrence [a, a+L−1] of the phrase has
  no ``exclude``-term position inside [a−pre, a+L−1+post] — Lucene
  SpanNotQuery with its pre/post guard bands. The exclude term is
  never required, never scored (the positional counterpart of
  bool.must_not).
- ``span_first(term, end)``: the term occurs at position < ``end``
  (0-based token index, the postings' stored convention) — Lucene
  SpanFirstQuery over a unit span.

Matching docs are ranked by the standard disjunctive BM25 sum over the
distinct POSITIVE clause terms (frozen fold order §1.3.4) — the same
declared contract as Q8/Q9: the match filter is the thing under test
and the DuckDB twin is the disjunctive oracle restricted to matching
docs.

Plan shape: identical to search_phrase — each op is only a match step
(`_span_near_match`, `_span_not_match`, `_span_first_match`,
`_intervals_match`) over `search._positional_topk`, which owns the
rest: candidate segment rows for the clause terms (term-IN parquet
pushdown) grouped per query or per (query, docid range) — a doc's
spans are evaluated entirely inside the one range holding its docid —
the shared two-pass decode (`search._decode_candidate_positions`:
docids intersect on scoring streams before any position byte is
touched, and position streams decode only for blocks still holding a
candidate), the BM25 ranking above and the top-k cut.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..config import TOP_K
from ..textops import tokenize
from .search import (_exact_anchor_keys, _min_window_flat, _position_keys,
                     _PositionalTerms, _positional_topk, _sloppy_match,
                     read_query_rows)

_MASK32 = np.int64((1 << 32) - 1)


def _ordered_chain_locals(clause_keys: list[np.ndarray],
                          width: int) -> np.ndarray:
    """Feasibility of the ORDERED chain: from every start position of
    clause 1, greedily take the smallest strictly-later position of
    each next clause in the same doc (greedy is optimal — the earliest
    valid continuation minimizes the end without excluding any later
    choice), then keep starts whose chain stays within ``width``
    positions end-to-start. Fully vectorized: one searchsorted per
    clause over the (local_docid << 32 | pos) key stream. Returns the
    sorted unique local docids with a feasible chain."""
    starts = clause_keys[0]
    cur = starts
    for nxt in clause_keys[1:]:
        if not cur.size or not nxt.size:
            return np.array([], dtype=np.int64)
        idx = np.searchsorted(nxt, cur, side="right")
        valid = idx < nxt.size
        cand = nxt[np.minimum(idx, nxt.size - 1)]
        ok = valid & ((cand >> np.int64(32)) == (cur >> np.int64(32)))
        starts, cur = starts[ok], cand[ok]
    if not cur.size:
        return np.array([], dtype=np.int64)
    ok = (cur & _MASK32) - (starts & _MASK32) <= width
    return np.unique(starts[ok] >> np.int64(32))


def _span_near_match(clauses: list[str], slop: int, in_order: bool,
                     inter: np.ndarray, per_term: dict) -> tuple:
    width = slop + len(clauses) - 1
    if in_order:
        keys = [_position_keys(per_term, t, inter) for t in clauses]
        return _ordered_chain_locals(keys, width), None, {}
    # the Q9 window kernel with all offsets 0: max−min ≤ width,
    # distinct positions for repeated clause terms
    matched_local, _ = _sloppy_match([(0, t) for t in clauses], per_term,
                                     inter, width)
    return matched_local, None, {}


def _span_not_match(phrase: list[str], exclude: str, pre: int, post: int,
                    inter: np.ndarray, per_term: dict) -> tuple:
    anchors = _exact_anchor_keys(list(enumerate(phrase)), per_term, inter)
    ex = np.sort(_position_keys(per_term, exclude, inter))
    if anchors.size and ex.size:
        L = len(phrase)
        a_local = anchors >> np.int64(32)
        a_pos = anchors & _MASK32
        lo = (a_local << np.int64(32)) | np.maximum(a_pos - pre, 0)
        hi = (a_local << np.int64(32)) | (a_pos + np.int64(L - 1 + post))
        # an anchor survives iff NO exclude position lies in [lo, hi]
        survive = np.searchsorted(ex, lo) == np.searchsorted(
            ex, hi, side="right")
        anchors = anchors[survive]
    return np.unique(anchors >> np.int64(32)), None, {}


def _span_first_match(term: str, end: int, inter: np.ndarray,
                      per_term: dict) -> tuple:
    keys = _position_keys(per_term, term, inter)
    return np.unique(keys[(keys & _MASK32) < end] >> np.int64(32)), None, {}


def _clauses_of(qtext: str) -> list[str]:
    toks = tokenize(qtext)
    if len(toks) < 2:
        raise ValueError(f"span_near needs >= 2 clauses, got {qtext!r}")
    return toks


def search_span_near(spark: SparkSession, index_dir, queries: DataFrame,
                     slop: int = 0, in_order: bool = True, k: int = TOP_K,
                     n_ranges: int | None = None) -> DataFrame:
    """Span-near top-k: each row of ``queries`` is (query_id, qtext);
    the analyzed tokens are the single-term clauses, in clause order.
    Contract in the module docstring. Returns the Q8 result shape."""
    qrows = read_query_rows(queries, "query_id", "qtext")
    plans = {int(r["query_id"]): _clauses_of(r["qtext"]) for r in qrows}
    return _positional_topk(
        spark, index_dir,
        {qid: _PositionalTerms(cl) for qid, cl in plans.items()}, n_ranges, k,
        lambda qid, inter, per_term: _span_near_match(
            plans[qid], slop, in_order, inter, per_term))


def search_span_not(spark: SparkSession, index_dir, queries: DataFrame,
                    pre: int = 0, post: int = 0, k: int = TOP_K,
                    n_ranges: int | None = None) -> DataFrame:
    """Span-not top-k: each row of ``queries`` is (query_id, qtext,
    exclude) — qtext the exact include phrase, exclude a single term.
    Contract in the module docstring."""
    qrows = read_query_rows(queries, "query_id", "qtext", "exclude")
    plans, excl = {}, {}
    for r in qrows:
        qid = int(r["query_id"])
        toks = tokenize(r["qtext"])
        ex = tokenize(r["exclude"])
        if not toks or len(ex) != 1:
            raise ValueError("span_not needs a phrase and ONE exclude term")
        plans[qid] = toks
        excl[qid] = ex[0]
    return _positional_topk(
        spark, index_dir,
        {qid: _PositionalTerms(plans[qid], optional=(excl[qid],))
         for qid in plans},
        n_ranges, k,
        lambda qid, inter, per_term: _span_not_match(
            plans[qid], excl[qid], pre, post, inter, per_term))


def search_span_first(spark: SparkSession, index_dir, queries: DataFrame,
                      end: int, k: int = TOP_K,
                      n_ranges: int | None = None) -> DataFrame:
    """Span-first top-k: each row of ``queries`` is (query_id, qtext)
    with a SINGLE analyzed term; a doc matches iff the term occurs at
    position < ``end`` (0-based). Contract in the module docstring."""
    qrows = read_query_rows(queries, "query_id", "qtext")
    plans = {}
    for r in qrows:
        toks = tokenize(r["qtext"])
        if len(toks) != 1:
            raise ValueError("span_first takes exactly one term")
        plans[int(r["query_id"])] = toks
    return _positional_topk(
        spark, index_dir,
        {qid: _PositionalTerms(toks) for qid, toks in plans.items()},
        n_ranges, k,
        lambda qid, inter, per_term: _span_first_match(
            plans[qid][0], end, inter, per_term))


def _parse_intervals(qtext: str) -> list[list[str]]:
    """``"a|b c d|e"`` → ordered clauses of any_of alternatives.
    Alternatives must be DISJOINT across clauses — with disjoint sets
    a document position can satisfy only one clause, so both the
    ordered chain and the unordered min-cover are exact without a
    distinctness pass (validated here, raised otherwise)."""
    clauses = []
    for part in qtext.split():
        alts = sorted({t for a in part.split("|") for t in tokenize(a)})
        if not alts:
            raise ValueError(f"empty intervals clause in {qtext!r}")
        clauses.append(alts)
    if len(clauses) < 2:
        raise ValueError(f"intervals needs >= 2 clauses, got {qtext!r}")
    seen: set[str] = set()
    for alts in clauses:
        if seen & set(alts):
            raise ValueError("intervals alternatives must be disjoint "
                             f"across clauses: {qtext!r}")
        seen |= set(alts)
    return clauses


def _intervals_match(clauses: list[list[str]], max_gaps: int,
                     ordered: bool, inter: np.ndarray,
                     per_term: dict) -> tuple:
    width = max_gaps + len(clauses) - 1
    keys = [np.sort(np.concatenate(
                [_position_keys(per_term, t, inter) for t in alts]))
            for alts in clauses]
    if ordered:
        return _ordered_chain_locals(keys, width), None, {}
    # per-doc min cover over clause labels: positions are distinct
    # across clauses by the disjointness contract, so the classic
    # k-sorted-lists window is exact
    pos = np.concatenate(keys)
    labels = np.concatenate([np.full(a.size, i, dtype=np.int64)
                             for i, a in enumerate(keys)])
    locs = pos >> np.int64(32)
    hits = []
    for loc in np.unique(locs):
        m = locs == loc
        if np.unique(labels[m]).size < len(clauses):
            continue
        w = _min_window_flat((pos[m] & _MASK32), labels[m])
        if w <= width:
            hits.append(int(loc))
    return np.array(hits, dtype=np.int64), None, {}


def search_intervals(spark: SparkSession, index_dir, queries: DataFrame,
                     max_gaps: int = 0, ordered: bool = True,
                     k: int = TOP_K,
                     n_ranges: int | None = None) -> DataFrame:
    """ES ``intervals`` query, the ``all_of`` rule over ``any_of``
    leaves `[PK]`: each row of ``queries`` is (query_id, qtext) with
    clauses separated by spaces and per-clause alternatives by ``|``
    (``"hash|table join"`` = all_of[any_of(hash, table), join]). A doc
    matches iff one position per clause can be chosen from that
    clause's alternatives with total slack ≤ ``max_gaps`` — in clause
    order when ``ordered`` (ES ``ordered: true``), any arrangement
    otherwise — exactly the Q37 budget with any_of leaf sets
    (``max_gaps = p_n − p_1 − (n−1)`` bound for unit spans).
    Alternatives must be disjoint across clauses (validated; the
    exactness contract in :func:`_parse_intervals`).

    Candidate docs intersect GROUP UNIONS (a doc needs some
    alternative of every clause — `search._decode_candidate_positions
    required_groups`), so a rare alternative cannot empty the
    candidate set its group mate covers. Ranked by the Q8 contract:
    disjunctive BM25 over the distinct present alternatives."""
    qrows = read_query_rows(queries, "query_id", "qtext")
    plans = {int(r["query_id"]): _parse_intervals(r["qtext"])
             for r in qrows}
    return _positional_topk(
        spark, index_dir,
        {qid: _PositionalTerms(any_of=cl) for qid, cl in plans.items()},
        n_ranges, k,
        lambda qid, inter, per_term: _intervals_match(
            plans[qid], max_gaps, ordered, inter, per_term))

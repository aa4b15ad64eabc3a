"""Output checks. Each returns a list of problems; an empty list passes.

Every check compares engine rows with answers computed independently
(the NumPy oracle in ``aarhus_spark.oracle`` or the oracle's postings),
or, for operators without an oracle, with the engine's own first answer
for the same query in the same run.
"""

from __future__ import annotations

from collections import defaultdict


def by_query(rows) -> dict[int, list[tuple]]:
    """Group result rows (tuples whose first field is query_id) by query,
    each group sorted."""
    out: dict[int, list[tuple]] = defaultdict(list)
    for r in rows:
        out[int(r[0])].append(tuple(r[1:]))
    return {q: sorted(v, key=repr) for q, v in out.items()}


def ranked(got_rows, want: dict[int, list[tuple]]) -> list[str]:
    """Top-k rows (query_id, rank, docid, score) must be rank-, docid-
    and bit-identical in score to ``want`` (query_id -> [(rank, docid,
    score)], the oracle's answer)."""
    got = by_query(got_rows)
    problems = []
    for q, w in want.items():
        g = sorted(got.get(q, []))
        if g != sorted(w):
            problems.append(f"query {q}: got {g[:3]}... want {sorted(w)[:3]}...")
    extra = set(got) - set(want)
    if extra:
        problems.append(f"rows for unexpected queries {sorted(extra)[:5]}")
    return problems


# A tombstoned chain scores with avgdl_eff = (avgdl·N − Σdl_dead) / N_eff
# (operators/search.py ``_chain_stats``), which can differ from a
# monolithic index's Σdl / N in the last bits: chain scores are off by up
# to a few ulps (4e-16 relative seen). A wrong N, df or avgdl moves a
# score by far more than this tolerance.
CHAIN_REL_TOL = 1e-12


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= CHAIN_REL_TOL * max(abs(a), abs(b))


def ranked_by_url(got: dict[int, list[tuple]], want: dict[int, list[tuple]]
                  ) -> list[str]:
    """Top-k lists of (rank, url, score) from two indexes whose docids
    differ (an index chain and its compaction, or either and the
    oracle). Scores must match rank by rank within CHAIN_REL_TOL; urls
    must match wherever the score is above the list's last score. Docs
    tied at the last score may differ, because each side breaks ties by
    its own docid order."""
    problems = []
    for q in sorted(set(got) | set(want)):
        g, w = sorted(got.get(q, [])), sorted(want.get(q, []))
        if len(g) != len(w) or not all(_close(x[2], y[2]) for x, y in zip(g, w)):
            problems.append(f"query {q}: scores differ")
            continue
        if not g:
            continue
        cut = max(g[-1][2], w[-1][2]) * (1 + CHAIN_REL_TOL)
        gu = {x[1] for x in g if x[2] > cut}
        wu = {x[1] for x in w if x[2] > cut}
        if gu != wu:
            problems.append(f"query {q}: urls above the tie score differ")
    return problems


def counts(got: dict, want: dict, what: str) -> list[str]:
    """Exact equality of per-query values (counts or aggregates)."""
    problems = []
    for q in sorted(set(got) | set(want)):
        if got.get(q) != want.get(q):
            problems.append(f"query {q}: {what} {got.get(q)} != {want.get(q)}")
    return problems


class SameAnswer:
    """Operators without an oracle must give the same rows for a query on
    every call in a run: the first answer for (operator, query text) is
    kept and each later one is compared with it. Batches of 1 and of 25
    queries share query texts, so the check also catches an answer that
    depends on what else is in the batch."""

    def __init__(self):
        self._seen: dict[tuple[str, str], list[tuple]] = {}

    def check(self, op: str, qtexts: dict[int, str], rows) -> list[str]:
        got = by_query(rows)
        problems = []
        for q, text in qtexts.items():
            key, mine = (op, text), got.get(q, [])
            if key not in self._seen:
                self._seen[key] = mine
            elif self._seen[key] != mine:
                problems.append(f"query {q} ({text!r}): answer changed")
        return problems

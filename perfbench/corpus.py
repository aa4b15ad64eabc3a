"""Seeded inputs: the pages corpus, query batches and re-crawl batches,
plus the oracle answers they are checked against."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from aarhus_spark import oracle
from aarhus_spark.sources.fixtures import gen_pages_block

# Rows of the generated pages table: ~90% pass the lang filter and ~1%
# are planted re-crawls of the same url, leaving ~900 indexed docs.
# Sized so that a run (cold JVM, two index builds, one round of calls)
# takes under a minute on 4 cores.
N_ROWS = 1000
BATCH = 25
HOST_RE = re.compile(r"^https?://([^/]+)")


def pages(seed: int) -> pd.DataFrame:
    """The corpus: exactly the rows ``gen_pages_spark(spark, N_ROWS, seed)``
    generates, built on the driver so the oracle reads the same rows."""
    return gen_pages_block(np.arange(N_ROWS), seed)


def live_texts(rows: pd.DataFrame) -> dict[str, str]:
    """url -> text of the docs an index over ``rows`` holds: latest
    warc_ts per url wins, then the lang filter (the frozen prepare
    rules; every generated row carries its text)."""
    best = (rows.sort_values(["warc_ts", "text"])
            .drop_duplicates("url", keep="last"))
    best = best[(best["lang"] == "en") & (best["text"].str.len() > 0)]
    return dict(zip(best["url"], best["text"]))


class Terms:
    """Corpus terms ranked by document frequency (rank 0 = most common),
    so query batches can draw from head, middle and tail ranks."""

    def __init__(self, index: oracle.OracleIndex):
        self.ranked = sorted(index.df, key=lambda t: (-index.df[t], t))

    def pick(self, rng, lo: int, hi: int) -> str:
        hi = min(hi, len(self.ranked))
        return self.ranked[int(rng.integers(lo, hi))]


def batch_frame(texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame({"query_id": np.arange(len(texts), dtype=np.int64),
                         "qtext": texts})


def mixed_queries(terms: Terms, rng) -> list[str]:
    """Head single terms, tail single terms and 2-4 term queries with one
    head term, in the proportions of the reference query set. Only the
    terms depend on the seed; the batch's shape does not."""
    out = []
    for i in range(BATCH):
        if i % 5 == 0:
            out.append(terms.pick(rng, 0, 30))
        elif i % 5 == 1:
            out.append(terms.pick(rng, 1000, 4000))
        else:
            out.append(" ".join([terms.pick(rng, 0, 30)]
                                + [terms.pick(rng, 30, 4000) for _ in range(i % 5 - 1)]))
    return out


def pair_queries(terms: Terms, rng, lo: int, hi: int) -> list[str]:
    """Two-term queries from ranks [lo, hi); head pairs give phrase and
    span matches, mid pairs give conjunctive matches."""
    return [f"{terms.pick(rng, lo, hi)} {terms.pick(rng, lo, hi)}"
            for _ in range(BATCH)]


def bounded_queries(terms: Terms, rng) -> list[str]:
    """One or two mid/tail-rank terms, so each full match set stays a
    small share of the corpus."""
    return [" ".join(terms.pick(rng, 200, 3000) for _ in range(1 + i % 2))
            for i in range(BATCH)]


def batches(texts: list[str], rng) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The 25-query batch and a 1-query batch holding one of its queries
    under the same query_id."""
    full = batch_frame(texts)
    one = full.iloc[[int(rng.integers(0, len(full)))]].reset_index(drop=True)
    return full, one


def topk_answers(index: oracle.OracleIndex, batch: pd.DataFrame,
                 **kw) -> dict[int, list[tuple]]:
    return {int(q): oracle.search(index, t, **kw)
            for q, t in zip(batch["query_id"], batch["qtext"])}


def _matches(index: oracle.OracleIndex, qtext: str) -> np.ndarray:
    from aarhus_spark.textops import tokenize
    hits = [index.postings[t][0] for t in set(tokenize(qtext))
            if t in index.postings]
    return np.unique(np.concatenate(hits)) if hits else np.empty(0, np.int64)


def facet_answers(index: oracle.OracleIndex, batch: pd.DataFrame
                  ) -> dict[int, dict[str, int]]:
    """query_id -> {host: matching docs}, from the oracle's postings."""
    out = {}
    for q, t in zip(batch["query_id"], batch["qtext"]):
        hosts: dict[str, int] = {}
        for d in _matches(index, t):
            h = HOST_RE.match(index.urls[d]).group(1)
            hosts[h] = hosts.get(h, 0) + 1
        if hosts:
            out[int(q)] = hosts
    return out


def metric_answers(index: oracle.OracleIndex, batch: pd.DataFrame
                   ) -> dict[int, tuple]:
    """query_id -> (doc_count, min dl, max dl, sum dl) over the match set."""
    out = {}
    for q, t in zip(batch["query_id"], batch["qtext"]):
        m = _matches(index, t)
        if m.size:
            dl = index.dls[m]
            out[int(q)] = (int(m.size), int(dl.min()), int(dl.max()), int(dl.sum()))
    return out


def recrawl_batch(seed: int, live: dict[str, str], terms: Terms,
                  n_recrawl: int = 60, n_new: int = 40) -> pd.DataFrame:
    """Pages for an update: ``n_recrawl`` live urls crawled again (a
    warc_ts later than any in the corpus, new text) plus ``n_new`` pages
    never seen."""
    rng = np.random.default_rng([seed, 7])
    urls = sorted(live)
    pick = rng.choice(len(urls), size=n_recrawl, replace=False)
    ts = pd.Timestamp("2026-03-01")
    rows = []
    for i in pick:
        n = int(rng.integers(20, 300))
        text = " ".join(terms.pick(rng, 0, 3000) for _ in range(n))
        rows.append((urls[i], ts, f"<html><body><p>{text}</p></body></html>".encode(),
                     text, "en"))
    old = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    new = gen_pages_block(np.arange(N_ROWS, N_ROWS + n_new), seed)
    return pd.concat([old, new], ignore_index=True)

"""Incremental (delta) index build — SURVEY §2.11 X6 / §2.4 J4.

ES-parity continuous ingest: new crawl batches are indexed into a
DELTA index containing only urls absent from the base index (left
anti join on the base doclens — the resume/delta idiom), with docids
offset past the base docid space so the two indexes are disjoint.
Search runs over [base, delta, ...] via the multi-dir support in
operators/search.py, which

- sums per-term df across dirs (exact global idf),
- combines N/avgdl from the stats files,
- recomputes exact per-posting partials with the combined avgdl, and
- rescales stored WAND block bounds by max(1, avgdl_comb/avgdl_dir)
  — safe because tf/(tf + k1(1-b) + k1·b·dl/A) is increasing in A:
  den(A_comb) ≥ den(A_dir)·A_dir/A_comb, so
  partial(A_comb) ≤ partial(A_dir)·A_comb/A_dir.

A delta'd corpus therefore returns EXACTLY the results of a monolithic
rebuild over base∪delta pages (asserted in tests/test_incremental.py),
modulo one deliberate difference: docids. A monolithic rebuild assigns
dense ranks over ALL urls; the delta assigns base docids + offset
ranks over new urls. Scores are docid-independent, so rank-identity is
checked via urls.

PRECONDITION — append-only ingest: the base∪delta ≡ monolithic
equivalence above holds only when no url in the new batch re-crawls a
url already in a base index with a NEWER warc_ts and different content;
such a row would win the frozen latest-warc_ts dedup in a monolithic
rebuild, but the url-level anti join would drop it from the delta and
keep serving the stale base version. ``new_pages_only`` therefore
DETECTS re-crawls (doclens stores each url's winning warc_ts) and, by
default, raises — routing them to a rebuild/compaction of the affected
base is the caller's decision, not something to paper over silently.

RE-CRAWL OVERWRITE (``on_recrawl='tombstone'``, ES overwrite-by-_id
parity): the delta additionally indexes the re-crawled pages (new
docids past the chain) and writes a ``tombstones/`` parquet into the
delta dir — one (docid, dl, url) row per superseded base document.
Query time then serves EXACTLY the monolithic latest-wins results
(driver-verified): dead docids are masked from every candidate set,
N/avgdl are corrected from the tombstoned dl's, and per-query-term df
is corrected by counting dead members during the (already-necessary)
candidate decode (operators/search.py `_chain` /
`_global_df_map`). Compaction purges tombstones physically
(operators/compact.py) — the chain + mask is the cheap steady state
between compactions, the compacted index the clean state after.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import build_index, read_doclens
from .search import load_stats


def new_pages_only(spark: SparkSession, pages: DataFrame, base_dirs: list[str],
                   on_recrawl: str = "error") -> DataFrame:
    """J4: pages whose url is not in any base index (left anti join).

    Re-crawl guard (see module docstring): a page whose url exists in a
    base index WITH a strictly newer warc_ts violates the append-only
    precondition. ``on_recrawl``:

    - ``"error"`` (default): raise with the offending count — the caller
      must compact/rebuild the affected base index;
    - ``"ignore"``: documented stale-serving — drop them like any
      already-indexed url (the base keeps winning even though a
      monolithic rebuild would prefer the newer crawl);
    - ``"tombstone"``: overwrite semantics — use
      :func:`split_delta_pages` / ``build_delta(on_recrawl='tombstone')``
      (this function only handles the url-disjoint part).
    """
    if on_recrawl not in ("error", "ignore"):
        raise ValueError(f"on_recrawl must be 'error' or 'ignore', got {on_recrawl!r}")
    out = pages
    for d in base_dirs:
        done = read_doclens(spark, d)
        if on_recrawl == "error" and "warc_ts" in done.columns:
            n_conflicts = (
                pages.join(done.select("url", F.col("warc_ts").alias("base_ts")), "url")
                .filter(F.col("warc_ts") > F.col("base_ts"))
                .count())
            if n_conflicts:
                raise ValueError(
                    f"{n_conflicts} page row(s) re-crawl urls already in base index "
                    f"{d} with a newer warc_ts. A url-level delta cannot represent "
                    f"them (the stale base version would keep being served); "
                    f"compact/rebuild that base index, pass on_recrawl='ignore' "
                    f"to accept serving the base version, or "
                    f"on_recrawl='tombstone' to overwrite (module docstring).")
        out = out.join(done.select("url"), "url", "left_anti")
    return out


def split_delta_pages(spark: SparkSession, pages: DataFrame,
                      base_dirs: list[str]) -> tuple[DataFrame, DataFrame]:
    """Overwrite-mode page split: returns ``(delta_pages, tombstones)``.

    - ``delta_pages``: pages whose url is absent from every base index,
      PLUS re-crawled pages (url present but with a strictly newer
      warc_ts than the indexed winner — the rows a monolithic
      latest-wins rebuild would prefer over the base version);
    - ``tombstones``: (docid, dl, url) of the superseded base docs.

    Both sides are url-level joins against the (tiny relative to the
    corpus) doclens sinks — the same J4 shape as the append-only path.
    A url re-crawled with an OLDER-or-equal warc_ts is NOT a re-crawl
    (the frozen latest-wins dedup would keep the base version) and is
    dropped like any already-indexed url.

    The batch is deduplicated latest-wins per url FIRST (same frozen
    §1.3.3 window as the build's P4): a batch holding two crawls of the
    same url, both newer than the indexed copy, must supersede that one
    live doc exactly ONCE — joining the raw rows would tombstone the
    same docid once per matching page row, silently corrupting
    N_eff/avgdl_eff and the dead-docid array's uniqueness invariant.
    """
    from pyspark.sql.window import Window

    from .search import _drop_dead, load_tombstones

    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"),
                                          F.desc_nulls_last("text"))
    pages = (pages.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1).drop("__rn"))

    # urls already superseded by an EARLIER tombstone delta are dead in
    # their original dir — only the LIVE copy of a url may be re-crawled
    # (otherwise a twice-re-crawled url would enter the delta twice and
    # its dead docid would be tombstoned twice)
    done = _drop_dead(spark, reduce(DataFrame.unionByName,
                                    [read_doclens(spark, d) for d in base_dirs]),
                      load_tombstones(spark, base_dirs)[0])
    hits = (pages.join(done.select("url", "docid", "dl",
                                   F.col("warc_ts").alias("base_ts")), "url")
            .filter(F.col("warc_ts") > F.col("base_ts")))
    fresh = pages.join(done.select("url"), "url", "left_anti")
    return (fresh.unionByName(hits.select(*pages.columns)),
            hits.select("docid", "dl", "url"))


def build_delta(
    spark: SparkSession,
    pages: DataFrame,
    base_dirs: list[str] | str,
    delta_dir: str,
    on_recrawl: str = "error",
    **build_kwargs,
) -> dict:
    """Build a delta index of the not-yet-indexed pages. Returns stats
    (N may be 0 → no index is written and {} is returned). Raises on
    re-crawled urls unless on_recrawl='ignore' (drop them, serve stale)
    or 'tombstone' (index them + tombstone the superseded base docs —
    overwrite semantics, module docstring)."""
    base_dirs = [base_dirs] if isinstance(base_dirs, str) else list(base_dirs)
    offset = sum(int(load_stats(d)["N"]) for d in base_dirs)
    if on_recrawl == "tombstone":
        fresh, tombstones = split_delta_pages(spark, pages, base_dirs)
        stats = build_index(spark, fresh, delta_dir, docid_offset=offset,
                            **build_kwargs)
        # written AFTER the index commit: a killed build leaves no
        # tombstones behind, so the chain keeps serving the base
        # versions (stale-but-consistent) until the delta exists
        tombstones.write.mode("overwrite").parquet(
            os.path.join(delta_dir, "tombstones"))
        return stats
    fresh = new_pages_only(spark, pages, base_dirs, on_recrawl=on_recrawl)
    return build_index(spark, fresh, delta_dir, docid_offset=offset, **build_kwargs)

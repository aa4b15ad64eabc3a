"""Percolator scaling in |registered queries|: broadcast nested-loop
vs term→query candidate pre-selection (round-8 optimization).

Generates N seed-42 pages and Q synthetic registered queries drawn
from the fixture vocabulary (must/msm/phrase mix), then times the full
match pass on both paths at several Q. The BNL path is O(Q) predicate
evaluations per doc; the pre-selection path is O(distinct tokens) map
lookups per doc — flat in Q. Match sets are asserted equal-cardinality
here (bit-equality is pytest-pinned in tests/test_eslayer.py).

Usage: python bench/percolate_preselect_scale.py [n_pages] [cpus] [Q ...]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")

VOCAB = ["the", "data", "query", "hash", "join", "table", "spark", "merge",
         "sort", "window", "scan", "group", "agg", "index", "term", "page",
         "web", "crawl", "doc", "rank", "score", "text"]


def gen_registered(q: int) -> list[tuple]:
    """Deterministic synthetic registered set: cycle kinds and vocab."""
    out = []
    for i in range(q):
        a = VOCAB[i % len(VOCAB)]
        b = VOCAB[(i // len(VOCAB) + i) % len(VOCAB)]
        c = VOCAB[(i * 7 + 3) % len(VOCAB)]
        kind = ("must", "msm", "phrase")[i % 3]
        if kind == "must":
            out.append((i, f"{a} {b}{i % 97} {c}", "must", 0))
        elif kind == "msm":
            out.append((i, f"{a} {b} {c} term{i % 53}", "msm", 2))
        else:
            out.append((i, f"{a} {b}", "phrase", 0))
    return out


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    qs = [int(x) for x in sys.argv[3:]] or [512, 4096, 16384]

    from aarhus_spark.operators import eslayer
    from aarhus_spark.operators.eslayer import percolate
    from aarhus_spark.session import get_spark
    from aarhus_spark.sources.fixtures import gen_pages_spark

    spark = get_spark("percolate-preselect-scale", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile
    src = os.path.join(tempfile.mkdtemp(prefix="aarhus_perc2_"), "pages")
    gen_pages_spark(spark, n_pages, partitions=2 * cpus) \
        .write.mode("overwrite").parquet(src)
    docs = spark.read.parquet(src).select("url", "text")
    docs.count()  # warm page cache

    results = {}
    for q in qs:
        qdf = spark.createDataFrame(
            gen_registered(q), "query_id long, qtext string, kind string, msm int")
        walls = {}
        counts = {}
        # each plan is reached through the registered-set size threshold
        for label, threshold in (("bnl", q + 1), ("preselect", 0)):
            eslayer.PERCOLATE_PRESELECT_MIN = threshold
            best = None
            for _ in range(2):
                t0 = time.time()
                n = percolate(spark, qdf, docs).count()
                w = time.time() - t0
                best = w if best is None or w < best else best
            walls[label] = round(best, 3)
            counts[label] = n
        assert counts["bnl"] == counts["preselect"], counts
        results[str(q)] = {"bnl_s": walls["bnl"],
                           "preselect_s": walls["preselect"],
                           "matches": counts["bnl"],
                           "speedup": round(walls["bnl"] / walls["preselect"], 2)}
        print(json.dumps({"Q": q, **results[str(q)]}), file=sys.stderr)

    print(json.dumps({"metric": "percolate_preselect_vs_bnl",
                      "n_pages": n_pages, "cpus": cpus,
                      "results": results,
                      "loadavg": os.getloadavg()}))
    spark.stop()


if __name__ == "__main__":
    main()

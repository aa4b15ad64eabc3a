"""multi_match at scale: the block-max WAND kernel vs the exhaustive
reference fold.

Builds a 2-field index (text, title = first 40 chars) over N seed-42
synthetic pages, runs the 50-query flagship set through
``search_multi_match`` and through the reference — per-field
``search_taat`` with unbounded k, every (query, doc, field) score
shuffled into one (query, doc) aggregation that folds the boosted
field scores in field-name order (the combiner the kernel replaced) —
for best_fields and most_fields, asserts identical (query, rank, docid)
rows with bit-equal scores, and prints both walls and the speedup as
ONE JSON line.

Usage: python bench/multimatch_at_scale.py [n_pages] [cpus] [k]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def reference_multi_match(spark, index_root, queries, k, boosts, mode,
                          tie_breaker=0.0):
    """Exhaustive multi_match as one Spark DAG (query_id, rank, docid,
    score): the same field-name-ordered fold from 0.0 — sum left to
    right, best by ``greatest`` — over per-field TAAT scores."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aarhus_spark.operators.multifield import list_fields
    from aarhus_spark.operators.search import search_taat

    u = None
    for name in list_fields(index_root):
        s = search_taat(spark, os.path.join(index_root, f"field={name}"),
                        queries, k=(1 << 31) - 1)
        s = s.select("query_id", "docid", F.lit(name).alias("field"),
                     (F.col("score") * F.lit(float(boosts.get(name, 1.0))))
                     .alias("fscore"))
        u = s if u is None else u.unionByName(s)
    fs = (u.groupBy("query_id", "docid")
          .agg(F.sort_array(F.collect_list(
              F.struct("field", "fscore"))).alias("fs")))
    total = F.aggregate("fs", F.lit(0.0), lambda a, x: a + x["fscore"])
    best = F.aggregate("fs", F.lit(0.0),
                       lambda a, x: F.greatest(a, x["fscore"]))
    score = (total if mode == "most_fields"
             else best + F.lit(float(tie_breaker)) * (total - best))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("docid"))
    return (fs.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "docid", "score"))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    import pandas as pd
    from pyspark.sql import functions as F

    from aarhus_spark.operators.multifield import (MULTIFIELD_MANIFEST,
                                                   build_field_indexes,
                                                   search_multi_match)
    from aarhus_spark.session import get_spark
    from aarhus_spark.sources.fixtures import gen_pages_spark, gen_queries

    extra = {}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/aarhus_mm_shuffle"
    spark = get_spark("mm-at-scale", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8), extra=extra)
    spark.sparkContext.setLogLevel("ERROR")

    out = os.path.join(tempfile.gettempdir(), f"aarhus_mm_scale_{n_pages}")
    if not os.path.exists(os.path.join(out, MULTIFIELD_MANIFEST)):
        pages = gen_pages_spark(spark, n_pages, partitions=2 * cpus)
        t0 = time.time()
        build_field_indexes(spark, pages, out, fields={
            "text": F.col("text"),
            "title": F.substring(F.col("text"), 1, 40)})
        print(json.dumps({"built_s": round(time.time() - t0, 1)}),
              file=sys.stderr)
    qdf = spark.createDataFrame(gen_queries(pd.DataFrame()))
    # untimed warm-up: JIT and Python worker start-up stay out of both walls
    reference_multi_match(spark, out, qdf, k=k, boosts={}, mode="most_fields").collect()
    search_multi_match(spark, out, qdf, k=k).collect()

    results = {}
    for mode in ("best_fields", "most_fields"):
        kw = dict(k=k, boosts={"title": 2.0}, mode=mode)
        t0 = time.time()
        kernel = search_multi_match(spark, out, qdf, **kw).collect()
        w_kernel = time.time() - t0
        t0 = time.time()
        ref = reference_multi_match(spark, out, qdf, **kw).collect()
        w_ref = time.time() - t0
        key = lambda r: (r["query_id"], r["rank"])
        a = {key(r): (r["docid"], r["score"]) for r in ref}
        b = {key(r): (r["docid"], r["score"]) for r in kernel}
        assert a == b, "kernel != reference fold"
        results[mode] = {"reference_s": round(w_ref, 2),
                         "kernel_s": round(w_kernel, 2),
                         "rows": len(a),
                         "speedup": round(w_ref / w_kernel, 2)}
        print(json.dumps({mode: results[mode]}), file=sys.stderr)

    print(json.dumps({"metric": "multi_match_kernel_vs_reference",
                      "n_pages": n_pages, "cpus": cpus, "k": k,
                      "results": results,
                      "loadavg": os.getloadavg()}))
    spark.stop()


if __name__ == "__main__":
    main()

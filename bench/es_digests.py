"""Row digests of every scored op (the retrieval ops and every public
ES op), on one index dir and on a tombstoned base+delta chain.

Usage: python bench/es_digests.py <work_dir> [n_pages]

Builds (once; reused when present) a ``gen_pages(n_pages)`` index in
``<work_dir>/one``, and a chain ``<work_dir>/base`` + ``<work_dir>/delta``
whose delta re-crawls every fifth url with ``on_recrawl="tombstone"``.
Then it runs each probe of ``capture_plans.es_probes`` over 12
reference queries on both and prints one JSON line per probe:
``{"probe", "schema", "one", "chain", "rows_one", "rows_chain"}``.
A digest is the sha1 of the sorted rows' repr (floats exact), so two
trees agree on a probe iff their rows and schemas are equal:

    python bench/es_digests.py /tmp/esd > after.jsonl
    cd <other tree> && PYTHONPATH=. python <this tree>/bench/es_digests.py /tmp/esd > before.jsonl

Run each side from inside its own tree: Spark's Python workers put
their working directory first on ``sys.path``, so a run started in
another tree would score with that tree's kernels while its main
process plans with PYTHONPATH's.
"""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from capture_plans import es_probes  # noqa: E402  (also sets sys.path)

QUERY_ROWS = [0, 1, 2, 10, 11, 20, 21, 25, 30, 35, 40, 45]


def digest(df) -> tuple[str, int]:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha1("\n".join(rows).encode()).hexdigest(), len(rows)


def build(spark, work: str, n_pages: int):
    """The one-dir index, the chain, and each one's stored-text frame."""
    import pandas as pd
    from aarhus_spark.operators.build import IndexPaths, build_index
    from aarhus_spark.operators.incremental import build_delta
    from aarhus_spark.sources.fixtures import gen_pages

    pdf = gen_pages(n_pages)
    kw = dict(n_partitions=4, n_buckets=3, salts=3)
    one, base, delta = (os.path.join(work, d) for d in ("one", "base", "delta"))
    for d in (one, base):
        if not os.path.exists(os.path.join(d, "stats.json")):
            build_index(spark, spark.createDataFrame(pdf), d, **kw)
    doclens = spark.read.parquet(IndexPaths(base).doclens).toPandas()
    recrawl = set(sorted(doclens["url"])[::5])
    rec = pdf[pdf["url"].isin(recrawl)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " recrawled revision"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=2)
    if not os.path.exists(os.path.join(delta, "stats.json")):
        build_delta(spark, spark.createDataFrame(rec), base, delta,
                    on_recrawl="tombstone", **kw)

    def docs(frame):
        frame = frame[["url", "text"]].dropna()
        return spark.createDataFrame(frame.drop_duplicates("url", keep="last"))
    live = pd.concat([pdf[~pdf["url"].isin(recrawl)], rec], ignore_index=True)
    return pdf, (one, docs(pdf)), ([base, delta], docs(live))


def main():
    work = sys.argv[1]
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 600
    os.makedirs(work, exist_ok=True)
    from aarhus_spark.session import get_spark
    from aarhus_spark.sources.fixtures import gen_queries
    spark = get_spark("es-digests", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    pdf, (one, one_docs), (chain, chain_docs) = build(spark, work, n_pages)
    qdf = spark.createDataFrame(gen_queries(pdf).iloc[QUERY_ROWS])
    ph = spark.createDataFrame([(0, "the data"), (1, "sort data")],
                               "query_id long, qtext string")
    sides = {"one": es_probes(spark, one, qdf, ph, one_docs),
             "chain": es_probes(spark, chain, qdf, ph, chain_docs)}
    for name in sides["one"]:
        out = {"probe": name}
        for side, probes in sides.items():
            df = probes[name]()
            out["schema"] = df.schema.simpleString()
            out[side], out[f"rows_{side}"] = digest(df)
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

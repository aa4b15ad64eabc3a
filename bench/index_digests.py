"""Artifact digests of the index writers: build, delta, compaction and
multifield, plus Spark jobs per ``build_index`` / ``compact_indexes``.

Usage: python bench/index_digests.py <work_dir> [n_pages]

Rebuilds, under ``<work_dir>`` (emptied first), from ``gen_pages(n_pages)``:

- ``one``: ``build_index`` over every page;
- ``base`` + ``delta``: the base is ``build_index`` over every page, the
  delta re-crawls every fifth url (``build_delta(on_recrawl="tombstone")``);
- ``comp``: ``compact_indexes([base, delta])``;
- ``mf``: a two-field ``build_field_indexes`` (``text``, and ``title`` =
  the first 40 characters of the text).

It prints one JSON line per (index, artifact): ``{"index", "artifact",
"sha1", "n"}``. A digest is the sha1 of the artifact's canonical form,
so two trees agree on an artifact iff its content is equal:

- ``fragments``: each bucket's rows, in file order, keyed by bucket;
- ``segments``, ``dictionary``, ``doclens``, ``tombstones``: the sorted rows;
- ``heads.json``, ``build_config.json``, ``multifield.json``: the JSON;
- ``stats.json``: the JSON without ``wall_s``;
- ``manifests``: each bucket's JSON without ``wall_s`` and ``tokens_per_sec``;
- ``stages``: the metrics.jsonl stage-name sequence.

A last line ``{"jobs": {...}}`` holds the Spark jobs each timed call
ran: the job ids the status tracker lists that appeared during the call
(nothing here sets a job group, so every job is listed). Compare two trees:

    python bench/index_digests.py /tmp/idx_d > after.jsonl
    cd <other tree> && PYTHONPATH=. python <this tree>/bench/index_digests.py /tmp/idx_d > before.jsonl

Run each side from inside its own tree: Spark's Python workers put
their working directory first on ``sys.path``, so a run started in
another tree would score with that tree's kernels while its main
process plans with PYTHONPATH's.
"""
import hashlib
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

# the tree under test: PYTHONPATH if given, else this checkout (the
# Python workers inherit it)
os.environ.setdefault("PYTHONPATH",
                      os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.environ["PYTHONPATH"])

KW = dict(n_partitions=4, n_buckets=3, salts=3)
DROP_MANIFEST = ("wall_s", "tokens_per_sec")


def _sha(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()


def _rows(path: str) -> list[str]:
    return sorted(repr(tuple(r.values())) for r in pq.read_table(path).to_pylist())


def _json(path: str, drop=()) -> str:
    with open(path) as f:
        obj = json.load(f)
    return json.dumps({k: v for k, v in obj.items() if k not in drop}, sort_keys=True)


def digests(index_dir: str) -> dict[str, tuple[str, int]]:
    """artifact → (sha1, item count) for one index dir."""
    out = {}
    frag_dir = os.path.join(index_dir, "fragments")
    buckets = sorted(os.listdir(frag_dir)) if os.path.isdir(frag_dir) else []
    rows = [f"{b}:{tuple(r.values())!r}" for b in buckets
            for r in pq.read_table(os.path.join(frag_dir, b)).to_pylist()]
    out["fragments"] = (_sha("\n".join(rows)), len(rows))
    for name in ("segments", "dictionary", "doclens", "tombstones"):
        path = os.path.join(index_dir, name)
        if os.path.isdir(path):
            rows = _rows(path)
            out[name] = (_sha("\n".join(rows)), len(rows))
    for name in ("heads.json", "build_config.json"):
        out[name] = (_sha(_json(os.path.join(index_dir, name))), 1)
    out["stats.json"] = (_sha(_json(os.path.join(index_dir, "stats.json"),
                                    ("wall_s",))), 1)
    man_dir = os.path.join(index_dir, "manifests")
    mans = [_json(os.path.join(man_dir, m), DROP_MANIFEST)
            for m in sorted(os.listdir(man_dir))]
    out["manifests"] = (_sha("\n".join(mans)), len(mans))
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        stages = [json.loads(line)["stage"] for line in f if line.strip()]
    out["stages"] = (_sha("\n".join(stages)), len(stages))
    return out


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs: new ids in the status tracker's list."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


def main():
    work = sys.argv[1]
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 600
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    import pandas as pd
    from pyspark.sql import functions as F

    from aarhus_spark.operators.build import IndexPaths, build_index
    from aarhus_spark.operators.compact import compact_indexes
    from aarhus_spark.operators.incremental import build_delta
    from aarhus_spark.operators.multifield import build_field_indexes
    from aarhus_spark.session import get_spark
    from aarhus_spark.sources.fixtures import gen_pages

    spark = get_spark("index-digests", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    one, base, delta, comp, mf = (os.path.join(work, d)
                                  for d in ("one", "base", "delta", "comp", "mf"))
    pdf = gen_pages(n_pages)
    jobs = {"build_index": _jobs(spark, lambda: build_index(
        spark, spark.createDataFrame(pdf), one, **KW))}
    build_index(spark, spark.createDataFrame(pdf), base, **KW)
    doclens = spark.read.parquet(IndexPaths(base).doclens).toPandas()
    recrawl = set(sorted(doclens["url"])[::5])
    rec = pdf[pdf["url"].isin(recrawl)].copy()
    rec = rec.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    rec["text"] = rec["text"].fillna("") + " recrawled revision"
    rec["html"] = None
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=2)
    build_delta(spark, spark.createDataFrame(rec), base, delta,
                on_recrawl="tombstone", **KW)
    jobs["compact_indexes"] = _jobs(spark, lambda: compact_indexes(
        spark, [base, delta], comp, **KW))
    build_field_indexes(spark, spark.createDataFrame(pdf), mf, fields={
        "text": F.col("text"), "title": F.substring(F.col("text"), 1, 40)},
        **KW)
    indexes = {"one": one, "base": base, "delta": delta, "comp": comp,
               "mf/text": os.path.join(mf, "field=text"),
               "mf/title": os.path.join(mf, "field=title")}
    for name, path in indexes.items():
        for artifact, (sha, n) in digests(path).items():
            print(json.dumps({"index": name, "artifact": artifact,
                              "sha1": sha, "n": n}), flush=True)
    print(json.dumps({"index": "mf", "artifact": "multifield.json",
                      "sha1": _sha(_json(os.path.join(mf, "multifield.json"))),
                      "n": 1}))
    print(json.dumps({"jobs": jobs}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

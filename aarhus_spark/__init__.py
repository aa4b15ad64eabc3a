"""aarhus_spark — a from-scratch PySpark-native fulltext engine.

Replicates the capabilities of the reference stack (`mikedelong/aarhus`'s
email→Elasticsearch ingest + Lucene BM25 search; see SURVEY.md §0-§1 for
provenance — the /root/reference mount is empty, so the frozen semantics
in :mod:`aarhus_spark.config`, :mod:`aarhus_spark.textops`,
:mod:`aarhus_spark.scoring` ARE the reference contract) as a SPIMI-style
distributed inverted-index build + BM25 top-k retrieval engine over
Iceberg-shaped tables of Common-Crawl-style web pages.

Layout
------
- ``config``     frozen constants (k1, b, block size, tokenizer limits)
- ``textops``    frozen extraction E(html) + tokenizer T(text) (SURVEY §1.3)
- ``codec``      delta-gap + VByte posting codec, numpy-vectorized
- ``scoring``    BM25 (Lucene ≥8 form) in closed form, float64
- ``oracle``     independent single-node NumPy build+search oracle
- ``sources``    IO seam (parquet locally / Iceberg in prod) + fixtures
- ``operators``  the Spark build + search pipelines, dedup/similarity/
                 text-analysis operators for training-data pipelines
- ``functions``  small column-expression helpers
- ``plans``      plan-shape assertion helpers (tests)
- ``streaming``  windowed aggregation ops (batch analogs X1-X3)
"""

from . import _zipcache

_zipcache.install()

__version__ = "0.5.0"

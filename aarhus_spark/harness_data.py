"""Harness entries, part 2: training-data pipeline operators
(dedup / similarity / text analysis / multimodal / windowed events)
plus the scalar-function families (SURVEY §2.9). Same conventions as
harness.py (rounded floats, BIGINT casts, string timestamps, portable
md5 hashing)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .harness import _hash_duck as HD
from .harness import _reg, _t
from .operators import dedup as D
from .operators import similarity as S
from .operators import textstats as TS
from .operators.multimodal import documents_as_media, media_metadata
from .streaming import windows as W

# ---------------------------------------------------------------------------
# shared: augmented documents with planted near/exact duplicates
# (deterministic, built identically in Spark and in the DuckDB twins —
# the raw corpus has no duplicates, so dedup operators need planted ones)
# ---------------------------------------------------------------------------

AUG_SQL_DUCK = """
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, concat(text, ' qq0 qq1 qq2') FROM documents WHERE doc_id < 15
  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10
"""


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = (docs.filter(F.col("doc_id") < 15)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat("text", F.lit(" qq0 qq1 qq2")).alias("text")))
    exact = (docs.filter(F.col("doc_id") < 10)
             .select((F.col("doc_id") + 2000000).alias("doc_id"), "text"))
    return docs.unionByName(near).unionByName(exact)


# DuckDB shingle CTE fragment (3-gram, distinct), over a `base(doc_id, text)` CTE
_SH_DUCK = """
tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM base
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
      list_transform(generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS sh
    FROM tk) z
)
"""

_JACCARD_TAIL_DUCK = """
, sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, round(i.ni * 1.0 / (sa.ns + sb.ns - i.ni), 6) AS jaccard_r
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.ni * 1.0 / (sa.ns + sb.ns - i.ni) >= 0.5
"""


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(_aug_docs(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH base AS ({AUG_SQL_DUCK}),
g AS (SELECT md5(text) AS k, min(doc_id) AS keep_id, count(*) AS cnt
      FROM base GROUP BY md5(text) HAVING count(*) > 1)
SELECT b.doc_id, g.keep_id
FROM base b JOIN g ON md5(b.text) = g.k
WHERE b.doc_id != g.keep_id
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_dedup(_aug_docs(spark, sf_dir))


def _minhash_duck() -> str:
    min_parts = []
    for i in range(8):
        salted = "concat('" + str(i) + ":', sh)"
        min_parts.append(f"min({HD(salted)}) AS m{i}")
    mins = ",\n    ".join(min_parts)
    band_parts = []
    for b in range(4):
        band_expr = (f"(CAST(m{2*b} AS VARCHAR) || ',' || "
                     f"CAST(m{2*b+1} AS VARCHAR))")
        band_parts.append(
            f"SELECT doc_id, {b} AS band, {HD(band_expr)} AS bh FROM sig")
    bands = "\n  UNION ALL ".join(band_parts)
    return f"""
WITH base AS ({AUG_SQL_DUCK}),
{_SH_DUCK}
, sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
), bands AS (
  {bands}
), freq AS (
  SELECT band, bh, count(*) AS f, min(doc_id) AS rep FROM bands GROUP BY band, bh
), bands2 AS (
  SELECT b.doc_id, b.band, b.bh FROM bands b JOIN freq f USING (band, bh) WHERE f.f <= 64
), cand AS (
  -- small buckets: all pairs; oversized buckets: star pairs against the
  -- bucket-min representative (mirrors dedup.lsh_candidate_pairs)
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands2 a JOIN bands2 b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    UNION ALL
    SELECT f.rep AS doc_a, b.doc_id AS doc_b
    FROM bands b JOIN freq f USING (band, bh)
    WHERE f.f > 64 AND b.doc_id != f.rep
  ) z
)
{_JACCARD_TAIL_DUCK}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_aug_docs(spark, sf_dir))


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH base AS ({AUG_SQL_DUCK}),
{_SH_DUCK}
, rare AS (SELECT sh FROM (SELECT sh, count(*) AS f FROM sh GROUP BY sh) z WHERE f <= 20
), shr AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM shr x JOIN shr y ON x.sh = y.sh AND x.doc_id < y.doc_id
)
{_JACCARD_TAIL_DUCK}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def _simhash_duck(bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN ((hv >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits))
    val = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
    FROM documents) z
), h AS (SELECT doc_id, {HD('term')} AS hv FROM tok
), agg AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM agg
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), max_vec_id=300)


_COS_DUCK = ("round(list_dot_product(CAST(a.{ea} AS DOUBLE[]), CAST(b.{eb} AS DOUBLE[]))"
             " / (sqrt(list_dot_product(CAST(a.{ea} AS DOUBLE[]), CAST(a.{ea} AS DOUBLE[])))"
             " * sqrt(list_dot_product(CAST(b.{eb} AS DOUBLE[]), CAST(b.{eb} AS DOUBLE[])))), 6)")

SQL_DEDUP_EMBEDDING_COSINE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         {_COS_DUCK.format(ea='embedding', eb='embedding')} AS cos_r
  FROM e a JOIN e b ON a.vec_id < b.vec_id
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY cos_r DESC, va, vb) AS BIGINT) AS rank, va, vb, cos_r
  FROM p
)
SELECT rank, va, vb, cos_r FROM r WHERE rank <= 20
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(_t(spark, sf_dir, "embeddings"), [0, 1, 2], k=10)


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)),
p AS (
  SELECT q.qid, a.vec_id,
         {_COS_DUCK.format(ea='embedding', eb='qv').replace('b.qv', 'q.qv')} AS cos_r
  FROM embeddings a CROSS JOIN q WHERE a.vec_id != q.qid
), r AS (
  SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank,
         vec_id, cos_r
  FROM p
)
SELECT qid, rank, vec_id, cos_r FROM r WHERE rank <= 10
"""


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk_lsh(_t(spark, sf_dir, "embeddings"), [0, 1, 2], [0, 1, 2, 3], k=10)


SQL_ANN_LSH_BUCKET = f"""
WITH anchors AS (SELECT vec_id AS aid, embedding AS av,
                        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS bitpos
                 FROM embeddings WHERE vec_id IN (0,1,2,3)),
bits AS (
  SELECT a.vec_id,
         CAST(sum(CASE WHEN list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(x.av AS DOUBLE[])) > 0
                  THEN CAST(pow(2, x.bitpos) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings a CROSS JOIN anchors x GROUP BY a.vec_id
), b AS (
  SELECT e.vec_id, e.embedding, bits.bucket FROM embeddings e JOIN bits ON e.vec_id = bits.vec_id
), capped AS (
  -- degenerate-bucket cap on the candidate side (mirrors
  -- similarity.cosine_topk_lsh max_bucket=1024)
  SELECT vec_id, embedding, bucket FROM (
    SELECT b.*, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS br FROM b
  ) z WHERE br <= 1024
), q AS (
  SELECT vec_id AS qid, embedding AS qv, bucket AS qb FROM b WHERE vec_id IN (0, 1, 2)
), cand AS (
  SELECT q.qid, a.vec_id,
         {_COS_DUCK.format(ea='embedding', eb='qv').replace('b.qv', 'q.qv')} AS cos_r
  FROM capped a JOIN q ON a.bucket = q.qb WHERE a.vec_id != q.qid
), r AS (
  SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank,
         vec_id, cos_r
  FROM cand
)
SELECT qid, rank, vec_id, cos_r FROM r WHERE rank <= 10
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk_ivf(_t(spark, sf_dir, "embeddings"), [0, 1, 2],
                             list(range(8)), k=10, nprobe=2)


_IVF_SIM = ("round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
            " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
            " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)")

SQL_ANN_IVF = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7)
), sims AS (
  SELECT a.vec_id, a.embedding, c.cid,
         {_IVF_SIM.format(a='a.embedding', b='c.cv')} AS sim_r
  FROM embeddings a CROSS JOIN cents c
), assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim_r DESC, cid) AS rn
    FROM sims) z WHERE rn = 1
), q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)
), qp AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {_IVF_SIM.format(a='q.qv', b='c.cv')} DESC, c.cid) AS pr
    FROM q CROSS JOIN cents c) z WHERE pr <= 2
), cand AS (
  SELECT qp.qid, a.vec_id,
         {_IVF_SIM.format(a='a.embedding', b='qp.qv')} AS cos_r
  FROM assign a JOIN qp ON a.cid = qp.cid WHERE a.vec_id != qp.qid
), r AS (
  SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank,
         vec_id, cos_r
  FROM cand
)
SELECT qid, rank, vec_id, cos_r FROM r WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis fold (round-7 cap consolidation): language-ID and
    quality scoring joined on doc_id — every constituent column still
    fully value-checked. Inner join: quality_score drops zero-token
    docs, language_id covers them with stop_ratio 0; the synthetic
    documents corpus has no zero-token rows, so the join is lossless
    (and the twin applies the identical join either way)."""
    li = TS.language_id(_t(spark, sf_dir, "documents"))
    qs = TS.quality_score(_t(spark, sf_dir, "documents"))
    return li.join(qs, "doc_id").select(
        "doc_id", "stop_ratio_r", "predicted", "n_tok", "quality_r")


def q_text_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis fold (round-7 cap consolidation): token counting
    (frozen-regex + whitespace) and document fingerprinting (min
    shingle hash + prefix hash) joined on doc_id."""
    tc = TS.token_counts(_t(spark, sf_dir, "documents"))
    fp = TS.fingerprints(_t(spark, sf_dir, "documents"))
    return tc.join(fp, "doc_id").select(
        "doc_id", "n_regex", "n_ws", "fp_min", "fp_prefix")


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.language_id(_t(spark, sf_dir, "documents"))


_STOPS = ", ".join(f"'{w}'" for w in TS.EN_STOPWORDS)

SQL_TEXT_LANGID = f"""
WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
s AS (
  SELECT doc_id, len(toks) AS n_tok,
         len(list_filter(toks, t -> t IN ({_STOPS}))) AS n_stop
  FROM tk
)
SELECT doc_id,
       round(CASE WHEN n_tok > 0 THEN n_stop * 1.0 / n_tok ELSE 0.0 END, 6) AS stop_ratio_r,
       CASE WHEN (CASE WHEN n_tok > 0 THEN n_stop * 1.0 / n_tok ELSE 0.0 END) > 0.04
            THEN 'en' ELSE 'other' END AS predicted
FROM s
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.quality_score(_t(spark, sf_dir, "documents"))


SQL_TEXT_QUALITY = f"""
WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
s AS (
  SELECT doc_id, len(toks) AS n_tok,
         len(list_filter(toks, t -> t IN ({_STOPS}))) AS n_stop,
         len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS n_digit
  FROM tk
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       round(least(1.0, n_tok / 200.0) * 0.5 + (n_stop * 1.0 / n_tok) * 0.3
             + (1 - n_digit * 1.0 / n_tok) * 0.2, 6) AS quality_r
FROM s WHERE n_tok > 0
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.token_counts(_t(spark, sf_dir, "documents"))


SQL_TEXT_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_regex,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_ws
FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.fingerprints(_t(spark, sf_dir, "documents"))


SQL_TEXT_FINGERPRINT = f"""
WITH tk AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
s AS (
  SELECT doc_id, text,
         CASE WHEN len(toks) >= 5 THEN
           list_transform(generate_series(1, len(toks) - 4),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
         ELSE [text] END AS shs
  FROM tk
)
SELECT doc_id,
       list_min(list_transform(shs, s2 -> {HD('s2')})) AS fp_min,
       {HD('substr(text, 1, 64)')} AS fp_prefix
FROM s
"""

SQL_TEXT_LANGID_QUALITY = f"""
SELECT li.doc_id, li.stop_ratio_r, li.predicted, qs.n_tok, qs.quality_r
FROM ({SQL_TEXT_LANGID}) li JOIN ({SQL_TEXT_QUALITY}) qs USING (doc_id)
"""

SQL_TEXT_TOKEN_FINGERPRINT = f"""
SELECT tc.doc_id, tc.n_regex, tc.n_ws, fp.fp_min, fp.fp_prefix
FROM ({SQL_TEXT_TOKEN_COUNT}) tc JOIN ({SQL_TEXT_FINGERPRINT}) fp USING (doc_id)
"""


# ---------------------------------------------------------------------------
# multimodal plumbing (binary payload metadata via mapInPandas)
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return media_metadata(media)


SQL_MULTIMODAL_META = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len, sha256(text) AS sha256,
       'text/plain' AS kind
FROM documents
"""


# ---------------------------------------------------------------------------
# windowed events (X1-X3 batch analogs; streaming twins in streaming/)
# ---------------------------------------------------------------------------

# X1 batch analog folded into the streaming twin (driver-cap
# consolidation, round 4): events_tumbling_stream runs the SAME
# W.tumbling_counts aggregation through a real readStream source and is
# checked against this batch oracle — one entry covers both.
SQL_EVENTS_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


_STREAM_SEQ = [0]


def _stage_stream_dir(spark: SparkSession, sf_dir: str, name: str,
                      files: list) -> str:
    """Stage a parquet directory that a file-stream source will consume
    as CONTROLLED micro-batches: one file per (filename, pandas frame)
    pair, mtimes spaced so FileStreamSource (which orders by mod time)
    processes them in list order under maxFilesPerTrigger=1. Built once
    per CONTENT per process: the staged dir name carries a fingerprint
    of the frames (row counts + per-frame md5 of the csv bytes), so a
    regenerated fixture table under the same sf_dir restages instead of
    silently replaying stale parquet against a fresh oracle."""
    import hashlib
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile
    h = hashlib.md5()
    for fname, pdf in files:
        h.update(fname.encode())
        h.update(str(len(pdf)).encode())
        h.update(pdf.to_csv(index=False).encode())
    fp = h.hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(),
                       f"aarhus_stream_{name}_{fp}_"
                       + sf_dir.strip("/").replace("/", "_"))
    marker = os.path.join(out, "_STAGED")
    if os.path.exists(marker):
        return out
    import shutil
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for i, (fname, pdf) in enumerate(files):
        path = os.path.join(out, fname)
        # pandas timestamps are ns; Spark's parquet reader rejects
        # TIMESTAMP(NANOS) — write microseconds
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                       coerce_timestamps="us", allow_truncated_timestamps=True)
        t = 1_000_000_000 + i * 100           # strictly increasing mtimes
        os.utime(path, (t, t))
    with open(marker, "w") as f:
        f.write("ok")
    return out


def q_events_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 driver check — the unambiguous watermark contract, verified
    end-to-end in APPEND mode (the late-data mode; the existing
    events_tumbling_stream entry covers complete mode):

    three stream files processed as separate micro-batches
    (maxFilesPerTrigger=1, mtime-ordered):
      1. the full events table — all real windows enter state;
      2. a far-future sentinel row — the watermark jumps past every real
         window's end, so append mode FINALIZES (emits + evicts) all of
         them at this batch's end;
      3. a replay of 500 original rows, now hours-to-days LATE — their
         windows are already finalized, so the 1-hour withWatermark must
         DROP every one of them. If Spark (or this engine's plumbing)
         accepted them, they would re-open single-row windows whose ends
         are below the final watermark → extra emitted rows → the
         driver's row-count/hash check fails.

    Result therefore equals the plain batch tumbling aggregation over
    the table (the sentinel's own window is never finalized, so it never
    appears). Pre-eviction lateness nuances are exercised with
    controlled batches in tests/test_streaming.py."""
    ev = _t(spark, sf_dir, "events").toPandas()
    mx = ev["ts"].max()
    sentinel = ev.iloc[[0]].copy()
    sentinel["ts"] = mx + __import__("pandas").Timedelta(days=1000)
    src = _stage_stream_dir(spark, sf_dir, "wm", [
        ("1_events.parquet", ev),
        ("2_sentinel.parquet", sentinel),
        ("3_late_replay.parquet", ev.head(500)),
    ])
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    _STREAM_SEQ[0] += 1
    name = f"watermark_stream_{_STREAM_SEQ[0]}"
    q = (W.tumbling_counts(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


# the correct streaming result == the batch aggregation over the table:
# the 500-row late replay must vanish, the sentinel window never closes
SQL_EVENTS_WATERMARK_STREAM = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 driver check: streaming dedup via dropDuplicatesWithinWatermark
    over a source that delivers every event TWICE (two identical files =
    two micro-batches). The watermark delay exceeds the table's time
    span, so no dedup state expires and the result is exactly DISTINCT
    events — deterministic however the source splits batches. (Eviction
    semantics under a short watermark are exercised with controlled
    batch boundaries in tests/test_streaming.py.)"""
    ev = _t(spark, sf_dir, "events").toPandas()
    src = _stage_stream_dir(spark, sf_dir, "dedup", [
        ("1_events.parquet", ev),
        ("2_events_again.parquet", ev),
    ])
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "3650 days"))
    deduped = (stream.dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "user_id", "event_type",
                       F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
                       F.round("value", 2).alias("value_r")))
    _STREAM_SEQ[0] += 1
    name = f"dedup_stream_{_STREAM_SEQ[0]}"
    q = (deduped.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


SQL_STREAM_DEDUP = """
SELECT DISTINCT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       round(value, 2) AS value_r
FROM events
"""


def q_events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X5 driver check: the SAME tumbling agg executed as a genuine
    Structured Streaming query — readStream parquet source → watermark →
    stateful window agg → availableNow trigger → memory sink — must
    equal the batch oracle exactly. The watermark is set far beyond the
    fixture's time span so no input can be classed late regardless of
    how the source splits micro-batches (the 1-hour-watermark late-data
    semantics are exercised in tests/test_streaming.py, where batch
    boundaries are controlled)."""
    schema = _t(spark, sf_dir, "events").schema
    # the fixture table is a single FILE; a streaming source monitors a
    # directory, so point it at sf_dir with a glob for just this table
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              # watermark requires TIMESTAMP; the fixture stores NTZ
              # (session tz is pinned UTC, so the cast is value-stable)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "3650 days"))
    _STREAM_SEQ[0] += 1
    name = f"tumbling_stream_{_STREAM_SEQ[0]}"
    return W.run_stream_to_memory(stream, W.tumbling_counts, name)


def q_events_sliding_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+X3 folded (round-7 cap consolidation): sliding-window counts
    and session-window counts, tagged and unioned on a common
    (kind, k1, k2, k3, n) string shape — both constituents stay fully
    value-checked (sliding: k1=win_start, k2=event_type; session:
    k1=user_id, k2=sess_start, k3=sess_end)."""
    sl = (W.sliding_counts(_t(spark, sf_dir, "events"))
          .select(F.lit("sliding").alias("kind"),
                  F.col("win_start").alias("k1"),
                  F.col("event_type").alias("k2"),
                  F.lit("").alias("k3"), "n"))
    se = (W.session_counts(_t(spark, sf_dir, "events"))
          .select(F.lit("session").alias("kind"),
                  F.col("user_id").cast("string").alias("k1"),
                  F.col("sess_start").alias("k2"),
                  F.col("sess_end").alias("k3"), "n"))
    return sl.unionByName(se)


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_counts(_t(spark, sf_dir, "events"))


SQL_EVENTS_SLIDING = """
WITH ev AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS tb, event_type FROM events),
wins AS (
  SELECT tb - (j * INTERVAL '15 minutes') AS win_start, event_type
  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM wins GROUP BY 1, 2
"""


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session_counts(_t(spark, sf_dir, "events"))


SQL_EVENTS_SESSION = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS sess_end,
       CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY user_id, sid
"""

SQL_EVENTS_SLIDING_SESSION = f"""
SELECT 'sliding' AS kind, win_start AS k1, event_type AS k2, '' AS k3, n
FROM ({SQL_EVENTS_SLIDING}) sl
UNION ALL
SELECT 'session', CAST(user_id AS VARCHAR), sess_start, sess_end, n
FROM ({SQL_EVENTS_SESSION}) se
"""


# ---------------------------------------------------------------------------
# scalar function families (F1-F8)
# ---------------------------------------------------------------------------

def q_scalar_string_url_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F8 folded (driver-cap consolidation, round 6 — frees a
    registry slot for bm25_bool while every scalar family stays fully
    oracle-checked): string fns (lower/substring/length/concat_ws/trim),
    url/host extraction (regexp over a synthesized document url), and
    hash fns (md5/sha2/portable 60-bit) over part names AND document
    urls in one pass; per-host counts keep the old url_host aggregation
    covered too."""
    from .harness import _hash_spark
    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn("url", F.concat(F.lit("https://"), "source",
                                    F.lit(".example/d/"), F.col("doc_id").cast("string")))
        .withColumn("host", F.regexp_extract("url", "https?://([^/]+)/", 1))
    )
    return docs.select(
        "doc_id",
        "host",
        F.count("*").over(Window.partitionBy("host")).alias("host_docs"),
        F.lower("url").alias("lurl"),
        F.substring("url", 9, 12).alias("url9_12"),
        F.length("url").cast("long").alias("url_len"),
        F.concat_ws("|", "source", "lang").alias("src_lang"),
        F.trim(F.concat(F.lit("  "), "source", F.lit("  "))).alias("trimmed"),
        F.md5("url").alias("md5_hex"),
        F.sha2(F.col("url"), 256).alias("sha256_hex"),
        F.expr(_hash_spark("url")).alias("h60"),
    )


SQL_SCALAR_STRING_URL_HASH = f"""
WITH u AS (
  SELECT doc_id, source, lang,
         'https://' || source || '.example/d/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), h AS (
  SELECT *, regexp_extract(url, 'https?://([^/]+)/', 1) AS host FROM u
)
SELECT doc_id, host,
       CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS host_docs,
       lower(url) AS lurl, substring(url, 9, 12) AS url9_12,
       CAST(length(url) AS BIGINT) AS url_len,
       concat_ws('|', source, lang) AS src_lang,
       trim('  ' || source || '  ') AS trimmed,
       md5(url) AS md5_hex, sha256(url) AS sha256_hex,
       {HD('url')} AS h60
FROM h
"""


def q_scalar_datetime_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F7 folded (driver-cap consolidation, round 4): date/time fns
    and json extraction over the same events aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .withColumn("hr", F.hour("ts").cast("long"))
        .withColumn("k_val", F.get_json_object("props", "$.k"))
        .groupBy("day", "hr")
        .agg(F.count("*").alias("n"),
             F.countDistinct("k_val").alias("n_k"),
             F.max("k_val").alias("max_k"))
    )


SQL_SCALAR_DATETIME_JSON = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(extract('hour' FROM ts) AS BIGINT) AS hr, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT json_extract_string(props, '$.k')) AS BIGINT) AS n_k,
       max(json_extract_string(props, '$.k')) AS max_k
FROM events GROUP BY 1, 2
"""


def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("bucket7", F.pmod("l_orderkey", F.lit(7)).cast("long"))
        .groupBy("bucket7")
        .agg(F.round(F.sum(F.log("l_extendedprice")), 4).alias("sum_log_price"),
             F.round(F.avg(F.greatest("l_discount", "l_tax")), 6).alias("avg_max_rate"),
             F.sum(F.floor(F.col("l_quantity") / 10)).cast("long").alias("sum_qty_decade"))
    )


SQL_SCALAR_MATH = """
SELECT CAST(l_orderkey % 7 AS BIGINT) AS bucket7,
       round(CAST(sum(ln(l_extendedprice)) AS DOUBLE), 4) AS sum_log_price,
       round(avg(greatest(l_discount, l_tax)), 6) AS avg_max_rate,
       CAST(sum(floor(l_quantity / 10)) AS BIGINT) AS sum_qty_decade
FROM lineitem GROUP BY 1
"""


def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(F.col("embedding").cast("array<double>"), 1), 6).alias("first_val"),
        F.round(F.sqrt(F.expr(
            "aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * x), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")), 6).alias("l2_norm"),
    )


SQL_SCALAR_ARRAY = """
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
FROM embeddings
"""


def q_scalar_math_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F5 folded (driver-cap consolidation, round 5 — the freed slot
    covers bm25_phrase_slop): math fns over lineitem and array fns over
    embeddings, union-tagged into one common schema. Both operators stay
    fully oracle-checked through the fold."""
    m = q_scalar_math(spark, sf_dir).select(
        F.lit("math").alias("src"), F.col("bucket7").alias("key"),
        F.col("sum_log_price").alias("v1"), F.col("avg_max_rate").alias("v2"),
        F.col("sum_qty_decade").alias("v3"))
    a = q_scalar_array(spark, sf_dir).select(
        F.lit("array").alias("src"), F.col("vec_id").cast("long").alias("key"),
        F.col("first_val").alias("v1"), F.col("l2_norm").alias("v2"),
        F.col("dim").alias("v3"))
    return m.unionByName(a)


SQL_SCALAR_MATH_ARRAY = f"""
SELECT 'math' AS src, bucket7 AS key, sum_log_price AS v1, avg_max_rate AS v2,
       sum_qty_decade AS v3
FROM ({SQL_SCALAR_MATH})
UNION ALL
SELECT 'array' AS src, CAST(vec_id AS BIGINT) AS key, first_val AS v1,
       l2_norm AS v2, dim AS v3
FROM ({SQL_SCALAR_ARRAY})
"""


# ---------------------------------------------------------------------------
# as-of join (J5): latest order at-or-before each event, per user
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import as_of_join
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", F.col("user_id").alias("k"), "ts"))
    orders = (_t(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("k"), "o_orderdate",
                      "o_orderkey", "o_totalprice"))
    j = as_of_join(ev, orders, key="k", left_ts="ts", right_ts="o_orderdate",
                   right_vals=["o_orderkey", "o_totalprice"])
    return j.select("event_id", F.col("k").alias("user_id"), "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_price"))


SQL_ASOF_JOIN = """
WITH best AS (
  SELECT e.event_id, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT e.event_id, e.user_id, b.o_orderkey, round(b.o_totalprice, 2) AS o_price
FROM events e LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id)
"""


# ---------------------------------------------------------------------------
# A3: approx count distinct — HLL sketches differ between engines, so
# this entry is rows-only by design (exact twin is agg_distinct)
# ---------------------------------------------------------------------------

def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"))


# ---------------------------------------------------------------------------
# non-SQL-expressible: postings codec integrity (rows-only check, F9)
# + HLL approx-distinct (A3) — the two weaker rows-only checks, folded
# into ONE driver entry (round 7, paying for es_suggest's slot): both
# still execute in full; the union is tagged by `check`
# ---------------------------------------------------------------------------

def q_engine_rows_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the two by-design rows-only checks: the binary
    postings codec integrity sweep (F9) and the HLL approx-distinct
    aggregate (A3 — sketch values are engine-specific, __spark_entry__
    convention). Shape: (check, flag, n_rows, n_units)."""
    codec = q_postings_codec_check(spark, sf_dir)
    hll = q_agg_approx_distinct(spark, sf_dir)
    a = codec.select(F.lit("codec").alias("check"),
                     F.col("codec_ok").cast("string").alias("flag"),
                     F.col("n_rows").cast("long").alias("n_rows"),
                     F.col("n_postings").cast("long").alias("n_units"))
    b = hll.select(F.lit("hll").alias("check"), F.lit("ok").alias("flag"),
                   F.col("approx_parts").cast("long").alias("n_rows"),
                   F.col("approx_orders").cast("long").alias("n_units"))
    return a.unionByName(b)


def q_postings_codec_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every SEGMENT and FRAGMENT row of the built index and
    validate the binary codec invariants (ascending docids, counts
    match, block offsets resolve, stored first_docid == first decoded
    docid). Fragments matter: at small sf the head overlay can be empty
    (no term crosses the head threshold) and a segments-only check is
    vacuous. Binary postings are not SQL-expressible → driver records
    the weaker rows-only check (SURVEY §2.9 F9)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from .codec import decode_blocks
    from .harness import _ensure_index
    from .operators.build import IndexPaths

    idx = _ensure_index(spark, sf_dir)
    p = IndexPaths(idx)
    from .operators.build import read_fragments, read_segments
    cols = ["term", "n", "first_docid", "blocks", "postings"]
    seg = (read_segments(spark, idx).select(*cols)
           .unionByName(read_fragments(spark, idx).select(*cols)))

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for term, n, fd, payload, blks in zip(pdf["term"], pdf["n"],
                                                  pdf["first_docid"],
                                                  pdf["postings"], pdf["blocks"]):
                alld, _, _, counts, _ = decode_blocks(
                    payload, [b["offset"] for b in blks])
                # each block's last docid is its stored last_docid
                assert (alld[np.cumsum(counts) - 1]
                        == [b["last_docid"] for b in blks]).all()
                ok = alld.size == int(n)
                if ok and alld.size:
                    ok = int(alld[0]) == int(fd)
                if ok and alld.size > 1:
                    ok = bool((np.diff(alld) > 0).all())
                rows.append((term, int(n), bool(ok)))
            if rows:
                yield pd.DataFrame(rows, columns=["term", "n", "codec_ok"])

    out = seg.mapInPandas(check, schema="term string, n long, codec_ok boolean")
    return out.groupBy("codec_ok").agg(
        F.count("*").alias("n_rows"), F.sum("n").alias("n_postings"))




def q_ann_lsh_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN sign-LSH + IVF (round-7 fold, one tagged union): both
    approximate paths keep their full oracle check — identical output
    shape (qid, rank, vec_id, cos_r), one path tag."""
    import pyspark.sql.functions as F
    lsh = (q_ann_lsh_bucket(spark, sf_dir)
           .select(F.lit("lsh").alias("path"), "*"))
    ivf = (q_ann_ivf(spark, sf_dir)
           .select(F.lit("ivf").alias("path"), "*"))
    return lsh.unionByName(ivf)


SQL_ANN_LSH_IVF = f"""
SELECT 'lsh' AS path, * FROM ({SQL_ANN_LSH_BUCKET}) lz
UNION ALL
SELECT 'ivf' AS path, * FROM ({SQL_ANN_IVF}) iz
"""




def q_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard + embedding near-dup + MinHash-LSH (round-7 fold,
    one tagged union): all three pair-similarity operators keep their
    full oracle check — (kind, rank, a, b, sim_r); the jaccard/minhash
    arms have no rank (0 filler, their twins never ranked)."""
    import pyspark.sql.functions as F
    ng = (q_dedup_ngram_jaccard(spark, sf_dir)
          .select(F.lit("ngram").alias("kind"),
                  F.lit(0).cast("long").alias("rank"),
                  F.col("doc_a").cast("long").alias("a"),
                  F.col("doc_b").cast("long").alias("b"),
                  F.col("jaccard_r").alias("sim_r")))
    em = (q_dedup_embedding_cosine(spark, sf_dir)
          .select(F.lit("cos").alias("kind"), "rank",
                  F.col("va").cast("long").alias("a"),
                  F.col("vb").cast("long").alias("b"),
                  F.col("cos_r").alias("sim_r")))
    mh = (q_dedup_minhash_lsh(spark, sf_dir)
          .select(F.lit("minhash").alias("kind"),
                  F.lit(0).cast("long").alias("rank"),
                  F.col("doc_a").cast("long").alias("a"),
                  F.col("doc_b").cast("long").alias("b"),
                  F.col("jaccard_r").alias("sim_r")))
    return ng.unionByName(em).unionByName(mh)


SQL_DEDUP_PAIRS = f"""
SELECT 'ngram' AS kind, CAST(0 AS BIGINT) AS rank,
       CAST(doc_a AS BIGINT) AS a, CAST(doc_b AS BIGINT) AS b,
       jaccard_r AS sim_r
FROM ({SQL_DEDUP_NGRAM_JACCARD}) nz
UNION ALL
SELECT 'cos', rank, CAST(va AS BIGINT), CAST(vb AS BIGINT), cos_r
FROM ({SQL_DEDUP_EMBEDDING_COSINE}) ez
UNION ALL
SELECT 'minhash', CAST(0 AS BIGINT), CAST(doc_a AS BIGINT),
       CAST(doc_b AS BIGINT), jaccard_r
FROM ({_minhash_duck()}) mz
"""




def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F7 / F4+F5 (round-7 fold of the two scalar unions into one
    tagged union): every constituent keeps its full oracle check;
    ''/0/0.0 fillers instead of NULLs so the value hash is
    engine-stable."""
    import pyspark.sql.functions as F
    dj = (q_scalar_datetime_json(spark, sf_dir)
          .select(F.lit("dtj").alias("src"), F.col("day").alias("k1"),
                  F.col("hr").alias("k2"), "n", "n_k",
                  F.col("max_k").alias("s1"),
                  F.lit(0.0).alias("v1"), F.lit(0.0).alias("v2"),
                  F.lit(0.0).alias("v3")))
    ma = (q_scalar_math_array(spark, sf_dir)
          .select("src", F.lit("").alias("k1"),
                  F.col("key").alias("k2"),
                  F.lit(0).cast("long").alias("n"),
                  F.lit(0).cast("long").alias("n_k"),
                  F.lit("").alias("s1"), "v1", "v2",
                  F.col("v3").cast("double").alias("v3")))
    return dj.unionByName(ma)


SQL_SCALAR_FUNCS = f"""
SELECT 'dtj' AS src, day AS k1, hr AS k2, n, n_k, max_k AS s1,
       0.0 AS v1, 0.0 AS v2, 0.0 AS v3
FROM ({SQL_SCALAR_DATETIME_JSON}) dz
UNION ALL
SELECT src, '' AS k1, key AS k2, CAST(0 AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS n_k, '' AS s1, v1, v2, CAST(v3 AS DOUBLE) AS v3
FROM ({SQL_SCALAR_MATH_ARRAY}) mz
"""


QUERIES2 = {
    "dedup_exact": q_dedup_exact,
    "dedup_pairs": q_dedup_pairs,
    "dedup_simhash": q_dedup_simhash,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_ivf": q_ann_lsh_ivf,
    "text_langid_quality": q_text_langid_quality,
    "text_token_fingerprint": q_text_token_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "events_tumbling_stream": q_events_tumbling_stream,
    "events_watermark_stream": q_events_watermark_stream,
    "stream_dedup": q_stream_dedup,
    "events_sliding_session": q_events_sliding_session,
    "scalar_string_url_hash": q_scalar_string_url_hash,
    "scalar_funcs": q_scalar_funcs,
    "asof_join": q_asof_join,
    "postings_codec_check": q_engine_rows_checks,
}

ORACLES2 = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_pairs": SQL_DEDUP_PAIRS,
    "dedup_simhash": _simhash_duck(),
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ann_lsh_ivf": SQL_ANN_LSH_IVF,
    "text_langid_quality": SQL_TEXT_LANGID_QUALITY,
    "text_token_fingerprint": SQL_TEXT_TOKEN_FINGERPRINT,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "events_tumbling_stream": SQL_EVENTS_TUMBLING,
    "events_watermark_stream": SQL_EVENTS_WATERMARK_STREAM,
    "stream_dedup": SQL_STREAM_DEDUP,
    "events_sliding_session": SQL_EVENTS_SLIDING_SESSION,
    "scalar_string_url_hash": SQL_SCALAR_STRING_URL_HASH,
    "scalar_funcs": SQL_SCALAR_FUNCS,
    "asof_join": SQL_ASOF_JOIN,
    # rows-only by design: postings_codec_check — since round 7 a
    # tagged union of the binary-codec sweep (F9) AND the HLL
    # approx-distinct agg (A3; sketch values are engine-specific)
}

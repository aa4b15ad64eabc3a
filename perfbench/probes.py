"""In-process layer probes: the codec and textops kernels timed on the
driver without Spark, so a kernel change shows without scheduler noise.
Each probe checks its own output and returns (MB per second, problems)."""

from __future__ import annotations

import glob
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

from aarhus_spark.codec import decode_all_blocks
from aarhus_spark.textops import tokenize, tokenize_series

MIN_PASSES = 3
MIN_SECONDS = 0.5


def _repeat(fn) -> list[float]:
    """Seconds per pass of ``fn``, for at least MIN_PASSES passes and
    MIN_SECONDS in total."""
    walls, t_end = [], time.perf_counter() + MIN_SECONDS
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return walls


def codec_decode(index_dir: str, sample_bytes: int = 300_000
                 ) -> tuple[float, list[str]]:
    """decode_all_blocks over the posting payloads of an index (head
    segments, then tail fragments) up to ``sample_bytes``."""
    rows, size = [], 0
    for sub in ("segments", "fragments"):
        for f in sorted(glob.glob(os.path.join(index_dir, sub, "**", "*.parquet"),
                                  recursive=True)):
            t = pq.read_table(f, columns=["n", "blocks", "postings"])
            for n, blocks, payload in zip(t["n"].to_pylist(), t["blocks"].to_pylist(),
                                          t["postings"].to_pylist()):
                if size < sample_bytes:
                    rows.append((n, [b["offset"] for b in blocks], payload))
                    size += len(payload)
    problems = []
    for n, offs, payload in rows:
        docids, _, _ = decode_all_blocks(payload, offs)
        if docids.size != n:
            problems.append(f"decoded {docids.size} postings, row holds {n}")
            break
    walls = _repeat(lambda: [decode_all_blocks(p, o) for _, o, p in rows])
    return size / 1e6 / statistics.median(walls), problems


def textops_tokenize(texts: list[str], sample_bytes: int = 2_000_000
                     ) -> tuple[float, list[str]]:
    """tokenize_series over the first ``sample_bytes`` of corpus text,
    checked against the scalar tokenizer."""
    sample, size = [], 0
    for t in texts:
        if size >= sample_bytes:
            break
        sample.append(t)
        size += len(t.encode())
    col = pd.Series(sample)
    problems = []
    got = tokenize_series(col)
    if [list(x) for x in got[:50]] != [tokenize(t) for t in sample[:50]]:
        problems.append("tokenize_series differs from tokenize")
    walls = _repeat(lambda: tokenize_series(col))
    return size / 1e6 / statistics.median(walls), problems

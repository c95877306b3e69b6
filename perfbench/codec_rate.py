"""Single-core codec rate on one pipeline-shaped cell.

The cell is the largest (source, bucket, salt) cell the pipeline would
build from the workload's input, collected to the driver through Arrow
and laid out as the compress stage (``compress._encode_cell_arrow``)
hands it to the codec: sorted by (ts, doc_id), flat token stream, and
the id buffers from the stage's own ``_string_buffers``. The encode is
timed alone, without that preparation, so the
rate is raw MB (the pipeline's ``raw_bytes`` formula) per second of one
``encode_bucket`` / ``decode_bucket`` call, median of several calls.
"""

from __future__ import annotations

import time
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tstoolbox_spark.codec.gorilla import decode_bucket, encode_bucket
from tstoolbox_spark.pipeline import bucketing
from tstoolbox_spark.pipeline.compress import _string_buffers
from tstoolbox_spark.timeaxis import with_time_axis

REPEATS = 5


def cell_arrays(tbl: pa.Table) -> tuple:
    """(ts_micros, n_tok, tokens_flat, (id_lens, id_blob), raw_bytes)."""
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending"), ("doc_id", "ascending")]))
    ts = tbl["ts"].to_numpy(zero_copy_only=False).astype("datetime64[us]").view(np.int64)
    n_tok = tbl["n_tok"].to_numpy(zero_copy_only=False).astype(np.int64)
    tokens = tbl["tokens"].combine_chunks().flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    lens, blob = _string_buffers(tbl["doc_id"])
    raw = len(tbl) * 16 + tokens.size * 4 + len(blob)
    return ts, n_tok, tokens, (lens, blob), raw


def codec_rates(spark, seq: DataFrame, n_buckets: int, target_rows_per_cell: int) -> dict:
    cells = bucketing.bucketed(with_time_axis(seq), target_rows_per_cell, n_buckets)
    top = cells.groupBy("source", "bucket", "salt").count().orderBy(F.desc("count")).first()
    cell = cells.where(
        (F.col("source") == top["source"])
        & (F.col("bucket") == top["bucket"])
        & (F.col("salt") == top["salt"])
    ).select("doc_id", "tokens", "n_tok", "ts")
    ts, n_tok, tokens, ids, raw = cell_arrays(cell.toArrow())
    enc_s, dec_s = [], []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        blob = encode_bucket(ts, n_tok, tokens, ids)
        t1 = time.perf_counter()
        out = decode_bucket(blob, raw_ids=True)
        t2 = time.perf_counter()
        enc_s.append(t1 - t0)
        dec_s.append(t2 - t1)
    if not np.array_equal(out[2], tokens):
        raise AssertionError("codec round trip changed the token stream")
    mb = raw / 1e6
    return {
        "encode_mb_per_s": mb / median(enc_s),
        "decode_mb_per_s": mb / median(dec_s),
        "cell_rows": len(n_tok),
    }

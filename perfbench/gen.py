"""Seeded inputs for the benchmark workloads.

The engine's own ``datagen.generate_sequences(seed=)`` varies tokens,
``n_tok`` and ``source`` with the seed but keeps ``doc_id`` fixed, and
the time axis, bucket and salt are all functions of ``doc_id``. Here
the seed is part of ``doc_id`` itself, so every generated column and
every derived one (ts, day, bucket, salt) changes with the seed.

Generation is pure column expressions over ``spark.range``, like the
engine's generator, so it is distributed and reproducible: the same
(seed, row count) always yields the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import EPOCH, MAX_TOKENS, MIN_TOKENS, SOURCE_CUMULATIVE, VOCAB_SIZE
from tstoolbox_spark.timeaxis import with_time_axis

COLUMNS = ["doc_id", "tokens", "n_tok", "source"]


def _source(h: F.Column) -> F.Column:
    bucket = F.pmod(h, F.lit(1000))
    expr = None
    for name, cum in SOURCE_CUMULATIVE:
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def sequences(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    """``n_rows`` sequences with ids ``0 .. n_rows - 1``.

    Same shape and distributions as the engine's generator: Zipf-skewed
    ``source``, squared-uniform lengths in [1, MAX_TOKENS], token values
    in [0, VOCAB_SIZE)."""
    base = spark.range(0, n_rows, 1, spark.sparkContext.defaultParallelism)
    doc_id = F.concat(F.lit(f"s{seed}-"), F.lpad(F.col("id").cast("string"), 12, "0"))
    h = F.abs(F.xxhash64(doc_id, F.lit(seed)))
    u = F.pmod(h, F.lit(1_000_003)).cast("double") / F.lit(1_000_003.0)
    n_tok = (F.lit(MIN_TOKENS) + u * u * F.lit(MAX_TOKENS - MIN_TOKENS)).cast("int")
    df = base.select(doc_id.alias("doc_id"), n_tok.alias("n_tok"), _source(h).alias("source"))
    tokens = F.transform(
        F.sequence(F.lit(1), F.col("n_tok")),
        lambda i: F.pmod(F.xxhash64(F.col("doc_id"), i, F.lit(seed)), F.lit(VOCAB_SIZE)).cast("int"),
    )
    return df.select("doc_id", tokens.alias("tokens"), "n_tok", "source")


def day_pool(spark: SparkSession, n_rows: int, seed: int, late_seconds: int) -> DataFrame:
    """Sequences with their derived timestamp ``ts``, the day it falls
    on (0 = the engine epoch) and a ``late`` flag: a row whose ``ts`` is
    within ``late_seconds`` of the end of its day belongs to that day
    but arrives with the next day's batch. ``late`` is 0 or 1, an
    integer so that it survives as a partition column."""
    seq = with_time_axis(sequences(spark, n_rows, seed))
    second_of_day = F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    return seq.select(
        *COLUMNS,
        "ts",
        F.datediff(F.col("ts"), F.to_date(F.lit(EPOCH))).alias("day"),
        (second_of_day >= 86_400 - late_seconds).cast("int").alias("late"),
    )

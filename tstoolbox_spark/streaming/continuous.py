"""Continuous (streaming) tier materialization.

The reference is batch-only (no watermarks, no stateful operators —
SURVEY.md §2.9), and the north rule's continuous aggregates are batch
rollups; this module is the *incremental-ingest* mode of the same
tiers: new sequence files appear under a directory, Structured
Streaming folds them into tier partials with exactly the batch
partial-aggregate schema, so the batch cascade and all readers are
oblivious to which mode produced the buckets.

Design (Spark-first): every tier twin here is one call into a single
function, ``_stream_tier``, that reads the summary's
``pipeline.rollup.Partial`` spec — the same spec the batch
``base``/``cascade`` use, so the two modes cannot drift apart:
- ``readStream`` file source over the input directory (schema pinned —
  streaming requires it), then the summary's row front end (CMS cells,
  Bloom positions, HLL registers; none for n_tok and the histogram).
- Event-time tumbling window of one tier unit (``1 <TIERS[tier]>``) +
  watermark for late data, grouped by (window, keys, spec.group); the
  spec's init aggregates over raw rows, or its merge aggregates when
  cascading from a finer streamed tier. Append output mode emits a
  bucket only once its watermark passes — the streaming analog of a
  closed tier bucket — labeled ``w.start AS ts`` like ``date_trunc``.
- Sink = ``parquet_sink``: parquet directory with checkpointLocation,
  an exactly-once file sink; resume = restart with the same checkpoint
  (the streaming analog of the batch pipeline's snapshot/lineage
  resume). ``trigger(availableNow=True)`` drains what exists then
  stops, which is how every caller drives it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import rollup
from ..pipeline.bloom import BLOOM_K, BLOOM_WORDS, _exploded_positions
from ..pipeline.cms import CMS_DEPTH, CMS_WIDTH, cms_cells
from ..pipeline.hll import phll_register_rows
from ..timeaxis import with_time_axis

SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def parquet_sink(df: DataFrame, path: str, checkpoint_dir: str):
    """Start an append-mode, checkpointed parquet sink that drains what
    exists and stops; returns the StreamingQuery."""
    return (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _sequences(spark: SparkSession, input_dir: str) -> DataFrame:
    return with_time_axis(spark.readStream.schema(SEQ_SCHEMA).parquet(input_dir))


def _stream_tier(
    rows: DataFrame,
    spec: rollup.Partial,
    tier: str,
    watermark: str,
    key_cols: tuple[str, ...],
    tier_dir: str,
    checkpoint_dir: str,
    merge: bool = False,
):
    """Windowed init (raw rows) or merge (finer partials) of ``spec``
    per closed ``tier`` bucket, appended to ``tier_dir``."""
    if tier not in rollup.TIER_ORDER:
        raise ValueError(
            f"streaming tier must be one of {rollup.TIER_ORDER}, got {tier!r}"
        )
    window = F.window("ts", f"1 {rollup.TIERS[tier]}").alias("w")
    out = (
        rows.withWatermark("ts", watermark)
        .groupBy(window, *key_cols, *spec.group)
        .agg(*(spec.merge_aggs() if merge else spec.init_aggs()))
        .select(F.col("w.start").alias("ts"), *key_cols, *spec.group, *spec.cols)
    )
    return parquet_sink(out, tier_dir, checkpoint_dir)


def continuous_rollup(
    spark: SparkSession,
    input_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    tier: str = "1m",
    watermark: str = "2 minutes",
    key_cols: tuple[str, ...] = ("source",),
):
    """Start the streaming 1m rollup; returns the StreamingQuery.

    Output schema matches pipeline.rollup.rollup_base exactly
    (ts, keys, n_tok_sum/count/min/max partials), so
    ``rollup_cascade`` consumes it unchanged.
    """
    return _stream_tier(
        _sequences(spark, input_dir), rollup.N_TOK, tier, watermark, key_cols,
        tier_dir, checkpoint_dir,
    )


def continuous_hist(
    spark: SparkSession,
    input_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    tier: str = "1m",
    watermark: str = "2 minutes",
    key_cols: tuple[str, ...] = ("source",),
):
    """Streaming value-count HISTOGRAM partials — the incremental-ingest
    mode of ``pipeline.rollup.hist_base``. Output schema
    (ts, keys, v, cnt) is consumed unchanged by ``hist_cascade`` /
    ``hist_quantiles``, so exact tier percentiles stay available while
    data streams in. State per open bucket is bounded by the value
    domain (|domain| counters), the same bound that makes the batch
    partial composable; append mode + watermark emit a bucket's
    histogram once it closes. Exactly-once via the file-sink
    transaction log, resume via the checkpoint."""
    rows = _sequences(spark, input_dir).withColumn("v", F.col("n_tok"))
    return _stream_tier(
        rows, rollup.HIST, tier, watermark, key_cols, tier_dir, checkpoint_dir
    )


def continuous_ingest_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
):
    """Streaming exact-dedup at ingest: drop sequences whose token
    content was already seen, BEFORE they reach the rollup/codec
    stages — the streaming twin of ``textops.exact_dedup``'s keeper
    selection, applied to the engine's native (doc_id, tokens, n_tok,
    source) table.

    Spark-first shape: the content key is the portable 60-bit md5 of
    the token stream (a pure column expression), and dedup state is
    BOUNDED by the event-time watermark via
    ``dropDuplicatesWithinWatermark`` — at 10^12 sequences an
    unbounded seen-set is impossible, so streaming dedup is windowed
    by construction (two identical sequences arriving farther apart
    than the watermark both pass; the batch exact_dedup pass remains
    the global authority). Exactly-once via the file-sink transaction
    log + checkpoint, like every stage here.
    """
    from ..textops.dedup import md5int

    hashed = _sequences(spark, input_dir).withColumn(
        "content_hash",
        md5int(F.concat_ws(",", F.col("tokens").cast("array<string>"))),
    )
    deduped = hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    return parquet_sink(deduped.drop("content_hash"), out_dir, checkpoint_dir)


def continuous_cascade(
    spark: SparkSession,
    finer_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    tier: str = "1h",
    watermark: str = "2 hours",
    key_cols: tuple[str, ...] = ("source",),
):
    """Materialize a coarser tier (1h/1d) FROM the streaming finer
    tier's parquet output — the streaming twin of
    ``pipeline.rollup.rollup_cascade``.

    The finer tier is itself an append-only stream of watermark-closed
    buckets (each (ts, key) cell emitted exactly once), so the coarse
    tier is just a second streaming window aggregation over those
    partials: sum(sum)/sum(count)/min(min)/max(max) — the identical
    partial-merge exprs as the batch cascade, hence bit-for-bit parity
    on every emitted bucket. Each stage carries its own checkpoint, so
    the whole 1m → 1h → 1d chain is independently resumable and
    exactly-once end-to-end (file source offsets + file-sink
    transaction log per stage).

    The finer tier's static schema is read from ``finer_dir`` (the dir
    exists once the 1m stage has started); a coarse bucket emits when
    the finer stream's event-time watermark passes its end.
    """
    if tier not in ("1h", "1d"):
        raise ValueError(f"cascade tier must be 1h or 1d, got {tier!r}")
    schema = spark.read.parquet(finer_dir).schema
    stream = spark.readStream.schema(schema).parquet(finer_dir)
    return _stream_tier(
        stream, rollup.N_TOK, tier, watermark, key_cols, tier_dir,
        checkpoint_dir, merge=True,
    )


def continuous_cms(
    spark: SparkSession,
    input_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    tier: str = "1m",
    key_col: str = "doc_id",
    watermark: str = "2 minutes",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
):
    """Streaming count-min-sketch partials — the incremental-ingest
    mode of ``pipeline.cms.cms_partials``: per closed tier bucket,
    the (j, bucket) counter grid for an UNBOUNDED key domain (doc
    ids at 10^12-sequence scale). Output schema (ts, j, bucket, cnt)
    is consumed unchanged by ``cms_merge`` / ``cms_estimate``, so
    approximate heavy-hitter counts stay available while data streams
    in.

    State per open bucket is bounded by depth × width counters — the
    same bound that makes the batch partial composable; append mode +
    watermark emit a bucket's grid once it closes. Exactly-once via
    the file-sink transaction log, resume via the checkpoint.
    """
    seq = _sequences(spark, input_dir).withColumn("__w", F.lit(1).cast("long"))
    rows = cms_cells(seq, key_col, depth, width, carry_cols=("ts", "__w"))
    return _stream_tier(
        rows, rollup.CMS, tier, watermark, (), tier_dir, checkpoint_dir
    )


def continuous_bloom(
    spark: SparkSession,
    input_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    tier: str = "1m",
    key_col: str = "doc_id",
    watermark: str = "2 minutes",
    k: int = BLOOM_K,
    words: int = BLOOM_WORDS,
):
    """Streaming Bloom-filter partials — the incremental-ingest mode
    of ``pipeline.bloom.bloom_build``: per closed tier bucket, the
    (word, mask) table of ids seen in that bucket. ``bloom_merge``
    folds any set of buckets into one filter (bit_or), so "was this
    id ingested in range X" membership stays answerable while data
    streams in — the ingest-side half of eval-set decontamination.

    State per open bucket is bounded by the word-table size;
    exactly-once via the file-sink log, resume via the checkpoint.
    """
    seq = _sequences(spark, input_dir).select("ts", key_col)
    rows = _exploded_positions(seq, key_col, k, words, carry_cols=("ts",))
    return _stream_tier(
        rows, rollup.BLOOM, tier, watermark, (), tier_dir, checkpoint_dir
    )


def continuous_phll(
    spark: SparkSession,
    input_dir: str,
    tier_dir: str,
    checkpoint_dir: str,
    tier: str = "1m",
    key_col: str = "doc_id",
    watermark: str = "2 minutes",
):
    """Streaming portable-HLL register partials — the incremental-
    ingest mode of ``pipeline.hll.phll_partial``: per closed tier
    bucket, the sparse (idx, rho) register relation for the ids seen
    in that bucket. ``phll_cascade`` folds any set of buckets
    (register-wise MAX, idempotent — safe under replay), so "distinct
    ids ingested in range X" stays answerable while data streams in,
    at ≤256 rows of state per open bucket whatever the id cardinality.

    Exactly-once via the file-sink transaction log, resume via the
    checkpoint — identical contract to the CMS/Bloom ingest twins.
    """
    seq = _sequences(spark, input_dir).select("ts", key_col)
    rows = phll_register_rows(seq, key_col, carry_cols=("ts",))
    return _stream_tier(
        rows, rollup.PHLL, tier, watermark, (), tier_dir, checkpoint_dir
    )

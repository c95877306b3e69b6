"""Schema pins for every public tier-partial function.

Tier tables, the streaming twins that append to them and the router
reads that merge them are consumed by each other and by the value
hash of the ``__spark_entry__`` queries, which depends on column order
and dtypes. Each case builds the function's output on a tiny input and
compares ``schema.simpleString()`` with the pinned string, so a
refactor of the partial algebra cannot silently reorder, rename or
retype a column.
Streaming cases drain once with ``availableNow`` and pin the schema of
what the parquet sink wrote.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import bloom, cms, ddsketch, hll, incremental, rollup
from tstoolbox_spark.plans import router
from tstoolbox_spark.streaming import continuous
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import with_time_axis


class Tiny:
    """Shared tiny inputs: 200 sequences with their derived ts, the same
    rows as a streaming source directory, and a catalog holding the
    1h tables the router reads."""

    def __init__(self, spark, root):
        self.spark = spark
        self.root = root
        self.seq = with_time_axis(generate_sequences(spark, 200, partitions=2))
        self.seq.persist().count()
        self.input_dir = str(root / "seq_in")
        self.seq.drop("ts").write.parquet(self.input_dir)
        self.cat = ParquetSnapshotCatalog(str(root / "cat"))
        self.cat.write_snapshot(rollup.rollup_base(self.seq, "1h"), "tier_1h")
        self.cat.write_snapshot(rollup.hist_base(self.seq, "1h"), "hist_1h")
        self.cat.write_snapshot(
            hll.phll_partial(self.seq, "1h", value_col="doc_id"), "phll_1h"
        )
        self.drains = 0
        self.last_out = None

    def drain(self, start, source_dir=None):
        """Run one streaming entry point to completion; return what its
        sink wrote."""
        self.drains += 1
        self.last_out = str(self.root / f"out{self.drains}")
        start(
            self.spark, source_dir or self.input_dir, self.last_out,
            str(self.root / f"ck{self.drains}"),
        ).awaitTermination(120)
        return self.spark.read.parquet(self.last_out)


def _decimal_refresh(t):
    dec = t.seq.withColumn("n_tok", F.col("n_tok").cast("decimal(28,2)"))
    late = dec.where(F.col("n_tok") > 256)
    existing = rollup.rollup_base(dec.where(F.col("n_tok") <= 256), "1m")
    return incremental.incremental_tier_refresh(existing, late, "1m")


def _stream_cascade(t):
    assert t.drain(continuous.continuous_rollup).count() > 0
    return t.drain(
        lambda *a: continuous.continuous_cascade(*a, tier="1h"), t.last_out
    )


CASES = {
    # batch tiers, one base and one cascade per summary
    "rollup_base": lambda t: rollup.rollup_base(t.seq, "1m"),
    "rollup_cascade": lambda t: rollup.rollup_cascade(
        rollup.rollup_base(t.seq, "1m"), "1h"
    ),
    "merge_partials": lambda t: incremental.merge_partials(
        rollup.rollup_base(t.seq, "1m"), "1m"
    ),
    "hist_base": lambda t: rollup.hist_base(t.seq, "1h"),
    "hist_cascade": lambda t: rollup.hist_cascade(
        rollup.hist_base(t.seq, "1h"), "1mo"
    ),
    "hist_rebin": lambda t: rollup.hist_rebin(rollup.hist_base(t.seq, "1h"), 16),
    "ddsketch_base": lambda t: ddsketch.ddsketch_base(t.seq, "1h"),
    "ddsketch_cascade": lambda t: ddsketch.ddsketch_cascade(
        ddsketch.ddsketch_base(t.seq, "1h"), "1d"
    ),
    "cms_partials": lambda t: cms.cms_partials(t.seq, "doc_id", "1h"),
    "cms_partials_global_weighted": lambda t: cms.cms_partials(
        t.seq, "doc_id", None, weight_col="n_tok"
    ),
    "cms_merge": lambda t: cms.cms_merge(
        cms.cms_partials(t.seq, "doc_id", "1h"), "1d"
    ),
    "cms_merge_global": lambda t: cms.cms_merge(
        cms.cms_partials(t.seq, "doc_id", "1h")
    ),
    "bloom_build": lambda t: bloom.bloom_build(t.seq, "doc_id"),
    "bloom_merge": lambda t: bloom.bloom_merge(bloom.bloom_build(t.seq, "doc_id")),
    "hll_base": lambda t: hll.hll_base(t.seq, "1h", value_col="doc_id"),
    "hll_cascade": lambda t: hll.hll_cascade(
        hll.hll_base(t.seq, "1h", value_col="doc_id"), "1d"
    ),
    "phll_partial": lambda t: hll.phll_partial(t.seq, "1h", value_col="doc_id"),
    "phll_cascade": lambda t: hll.phll_cascade(
        hll.phll_partial(t.seq, "1h", value_col="doc_id"), "1d"
    ),
    "phll_overlap": lambda t: hll.phll_overlap(
        hll.phll_partial(t.seq, "1d", (), value_col="doc_id"),
        hll.phll_partial(t.seq, "1d", (), value_col="source"),
    ),
    # incremental refresh keeps a DECIMAL n_tok DECIMAL
    "incremental_tier_refresh_decimal": _decimal_refresh,
    # router outputs
    "route_tier_query": lambda t: router.route_tier_query(t.spark, t.cat, "6H")[0],
    "route_quantile_query": lambda t: router.route_quantile_query(
        t.spark, t.cat, "6H"
    )[0],
    "route_distinct_query": lambda t: router.route_distinct_query(
        t.spark, t.cat, "6H"
    )[0],
    # streaming twins, after one availableNow drain
    "continuous_rollup": lambda t: t.drain(continuous.continuous_rollup),
    "continuous_cascade": _stream_cascade,
    "continuous_hist": lambda t: t.drain(continuous.continuous_hist),
    "continuous_cms": lambda t: t.drain(continuous.continuous_cms),
    "continuous_bloom": lambda t: t.drain(continuous.continuous_bloom),
    "continuous_phll": lambda t: t.drain(continuous.continuous_phll),
    "continuous_ingest_dedup": lambda t: t.drain(continuous.continuous_ingest_dedup),
}

EXPECTED = {
    "bloom_build": "struct<word:bigint,mask:bigint>",
    "bloom_merge": "struct<word:bigint,mask:bigint>",
    "cms_merge": "struct<ts:timestamp,j:int,bucket:bigint,cnt:bigint>",
    "cms_merge_global": "struct<j:int,bucket:bigint,cnt:bigint>",
    "cms_partials": "struct<ts:timestamp,j:int,bucket:bigint,cnt:bigint>",
    "cms_partials_global_weighted": "struct<j:int,bucket:bigint,cnt:bigint>",
    "continuous_bloom": "struct<ts:timestamp,word:bigint,mask:bigint>",
    "continuous_cascade": (
        "struct<ts:timestamp,source:string,n_tok_sum:bigint,"
        "n_tok_count:bigint,n_tok_min:int,n_tok_max:int>"
    ),
    "continuous_cms": "struct<ts:timestamp,j:int,bucket:bigint,cnt:bigint>",
    "continuous_hist": "struct<ts:timestamp,source:string,v:int,cnt:bigint>",
    "continuous_ingest_dedup": (
        "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string,"
        "ts:timestamp>"
    ),
    "continuous_phll": "struct<ts:timestamp,idx:int,rho:int>",
    "continuous_rollup": (
        "struct<ts:timestamp,source:string,n_tok_sum:bigint,"
        "n_tok_count:bigint,n_tok_min:int,n_tok_max:int>"
    ),
    "ddsketch_base": "struct<source:string,ts:timestamp,v:bigint,cnt:bigint>",
    "ddsketch_cascade": "struct<source:string,ts:timestamp,v:bigint,cnt:bigint>",
    "hist_base": "struct<source:string,ts:timestamp,v:int,cnt:bigint>",
    "hist_cascade": "struct<source:string,ts:timestamp,v:int,cnt:bigint>",
    "hist_rebin": "struct<source:string,ts:timestamp,v:int,cnt:bigint>",
    "hll_base": "struct<source:string,ts:timestamp,distinct_hll:binary>",
    "hll_cascade": "struct<source:string,ts:timestamp,distinct_hll:binary>",
    "incremental_tier_refresh_decimal": (
        "struct<source:string,ts:timestamp,n_tok_sum:decimal(38,2),"
        "n_tok_count:bigint,n_tok_min:decimal(28,2),"
        "n_tok_max:decimal(28,2)>"
    ),
    "merge_partials": (
        "struct<source:string,ts:timestamp,n_tok_sum:bigint,"
        "n_tok_count:bigint,n_tok_min:int,n_tok_max:int>"
    ),
    "phll_cascade": "struct<source:string,ts:timestamp,idx:int,rho:int>",
    "phll_overlap": (
        "struct<ts:timestamp,est_a:double,est_b:double,est_union:double,"
        "est_intersection:double>"
    ),
    "phll_partial": "struct<source:string,ts:timestamp,idx:int,rho:int>",
    "rollup_base": (
        "struct<source:string,ts:timestamp,n_tok_sum:bigint,"
        "n_tok_count:bigint,n_tok_min:int,n_tok_max:int>"
    ),
    "rollup_cascade": (
        "struct<source:string,ts:timestamp,n_tok_sum:bigint,"
        "n_tok_count:bigint,n_tok_min:int,n_tok_max:int>"
    ),
    "route_distinct_query": (
        "struct<source:string,ts:timestamp,registers_present:bigint,"
        "inv_sum_scaled:bigint,approx_distinct:double>"
    ),
    "route_quantile_query": (
        "struct<source:string,ts:timestamp,p50:int,p90:int,p99:int>"
    ),
    "route_tier_query": (
        "struct<source:string,ts:timestamp,n_tok_sum:bigint,"
        "n_tok_count:bigint,n_tok_min:int,n_tok_max:int,n_tok_mean:double>"
    ),
}


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    t = Tiny(spark, tmp_path_factory.mktemp("tier_schemas"))
    yield t
    t.seq.unpersist()


@pytest.mark.parametrize("name", sorted(CASES))
def test_tier_partial_schema_is_pinned(tiny, name):
    assert CASES[name](tiny).schema.simpleString() == EXPECTED[name]

"""Batched IVFADC probe (VERDICT r4 #6): one job resolves a whole
query DataFrame, bit-identical per query to the single-query
``ivfpq_topk`` literal path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.textops.similarity import (
    ivfpq_index,
    ivfpq_probe_table,
    ivfpq_topk,
    ivfpq_topk_batch,
)


def _toy(spark, n=40, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })
    emb = spark.createDataFrame(pdf)
    cents = [[float(x) for x in vecs[i]] for i in range(4)]
    m, dsub = 4, dim // 4
    books = [
        [[float(x) for x in vecs[j][mi * dsub:(mi + 1) * dsub]]
         for j in range(8)]
        for mi in range(m)
    ]
    return emb, vecs, cents, books


def test_batch_matches_single_query_bit_exact(spark):
    emb, vecs, cents, books = _toy(spark)
    qids = [0, 5, 17, 33]
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.asarray(qids, dtype=np.int64),
        "embedding": [vecs[i].tolist() for i in qids],
    }))
    batch = (
        ivfpq_topk_batch(emb, queries, cents, books, k=5, nprobe=2)
        .toPandas()
        .sort_values(["query_id", "adc_dist", "vec_id"])
        .reset_index(drop=True)
    )
    singles = []
    for qid in qids:
        s = ivfpq_topk(
            emb, [float(x) for x in vecs[qid]], cents, books, k=5, nprobe=2
        ).toPandas()
        s.insert(0, "query_id", qid)
        singles.append(s)
    want = (
        pd.concat(singles, ignore_index=True)
        .sort_values(["query_id", "adc_dist", "vec_id"])
        .reset_index(drop=True)
    )
    # bit-exact: same ids, same cells, identical doubles
    pd.testing.assert_frame_equal(
        batch[["query_id", "vec_id", "cell", "adc_dist"]].astype(
            {"cell": "int64"}),
        want[["query_id", "vec_id", "cell", "adc_dist"]].astype(
            {"cell": "int64"}),
    )


def test_probe_table_shape_and_lut_semantics(spark):
    emb, vecs, cents, books = _toy(spark)
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.asarray([3], dtype=np.int64),
        "embedding": [vecs[3].tolist()],
    }))
    probe = ivfpq_probe_table(queries, cents, books, nprobe=2).toPandas()
    assert len(probe) == 2
    m, kk = len(books), len(books[0])
    assert all(len(l) == m * kk for l in probe["lut"])
    # lut entries reproduce the explicit left-assoc python fold
    from tstoolbox_spark.textops.similarity import _l2_fold_py

    dsub = len(books[0][0])
    row = probe.iloc[0]
    qr = [float(a) - float(b)
          for a, b in zip(vecs[3], cents[int(row["cell"])])]
    for mi in range(m):
        for code in range(kk):
            want = _l2_fold_py(qr[mi * dsub:(mi + 1) * dsub], books[mi][code])
            assert row["lut"][mi * kk + code] == want


def test_batch_plan_codes_only_and_no_global_sort(spark, tmp_path):
    emb, vecs, cents, books = _toy(spark)
    idx_path = str(tmp_path / "idx")
    ivfpq_index(emb, cents, books).write.partitionBy("cell").parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.asarray([0, 5], dtype=np.int64),
        "embedding": [vecs[0].tolist(), vecs[5].tolist()],
    }))
    out = ivfpq_topk_batch(None, queries, cents, books, k=3, nprobe=2,
                           index=idx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # codes-only scan: the file read schema carries codes, never floats
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and all("ReadSchema: struct<vec_id:bigint,pq_code" in ln
                        for ln in scan)
    # static union-of-probes partition pruning reached the scan
    assert "PartitionFilters: [cell" in scan[0]
    # per-query top-k is a partitioned window (with rank-limit
    # pushdown), not a global TakeOrdered sort
    assert "TakeOrderedAndProject" not in plan
    assert "WindowGroupLimit" in plan
    out.count()


def test_batch_refuses_probe_table_over_byte_bound(spark, monkeypatch):
    """The driver-side probe-table collect is bounded: a batch whose
    nqueries*nprobe rows of m*K doubles exceed PROBE_TABLE_MAX_BYTES
    is refused, not collected."""
    from tstoolbox_spark.textops import similarity

    emb, vecs, cents, books = _toy(spark)
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.asarray([0, 5, 17], dtype=np.int64),
        "embedding": [vecs[i].tolist() for i in (0, 5, 17)],
    }))
    row_bytes = len(books) * len(books[0]) * 8
    # 3 queries x nprobe=2 = 6 probe rows: exactly at the bound runs
    monkeypatch.setattr(similarity, "PROBE_TABLE_MAX_BYTES", 6 * row_bytes)
    assert ivfpq_topk_batch(emb, queries, cents, books, k=5, nprobe=2).count() > 0
    # one row under it refuses
    monkeypatch.setattr(similarity, "PROBE_TABLE_MAX_BYTES", 5 * row_bytes)
    with pytest.raises(ValueError, match="split the query batch"):
        ivfpq_topk_batch(emb, queries, cents, books, k=5, nprobe=2)

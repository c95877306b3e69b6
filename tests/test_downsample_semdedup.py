"""M4 visualization downsampling + SemDeDup semantic dedup.

M4 oracle: brute-force pandas groupby picking the four extrema rows
per bucket (Jugel et al., VLDB 2014, §3: min, max, first, last per
pixel column). SemDeDup oracle: literal O(n^2) numpy re-execution of
the paper's rule (Abbas et al. 2023, arXiv:2303.09540 §3): within
each k-means cell, drop every item with a duplicate (cosine >=
threshold) farther from the centroid boundary — keep the lowest
centroid-cosine item of each duplicate group.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tstoolbox_spark.operators.downsample import m4_downsample
from tstoolbox_spark.textops.similarity import semdedup


def _series(seed=7, n=500):
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2021, 3, 1)
    ts = [t0 + dt.timedelta(minutes=int(m)) for m in np.cumsum(rng.integers(1, 9, n))]
    vals = np.round(rng.normal(50.0, 20.0, n), 2)
    vals[10] = vals[11]  # duplicate values inside one bucket: tie paths
    keys = rng.choice(["a", "b"], n)
    return pd.DataFrame({"ts": ts, "key": keys, "value": vals})


def _m4_pandas(pdf, freq="h"):
    out = []
    for (k, b), g in pdf.groupby(["key", pdf["ts"].dt.floor(freq)]):
        g = g.sort_values(["ts", "value"]).reset_index(drop=True)
        byv = g.sort_values(["value", "ts"]).reset_index(drop=True)
        vmin = byv.iloc[0]
        vmax = g.sort_values(["value", "ts"], ascending=[False, False]).iloc[0]
        tfirst = g.iloc[0]
        tlast = g.sort_values(["ts", "value"], ascending=[False, False]).iloc[0]
        pts = {(r["ts"], r["value"]) for r in (vmin, vmax, tfirst, tlast)}
        out += [(k, b, t, v) for (t, v) in pts]
    return (
        pd.DataFrame(out, columns=["key", "bucket", "ts", "value"])
        .sort_values(["key", "bucket", "ts", "value"])
        .reset_index(drop=True)
    )


def test_m4_matches_pandas_extrema(spark):
    pdf = _series()
    got = (
        m4_downsample(spark.createDataFrame(pdf), "H", key_cols=["key"])
        .toPandas()
        .reset_index(drop=True)
    )
    exp = _m4_pandas(pdf)
    pd.testing.assert_frame_equal(
        got[["key", "bucket", "ts", "value"]], exp, check_dtype=False
    )


def test_m4_single_pass_partial_agg(spark):
    """One groupBy with map-side combine: exactly one Exchange in the
    aggregate subtree, and it moves <=4 struct rows per bucket."""
    pdf = _series()
    plan = (
        m4_downsample(spark.createDataFrame(pdf), "H", key_cols=["key"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the global sort adds a range Exchange; the agg itself must add
    # only the single hash Exchange — 2 total, and partial_ aggregates
    # must appear below it (map-side combine before any shuffle)
    assert plan.count("Exchange") == 2
    assert "partial_min" in plan and "partial_max" in plan


def test_m4_null_values_dropped(spark):
    pdf = _series(n=60)
    pdf.loc[5, "value"] = None
    out = m4_downsample(spark.createDataFrame(pdf), "H", key_cols=["key"]).toPandas()
    assert out["value"].notna().all()


def _vectors(seed=11, n=80, dim=8):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    # plant near-duplicate pairs
    for i in range(0, 20, 2):
        v[i + 1] = v[i] + rng.normal(scale=0.05, size=dim)
    return v


def _semdedup_numpy(v, cents, threshold):
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sims = vn @ cn.T
    cell = sims.argmax(axis=1)
    cc = sims[np.arange(len(v)), cell]
    kept = np.ones(len(v), bool)
    for i in range(len(v)):
        for j in range(len(v)):
            if i == j or cell[i] != cell[j]:
                continue
            if float(vn[i] @ vn[j]) < threshold:
                continue
            if cc[j] < cc[i] or (cc[j] == cc[i] and j < i):
                kept[i] = False
    return cell, cc, kept


def test_semdedup_matches_numpy(spark):
    v = _vectors()
    cents = [list(map(float, row)) for row in v[:4]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<double>",
    )
    got = (
        semdedup(df, cents, threshold=0.9)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    cell, cc, kept = _semdedup_numpy(v, np.array(cents), 0.9)
    assert got["cell"].to_numpy().tolist() == cell.tolist()
    np.testing.assert_allclose(got["cent_cos"], np.round(cc, 6), atol=1e-6)
    assert got["kept"].to_numpy().tolist() == kept.tolist()
    # the planted duplicates actually exercised the drop path
    assert not kept.all()


def test_semdedup_keeps_farthest_from_centroid(spark):
    """Within a duplicate group the survivor is the item with the
    LOWEST cosine to its centroid (paper rule), not the lowest id."""
    c = [1.0, 0.0, 0.0, 0.0]
    a = [0.9, 0.1, 0.0, 0.0]   # closer to centroid
    b = [0.8, 0.25, 0.0, 0.0]  # farther from centroid, duplicate of a
    df = spark.createDataFrame(
        [(0, a), (1, b)], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r["kept"] for r in semdedup(df, [c], threshold=0.95).collect()}
    assert out == {0: False, 1: True}


def test_semdedup_no_cross_join(spark):
    v = _vectors(n=30)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        semdedup(df, [list(map(float, r)) for r in v[:4]])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_semdedup_precomputed_cells_match_default(spark):
    """Passing materialized (id, cell) assignments must reproduce the
    default path exactly — the shared-assignment reuse contract."""
    from tstoolbox_spark.textops.similarity import assign_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.filter("vec_id < 4").orderBy("vec_id").collect()
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    cells = assign_cells(emb, cents).select("vec_id", "cell")
    a = semdedup(emb, cents, threshold=0.35).orderBy("vec_id").collect()
    b = semdedup(emb, cents, threshold=0.35, cells=cells).orderBy(
        "vec_id").collect()
    assert a == b


# (vec_id, cell, cent_cos, kept) for the fixture below, as the
# pairwise-join dominance path computed them (a per-pair JVM cosine
# over an equi-join on cell); the Arrow gram path matched it exactly.
_SEMDEDUP_JOIN_PATH_ROWS = [
    (0, 0, 1.0, False), (1, 1, 1.0, False), (2, 2, 1.0, False),
    (3, 0, -0.02986, True), (4, 0, 0.194883, True), (5, 0, 0.358072, True),
    (6, 1, 0.4659, False), (7, 2, -0.048259, False), (8, 1, 0.630742, False),
    (9, 0, 0.286701, True), (10, 0, 0.999999, False), (11, 1, 0.999999, False),
    (12, 2, 0.999999, False), (13, 0, -0.02959, False), (14, 0, 0.195316, False),
    (15, 0, 0.358529, False), (16, 1, 0.465858, False), (17, 2, -0.04857, False),
    (18, 1, 0.630636, False), (19, 0, 0.28689, False), (20, 0, 0.999997, False),
    (21, 1, 0.999998, False), (22, 2, 0.999997, False), (23, 0, -0.029319, False),
    (24, 0, 0.195749, False), (25, 0, 0.358986, False), (26, 1, 0.465815, False),
    (27, 2, -0.04888, False), (28, 1, 0.630528, False), (29, 0, 0.287078, False),
    (30, 0, 0.999992, False), (31, 1, 0.999995, False), (32, 2, 0.999993, False),
    (33, 0, -0.029048, False), (34, 0, 0.196182, False), (35, 0, 0.359442, False),
    (36, 1, 0.465772, False), (37, 2, -0.049191, False), (38, 1, 0.63042, False),
    (39, 0, 0.287265, False), (40, 0, 0.999987, False), (41, 1, 0.999991, False),
    (42, 2, 0.999988, False), (43, 0, -0.028776, False), (44, 0, 0.196614, False),
    (45, 0, 0.359899, False), (46, 1, 0.465729, False), (47, 2, -0.049502, False),
    (48, 1, 0.63031, False), (49, 0, 0.287453, False), (50, 0, 0.999979, True),
    (51, 1, 0.999987, True), (52, 2, 0.999981, True), (53, 0, -0.028505, False),
    (54, 0, 0.197045, False), (55, 0, 0.360356, False), (56, 1, 0.465685, True),
    (57, 2, -0.049813, True), (58, 1, 0.630199, True), (59, 0, 0.287639, False),
]


def test_semdedup_vectorized_matches_join_path(spark):
    """The Arrow gram-matrix path must produce EXACTLY the join
    path's dominated set (per-dim left-assoc accumulation is
    bit-identical to the _dot fold)."""
    import numpy as np
    import pandas as pd

    from tstoolbox_spark.textops.similarity import semdedup

    rng = np.random.default_rng(11)
    base_vecs = rng.normal(size=(10, 8)).astype(np.float32)
    # plant near-duplicates: rows 20+ are tiny perturbations of base
    rows = []
    for i in range(60):
        v = base_vecs[i % 10] + (i // 10) * 1e-3
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    cents = [[float(x) for x in base_vecs[i]] for i in range(3)]
    cols = ["vec_id", "cell", "cent_cos", "kept"]
    a = (semdedup(emb, cents, threshold=0.98)
         .toPandas().sort_values("vec_id").reset_index(drop=True))
    b = pd.DataFrame(_SEMDEDUP_JOIN_PATH_ROWS, columns=cols).astype(
        {"cell": "int32"})
    pd.testing.assert_frame_equal(a, b)
    assert (~a["kept"]).sum() > 0  # the planted dups actually dropped


def test_semdedup_zero_norm_vector_raises(spark):
    """A zero-norm vector has no cosine: the ANSI division in
    ``cosine`` raises instead of inventing an order for it."""
    from pyspark.errors import ArithmeticException

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        semdedup(emb, [[1.0, 0.0]], threshold=0.98).collect()

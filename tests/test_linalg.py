"""Distributed PCA (operators/linalg.py): covariance vs numpy, power-
iteration convergence on planted structure, projection math, the
dim-mismatch fail-fast, and the pin/plan contracts."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.operators.linalg import (
    covariance_rows,
    pc_scores,
    power_iteration,
    top_principal_component,
)


def _emb(spark, sf_smoke, n=200):
    return spark.read.parquet(f"{sf_smoke}/embeddings.parquet").limit(n)


def test_covariance_matches_numpy_at_rounding_grain(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    V = np.stack(emb.toPandas()["embedding"].values).astype(np.float64)
    C = np.cov(V.T, bias=True)
    rows = covariance_rows(emb, "embedding", 64, round_dp=6).orderBy("i").collect()
    Cs = np.array([r["cov"] for r in rows])
    assert Cs.shape == (64, 64)
    # rounded at 6 dp: within half a grain of the exact matrix
    assert np.abs(Cs - C).max() <= 5.1e-7
    # symmetric up to the rounding grain
    assert np.abs(Cs - Cs.T).max() <= 1.1e-6


def test_power_iteration_converges_on_planted_structure(spark):
    """On a spectrum with a dominant direction (spike + small noise),
    3 steps must align with the true top eigenvector — the convergence
    property, tested where it exists (the recall-floor pattern; the
    near-iid fixture spectrum is flat and only the deterministic
    trajectory is contractual there)."""
    rng = np.random.default_rng(7)
    u = np.zeros(64)
    u[0], u[3] = 3.0, 4.0  # |u| = 5
    u = u / 5.0
    V = rng.normal(0, 0.05, size=(400, 64)) + np.outer(
        rng.normal(0, 1.0, size=400), u
    )
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(V)],
        ["vec_id", "embedding"],
    )
    # pin hygiene: the operator's internal cov pin must not change the
    # session's cache population (absolute emptiness is NOT asserted —
    # mid-suite, other modules hold deliberate residue)
    cache_was_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    pc = top_principal_component(df, "embedding", dim=64, iters=3)
    x = np.array(
        [r["loading"] for r in pc.orderBy("i").collect()], dtype=np.float64
    )
    cos = abs(float(x @ u)) / float(np.linalg.norm(x))
    assert cos > 0.99
    # unit norm up to iterate rounding
    assert abs(np.linalg.norm(x) - 1.0) < 1e-6
    assert (
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
        == cache_was_empty
    )


def test_pc_scores_is_centered_projection(spark, sf_smoke):
    emb = _emb(spark, sf_smoke, n=100)
    V = np.stack(
        emb.orderBy("vec_id").toPandas()["embedding"].values
    ).astype(np.float64)
    u = [0.0] * 64
    u[5] = 1.0
    m = V.mean(axis=0)
    got = {
        r["vec_id"]: r["score"]
        for r in pc_scores(emb, u, m.tolist()).collect()
    }
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").select("vec_id").collect()]
    exp = np.round(V[:, 5] - m[5], 6)
    for k, e in zip(ids, exp):
        assert math.isclose(got[k], float(e), abs_tol=1.5e-6)


def test_dim_mismatch_fails_fast(spark):
    """The size guard rides IN the covariance aggregation (a max/min
    size column — no eager limit-1 probe job serializing ahead of the
    scan, VERDICT r12 nit #2), so the mismatch raises at execution, on
    BOTH physical paths."""
    df = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    for method in ("explode", "arrow"):
        with pytest.raises(Exception, match="silently zero covariance"):
            covariance_rows(df, "embedding", 64, method=method).collect()


def test_zero_matrix_is_degenerate_but_stable(spark):
    """All-identical vectors → zero covariance → zero iterates (the
    norm guard), not NULLs or division errors."""
    df = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(10)], ["vec_id", "embedding"]
    )
    cov = covariance_rows(df, "embedding", 8).persist()
    try:
        x = power_iteration(cov, dim=8, iters=2)
    finally:
        cov.unpersist()
    assert x == [0.0] * 8


def test_pca_plan_shapes(spark, sf_smoke):
    """Moments partial-aggregate map-side (HashAggregate below the
    64-row exchange, never a corpus shuffle); scoring is one map-side
    pass into a TakeOrderedAndProject — no join, no wide shuffle."""
    from bookstore_aws_lakehouse_spark.registry import load_all

    GOLDEN, _ = load_all()
    emb = _emb(spark, sf_smoke)
    cov_plan = covariance_rows(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in cov_plan
    assert "SortMergeJoin" not in cov_plan
    scores = pc_scores(emb, [0.125] * 64, [0.0] * 64)
    from bookstore_aws_lakehouse_spark.operators.sort import top_k

    topk = top_k(
        scores.withColumn("_a", F.abs(F.col("score"))),
        [("_a", True)],
        20,
        tiebreak=["vec_id"],
    )
    p = topk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p


def test_covariance_arrow_path_matches_explode(spark, sf_smoke):
    """The Gram-partial (mapInPandas) path must emit the SAME 6-dp
    matrix as the explode path — the two are physical strategies behind
    one rounding contract (sum-order noise ≈1e-13 sits far below the
    grain)."""
    emb = _emb(spark, sf_smoke)
    a = covariance_rows(emb, "embedding", 64, method="explode").orderBy("i").collect()
    b = covariance_rows(emb, "embedding", 64, method="arrow").orderBy("i").collect()
    assert [r["cov"] for r in a] == [r["cov"] for r in b]
    # means are unrounded (downstream centering wants full precision):
    # the numpy partial fold may differ from Spark's AVG at ~1e-16
    ma = np.array([r["mean"] for r in a])
    mb = np.array([r["mean"] for r in b])
    assert np.abs(ma - mb).max() < 1e-12


def test_covariance_wide_dim_auto_uses_arrow_and_matches_numpy(spark):
    """At production widths (d > 128) auto dispatch takes the Gram-
    partial path (the explode would materialize O(n·d²) map-side,
    VERDICT r12 #8) and still lands within half a rounding grain of
    the exact covariance."""
    rng = np.random.default_rng(13)
    d = 512
    V = rng.normal(0, 1.0, size=(300, d))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(V)],
        ["vec_id", "embedding"],
    )
    cov = covariance_rows(df, "embedding", d)  # auto → arrow
    plan = cov._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    rows = cov.orderBy("i").collect()
    Cs = np.array([r["cov"] for r in rows])
    C = np.cov(V.T, bias=True)
    assert Cs.shape == (d, d)
    assert np.abs(Cs - C).max() <= 5.1e-7


def test_top_pcs_converge_and_orthogonal_on_planted_structure(spark):
    """Top-r deflation (VERDICT r12 #3): on a spectrum with three
    planted orthogonal directions at separated strengths, the recovered
    components align with the planted basis IN ORDER and stay mutually
    orthogonal up to the 6-dp deflation grain."""
    from bookstore_aws_lakehouse_spark.operators.linalg import (
        top_principal_components,
    )

    rng = np.random.default_rng(11)
    U = np.linalg.qr(rng.normal(size=(64, 3)))[0].T  # 3×64 orthonormal
    scales = np.array([4.0, 2.0, 1.0])
    coeffs = rng.normal(size=(500, 3)) * scales
    V = coeffs @ U + rng.normal(0, 0.03, size=(500, 64))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(V)],
        ["vec_id", "embedding"],
    )
    out = top_principal_components(df, "embedding", dim=64, r=3, iters=8)
    pdf = out.toPandas().sort_values(["component", "i"])
    P = pdf["loading"].to_numpy().reshape(3, 64)
    for k in range(3):
        cos = abs(float(P[k] @ U[k])) / float(np.linalg.norm(P[k]))
        assert cos > 0.99, f"component {k + 1} misaligned (cos={cos:.4f})"
    G = P @ P.T
    assert np.abs(G - np.eye(3)).max() < 0.01


def test_pc_project_reduces_and_whitens(spark):
    """pc_project: r-dim reduction equals the centered projections
    column-for-column vs numpy; whitening divides by sqrt(lambda) before
    rounding and NULLs non-positive directions instead of NaN/Inf."""
    from bookstore_aws_lakehouse_spark.operators.linalg import pc_project

    rng = np.random.default_rng(3)
    V = rng.normal(0, 1.0, size=(50, 8))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(V)],
        ["vec_id", "embedding"],
    )
    comps = [[1.0 if j == k else 0.0 for j in range(8)] for k in (2, 5)]
    m = V.mean(axis=0).tolist()
    got = {
        r["vec_id"]: r["reduced"]
        for r in pc_project(df, comps, m, round_dp=6).collect()
    }
    exp = np.round((V - np.array(m))[:, [2, 5]], 6)
    for i in range(50):
        assert np.allclose(got[i], exp[i], atol=1.5e-6)
    # whitened: / sqrt(4.0) on the first, NULL on the degenerate second
    gw = {
        r["vec_id"]: r["reduced"]
        for r in pc_project(df, comps, m, whiten=[4.0, 0.0]).collect()
    }
    for i in range(50):
        assert math.isclose(gw[i][0], round(float(exp[i][0] / 2.0), 6), abs_tol=2e-6)
        assert gw[i][1] is None
    # shape guard
    with pytest.raises(ValueError, match="eigenvalues"):
        pc_project(df, comps, m, whiten=[1.0])


def test_pc_project_is_shuffle_free(spark, sf_smoke):
    from bookstore_aws_lakehouse_spark.operators.linalg import pc_project

    emb = _emb(spark, sf_smoke)
    out = pc_project(emb, [[0.125] * 64] * 4, [0.0] * 64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pca_scores_row_uses_exactly_two_corpus_scans(spark, sf_smoke):
    """VERDICT r12 #2 'Done' criterion, pinned: the scores row touches
    the corpus exactly twice — the covariance scan (under the pin) and
    the scoring pass. Means come off the pin (no third scan), so the
    returned frame's plan holds exactly ONE parquet scan (the scoring
    pass)."""
    from bookstore_aws_lakehouse_spark.registry import load_all

    GOLDEN, _ = load_all()
    out = GOLDEN["embedding_pca_scores_topk"](spark, sf_smoke)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert len(out.collect()) == 20


def test_top_pcs_zero_matrix_is_stable(spark):
    """Deflation degeneracy: on an all-constant corpus (zero covariance)
    every component's iterates are zero (the norm guard), the Rayleigh
    eigenvalue is 0, and deflation is the identity — no NaN/Inf/error."""
    from bookstore_aws_lakehouse_spark.operators.linalg import (
        top_principal_components,
    )

    df = spark.createDataFrame(
        [(i, [2.0] * 8) for i in range(10)], ["vec_id", "embedding"]
    )
    out = top_principal_components(df, "embedding", dim=8, r=3, iters=2)
    rows = out.collect()
    assert len(rows) == 3 * 8
    assert all(r["loading"] == 0.0 for r in rows)


def test_pc_spectrum_recovers_planted_eigenvalues(spark):
    """pc_spectrum: on planted 3-direction structure the top-3
    eigenvalues land near numpy's, fractions are monotone-cumulative and
    bounded by 1; the trailing flat component carries a small fraction."""
    from bookstore_aws_lakehouse_spark.operators.linalg import pc_spectrum

    rng = np.random.default_rng(23)
    U = np.linalg.qr(rng.normal(size=(16, 3)))[0].T
    coeffs = rng.normal(size=(600, 3)) * np.array([4.0, 2.0, 1.0])
    V = coeffs @ U + rng.normal(0, 0.03, size=(600, 16))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(V)],
        ["vec_id", "embedding"],
    )
    out = (
        pc_spectrum(df, "embedding", dim=16, r=4, iters=8)
        .orderBy("component")
        .collect()
    )
    ev = np.linalg.eigvalsh(np.cov(V.T, bias=True))[::-1]
    got = [r["eigenvalue"] for r in out]
    for k in range(3):
        assert math.isclose(got[k], float(ev[k]), rel_tol=0.02), (k, got[k], ev[k])
    # spectrum is sorted by construction (deflation removes the top)
    assert got == sorted(got, reverse=True)
    cums = [r["cumulative_frac"] for r in out]
    assert cums == sorted(cums) and cums[-1] <= 1.0 + 1e-6
    # the planted directions dominate: 3 components ≈ all the variance
    assert cums[2] > 0.95


def test_covariance_null_vectors_drop_identically_in_both_paths(spark):
    """ADVICE r13: NULL embedding vectors must behave identically under
    both physical strategies — posexplode drops them silently in the
    explode path, and the arrow path must drop them the same way (it
    used to die on len(None) in the Python worker, bypassing the typed
    dim guard)."""
    rng = np.random.default_rng(7)
    V = rng.normal(0, 1.0, size=(40, 8))
    rows = [(int(i), [float(x) for x in r]) for i, r in enumerate(V)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    a = covariance_rows(df, "embedding", 8, method="explode").orderBy("i").collect()
    b = covariance_rows(df, "embedding", 8, method="arrow").orderBy("i").collect()
    assert [r["cov"] for r in a] == [r["cov"] for r in b]
    # the NULL rows are excluded from n on both paths: covariance equals
    # the non-null corpus' covariance at the rounding grain
    C = np.cov(V.T, bias=True)
    Cs = np.array([r["cov"] for r in a])
    assert np.abs(Cs - C).max() <= 5.1e-7


def test_wide_covariance_row_uses_arrow_gram_stage(spark, sf_smoke):
    """The registered embedding_wide_covariance row (VERDICT r13 #3)
    must exercise the mapInPandas Gram-partial stage — the production-
    width physical path — and emit the exploded scalar grid."""
    from bookstore_aws_lakehouse_spark.registry import load_all

    GOLDEN, _ = load_all()
    df = GOLDEN["embedding_wide_covariance"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert df.columns == ["i", "j", "c", "mean"]


def test_pca_outliers_planted_spike_absorbed_and_residuals_meaningful(spark):
    """End-to-end sanity the oracle replay cannot express (it verifies
    equality, not that the statistic MEANS anything): a planted variance
    spike is absorbed by the learned basis, and the residual ranking
    surfaces exactly the mass the basis cannot span."""
    import random as _random

    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot
    from bookstore_aws_lakehouse_spark.operators.linalg import (
        covariance_rows,
        deflation_frame,
    )
    from pyspark.sql import functions as F

    rng = _random.Random(20260817)
    dim = 8
    # corpus concentrated on dims 0/1; the planted row lives on dim 7
    rows = [
        (i, [rng.gauss(0, 1), rng.gauss(0, 0.5)] + [0.0] * (dim - 2))
        for i in range(60)
    ]
    rows.append((999, [0.0] * (dim - 1) + [50.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cov = covariance_rows(emb, "embedding", dim=dim, round_dp=6)
    frame = deflation_frame(cov, dim, 2, 3, iter_dp=9, lam_dp=6)
    got = frame.select("i", "mean", "_x0", "_x1").orderBy("i").collect()
    means = [r["mean"] for r in got]
    u0 = F.array(*[F.lit(r["_x0"]) for r in got])
    u1 = F.array(*[F.lit(r["_x1"]) for r in got])
    c = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.array(*[F.lit(m) for m in means]),
        lambda a, b: a - b,
    )
    scored = (
        emb.withColumn("_c", c)
        .select(
            "vec_id",
            F.round(_dot(F.col("_c"), F.col("_c")), 6).alias("sq"),
            F.round(_dot(F.col("_c"), u0), 6).alias("p1"),
            F.round(_dot(F.col("_c"), u1), 6).alias("p2"),
        )
        .withColumn(
            "res",
            F.col("sq") - F.col("p1") * F.col("p1") - F.col("p2") * F.col("p2"),
        )
        .orderBy(F.desc("res"), "vec_id")
    )
    import math

    allr = scored.collect()
    # the 50-unit spike dominates the covariance, so PCA absorbs it as
    # PC1 (u0 = e7) and u1 takes dim 0 — which is exactly the statistic
    # working: the planted vector is EXPLAINED (residual ~ 0, possibly a
    # rounding-scale negative: 6-dp scores + 9-dp-rounded iterates are
    # only approximately orthonormal), while the residual ranking
    # surfaces dim-1 mass the 2-component basis cannot span
    assert all(r["res"] is not None and not math.isnan(r["res"]) for r in allr)
    assert all(r["res"] >= -0.01 for r in allr)  # rounding-scale floor
    planted = next(r for r in allr if r["vec_id"] == 999)
    assert abs(planted["res"]) < 0.01
    # the top residual must be genuine un-spanned mass, far above the
    # planted (captured) vector
    assert allr[0]["res"] > 0.5
    embmap = dict(rows)
    top_dim1 = abs(embmap[allr[0]["vec_id"]][1])
    assert top_dim1 == max(abs(v[1]) for _i, v in rows[:-1])

"""Vector math over ``array<float>`` columns — all JVM-side higher-order
functions (no Python UDF): ``zip_with`` + ``aggregate`` stay inside codegen,
so cosine similarity over 100 TB of embeddings never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_vec(vals) -> Column:
    """A constant vector as ONE array literal. ``F.array(*[F.lit(v) ...])``
    costs one py4j round-trip per element (a 64-dim component embedded
    this way is ~300 gateway calls of pure driver time per build);
    ``F.lit(list)`` ships the whole array in a single call. ConstantFolding
    collapses the old CreateArray-of-literals to the identical array
    literal, so plans and values are unchanged. Falls back to the
    per-element form when any element is not a plain float (e.g. a NULL
    mean off an empty corpus), where list-literal type inference differs."""
    vals = list(vals)
    if all(isinstance(v, float) for v in vals):
        return F.lit(vals)
    return F.array(*[F.lit(v) for v in vals])


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (accumulates in double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (‖a‖·‖b‖); NULL if either norm is zero."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def make_cosine_similarity_exact_pandas():
    """Arrow-vectorized cosine that is BIT-IDENTICAL to the JVM
    ``cosine_similarity`` (and to the DuckDB ``list_dot_product`` oracle):
    all three accumulators fold left-to-right over dims — an explicit
    per-dim loop of vectorized ops, the same trick as
    ``operators/similarity.py::lsh_bucket_tables`` — so hash-level parity
    survives while the per-row expression-tree cost (3 aggregates × dims
    lambda steps per pair) collapses into ~dims numpy passes per batch.
    Use for scoring large candidate-pair sets; inputs must be non-null
    (candidate generation already drops null vectors). Zero-norm rows
    yield NULL, exactly like the JVM ``when`` with no ``otherwise``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def cosine_exact(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="Float64")
        va = np.stack(a.to_numpy()).astype("float64")
        vb = np.stack(b.to_numpy()).astype("float64")
        ab = np.zeros(len(a), dtype="float64")
        aa = np.zeros(len(a), dtype="float64")
        bb = np.zeros(len(a), dtype="float64")
        for i in range(va.shape[1]):  # left-to-right: exact fold order
            ab += va[:, i] * vb[:, i]
            aa += va[:, i] * va[:, i]
            bb += vb[:, i] * vb[:, i]
        na, nb = np.sqrt(aa), np.sqrt(bb)
        ok = (na > 0) & (nb > 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            vals = ab / (na * nb)
        out = pd.array(vals, dtype="Float64")
        out[~ok] = pd.NA
        return pd.Series(out, dtype="Float64")

    cosine_exact.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf(cosine_exact, "double")

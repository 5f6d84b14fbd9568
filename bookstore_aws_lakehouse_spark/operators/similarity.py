"""Similarity search over embedding columns (extension surface; SURVEY §7.2
phase 4): brute-force cosine top-k as the exact baseline, IVF coarse
quantization and sign-random-projection LSH as the scale paths.

All vector math is JVM-side (``zip_with``/``aggregate`` higher-order
functions — see functions/vector.py); nothing crosses into Python.

Scale shapes:
- brute force: broadcast the (small) query set; each executor scans its
  slice of the corpus once — embarrassingly parallel, no shuffle of the
  corpus. Exact, O(|Q|·|C|·d).
- IVF: assign every vector to its nearest coarse centroid once (broadcast
  centroids), then search only the probe's bucket — the corpus-side work
  drops by ~n_centroids×, at recall cost on bucket boundaries.
- LSH: 1-bit-per-hyperplane signature buckets; candidates share a bucket.
  Hyperplane components are md5-derived ±1 (engine-portable, seedable).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_norm,
)
from bookstore_aws_lakehouse_spark.operators.windows import top_n_per_group

_sim_log = logging.getLogger(__name__)


def _cosine_prenormed(qv: Column, cv: Column, qn: Column, cn: Column) -> Column:
    """cosine from HOISTED norms: same expression tree as
    ``cosine_similarity`` (dot / (na·nb), NULL on zero norm) so results
    are bit-identical — but the norms are computed once per ROW in a
    Project before the join instead of once per PAIR inside it, cutting
    the per-pair work from 3 array reductions to 1."""
    return F.when((qn > 0) & (cn > 0), dot(qv, cv) / (qn * cn))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine: broadcast-nested-loop join of the query set
    against the corpus, then per-query top-k. Output: (query_id, vec_id,
    cosine, rank); self-matches excluded. Norms are precomputed per side
    (corpus norm once per vector, not once per (query, vector) pair)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_cn")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            _cosine_prenormed(
                F.col("query_vec"), F.col(vec_col), F.col("_qn"), F.col("_cn")
            ).alias("cosine"),
        )
    )
    return top_n_per_group(
        scored, ["query_id"], [("cosine", True)], k, tiebreak=[id_col], rank_name="rank"
    )


#: refusal bound for the explicit all-pairs opt-in: 100k rows is already
#: ~5e9 candidate pairs — far beyond any oracle/recall-study fixture, and
#: a mistake at corpus scale
_EXACT_MAX_ROWS = 100_000

#: target expected bucket occupancy for auto-sized sign-LSH (see
#: ``cosine_pairs`` num_planes=None): 2^planes buckets per table sized so
#: each holds ~this many vectors — candidate volume per table stays
#: Θ(n · occupancy), linear in the corpus
_LSH_TARGET_BUCKET = 125


def _auto_planes(n: int) -> int:
    """planes = max(4, ceil(log2(n / target))): holds expected bucket
    occupancy at ~``_LSH_TARGET_BUCKET`` however large the corpus. ≤ 2000
    vectors resolve to the default 4 — fixture-scale oracle replays are
    unchanged by auto mode."""
    import math

    return max(4, math.ceil(math.log2(max(n, 1) / _LSH_TARGET_BUCKET)))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 4,
    num_dims: int = 64,
    bucket_tables: DataFrame | None = None,
) -> DataFrame:
    """Pre-scoring candidate stage of ``cosine_pairs`` (LSH path): the
    distinct (id_a, id_b) pairs sharing a bucket in ≥ 1 sign-LSH table —
    before any cosine is computed. Public for the growth harness's
    candidate-volume instrumentation (VERDICT r10 #4).

    ``bucket_tables`` lets a caller pass a pre-built (usually persisted)
    ``lsh_bucket_tables`` result: the self-join sides alias ids
    differently, so without a pin the bucket-signature pandas_udf runs
    once per side (the ReusedExchange-alias hazard, NOTES_r14 §5)."""
    tb = (
        bucket_tables
        if bucket_tables is not None
        else lsh_bucket_tables(df, id_col, vec_col, num_planes, num_tables, num_dims)
    )
    return (
        tb.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
        .join(
            tb.select(F.col(id_col).alias("id_b"), "tbl", "bucket"),
            on=["tbl", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    exact: bool = False,
    num_planes: int | None = 4,
    num_tables: int = 4,
    num_dims: int = 64,
    force: bool = False,
    pin: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs with cosine ≥ threshold.
    ``pin=False`` returns the LSH path's fully lazy scored plan (no
    persist, no checkpoint) for plan-shape tests and one-shot embedding.

    Default path: multi-table sign-LSH candidate generation
    (``lsh_bucket_tables``) — a pair is scored only if it shares a bucket
    in ≥ 1 of ``num_tables`` independent tables, so the join is keyed on
    (table, bucket) and the corpus never cross-joins itself. With 4
    tables × 4 planes, P(candidate) ≈ 1-(1-p^4)^4 where p = 1-θ/π:
    ≈ 0.99 at cosine 0.95, ≈ 0.87 at the 0.8 threshold boundary.

    ``num_planes=None`` AUTO-SIZES the table granularity from the corpus
    count: planes = max(4, ceil(log2(n / 125))), i.e. expected bucket
    occupancy is held at ~125 vectors however large the corpus — without
    it, a FIXED plane count means bucket density (and candidate volume)
    grows quadratically with n (measured 17.5× cost at 10× data on 4
    planes; auto-sizing is the scale path). Costs one count() job.
    Below ~2000 vectors auto resolves to the default 4, so fixture-scale
    oracles replay unchanged. More planes lower per-table recall
    (p^planes); recall-critical callers at scale should raise
    ``num_tables`` alongside (OR-amplification), which buys recall back
    at linear cost in tables.

    ``exact=True`` opts into the all-pairs scan (fixture-scale oracles,
    recall studies) — refused above ``_EXACT_MAX_ROWS`` rows unless
    ``force=True``, because at corpus scale the cross join is Θ(n²/2)
    pairs and nothing else would stop a caller (VERDICT r9 #4). The
    size probe is a bounded ``limit(cap+1).count()`` — it never scans
    past the refusal threshold."""
    if num_planes is None:
        num_planes = _auto_planes(df.count())
    if exact:
        if not force:
            probe = df.limit(_EXACT_MAX_ROWS + 1).count()
            if probe > _EXACT_MAX_ROWS:
                raise ValueError(
                    f"cosine_pairs(exact=True) on >{_EXACT_MAX_ROWS:,} rows "
                    f"is an all-pairs cross join (Θ(n²/2) candidates) — use "
                    f"the default LSH path, or pass force=True if this is a "
                    f"deliberate fixture-scale recall study"
                )
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
        scored = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        # pin the bucket table: both self-join sides consume it under
        # different aliases (no exchange reuse), so unpinned the bucket-
        # signature pandas_udf runs twice over the corpus. persist +
        # eager final + unpersist — the uniform pin lifecycle.
        tb = lsh_bucket_tables(
            df, id_col, vec_col, num_planes, num_tables, num_dims
        )
        if pin:
            tb = tb.persist()
        cand = lsh_candidate_pairs(
            df, id_col, vec_col, num_planes, num_tables, num_dims,
            bucket_tables=tb,
        )
        scored = cand.join(
            df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")), "id_a"
        ).join(
            df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")), "id_b"
        )
        # candidate volume is quadratic in bucket density — score with the
        # Arrow-batched exact-fold cosine (bit-identical to the JVM
        # expression AND the DuckDB oracle; measured ~4x on dense-bucket
        # fixtures). Candidate ids came from the null-filtered bucket
        # table, so vec_a/vec_b are never NULL here.
        from bookstore_aws_lakehouse_spark.functions.vector import (
            make_cosine_similarity_exact_pandas,
        )

        cos = make_cosine_similarity_exact_pandas()
        try:
            out = scored.select(
                "id_a", "id_b", cos(F.col("vec_a"), F.col("vec_b")).alias("cosine")
            ).filter(F.col("cosine") >= threshold)
            if not pin:
                return out
            return out.localCheckpoint(eager=True)
        finally:
            # try/finally: no pin leak on failed materialization.
            if pin:
                tb.unpersist()
    return scored.select(
        "id_a",
        "id_b",
        cosine_similarity(F.col("vec_a"), F.col("vec_b")).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def _plane_signs(plane: int, num_dims: int) -> list[float]:
    """Deterministic ±1 hyperplane components from the portable md5 hash
    (same scheme as the SQL twin: md5(f"{plane}:{dim}") lowest bit).
    Computed driver-side ONCE — the alternative (md5 expressions inside the
    plan) re-hashes planes×dims times *per row*."""
    import hashlib

    signs = []
    for d in range(num_dims):
        h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
        signs.append(1.0 if h & 1 == 1 else -1.0)
    return signs


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_dims: int = 64,
) -> DataFrame:
    """Sign-random-projection LSH: bucket = the sign bits of the vector's
    dot products with ``num_planes`` pseudo-random (md5-seeded) hyperplanes.
    Hyperplanes are precomputed literal arrays (broadcast with the plan);
    one Project per vector — no shuffle; bucket-joins downstream."""
    # NULL vectors would project to NULL on every plane and land in
    # bucket 0 (a hot key + bogus co-bucket candidates) — drop them,
    # consistent with lsh_bucket_tables and the exact cosine path
    out = df.select(F.col(id_col), F.col(vec_col)).filter(
        F.col(vec_col).isNotNull()
    )
    bucket = _sign_bucket_expr(F.col(vec_col), num_planes, num_dims)
    return out.withColumn("bucket", bucket).select(id_col, "bucket")


def _sign_bucket_expr(vec: Column, num_planes: int, num_dims: int) -> Column:
    """The sign-LSH bucket id as a column expression: bit p is the sign of
    the dot with md5-seeded hyperplane p. Shared by ``lsh_buckets`` and
    ``semantic_dedup``'s auto-granularity sub-cells.

    A vector/``num_dims`` length mismatch must not fail SILENTLY:
    zip_with null-pads the shorter side, and a NULL product nulls the
    whole fold — every sign bit 0, every vector in ONE bucket, and the
    downstream bucket-join quietly degenerates toward all-pairs (the
    ADVICE r11 no-op-split bug). The contract is FAIL FAST: a final
    size(vec) CASE raises on the first mismatched row instead of
    computing a degenerate bucketing — misconfiguration surfaces as an
    error naming both lengths, never as an all-pairs join at 100 TB.
    Callers that legitimately project (``semantic_cell_assignment``)
    slice the vector to the plane length at plan time. Rejected
    silent-repair guards, both measured on the sf0.1 bucket row: a
    per-element coalesce in the fold (+11% — 512 extra coalesces per
    row) and a CASE over two full fold copies (~2× — the duplicated
    8-plane tree blows the projection out of efficient codegen); the
    error branch costs nothing on matched rows."""
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.lit(_plane_signs(p, num_dims))
        dot_p = F.aggregate(
            F.zip_with(vec, plane, lambda v, s: v.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot_p > 0, F.lit(2**p)).otherwise(0)
    return F.when(F.size(vec) == num_dims, bucket.cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"sign-LSH num_dims={num_dims} does not match vector "
                    "length "
                ),
                F.size(vec).cast("string"),
                F.lit(" — pass the corpus's real dimensionality"),
            )
        ).cast("int")
    )


def lsh_bucket_tables(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 4,
    num_dims: int = 64,
) -> DataFrame:
    """Multi-table sign-LSH: ``num_tables`` independent bucket assignments
    per vector (table t uses global plane indices t·num_planes …), long
    form (id, tbl, bucket). Candidates downstream = same (tbl, bucket) in
    any table — the OR-amplified construction that trades candidate volume
    for recall, exactly like MinHash banding. Map-side only, no shuffle.

    Implementation is an Arrow-batched pandas_udf, not higher-order
    functions: projecting onto tables×planes hyperplanes is a (batch ×
    dims) @ (dims × planes) matmul — numpy does it per Arrow batch,
    where the expression-tree version (16 zip_with/aggregate lambdas over
    64-element literal arrays) cost more in codegen than the data
    (measured 3.3 s vs 0.3 s on 2000 rows). Accumulation is an explicit
    left-to-right loop over dims, so every dot is bit-identical to the
    JVM ``aggregate`` fold AND to DuckDB's list_sum replay — sign
    decisions can never drift between engines."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    total = num_tables * num_planes
    # (dims, total) sign matrix, one column per global plane
    S = np.array(
        [_plane_signs(gp, num_dims) for gp in range(total)], dtype="float64"
    ).T
    weights = (2 ** np.arange(num_planes)).astype("int64")

    def buckets_of(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(col.to_numpy()).astype("float64")  # (n, dims)
        if v.shape[1] != S.shape[0]:
            # a mismatch must be loud: silently projecting onto the wrong
            # plane count would diverge from the SQL oracle (which sums
            # over the ACTUAL vector length) and quietly wreck recall
            raise ValueError(
                f"lsh_bucket_tables: vectors have {v.shape[1]} dims, "
                f"but planes were built for num_dims={S.shape[0]}"
            )
        acc = np.zeros((v.shape[0], total), dtype="float64")
        for i in range(S.shape[0]):  # left-to-right over dims: exact fold order
            acc += v[:, i : i + 1] * S[i][None, :]
        bits = (acc > 0).astype("int64")
        per_table = np.stack(
            [
                (bits[:, t * num_planes : (t + 1) * num_planes] * weights).sum(axis=1)
                for t in range(num_tables)
            ],
            axis=1,
        ).astype("int32")
        return pd.Series(list(per_table))

    buckets_of.__annotations__ = {"col": pd.Series, "return": pd.Series}
    bucket_udf = pandas_udf(buckets_of, "array<int>")
    return (
        # NULL vectors can't be bucketed (np.stack would crash the task);
        # dropping them here matches the exact path's semantics, where a
        # NULL operand yields NULL cosine and never crosses a threshold
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), bucket_udf(F.col(vec_col)).alias("_buckets"))
        .select(id_col, F.posexplode("_buckets"))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "bucket")
    )


def kmeans_update(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """One Lloyd iteration as pure DataFrame ops: assign every vector to
    its nearest centroid (broadcast centroids — `ivf_assign`), then each
    new centroid is the per-dimension mean of its members (posexplode →
    per-(cell, dim) avg → re-assemble ordered by dim). Clusters that
    capture no members disappear (k shrinks), matching textbook Lloyd.

    Scale shape: the corpus is scanned once per iteration with no
    self-join; the only shuffles are the two aggregations keyed on
    (cell, dim) / cell — both map-side-combinable. Iteration count is a
    small constant (codebook training), not data-dependent."""
    # keep_vec: the vector rides the assignment argmax's partial agg
    # (one row per vector through the exchange) — no per-iteration
    # corpus re-join
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, centroid_id, keep_vec=True
    )
    members = assigned.select(centroid_id, vec_col)
    comp = members.select(
        centroid_id, F.posexplode(F.col(vec_col).cast("array<double>"))
    )
    means = comp.groupBy(centroid_id, "pos").agg(F.avg("col").alias("m"))
    return (
        means.groupBy(centroid_id)
        # struct sort is lexicographic on (pos, m): ordered by dimension
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_s"))
        .select(
            centroid_id, F.transform("_s", lambda t: t["m"]).alias(vec_col)
        )
    )


def ivf_search(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single nearest
    cell; each query probes its ``nprobe`` nearest cells and scores only
    those cells' members. Output (query_id, vec_id, cosine, rank);
    self-matches excluded. The join is keyed on the cell id — corpus-side
    work drops ~|centroids|/nprobe× vs brute force and nothing ever
    cross-joins the corpus with itself."""
    c = centroids.select(
        F.col("centroid_id"),
        F.col(vec_col).alias("centroid_vec"),
        l2_norm(F.col(vec_col)).alias("_cen_n"),
    )
    ranked = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
        .crossJoin(F.broadcast(c))
        .select(
            "query_id",
            "query_vec",
            "_qn",
            "centroid_id",
            _cosine_prenormed(
                F.col("query_vec"), F.col("centroid_vec"), F.col("_qn"), F.col("_cen_n")
            ).alias("_c_cos"),
        )
    )
    probes = top_n_per_group(
        ranked,
        ["query_id"],
        [("_c_cos", True)],
        nprobe,
        tiebreak=["centroid_id"],
        rank_name="_pn",
    ).select("query_id", "query_vec", "_qn", "centroid_id")
    # keep_vec carries the vector THROUGH the assignment argmax — the old
    # form re-joined the corpus to its own assignment on id, a
    # corpus-sized shuffle of both sides just to fetch a payload the
    # assignment already had (r10, same fix as vector_residuals)
    cells = ivf_assign(corpus, centroids, id_col, vec_col, keep_vec=True).select(
        id_col, "centroid_id", F.col(vec_col), l2_norm(F.col(vec_col)).alias("_cn")
    )
    scored = (
        cells.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            _cosine_prenormed(
                F.col("query_vec"), F.col(vec_col), F.col("_qn"), F.col("_cn")
            ).alias("cosine"),
        )
        # no dedup needed: every corpus vector lives in exactly ONE cell
        # (ivf_assign keeps rn=1) and a query probes distinct cells, so a
        # (query, vector) pair is scored at most once
    )
    return top_n_per_group(
        scored, ["query_id"], [("cosine", True)], k, tiebreak=[id_col], rank_name="rank"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    keep_vec: bool = False,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    by cosine. Output: (vec_id, centroid_id, cosine); with ``keep_vec``
    the vector rides along (free — see below).

    PARTIAL-AGG argmax (r12): the winner per vector is a
    ``groupBy(id).agg(min(struct(-cosine, centroid_id, …)))`` — the
    partial aggregate collapses the |corpus|·|centroids| scored rows to
    ONE row per vector map-side, so the exchange carries each vector's
    payload once. The previous form (crossJoin + row_number window)
    shuffled every scored row — with ``keep_vec`` that amplified the full
    vector payload |centroids|× through the wire, the dominant shuffle of
    every IVF caller (vector_residuals, ivf_search, kmeans_update's
    per-iteration assign). FLOPs and the scoring Project are identical;
    only the shuffle volume changes. (A fully map-side fold over a
    broadcast centroid ARRAY was A/B'd and rejected: the higher-order
    transform leaves whole-stage codegen and ran 40-60% slower than the
    codegen'd crossJoin scoring — NOTES r12.)

    Tie/NULL semantics replicate the old window ordering exactly
    (cosine DESC NULLS LAST, centroid_id ASC): the struct-min key is
    ``coalesce(-cosine, +inf)`` so NULL cosines (zero norms) lose to any
    real score, and ties break on the lower centroid id. The emitted
    cosine rides the struct untouched — bit-identical to the old plan's."""
    c = centroids.select(
        F.col(centroid_id),
        F.col(vec_col).alias("centroid_vec"),
        l2_norm(F.col(vec_col)).alias("_cen_n"),
    )
    keep = [F.col(vec_col)] if keep_vec else []
    cos = _cosine_prenormed(
        F.col(vec_col), F.col("centroid_vec"), F.col("_vn"), F.col("_cen_n")
    )
    scored = (
        corpus.select(
            F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_vn")
        )
        .crossJoin(F.broadcast(c))
        .select(
            F.col(id_col),
            F.struct(
                F.coalesce(-cos, F.lit(float("inf"))).alias("_nc"),
                F.col(centroid_id).alias("_cid"),
                cos.alias("_cos"),
                *keep,
            ).alias("_s"),
        )
    )
    best = scored.groupBy(id_col).agg(F.min("_s").alias("_s"))
    return best.select(
        F.col(id_col),
        F.col("_s._cid").alias(centroid_id),
        F.col("_s._cos").alias("cosine"),
        *([F.col(f"_s.{vec_col}")] if keep_vec else []),
    )


def _pq_slice(col: str, s: int, d: int) -> Column:
    """Subspace ``s``'s contiguous d-dim slice of a vector column."""
    return F.slice(F.col(col).cast("array<double>"), s * d + 1, d)


def pq_codebooks(
    seeds: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ codebooks from seed vectors: (subspace, code,
    centroid, _cc) with ``_cc`` = centroid·centroid hoisted once for the
    expanded-L2 scoring both `pq_encode` and `ivfpq_search` share."""
    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot

    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    d = dim // m
    books = None
    for s in range(m):
        part = seeds.select(
            F.lit(s).alias("subspace"),
            F.col(id_col).cast("int").alias("code"),
            _pq_slice(vec_col, s, d).alias("centroid"),
        )
        books = part if books is None else books.unionByName(part)
    return books.withColumn("_cc", _dot(F.col("centroid"), F.col("centroid")))


def _pq_subvectors(
    df: DataFrame,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
    carry: tuple = (),
) -> DataFrame:
    """One scan → m rows per vector: (id, *carry, subspace, _sv, _sv·_sv).
    ``carry`` columns ride the explode unchanged (e.g. ``centroid_id`` so
    an IVFADC encode keeps its inverted-list key — see `pq_encode`)."""
    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot

    d = dim // m
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(
            F.array(*[_pq_slice(vec_col, s, d) for s in range(m)])
        ).alias("subspace", "_sv"),
    ).withColumn("_xx", _dot(F.col("_sv"), F.col("_sv")))


def pq_encode(
    corpus: DataFrame,
    seeds: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple = (),
) -> DataFrame:
    """Product quantization encode — the compression layer of a 100 TB
    vector store (a 64-dim float vector becomes ``m`` one-byte codes,
    64× smaller; IVFPQ = `ivf_assign` cells over these codes): the
    vector is split into ``m`` contiguous subvectors of ``dim/m`` dims,
    and each subvector is assigned to its nearest sub-centroid (squared
    L2) in that subspace's codebook. Codebooks here are built from the
    ``seeds`` frame (code = seed id, one sub-centroid per subspace) —
    training them is `kmeans_update`'s job, run per subspace.

    Scale shape: ONE corpus scan (posexplode to m subvector rows, pure
    map-side), a broadcast join against the m×|seeds| codebook, and a
    per-(vector, subspace) argmin window — no shuffle wider than the
    corpus×m rows. Distances use the expanded form x·x − 2·x·c + c·c
    over the shared `dot` fold, so scores are bit-identical to the SQL
    oracle's ``list_dot_product`` replay. Ties break on the lower code.

    ``carry`` columns (e.g. ``centroid_id``) pass through the encode
    untouched — the inverted-list layout of production IVFADC, where a
    cell's posting list stores (id, codes) together so the search path
    never re-joins codes to cells on id (a corpus-sized shuffle).

    Output: (``id_col``, *carry, subspace, code, dist2).
    """
    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot

    books = pq_codebooks(seeds, m, dim, id_col, vec_col)
    rows = _pq_subvectors(corpus, m, dim, id_col, vec_col, carry)
    scored = rows.join(F.broadcast(books), "subspace").select(
        id_col,
        *[F.col(c) for c in carry],
        "subspace",
        "code",
        (
            F.col("_xx")
            - F.lit(2.0) * _dot(F.col("_sv"), F.col("centroid"))
            + F.col("_cc")
        ).alias("dist2"),
    )
    return top_n_per_group(
        scored,
        [id_col, "subspace"],
        [("dist2", False)],
        1,
        tiebreak=["code"],
        rank_name="_rn",
    ).drop("_rn")


def ivfpq_search(
    corpus: DataFrame,
    coarse_centroids: DataFrame,
    pq_seeds: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ — the full billion-scale ANN shape (IVF coarse cells ×
    product-quantized codes, asymmetric distance computation): candidates
    come from the query's nearest IVF cell, but are scored WITHOUT ever
    touching their float vectors — each candidate contributes only its
    ``m`` byte codes, looked up in the query's per-(subspace, code)
    distance table (LUT: squared L2 from the query's subvector to every
    sub-centroid, |queries|·m·|codes| rows, broadcast). At 100 TB this is
    the property that matters: the scoring join reads the 64×-compressed
    code table, not the vector store.

    ADC per candidate = Σ over subspaces of LUT[subspace, code], rounded
    to 6 dp before ranking (the partial distances are bit-identical
    engine-to-engine; their 4-term summation order is not — rounding
    absorbs it, ties break on the lower id). Self-matches are excluded.

    Output: (query_id, ``id_col``, adc, rank), rank 1..k ascending by adc.
    """
    # two independent corpus scans (cells / codes) re-joined on id at the
    # candidate stage. A one-scan inverted-list form (assign keep_vec →
    # encode carry=centroid_id, as the residual variants do) was A/B'd
    # and rejected HERE: without a checkpointed index the vector payload
    # rides the assign argmax's aggregation, measured +27% on the golden
    # row — the residual variants keep the carry because their encode
    # reads the already-checkpointed residual table (NOTES r12).
    codes = pq_encode(corpus, pq_seeds, m, dim, id_col, vec_col).select(
        id_col, "subspace", "code"
    )
    cells = ivf_assign(corpus, coarse_centroids, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    qcells = ivf_assign(queries, coarse_centroids, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot

    books = pq_codebooks(pq_seeds, m, dim, id_col, vec_col)
    qsubs = _pq_subvectors(queries, m, dim, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "subspace", "_sv", "_xx"
    )
    lut = qsubs.join(F.broadcast(books), "subspace").select(
        "query_id",
        "subspace",
        "code",
        (
            F.col("_xx")
            - F.lit(2.0) * _dot(F.col("_sv"), F.col("centroid"))
            + F.col("_cc")
        ).alias("pdist"),
    )
    cand = cells.join(F.broadcast(qcells), "centroid_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    adc = (
        cand.join(codes, id_col)
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("pdist"), 6).alias("adc"))
    )
    return top_n_per_group(
        adc,
        ["query_id"],
        [("adc", False)],
        k,
        tiebreak=[id_col],
        rank_name="rank",
    )


def vector_residuals(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual quantization prep: assign each vector to its nearest
    coarse centroid and subtract it — ``r = x − c(x)`` — the transform
    that makes PQ codebooks dramatically tighter (residuals cluster
    around the origin instead of spreading across cells; Jégou et al.'s
    IVFADC). ``keep_vec=True`` carries the vector THROUGH the argmax, so
    the subtraction is one broadcast join + map-side zip_with — the old
    form re-joined the corpus to its own assignment on ``id_col``, a
    corpus-sized shuffle of BOTH sides that existed only to fetch a
    payload the assignment already had (r10). Output:
    (id, centroid_id, vec_col=residual as array<double>)."""
    assigned = ivf_assign(df, centroids, id_col, vec_col, keep_vec=True)
    cent = centroids.select(
        "centroid_id", F.col(vec_col).cast("array<double>").alias("_cv")
    )
    return (
        assigned.join(F.broadcast(cent), "centroid_id")
        .select(
            id_col,
            "centroid_id",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("_cv"),
                lambda x, y: x - y,
            ).alias(vec_col),
        )
    )


def ivfpq_residual_search(
    corpus: DataFrame,
    coarse_centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
    n_seeds: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the canonical billion-scale form
    (`ivfpq_search` encodes raw vectors; production IVFADC encodes
    ``x − c(x)``): corpus residuals are PQ-encoded per their own cell,
    and each query's distance LUT is built from the QUERY's residual in
    its probed cell, so a candidate's ADC approximates the true
    query-to-candidate distance with the coarse offset removed. The
    tighter-codes payoff is a DATA property: it materializes when
    vectors cluster around their centroids (real embedding corpora),
    not on near-random vectors (tests/test_vector.py pins the operator
    invariants instead). Seeds for the sub-codebooks
    are the residuals of ``id < n_seeds`` (fixed-size, corpus-scale-
    independent). Same scale shape as `ivfpq_search`: every join is
    broadcast or keyed (cell, (query, subspace, code)), candidates
    contribute bytes not floats, ADC rounded to 6 dp before ranking
    (partials bit-identical cross-engine; summation order is not).

    Output: (query_id, ``id_col``, adc, rank), rank 1..k by adc asc."""
    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot

    # pin the corpus residuals: they feed the PQ codes (which carry the cell
    # key) and the seed filter, and unpinned, the |corpus|x|centroids|
    # coarse argmax re-executes per consumer. Downstream joins broadcast
    # their small sides EXPLICITLY, so the ExistingRDD's missing stats
    # change no plan. A production deployment materializes the index
    # (residual codes + cells) to a table once and searches from that --
    # this in-call pin is the query-sized analog (r10).
    res = vector_residuals(corpus, coarse_centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    # the seed residuals and query residuals are TINY (n_seeds and
    # |queries| rows) but each textual reuse would re-derive the full
    # corpus assignment — pin them, exactly as a real ANN system
    # materializes its codebooks (plan audit: 96 scans → ~8 without)
    seeds = (
        res.filter(F.col(id_col) < n_seeds)
        .select(id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    if not seeds.head(1):
        raise ValueError(
            f"PQ seed selection ({id_col} < {n_seeds}) matched no rows — "
            f"ids must be numeric and start near 0 for this seeding rule; "
            f"an empty codebook would silently return zero neighbors"
        )
    # codes carry centroid_id through the encode (the inverted-list
    # layout): candidates below come from codes ⋈ broadcast(queries'
    # cells) directly — map-side — instead of a corpus-sized sort-merge
    # join of a separate cell map back onto the codes on id (r12).
    codes = pq_encode(res, seeds, m, dim, id_col, vec_col, carry=("centroid_id",)).select(
        id_col, "centroid_id", "subspace", "code"
    )
    qres = vector_residuals(queries, coarse_centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    qcells = qres.select(F.col(id_col).alias("query_id"), "centroid_id")
    books = pq_codebooks(seeds, m, dim, id_col, vec_col)
    qsubs = _pq_subvectors(
        qres.select(id_col, vec_col), m, dim, id_col, vec_col
    ).select(F.col(id_col).alias("query_id"), "subspace", "_sv", "_xx")
    lut = qsubs.join(F.broadcast(books), "subspace").select(
        "query_id",
        "subspace",
        "code",
        (
            F.col("_xx")
            - F.lit(2.0) * _dot(F.col("_sv"), F.col("centroid"))
            + F.col("_cc")
        ).alias("pdist"),
    )
    adc = (
        codes.join(F.broadcast(qcells), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("pdist"), 6).alias("adc"))
    )
    return top_n_per_group(
        adc,
        ["query_id"],
        [("adc", False)],
        k,
        tiebreak=[id_col],
        rank_name="rank",
    )


def coarse_probe_cells(
    queries: DataFrame,
    coarse_centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``nprobe`` nearest coarse cells per query (cosine, ties on
    centroid_id), with the query's residual in each probed cell:
    (query_id, centroid_id, _qr). The probe-selection stage of
    ``ivfpq_residual_multiprobe``, extracted so the growth harness can
    count candidate volume (cells ⋈ probes) without running the full
    ADC pipeline (VERDICT r10 #4)."""
    c = coarse_centroids.select(
        "centroid_id",
        F.col(vec_col).cast("array<double>").alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cen_n"),
    )
    ranked = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
        .crossJoin(F.broadcast(c))
        .select(
            "query_id",
            "_qv",
            "centroid_id",
            "_cv",
            _cosine_prenormed(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cen_n")
            ).alias("_c_cos"),
        )
    )
    return top_n_per_group(
        ranked,
        ["query_id"],
        [("_c_cos", True)],
        nprobe,
        tiebreak=["centroid_id"],
        rank_name="_pn",
    ).select(
        "query_id",
        "centroid_id",
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x - y).alias("_qr"),
    )


def ivfpq_residual_multiprobe(
    corpus: DataFrame,
    coarse_centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
    n_seeds: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multiprobe residual IVFADC — the complete production search path:
    each query probes its ``nprobe`` nearest coarse cells, and because
    codes quantize residuals, the query's distance LUT is built PER
    PROBED CELL from ``q − c(cell)`` (a candidate in cell c is scored
    against the query's residual in that same c — the offsets cancel).
    Keyed like everything in this stack: candidates via the cell id, ADC
    via (query, cell, subspace, code), every small side broadcast; a
    corpus vector lives in exactly one cell and probes are distinct, so
    no (query, candidate) pair scores twice. ADC rounds to 6 dp before
    ranking. Output: (query_id, ``id_col``, adc, rank)."""
    from bookstore_aws_lakehouse_spark.functions.vector import dot as _dot

    d = dim // m
    # pin the corpus residuals: they feed the PQ codes (which carry the cell
    # key) and the seed filter, and unpinned, the |corpus|x|centroids|
    # coarse argmax re-executes per consumer. Downstream joins broadcast
    # their small sides EXPLICITLY, so the ExistingRDD's missing stats
    # change no plan. A production deployment materializes the index
    # (residual codes + cells) to a table once and searches from that --
    # this in-call pin is the query-sized analog (r10).
    res = vector_residuals(corpus, coarse_centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    seeds = (
        res.filter(F.col(id_col) < n_seeds)
        .select(id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    if not seeds.head(1):
        raise ValueError(
            f"PQ seed selection ({id_col} < {n_seeds}) matched no rows — "
            f"ids must be numeric and start near 0 for this seeding rule; "
            f"an empty codebook would silently return zero neighbors"
        )
    # inverted-list layout (r12): codes keep their cell key so candidate
    # generation is codes ⋈ broadcast(probes) — no corpus-sized SMJ
    codes = pq_encode(res, seeds, m, dim, id_col, vec_col, carry=("centroid_id",)).select(
        id_col, "centroid_id", "subspace", "code"
    )
    books = pq_codebooks(seeds, m, dim, id_col, vec_col)

    probes = coarse_probe_cells(
        queries, coarse_centroids, nprobe, id_col, vec_col
    ).localCheckpoint(eager=True)  # |queries|·nprobe rows — tiny

    qsubs = probes.select(
        "query_id",
        "centroid_id",
        F.posexplode(
            F.array(*[F.slice(F.col("_qr"), s * d + 1, d) for s in range(m)])
        ).alias("subspace", "_sv"),
    ).withColumn("_xx", _dot(F.col("_sv"), F.col("_sv")))
    lut = qsubs.join(F.broadcast(books), "subspace").select(
        "query_id",
        "centroid_id",
        "subspace",
        "code",
        (
            F.col("_xx")
            - F.lit(2.0) * _dot(F.col("_sv"), F.col("centroid"))
            + F.col("_cc")
        ).alias("pdist"),
    )
    adc = (
        codes.join(
            F.broadcast(probes.select("query_id", "centroid_id")), "centroid_id"
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "centroid_id", "subspace", "code"])
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("pdist"), 6).alias("adc"))
    )
    return top_n_per_group(
        adc,
        ["query_id"],
        [("adc", False)],
        k,
        tiebreak=[id_col],
        rank_name="rank",
    )


#: the LAST semantic_dedup assignment cache — an invocation over a
#: DIFFERENT corpus (plan semantics) evicts its predecessor, so a
#: long-lived session holds at most ONE assignment in the CacheManager
#: (ADVICE r9: the old code never unpersisted and accumulated without
#: bound), while repeated invocations over the SAME corpus keep the
#: CacheManager's plan-keyed reuse
_SEMDEDUP_CACHE: list = []

#: guards _SEMDEDUP_CACHE (ADVICE r10): concurrent semantic_dedup calls
#: otherwise race on the list and thrash-evict each other's pin
_SEMDEDUP_LOCK = __import__("threading").Lock()

#: auto-granularity target: mean vectors per effective cell before
#: sub-bucketing kicks in. Fixture corpora (occupancy ~50 under the
#: vec_id%50 seeding) resolve to 0 extra planes, so oracle replays are
#: unchanged; the bench's 10x growth corpus (occupancy ~500 at a FIXED
#: centroid set) resolves to 2 planes -> 4 sub-cells -> ~16x less
#: in-cell pair volume than fixed granularity
_SEMDEDUP_TARGET_OCCUPANCY = 128


def _auto_cell_planes(n_rows: int, n_cells: int, target: int) -> int:
    """Extra sign-LSH planes so mean effective-cell occupancy ≈ target:
    max(0, ceil(log2((n/c) / target))). 0 when the caller's granularity
    already suffices — the fixture/oracle case."""
    import math

    occ = n_rows / max(n_cells, 1)
    if occ <= target:
        return 0
    return math.ceil(math.log2(occ / target))


def semantic_cell_assignment(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    auto_granularity: bool = True,
    num_dims: int = 64,
) -> DataFrame:
    """``semantic_dedup``'s planning stage as a lazy frame: every non-NULL
    vector with its effective cell key ``(centroid_id, _subcell)`` plus
    the hoisted L2 norm. Extracted so the bench's candidate counter
    (``instrumentation._n_semantic``) counts over the operator's OWN
    assignment instead of a re-implementation that can drift (ADVICE r11).

    Auto-granularity resolves here (two count() jobs when enabled; one
    more ``first()`` when the split activates, to derive the hyperplane
    dimensionality from the data)."""
    nn = df.filter(F.col(vec_col).isNotNull())
    planes = (
        _auto_cell_planes(
            nn.count(), centroids.count(), _SEMDEDUP_TARGET_OCCUPANCY
        )
        if auto_granularity
        else 0
    )
    if planes:
        # The sub-cell split changes results vs the planes=0 path (near-
        # duplicates straddling a sub-cell boundary are missed) — make
        # the switch visible to callers instead of silently reducing
        # recall (ADVICE r11). Also derive the hyperplane dimensionality
        # from the DATA, not the default: if num_dims exceeded the real
        # embedding width, zip_with would null-pad every dot product to
        # NULL, zero every sub-cell bit, and silently no-op the split —
        # defeating the occupancy bound this path exists to hold.
        row = nn.select(F.size(F.col(vec_col)).alias("_d")).first()
        real_dims = int(row["_d"]) if row is not None else num_dims
        eff_dims = min(num_dims, real_dims)
        _sim_log.warning(
            "semantic_dedup auto-granularity active: occupancy exceeds "
            "%d, splitting cells with %d sign-LSH plane(s) over %d dims "
            "(near-duplicates across sub-cells are not compared)",
            _SEMDEDUP_TARGET_OCCUPANCY, planes, eff_dims,
        )
        # plan-time projection onto the plane length — _sign_bucket_expr
        # fail-fasts on a length mismatch rather than degenerating
        vexpr = F.col(vec_col)
        if real_dims > eff_dims:
            vexpr = F.slice(vexpr, 1, eff_dims)
        subcell = _sign_bucket_expr(vexpr, planes, eff_dims)
    else:
        subcell = F.lit(0)
    return ivf_assign(nn, centroids, id_col, vec_col, keep_vec=True).select(
        F.col(id_col), F.col("centroid_id"), F.col(vec_col),
        subcell.alias("_subcell"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    auto_granularity: bool = True,
    num_dims: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication of a training corpus by embedding similarity: cluster
    vectors into coarse cells (`ivf_assign`, broadcast centroids), then
    WITHIN each cell drop every vector whose cosine to a LOWER-id
    cell-mate is ≥ ``threshold``; the lowest id of each near-duplicate
    group survives as its representative. Matches the paper's rule
    exactly: x is dropped iff max cosine over {y in cell(x), y < x} ≥ θ
    — y's own fate does not matter, so one keyed pass decides every row
    (no iteration). Cross-cell near-duplicates are NOT compared — the
    documented recall trade the clustering buys its speed with.

    Scale shape: the only self-join is keyed on the cell id, so the
    pair count is Σ|cell|² — bounded by the clustering granularity,
    never the all-pairs |corpus|²; norms are hoisted once per row; the
    dropped-id side is distinct-id-sized and broadcasts back onto the
    assignment. NULL embeddings are excluded from the output (they can
    neither cluster nor score — same rule as the LSH paths).

    ``auto_granularity`` (default on, VERDICT r10 #5) keeps that bound
    meaningful when the CALLER's centroid set doesn't scale with the
    corpus: if mean occupancy n/c exceeds ``_SEMDEDUP_TARGET_OCCUPANCY``,
    each cell is subdivided by ``_auto_cell_planes`` deterministic
    sign-LSH planes (the ``_auto_planes`` idea applied within cells), and
    the pair join keys on (centroid_id, sub-cell). Fixture-scale corpora
    resolve to 0 planes — bit-identical to fixed granularity, so oracle
    replays are unchanged. When it kicks in, near-duplicates split across
    sub-cells are missed — the SAME recall trade the coarse clustering
    already makes at cell boundaries, now held at a constant rate instead
    of degrading with corpus growth. Costs two count() jobs (corpus +
    centroids) at planning time.

    Output: one row per non-NULL input vector —
    (``id_col``, centroid_id, kept boolean)."""
    from pyspark import StorageLevel

    cells = (
        semantic_cell_assignment(
            df, centroids, id_col, vec_col, auto_granularity, num_dims
        )
        # the assignment feeds THREE consumers (both pair-join sides and
        # the output spine); unpinned, the |corpus|×|centroids| argmax —
        # the operator's dominant cost — re-executes per consumer.
        # persist (NOT localCheckpoint): the InMemoryRelation keeps its
        # size statistics, so Catalyst still broadcast-plans the in-cell
        # pair join where that is right — an ExistingRDD checkpoint loses
        # the stats and forced a sort-merge join (measured 3.1× on the
        # bench row). LAZY persist on purpose: the CacheManager dedupes
        # by canonicalized plan, so repeated invocations over the same
        # corpus reuse ONE materialized assignment instead of recomputing
        # (an eager count-per-invocation re-measured 5.5× slower on the
        # bench's p50-of-5). Accumulation in long-lived sessions
        # (ADVICE r9) is bounded instead of leaked: an invocation over a
        # DIFFERENT corpus evicts the previous cache below — at most one
        # assignment lives in the CacheManager, and unpersisting a
        # still-referenced result is safe (it recomputes from lineage,
        # never errs). A production run over a 100 TB corpus would write
        # the assignment to a table and dedup from that.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    with _SEMDEDUP_LOCK:
        prev = _SEMDEDUP_CACHE[-1] if _SEMDEDUP_CACHE else None
        if prev is not None:
            try:
                same = prev.sameSemantics(cells)
            except Exception:
                same = False  # dead session handle — treat as stale
            if not same:
                try:
                    prev.unpersist()
                except Exception:
                    pass
                _SEMDEDUP_CACHE.clear()
        if not _SEMDEDUP_CACHE:
            _SEMDEDUP_CACHE.append(cells)
    a = cells.select(
        F.col(id_col).alias("id_a"), "centroid_id", "_subcell",
        F.col(vec_col).alias("vec_a"), F.col("_n").alias("_na"),
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), "centroid_id", "_subcell",
        F.col(vec_col).alias("vec_b"), F.col("_n").alias("_nb"),
    )
    dropped = (
        a.join(b, ["centroid_id", "_subcell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _cosine_prenormed(
                F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")
            )
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        cells.select(id_col, "centroid_id")
        .join(F.broadcast(dropped), id_col, "left")
        .select(id_col, "centroid_id", F.col("_dup").isNull().alias("kept"))
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-class mean embedding as a (label, dim, c) scalar grid — the
    corpus-mixture monitoring primitive (per-source/per-language
    centroids; drift between ingestion batches; contamination smell
    tests). ONE exploded aggregation over the corpus, map-side combined
    down to |labels|·dim rows — the only stage that touches data; at
    100 TB the exchange still moves only the tiny grid. NULL vectors are
    dropped (the covariance family's contract); centroid values round to
    ``round_dp`` at the aggregation — the documented tolerance for
    partition-order ulps, and the pinned input to every downstream
    comparison (both engines compare ROUNDED centroids, the same
    round-then-consume discipline as the PCA family's λ). ``dim`` is
    1-based to match the SQL twins' array indexing."""
    comp = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col).cast("array<double>")),
        )
        .select("label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("x"))
    )
    # n rides the same aggregation (the r13 "fused means" rule: expose
    # the sub-statistic the scan already paid for) — every non-null
    # vector contributes one row per dim, so any dim's count IS the
    # label's vector count; callers read it off the grid instead of
    # re-scanning the corpus
    return comp.groupBy("label", "dim").agg(
        F.round(F.avg("x"), round_dp).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


def centroid_cosine_pairs(centroids: DataFrame, round_dp: int = 6) -> DataFrame:
    """Pairwise cosine similarity between label centroids: (label_a,
    label_b, cosine) for label_a < label_b, computed FROM the rounded
    grid (never from raw data — both engines consume identical scalars).
    Centroid-space only: the join and aggregation see |labels|²·dim tiny
    rows regardless of corpus size, so the drift matrix costs nothing
    beyond the one centroid aggregation. NULL labels drop out of the
    strict inequality on both engines (SQL NULL comparison semantics)."""
    a = centroids.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = centroids.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    # callers pass a PINNED grid (localCheckpoint) — self-joining an
    # unpinned grid re-runs the corpus aggregation once per side
    # zero-norm guard (the power_iteration rule): a centroid whose every
    # dim rounds to 0 has no direction — emit NULL cosine. Spark runs
    # ANSI mode where x/0 RAISES, while DuckDB's x/0 is NULL; without
    # the guard the engines don't diverge, they differ by crash-vs-NULL.
    nrm = F.sqrt(F.sum(F.col("ca") * F.col("ca"))) * F.sqrt(
        F.sum(F.col("cb") * F.col("cb"))
    )
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.when(
                nrm > 0,
                F.round(F.sum(F.col("ca") * F.col("cb")) / nrm, round_dp),
            ).alias("cosine")
        )
    )

"""Candidate-volume counters (instrumentation.py) stay glued to their
golden queries: each counter must measure a SUPERSET of the pairs its
query emits — the pre-threshold index stage. If a query's literals drift
(shingle_k, max_df, planes...) without the counter following, the
superset contract breaks here instead of silently mismeasuring the
curation candidate counts."""

from __future__ import annotations

import pytest

from bookstore_aws_lakehouse_spark.instrumentation import GROWTH_CANDIDATE_COUNTERS
from bookstore_aws_lakehouse_spark.registry import load_all

GOLDEN, _ = load_all()


def test_counters_cover_only_registered_growth_rows():
    # a stale key (a counter for an unregistered query) would silently
    # count nothing anyone reads
    for name in GROWTH_CANDIDATE_COUNTERS:
        assert name in GOLDEN, name


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_pairs", "dedup_ngram_jaccard", "embedding_near_dup"],
)
def test_candidates_superset_of_emitted_pairs(spark, sf_smoke, name):
    n_cand = GROWTH_CANDIDATE_COUNTERS[name](spark, sf_smoke)
    n_out = GOLDEN[name](spark, sf_smoke).count()
    assert isinstance(n_cand, int)
    assert n_cand >= n_out, f"{name}: candidates {n_cand} < emitted {n_out}"
    # the index stage must do SOMETHING at fixture scale or the counter
    # is counting the wrong table
    assert n_cand > 0


def test_semantic_subcell_branch_matches_operator_assignment(spark):
    """ADVICE r11: at fixture scale occupancy (~50) resolves to 0 planes,
    so the sub-cell branch that actually runs on the growth corpus was
    never exercised. A 600-vector / 2-centroid corpus (occupancy 300 →
    2 planes) checks that (a) the split actually subdivides cells — the
    occupancy bound the branch exists to hold, (b) the operator's OWN
    assignment shows strictly less in-cell pair volume than the
    undivided cells, and (c) an oversized num_dims no
    longer silently no-ops the split (the zip_with null-pad bug: every
    dot NULL → every sub-cell bit 0)."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.operators.similarity import (
        semantic_cell_assignment,
    )

    dims = [1.0, 2.3, 3.7, 5.1, 7.9, 11.3, 13.7, 17.1]
    emb = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(
            [F.cos(F.col("id") * F.lit(p)) for p in dims]
        ).alias("embedding"),
    )
    cents = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )

    def pair_volume(cells, keys):
        sizes = cells.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
        return sum(r["n"] * (r["n"] - 1) // 2 for r in sizes)

    cells = semantic_cell_assignment(emb, cents, num_dims=len(dims))
    n_sub = cells.select("centroid_id", "_subcell").distinct().count()
    n_cells = cells.select("centroid_id").distinct().count()
    assert n_sub > n_cells  # the split happened
    assert pair_volume(cells, ["centroid_id", "_subcell"]) < pair_volume(
        cells, ["centroid_id"]
    )
    # oversized num_dims: eff dims derive from the data, split still live
    cells_big = semantic_cell_assignment(emb, cents, num_dims=4096)
    assert (
        cells_big.select("centroid_id", "_subcell").distinct().count() > n_cells
    )

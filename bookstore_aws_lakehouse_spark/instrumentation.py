"""Candidate-volume counters for the near-duplicate operators.

Each counter returns ``n_candidates`` — the pre-threshold pair count of a
query's index stage — so a benchmark can report how many candidates an
operator scores per pair it emits (``perfbench``'s ``*.candidates`` and
``*.useful_ratio`` curation metrics).

Each counter mirrors its golden query's literals exactly (cited per
entry); ``tests/test_instrumentation.py`` pins the superset contract
(candidates ⊇ the query's emitted pairs) so parameter drift between a
query and its counter fails loudly instead of mismeasuring.

Counting runs are SEPARATE Spark jobs from the timed runs, so the
counters never add to the wall time they explain.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from bookstore_aws_lakehouse_spark.catalog import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _n_minhash(spark: SparkSession, sf_dir: str) -> int:
    # q_dedup_minhash_pairs emits its candidate set directly (banding has
    # no similarity threshold) — candidates == output pairs
    from bookstore_aws_lakehouse_spark.operators.dedup import minhash_band_pairs

    return minhash_band_pairs(
        _docs(spark, sf_dir), "doc_id", "text", num_hashes=8, band_rows=2, shingle_k=3
    ).count()


def _n_shingle(spark: SparkSession, sf_dir: str) -> int:
    # index stage of q_dedup_ngram_jaccard (threshold=0.1): the
    # shingle_k=3 / max_df=100 candidate table
    from bookstore_aws_lakehouse_spark.operators.dedup import shingle_candidates

    return shingle_candidates(
        _docs(spark, sf_dir), "doc_id", "text", shingle_k=3, max_df=100
    ).count()


def _n_near_dup(spark: SparkSession, sf_dir: str) -> int:
    # q_embedding_near_dup pre-cosine candidates: num_planes=None resolves
    # via _auto_planes exactly as cosine_pairs does
    from bookstore_aws_lakehouse_spark.operators.similarity import (
        _auto_planes,
        lsh_candidate_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_candidate_pairs(
        emb, "vec_id", "embedding", num_planes=_auto_planes(emb.count())
    ).count()


#: registered query name → candidate counter
GROWTH_CANDIDATE_COUNTERS: dict[str, Callable[[SparkSession, str], int]] = {
    "dedup_minhash_pairs": _n_minhash,
    "dedup_ngram_jaccard": _n_shingle,
    "embedding_near_dup": _n_near_dup,
}

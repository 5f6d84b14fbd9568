"""The curation part of the ``batch`` workload: near-duplicate detection
over the corpus.

One pass runs ``operators.dedup.minhash_band_pairs`` and ``jaccard_pairs``
over the documents and ``operators.similarity.cosine_pairs`` over the
embeddings, each collected. The parameters are those of the registered
``dedup_minhash_pairs``, ``dedup_ngram_jaccard`` and ``embedding_near_dup``
queries, whose DuckDB oracles check the pair sets.
"""

from __future__ import annotations

from perfbench import oracle
from perfbench.metrics import median

#: operator -> (registered query whose oracle checks it, layer, function)
OPERATORS = {
    "minhash": ("dedup_minhash_pairs", "operators.dedup", "minhash_band_pairs"),
    "jaccard": ("dedup_ngram_jaccard", "operators.dedup", "jaccard_pairs"),
    "cosine": ("embedding_near_dup", "operators.similarity", "cosine_pairs"),
}


def _pairs(spark, sf_dir: str, name: str) -> list[tuple[int, int]]:
    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        jaccard_pairs,
        minhash_band_pairs,
    )
    from bookstore_aws_lakehouse_spark.operators.similarity import cosine_pairs

    if name == "minhash":
        df = minhash_band_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                                num_hashes=8, band_rows=2, shingle_k=3)
    elif name == "jaccard":
        df = jaccard_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text",
                           shingle_k=3, threshold=0.1)
    else:
        df = cosine_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4,
                          num_planes=None)
    return sorted((r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect())


class CurationJob:
    TABLES = ("documents", "embeddings")

    def __init__(self, ctx) -> None:
        self.rows = ctx.rows("documents") + ctx.rows("embeddings")

    def setup(self, ctx, data_dir: str) -> None:
        from bookstore_aws_lakehouse_spark.catalog import load_tables

        with ctx.span("catalog", "load_tables"):
            load_tables(ctx.spark, data_dir, self.TABLES)

    def run(self, ctx) -> dict[str, list]:
        """One pass; returns the pairs per operator."""
        out = {}
        for name, (_query, layer, fn) in OPERATORS.items():
            with ctx.span(layer, fn):
                out[name] = _pairs(ctx.spark, ctx.data_dir, name)
        return out

    def check(self, ctx, passes: list[dict]) -> list[str | None]:
        """An error message per pass, None where every pair set matches."""
        from bookstore_aws_lakehouse_spark.registry import ORACLE

        con = oracle.connect(ctx.data_dir)
        want = {
            name: sorted(con.execute(f"SELECT id_a, id_b FROM ({ORACLE[query]})").fetchall())
            for name, (query, _layer, _fn) in OPERATORS.items()
        }
        con.close()
        errors = []
        for pairs in passes:
            bad = [n for n in OPERATORS if pairs[n] != want[n]]
            errors.append(f"pair sets differ from the oracle: {bad}" if bad else None)
        return errors

    def layer_metrics(self, ctx, last_pairs: dict, pass_s: list[float]) -> dict:
        """The traced passes' numbers; ``pass_s`` are their seconds."""
        from bookstore_aws_lakehouse_spark.instrumentation import GROWTH_CANDIDATE_COUNTERS

        out = {"cur.pairs_out": sum(len(p) for p in last_pairs.values()),
               "cur.rows_per_s": self.rows / median(pass_s)}
        for name, (query, layer, fn) in OPERATORS.items():
            out[f"{layer}.{fn}_s"] = median(ctx.tracer.durations(f"{layer}.{fn}"))
            candidates = GROWTH_CANDIDATE_COUNTERS[query](ctx.spark, ctx.data_dir)
            out[f"{name}.candidates"] = candidates
            out[f"{name}.pairs_out"] = len(last_pairs[name])
            out[f"{name}.useful_ratio"] = len(last_pairs[name]) / max(1, candidates)
        return out

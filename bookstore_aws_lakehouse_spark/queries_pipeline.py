"""End-to-end dataset-curation pipeline as ONE oracle-checked query.

The individual stages (quality gate, exact dedup, hash split, hash
subsample) are each oracle-checked on their own; production runs them
COMPOSED, where stage-interaction bugs live (a dedup that sees pre-filter
rows, a split applied after sampling, ...). This module pins the whole
chain — documents → quality filter → canonical dedup survivors →
train/test split → train-side subsample — to a single DuckDB twin that
replays every gate bit-for-bit.

Scale shape: one scan; the only shuffle is the dedup's groupBy(text)
(16-byte-hashable, map-side combinable — at 100 TB group on a content
fingerprint instead of raw text, exactly like operators/dedup.py's
fingerprint path); every other stage is a map-side hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.operators.sampling import (
    split_bucket,
    train_test_split,
)
from bookstore_aws_lakehouse_spark.operators.text import with_quality_features
from bookstore_aws_lakehouse_spark.queries_text import (
    QUALITY_MIN_DISTINCT_RATIO,
    QUALITY_MIN_TOKENS,
)
from bookstore_aws_lakehouse_spark.registry import golden

_BUCKET = (
    "((('0x' || substring(md5('{salt}:' || CAST(doc_id AS STRING)), 1, 15))::BIGINT"
    " % 1000) + 1000) % 1000"
)

#: keep-rate (per mille) for the train-side subsample stage
CURATE_KEEP = 500


@golden(
    "dataset_curation_pipeline",
    f"""
    WITH q AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
      FROM documents
    ),
    f AS (
      SELECT * FROM q
      WHERE n_tokens >= {QUALITY_MIN_TOKENS}
        AND distinct_ratio >= {QUALITY_MIN_DISTINCT_RATIO}
    ),
    d AS (
      SELECT *, min(doc_id) OVER (PARTITION BY text) AS canonical_id FROM f
    ),
    k AS (
      SELECT doc_id, lang, source, n_tokens FROM d WHERE doc_id = canonical_id
    ),
    s AS (
      SELECT *,
             CASE WHEN {_BUCKET.format(salt="split")} < 200
                  THEN 'test' ELSE 'train' END AS split
      FROM k
    )
    SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens, split
    FROM s
    WHERE split = 'test' OR {_BUCKET.format(salt="curate")} < {CURATE_KEEP}
    """,
)
def q_dataset_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus manifest: quality-gate the documents
    (`with_quality_features` thresholds shared with `text_quality_filter`),
    keep one canonical copy per exact-duplicate group (min doc_id), tag
    the stable hash split, and subsample the train side to
    CURATE_KEEP/1000 with an independent salt — test rows are never
    sampled (evaluation sets must stay complete). Every gate is an
    id-hash, so membership is bit-reproducible across engines, runs and
    partitionings; the oracle replays the full chain."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    feat = with_quality_features(docs)
    passed = feat.filter(
        (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
        & (F.col("distinct_ratio") >= QUALITY_MIN_DISTINCT_RATIO)
    )
    from pyspark.sql import Window

    canon = passed.withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("text"))
    ).filter(F.col("doc_id") == F.col("canonical_id"))
    split = train_test_split(
        canon.select("doc_id", "lang", "source", "n_tokens"), "doc_id"
    )
    return split.filter(
        (F.col("split") == "test")
        | (split_bucket("doc_id", "curate") < CURATE_KEEP)
    ).select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "split",
    )


@golden(
    "dataset_curation_pipeline_v2",
    f"""
    WITH base AS (
      SELECT doc_id, source, text,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
      FROM documents
    ),
    canon AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS cid FROM base
      ) WHERE doc_id = cid
    ),
    ranked AS (
      SELECT doc_id, source, score,
             cume_dist() OVER (PARTITION BY source ORDER BY score) AS cd
      FROM canon
    ),
    quality AS (SELECT doc_id, source FROM ranked WHERE cd > 0.25),
    cuts AS (
      SELECT source, count(*) AS n_src,
             CAST(round(1000.0 * pow(
               (SELECT min(cnt) FROM (SELECT count(*) AS cnt FROM quality GROUP BY source))
               / CAST(count(*) AS DOUBLE), 0.3)) AS INT) AS cut
      FROM quality GROUP BY source
    ),
    final AS (
      SELECT q.doc_id, q.source
      FROM quality q JOIN cuts USING (source)
      WHERE {{bucket}} < cuts.cut
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(c.doc_id) AS BIGINT) AS n_dedup,
           CAST(count(q.doc_id) AS BIGINT) AS n_quality,
           CAST(count(f.doc_id) AS BIGINT) AS n_final
    FROM base b
    LEFT JOIN canon c ON b.doc_id = c.doc_id
    LEFT JOIN quality q ON b.doc_id = q.doc_id
    LEFT JOIN final f ON b.doc_id = f.doc_id
    GROUP BY b.source
    """.replace(
        "{bucket}",
        "((('0x' || substring(md5('tmix2:' || CAST(q.doc_id AS STRING)), 1, 15))::BIGINT % 1000) + 1000) % 1000",
    ),
)
def q_dataset_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9 curation chain composed end-to-end with a per-stage funnel:
    normalized-fingerprint dedup (keep min doc_id per fp) → per-source
    bottom-quartile quality gate (cume_dist over distinct-token ratio) →
    temperature mix (α=0.7, cuts derived from the QUALITY survivors —
    each stage's weights adapt to the previous stage's output, as a real
    pipeline's do). Emits (source, n_raw, n_dedup, n_quality, n_final);
    the oracle replays the entire funnel as CTEs, so stage COMPOSITION —
    not just each operator — is value-verified. Intermediate survivor
    frames are narrow-projected and pinned (localCheckpoint), the
    standard stage-materialization a production pipeline does anyway;
    every gate is an id-hash or integer cut → bit-reproducible."""
    from pyspark.sql import Window

    from bookstore_aws_lakehouse_spark.operators.sampling import (
        temperature_cuts,
    )
    from bookstore_aws_lakehouse_spark.operators.text import (
        normalized_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        "source",
        normalized_fingerprint("text").alias("fp"),
        (F.size(F.array_distinct(toks)) / F.size(toks).cast("double")).alias(
            "score"
        ),
    )
    canon = (
        base.withColumn("cid", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("cid"))
        .select("doc_id", "source", "score")
        .localCheckpoint(eager=True)
    )
    quality = (
        canon.withColumn(
            "cd",
            F.cume_dist().over(Window.partitionBy("source").orderBy("score")),
        )
        .filter(F.col("cd") > 0.25)
        .select("doc_id", "source")
        .localCheckpoint(eager=True)
    )
    cuts = temperature_cuts(quality, "source", alpha=0.7).localCheckpoint(
        eager=True
    )
    final = quality.join(F.broadcast(cuts.select("source", "cut")), "source").filter(
        split_bucket("doc_id", "tmix2") < F.col("cut")
    )
    flags = (
        base.select("doc_id", "source")
        .join(canon.select("doc_id", F.lit(1).alias("_d")), "doc_id", "left")
        .join(quality.select("doc_id", F.lit(1).alias("_q")), "doc_id", "left")
        .join(final.select("doc_id", F.lit(1).alias("_f")), "doc_id", "left")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count("_d").alias("n_dedup"),
        F.count("_q").alias("n_quality"),
        F.count("_f").alias("n_final"),
    )

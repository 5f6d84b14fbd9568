"""Oracle-checked data-quality queries: table profiling, referential
integrity, and snapshot diffing over the fixtures."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.operators.quality import fk_orphans, profile, snapshot_diff
from bookstore_aws_lakehouse_spark.registry import golden


@golden(
    "dq_profile_lineitem",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
                               THEN (l_orderkey, l_linenumber) END) AS n_distinct_keys,
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_orderkey,
           CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_linenumber
    FROM lineitem
    """,
)
def q_dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile of the fact table: row count, composite-
    key cardinality (uniqueness check), per-key null counts."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile(li, ["l_orderkey", "l_linenumber"])


@golden(
    "dq_fk_orphans",
    """
    SELECT 'lineitem->part' AS fk, count(*) AS n_orphans
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    WHERE p_partkey IS NULL
    UNION ALL
    SELECT 'lineitem->orders' AS fk, count(*) AS n_orphans
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderkey IS NULL
    UNION ALL
    SELECT 'orders->customer' AS fk, count(*) AS n_orphans
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey IS NULL
    """,
)
def q_dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the star schema's FK edges
    (anti-joins on keys only). All-zeros on the fixtures — the check
    exists to catch the day it isn't."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def count_orphans(fact, dim, fk, dk, tag):
        return fk_orphans(fact, dim, fk, dk).agg(
            F.count(F.lit(1)).alias("n_orphans")
        ).select(F.lit(tag).alias("fk"), "n_orphans")

    a = count_orphans(li, pt, "l_partkey", "p_partkey", "lineitem->part")
    b = count_orphans(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders")
    c = count_orphans(orders, cust, "o_custkey", "c_custkey", "orders->customer")
    return a.unionByName(b).unionByName(c)


@golden(
    "dq_snapshot_diff",
    """
    WITH old AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 != 0
    ),
    new AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 11 != 0
    ),
    h AS (
      SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
             CASE WHEN o.c_custkey IS NULL THEN 'added'
                  WHEN n.c_custkey IS NULL THEN 'removed'
                  WHEN md5(concat_ws(chr(31),
                         coalesce(CAST(length(CAST(o.c_acctbal AS STRING)) AS STRING) || ':' || CAST(o.c_acctbal AS STRING), 'N'),
                         coalesce(CAST(length(CAST(o.c_mktsegment AS STRING)) AS STRING) || ':' || CAST(o.c_mktsegment AS STRING), 'N'),
                         coalesce(CAST(length(CAST(o.c_name AS STRING)) AS STRING) || ':' || CAST(o.c_name AS STRING), 'N'),
                         coalesce(CAST(length(CAST(o.c_nationkey AS STRING)) AS STRING) || ':' || CAST(o.c_nationkey AS STRING), 'N')))
                    != md5(concat_ws(chr(31),
                         coalesce(CAST(length(CAST(n.c_acctbal AS STRING)) AS STRING) || ':' || CAST(n.c_acctbal AS STRING), 'N'),
                         coalesce(CAST(length(CAST(n.c_mktsegment AS STRING)) AS STRING) || ':' || CAST(n.c_mktsegment AS STRING), 'N'),
                         coalesce(CAST(length(CAST(n.c_name AS STRING)) AS STRING) || ':' || CAST(n.c_name AS STRING), 'N'),
                         coalesce(CAST(length(CAST(n.c_nationkey AS STRING)) AS STRING) || ':' || CAST(n.c_nationkey AS STRING), 'N')))
                  THEN 'changed'
             END AS status
      FROM old o FULL OUTER JOIN new n USING (c_custkey)
    )
    SELECT c_custkey, status FROM h WHERE status IS NOT NULL
    """,
)
def q_dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: synthetic old/new customer snapshots
    (disjoint key filters + a deterministic value perturbation) diffed by
    key + portable row-hash → added/removed/changed rows only."""
    cust = load_table(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 10 != 0)
    new = cust.filter(F.col("c_custkey") % 11 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    return snapshot_diff(old, new, ["c_custkey"])


@golden(
    "pii_pseudonymize",
    """
    SELECT md5('cust:' || CAST(c_custkey AS STRING)) AS cust_token,
           regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
           c_mktsegment,
           round(floor(c_acctbal / 500.0) * 500.0, 1) AS acctbal_band
    FROM customer
    """,
)
def q_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training-data release: stable salted-hash
    pseudonyms for keys (joinable across tables, irreversible without the
    salt), digit-masking on the name, and value banding on the balance
    (k-anonymity-style coarsening). All built-in column expressions —
    map-side only, no shuffle, safe at any scale. The fixture has no
    free-text PII (synthetic corpus), so the digit mask doubles as the
    regex-redaction demonstration the real pipeline would point at
    emails/phones."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.md5(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))).alias(
            "cust_token"
        ),
        F.regexp_replace("c_name", "[0-9]", "X").alias("name_masked"),
        "c_mktsegment",
        F.round(F.floor(F.col("c_acctbal") / 500.0) * 500.0, 1).alias("acctbal_band"),
    )


@golden(
    "dq_expectations_quarantine",
    """
    WITH checked AS (
      SELECT source,
             len(string_split(text, ' ')) >= 5 AS ok_min_tokens,
             lang IN ('en', 'de', 'fr', 'es', 'zh') AS ok_known_lang,
             n_chars <= 100000 AS ok_max_chars
      FROM documents
    )
    SELECT source,
           CAST(sum(CASE WHEN ok_min_tokens AND ok_known_lang AND ok_max_chars
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN NOT ok_min_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_min_tokens,
           CAST(sum(CASE WHEN NOT ok_known_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_known_lang,
           CAST(sum(CASE WHEN NOT ok_max_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_max_chars
    FROM checked
    GROUP BY source
    """,
)
def q_dq_expectations_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectations with quarantine (operators/quality.py::
    split_by_expectations — the DLT @expect analog next to the snapshot
    table's commit-level CHECK constraints): three rules over documents,
    bad rows routed to a side output tagged with every rule they failed,
    clean rows counted per source. The per-rule violation counts come
    from exploding the quarantine's failed_rules tags — i.e. the check
    verifies the TAGS, not just the split sizes. One map-side Project
    evaluates all rules in a single pass."""
    from bookstore_aws_lakehouse_spark.operators.quality import (
        split_by_expectations,
    )

    docs = load_table(spark, sf_dir, "documents")
    rules = {
        "min_tokens": "size(split(text, ' ')) >= 5",
        "known_lang": "lang IN ('en', 'de', 'fr', 'es', 'zh')",
        "max_chars": "n_chars <= 100000",
    }
    clean, quarantine = split_by_expectations(docs, rules)
    n_clean = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_clean"))
    per_rule = (
        quarantine.select("source", F.explode("failed_rules").alias("rule"))
        .groupBy("source")
        .pivot("rule", list(rules))
        .count()
    )
    out = (
        docs.select("source")
        .distinct()
        .join(n_clean, "source", "left")
        .join(per_rule, "source", "left")
        .select(
            "source",
            F.coalesce("n_clean", F.lit(0)).cast("bigint").alias("n_clean"),
            F.coalesce("min_tokens", F.lit(0)).cast("bigint").alias("n_min_tokens"),
            F.coalesce("known_lang", F.lit(0)).cast("bigint").alias("n_known_lang"),
            F.coalesce("max_chars", F.lit(0)).cast("bigint").alias("n_max_chars"),
        )
    )
    return out


def _drift_sql(d_cte: str, out_col: str) -> str:
    """The distribution_drift oracle body over any (g, n_chars) CTE —
    shared by the per-source row and the snapshot-version row so the
    bucket/TVD arithmetic has one source of truth."""
    return f"""
WITH {d_cte},
d AS (
  SELECT g, greatest(least(n_chars // 100, 20), 0) AS b
  FROM src WHERE n_chars IS NOT NULL AND g IS NOT NULL
),
sb AS (SELECT g, b, count(*) AS c_gb FROM d GROUP BY 1, 2),
s AS (SELECT g, CAST(sum(c_gb) AS BIGINT) AS n_g FROM sb GROUP BY 1),
bb AS (SELECT b, CAST(sum(c_gb) AS BIGINT) AS c_b FROM sb GROUP BY 1),
tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS n_tot FROM bb),
grid AS (
  SELECT s.g, s.n_g, bb.b, bb.c_b, (SELECT n_tot FROM tot) AS n_tot
  FROM s, bb
),
j AS (
  SELECT grid.g, grid.n_g, grid.b, grid.c_b, grid.n_tot,
         COALESCE(sb.c_gb, 0) AS c_gb
  FROM grid LEFT JOIN sb ON sb.g = grid.g AND sb.b = grid.b
)
SELECT g AS {out_col},
       max(n_g) AS n_docs,
       CAST(count_if(c_gb > 0) AS BIGINT) AS n_buckets,
       CAST(sum(abs(c_gb * n_tot - c_b * n_g)) AS DOUBLE)
         / (2.0 * CAST(max(n_g) AS DOUBLE) * CAST(max(n_tot) AS DOUBLE)) AS tvd,
       max(abs(CAST(c_gb AS DOUBLE) / n_g - CAST(c_b AS DOUBLE) / n_tot)) AS max_abs_dev
FROM j GROUP BY g
"""


_SOURCE_DRIFT_SQL = _drift_sql(
    "src AS (SELECT source AS g, n_chars FROM documents)", "source"
)

@golden("dq_source_drift", _SOURCE_DRIFT_SQL)
def q_dq_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-distribution drift vs the corpus
    (operators/quality.py::distribution_drift): 100-char buckets capped
    at 20, total-variation distance + worst-bucket deviation +
    occupied-bucket count per source — the mixture-monitoring table
    that catches a mis-parsed or truncated source before it poisons a
    training mix. TVD's numerator is an exact integer sum (no
    order-dependent float accumulation — the reason it's TVD and not a
    chi-square), so both engines divide literally identical values.
    One corpus scan; everything downstream is ≤ |sources|·21 rows."""
    from bookstore_aws_lakehouse_spark.operators.quality import (
        distribution_drift,
    )

    docs = load_table(spark, sf_dir, "documents")
    return distribution_drift(
        docs, "source", "n_chars", bucket_width=100, max_bucket=20
    )


_VERSION_DRIFT_SQL = _drift_sql(
    """src AS (
  SELECT 'v1' AS g, n_chars FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT 'v2' AS g, n_chars FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT 'v2' AS g, n_chars * 3 AS n_chars FROM documents WHERE doc_id % 10 = 0
)""",
    "version",
)


@golden("dq_version_drift", _VERSION_DRIFT_SQL)
def q_dq_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift BETWEEN SNAPSHOT VERSIONS — the ingestion-batch
    monitor: commit v1 of a document table, append a corrupted batch
    (n_chars ×3 — a mis-parsed re-crawl), then time-travel BOTH versions
    and run ``distribution_drift`` with the version as the group. A
    healthy append leaves v1/v2 histograms near-identical (tvd ≈ 0);
    the planted corruption surfaces as v2's tvd against the pooled
    corpus. Integrates the snapshot commit log (write → append →
    ``snapshot_read`` at pinned versions) with the drift operator; the
    oracle replays both version states relationally and the same
    bucket/TVD arithmetic (shared ``_drift_sql`` body — one source of
    truth)."""
    import shutil
    import tempfile

    from bookstore_aws_lakehouse_spark.operators.quality import (
        distribution_drift,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_overwrite,
        snapshot_read,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="blhs_vdrift_")
    try:
        table = f"{root}/docs_drift"
        snapshot_overwrite(docs.filter(F.col("doc_id") % 10 != 0), table)
        snapshot_append(
            docs.filter(F.col("doc_id") % 10 == 0).withColumn(
                "n_chars", F.col("n_chars") * 3
            ),
            table,
        )
        v1 = snapshot_read(spark, table, 1).withColumn("version", F.lit("v1"))
        v2 = snapshot_read(spark, table, 2).withColumn("version", F.lit("v2"))
        out = distribution_drift(
            v1.unionByName(v2), "version", "n_chars"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

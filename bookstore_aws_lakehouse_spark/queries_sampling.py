"""Oracle-checked dataset split/mix queries — the hash-gate formula
(md5-derived bucket in [0,1000)) is replayed verbatim in SQL, so the
oracle verifies the exact membership of every row, not just counts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.operators.sampling import train_test_split, weighted_source_mix
from bookstore_aws_lakehouse_spark.registry import golden

_BUCKET = (
    "((('0x' || substring(md5('{salt}:' || CAST(doc_id AS STRING)), 1, 15))::BIGINT % 1000) + 1000) % 1000"
)


@golden(
    "dataset_train_test_split",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_BUCKET.format(salt="split")} < 200 THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_dataset_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 train/test split by stable id-hash bucket: identical across
    engines, runs and partitionings; new rows never move old rows between
    splits (an RNG seed can't promise either)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return train_test_split(docs, "doc_id", test_fraction=0.2)


#: bucket over an arbitrary SQL string expression (not just doc_id)
_BUCKET_EXPR = (
    "((('0x' || substring(md5('{salt}:' || {expr}), 1, 15))::BIGINT % 1000) + 1000) % 1000"
)
_FINGERPRINT_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


@golden(
    "dataset_leakage_safe_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_EXPR.format(salt="gsplit", expr=_FINGERPRINT_SQL)} < 200
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_dataset_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/20 split: the bucket hashes the normalized TEXT
    fingerprint instead of the row id, so exact/near-exact duplicate
    documents always land on the same side — a per-id split lets copy A
    train while copy B evaluates. Map-side expression only: no dedup
    join, no shuffle."""
    from bookstore_aws_lakehouse_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return leakage_safe_split(docs, "doc_id", "text", test_fraction=0.2).select(
        "doc_id", "split"
    )


MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


@golden(
    "dataset_source_mix",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_BUCKET.format(salt="mix")} <
          CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                      WHEN 'src2' THEN 250 ELSE 0 END
    """,
)
def q_dataset_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: keep 100% of src0, 50% of src1, 25% of
    src2, drop the rest — per-row hash gates, no shuffle, bit-reproducible
    membership."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return weighted_source_mix(docs, "doc_id", "source", MIX_WEIGHTS)


STRATUM_TARGET = 50  # docs per language


_BUCKET_PPM = (
    "((('0x' || substring(md5('{salt}:' || CAST(doc_id AS STRING)), 1, 15))::BIGINT % 1000000) + 1000000) % 1000000"
)


@golden(
    "dataset_stratified_sample",
    f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN counts c ON d.lang IS NOT DISTINCT FROM c.lang
    WHERE {_BUCKET_PPM.format(salt="strat")} <
          greatest(1, least(1000000,
              CAST(floor({STRATUM_TARGET} * 1000000.0 / n) AS BIGINT)))
    """,
)
def q_dataset_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: equalize class sizes by sampling each language
    down to ~50 docs (STRATUM_TARGET) — per-stratum rate = target/size in
    parts-per-million, applied as a deterministic id-hash gate (rate
    clamps to ≥1 ppm so giant strata never vanish; the stratum join is
    null-safe). One tiny aggregate for the per-group counts (broadcast
    back), then a map-side filter: no shuffle of the corpus, reproducible
    membership, mergeable across ingestion batches. ``floor`` before the
    int cast because Spark truncates double→int while DuckDB rounds —
    the one portability trap in rate arithmetic."""
    from bookstore_aws_lakehouse_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "doc_id", "lang", STRATUM_TARGET).select(
        "doc_id", "lang"
    )


@golden(
    "dataset_decontaminate",
    f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN {_BUCKET.format(salt="split")} < 200 THEN 'test' ELSE 'train' END AS split
      FROM documents
    ),
    sh AS (
      SELECT doc_id, split, shingle FROM (
        SELECT doc_id, split,
               unnest([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                       FOR i IN generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
        FROM split
      ) GROUP BY doc_id, split, shingle
    ),
    leaks AS (
      SELECT te.doc_id, count(DISTINCT te.shingle) AS n_shared_shingles
      FROM sh te JOIN sh tr ON te.shingle = tr.shingle
      WHERE te.split = 'test' AND tr.split = 'train'
      GROUP BY te.doc_id
    )
    SELECT doc_id, n_shared_shingles FROM leaks WHERE n_shared_shingles >= 5
    """,
)
def q_dataset_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: test documents sharing ≥5 distinct
    3-gram shingles with ANY train document are flagged as contaminated
    (benchmark-leakage detection). Same inverted-index shape as the dedup
    family — the shingle join prunes everything that cannot leak."""
    from bookstore_aws_lakehouse_spark.operators.dedup import _shingles_of_tokens
    from bookstore_aws_lakehouse_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = train_test_split(docs, "doc_id", test_fraction=0.2)
    sh = (
        # project the token array first — see _shingles_of_tokens: an
        # inlined split would re-tokenize per shingle position
        split.select("doc_id", "split", tokenize("text").alias("_toks"))
        .select(
            "doc_id",
            "split",
            F.explode(_shingles_of_tokens(F.col("_toks"), 3)).alias("shingle"),
        )
        .distinct()
    )
    te = sh.filter(F.col("split") == "test").select(
        F.col("doc_id"), F.col("shingle")
    )
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("_tr_doc"), F.col("shingle")
    )
    leaks = (
        te.join(tr, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared_shingles"))
    )
    return leaks.filter(F.col("n_shared_shingles") >= 5)


CONTEXT_TOKENS = 2048
CHUNK_WINDOW = 128
CHUNK_STRIDE = 64


@golden(
    "dataset_chunk_windows",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, t,
             unnest(generate_series(0, CAST((n - 1) // {CHUNK_STRIDE} AS INT))) AS chunk_no
      FROM d WHERE n >= 1
    )
    SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
           CAST(len(t[chunk_no * {CHUNK_STRIDE} + 1 : chunk_no * {CHUNK_STRIDE} + {CHUNK_WINDOW}]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(t[chunk_no * {CHUNK_STRIDE} + 1 : chunk_no * {CHUNK_STRIDE} + {CHUNK_WINDOW}], ' ')) AS chunk_md5
    FROM c
    """,
)
def q_dataset_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context windows (128 tokens, stride 64) per document —
    the chunking a pretraining tokenizer pipeline applies before packing.
    Map-side explode fan-out; every chunk's exact token content is
    verified via md5 of the re-joined slice (both engines slice the same
    1-based inclusive window)."""
    from bookstore_aws_lakehouse_spark.operators.text import chunk_sliding_windows

    docs = load_table(spark, sf_dir, "documents")
    return chunk_sliding_windows(
        docs, "doc_id", "text", window=CHUNK_WINDOW, stride=CHUNK_STRIDE
    )


PACK_SHARDS = 8


@golden(
    "dataset_pack_sequences",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             {_BUCKET.format(salt="pack")} % {PACK_SHARDS} AS shard
      FROM documents
    ),
    o AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
      FROM d
    )
    SELECT doc_id, shard, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
           CAST(floor(start_offset / {CONTEXT_TOKENS}.0) AS BIGINT) AS pack_id
    FROM o
    """,
)
def q_dataset_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining (concat-and-chunk): docs hash into
    8 (PACK_SHARDS) independent shards, each shard is a deterministic
    token stream (ordered by doc_id), and every doc gets its token
    offset in that stream via a cumulative window; pack_id =
    offset div 2048 (CONTEXT_TOKENS) maps it to its context window. Exactly
    GPT-style packing (documents straddle window boundaries), integer-
    exact on both engines. Shards are the parallelism unit: each packs
    independently, so the window shuffle is one partition per shard and
    no global order exists anywhere."""
    from bookstore_aws_lakehouse_spark.operators.sampling import split_bucket

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (split_bucket("doc_id", "pack") % PACK_SHARDS).alias("shard"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    o = d.withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return o.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.col("start_offset").cast("bigint").alias("start_offset"),
        F.floor(F.col("start_offset") / float(CONTEXT_TOKENS)).cast("bigint").alias("pack_id"),
    )


PASSAGE_BLOCK = 32


@golden(
    "dataset_repeated_passages",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, t,
             unnest(generate_series(0, CAST((n - 1) // {PASSAGE_BLOCK} AS INT))) AS b
      FROM d WHERE n >= 1
    ),
    h AS (
      SELECT doc_id,
             md5(array_to_string(t[b * {PASSAGE_BLOCK} + 1 : b * {PASSAGE_BLOCK} + {PASSAGE_BLOCK}], ' ')) AS chunk_md5
      FROM c
    )
    SELECT chunk_md5,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM h
    GROUP BY chunk_md5
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def q_dataset_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection (boilerplate / template /
    contamination finder): disjoint 32-token blocks per document, grouped
    by content hash, keeping blocks that appear in MORE THAN ONE distinct
    document — the passage-granularity complement of document-level dedup
    (a doc can be globally unique yet carry a boilerplate header shared
    by thousands). Shape: map-side explode (reuses chunk_sliding_windows
    with stride = window) → one groupBy on the 16-byte block hash with
    map-side combine — shuffles hashes, never text; at 100 TB identical
    to the exact-dedup shape."""
    from bookstore_aws_lakehouse_spark.operators.text import chunk_sliding_windows

    docs = load_table(spark, sf_dir, "documents")
    blocks = chunk_sliding_windows(
        docs, "doc_id", "text", window=PASSAGE_BLOCK, stride=PASSAGE_BLOCK
    )
    return (
        blocks.groupBy("chunk_md5")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


@golden(
    "dataset_percentile_filter",
    """
    WITH scored AS (
      SELECT doc_id, source,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, score,
             cume_dist() OVER (PARTITION BY source ORDER BY score) AS cd
      FROM scored
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN cd > 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(min(CASE WHEN cd > 0.25 THEN score END), 6) AS threshold_score
    FROM ranked
    GROUP BY source
    """,
)
def q_dataset_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality curation: drop each SOURCE's bottom quartile by
    lexical-diversity score (distinct-token ratio) instead of one global
    absolute threshold (text_quality_filter) — the standard adaptive
    per-domain gate (a threshold tuned for web text would gut code or
    forum sources). One window (cume_dist per source) + one aggregation;
    the ratio is an exact IEEE division of two ints and cume_dist is
    tie-stable, so membership is engine-exact. At 100 TB the window
    shuffles once on source — same cost class as any per-source stat;
    skewed sources ride AQE. Emits per-source totals, survivors, and the
    effective (adaptive) threshold."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(toks)) / F.size(toks).cast("double")).alias(
            "score"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("score")
    ranked = scored.withColumn("cd", F.cume_dist().over(w))
    kept = F.when(F.col("cd") > 0.25, F.col("score"))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("cd") > 0.25).cast("bigint")).alias("n_kept"),
        F.round(F.min(kept), 6).alias("threshold_score"),
    )


WEIGHTED_SAMPLE_K = 64


@golden(
    "dataset_weighted_sample",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             ({_BUCKET_PPM.format(salt="wsamp")} + 1) / 1000000.0 AS u
      FROM documents
      WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           round(pow(u, 1.0 / n_tokens), 9) AS sample_key
    FROM d
    WHERE n_tokens IS NOT NULL AND n_tokens > 0
    ORDER BY sample_key DESC, doc_id
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def q_dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res,
    operators/sampling.py::weighted_sample_topk): draw 64 documents with
    inclusion probability ∝ token count — the token-budget-weighted
    subcorpus draw. Deterministic uniforms from the id hash (u =
    (ppm_bucket+1)/10⁶), race key u^(1/w) rounded to 9 dp with the id as
    tiebreaker; ORDER BY + LIMIT compiles to TakeOrderedAndProject, so
    each partition ships only its local top-64 — no global sort at any
    corpus size. The oracle replays hash, key, and cut row-exactly."""
    from bookstore_aws_lakehouse_spark.operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return weighted_sample_topk(
        d, "doc_id", "n_tokens", k=WEIGHTED_SAMPLE_K, salt="wsamp"
    )


GROUP_SAMPLE_K = 16


@golden(
    "dataset_weighted_sample_per_lang",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             ({_BUCKET_PPM.format(salt="wsampg")} + 1) / 1000000.0 AS u
      FROM documents
      WHERE doc_id IS NOT NULL
    ),
    r AS (
      SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
             round(pow(u, 1.0 / n_tokens), 9) AS sample_key,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY round(pow(u, 1.0 / n_tokens), 9) DESC, doc_id
             ) AS INT) AS rk
      FROM d
      WHERE n_tokens IS NOT NULL AND n_tokens > 0
    )
    SELECT doc_id, lang, n_tokens, sample_key, rk
    FROM r WHERE rk <= {GROUP_SAMPLE_K}
    """,
)
def q_dataset_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group weighted sampling without replacement (operators/
    sampling.py::weighted_sample_per_group): 16 documents PER LANGUAGE
    with inclusion ∝ token count — the per-stratum token-budget draw
    (stratified_sample equalizes counts; this draws a fixed-size weighted
    subset per class). row_number ≤ k over (lang, race key DESC, id)
    rewrites to WindowGroupLimit (plan-pinned): tasks keep their local
    top-16 per language BEFORE the exchange, so a skewed language never
    funnels through one task. Oracle replays hash, key, window, and cut
    row-exactly."""
    from bookstore_aws_lakehouse_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return weighted_sample_per_group(
        d, "doc_id", "n_tokens", "lang", k=GROUP_SAMPLE_K, salt="wsampg"
    ).select("doc_id", "lang", "n_tokens", "sample_key", "rk")


EXPORT_SHARDS = 16

_BUCKET_MOD = (
    "((('0x' || substring(md5('{salt}:' || CAST(doc_id AS STRING)), 1, 15))::BIGINT"
    " % {m}) + {m}) % {m}"
)


@golden(
    "dataset_export_shards",
    f"""
    SELECT {_BUCKET_MOD.format(salt="shard", m=EXPORT_SHARDS)} AS shard,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents
    WHERE doc_id IS NOT NULL
    GROUP BY 1
    """,
)
def q_dataset_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-training-export balance audit (operators/sampling.py::
    shard_stats): every document hashes to a stable shard in [0,16), and
    the report aggregates per-shard row count, whitespace-token total,
    UTF-8 byte total (Spark octet_length ≡ DuckDB strlen), and id range —
    the pre-publish check that catches hash skew or id corruption before
    it becomes dataloader-throughput debugging. One aggregation, map-side
    combine into ≤16 groups: the shuffle moves shards×partitions tiny
    rows regardless of corpus size. `write_shards` materializes the same
    assignment as shard=<i>/ partition directories (tested roundtrip in
    tests/test_operators.py)."""
    from bookstore_aws_lakehouse_spark.operators.sampling import shard_stats

    docs = load_table(spark, sf_dir, "documents")
    return shard_stats(docs, "doc_id", "text", n_shards=EXPORT_SHARDS, salt="shard")


TRAIN_ORDER_EPOCH = 1


@golden(
    "dataset_training_order",
    f"""
    WITH d AS (
      SELECT doc_id,
             {_BUCKET_MOD.format(salt="shard", m=EXPORT_SHARDS)} AS shard,
             {_BUCKET_PPM.format(salt=f"epoch{TRAIN_ORDER_EPOCH}")} AS ok
      FROM documents
      WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) - 1
                AS INT) AS position
    FROM d
    """,
)
def q_dataset_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch training order (operators/sampling.py::
    training_order, epoch=1, 16 shards): every document gets (shard,
    position) from epoch-seeded id hashes — a deterministic permutation
    that changes per epoch with no RNG, so any dataloader worker can
    recompute its slice bit-identically after preemption and two runs see
    the same example order. One row_number window per uniform hash shard
    (no skewed sort key); the oracle replays both hashes and the window
    row-exactly."""
    from bookstore_aws_lakehouse_spark.operators.sampling import training_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return training_order(
        docs, "doc_id", n_shards=EXPORT_SHARDS, epoch=TRAIN_ORDER_EPOCH
    ).select("doc_id", "shard", "position")


@golden(
    "dataset_temperature_mix",
    f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    cuts AS (
      SELECT source, n,
             CAST(round(1000.0 * pow((SELECT min(n) FROM counts) / CAST(n AS DOUBLE), 0.3)) AS INT) AS cut
      FROM counts
    ),
    kept AS (
      SELECT d.source
      FROM documents d JOIN cuts USING (source)
      WHERE {_BUCKET.format(salt="tmix")} < cuts.cut
    )
    SELECT c.source, c.n AS n_orig, c.cut,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM cuts c
    LEFT JOIN (SELECT source, count(*) AS n_kept FROM kept GROUP BY source) k
      USING (source)
    """,
)
def q_dataset_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling over sources (operators/sampling.py::
    temperature_source_mix, α=0.7): keep rates ∝ n^(α−1) normalized to
    the smallest source — the multilingual/multi-source flattening
    scheme, with the weights derived from the corpus itself (one count
    aggregate broadcast back) instead of a hand-written table. Emits per
    source the original count, the integer per-mille cut, and the kept
    count; the oracle recomputes cuts and replays the md5 hash gate
    row-exactly."""
    from bookstore_aws_lakehouse_spark.operators.sampling import (
        temperature_cuts,
        temperature_source_mix,
    )

    docs = load_table(spark, sf_dir, "documents")
    # |sources| rows — pin them so the gate join and the report both read
    # this tiny frame instead of re-aggregating the corpus (two corpus
    # scans total: one for counts, one for the gate)
    cuts = temperature_cuts(docs, "source", alpha=0.7).localCheckpoint(
        eager=True
    )
    kept = (
        temperature_source_mix(
            docs, "doc_id", "source", alpha=0.7, salt="tmix", cuts=cuts
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        cuts.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_src").alias("n_orig"),
            "cut",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )

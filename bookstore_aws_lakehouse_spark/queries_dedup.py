"""Oracle-checked deduplication queries over ``documents`` — the DuckDB
twins replay the full pipelines (shingling, seeded md5 minhashing, LSH
banding, SimHash voting) so the algorithms themselves are verified, not
just row counts. Portable-hash policy: see operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.operators.dedup import (
    SIMHASH_BITS,
    containment_pairs,
    exact_duplicates,
    fingerprint_duplicates,
    jaccard_pairs,
    minhash_band_pairs,
    simhash_pairs,
    winnowed_pairs,
)
from bookstore_aws_lakehouse_spark.registry import golden

# shared SQL fragments -----------------------------------------------------

_H64 = "('0x' || substring(md5({expr}), 1, 15))::BIGINT"

_SHINGLES_CTE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest([array_to_string(t[i:i+2], ' ')
                   FOR i IN generate_series(1, len(t) - 2)]) AS shingle
    FROM toks
  )
)
"""


@golden(
    "dedup_exact",
    """
    SELECT text, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, canonical = min id."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", ["text"])


@golden(
    "dedup_fingerprint",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the normalized md5 fingerprint — shuffles 16
    bytes per doc instead of full text."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_duplicates(docs, "doc_id", "text")


def _minhash_bands_cte() -> str:
    """Shared CTE prefix (shingles → portable hashes → wide minhash
    signatures → band rows) used by both the pair query and the
    end-to-end survivors query — one builder, no string surgery."""
    from bookstore_aws_lakehouse_spark.operators.dedup import MINHASH_P, minhash_params

    mins = ",\n         ".join(
        "min((h * {a} + {b}) % {p}) AS minhash_{s}".format(
            a=minhash_params(s)[0], b=minhash_params(s)[1], p=MINHASH_P, s=s
        )
        for s in range(8)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {band} AS band, "
        "CAST(minhash_{m0} AS VARCHAR) || ',' || CAST(minhash_{m1} AS VARCHAR) AS band_key "
        "FROM wide".format(band=band, m0=2 * band, m1=2 * band + 1)
        for band in range(4)
    )
    return (
        _SHINGLES_CTE
        + f""",
hashed AS (
  SELECT doc_id, {_H64.format(expr="shingle")} % {MINHASH_P} AS h FROM sh
),
wide AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
{band_selects}
)"""
    )


_MINHASH_SQL = (
    _minhash_bands_cte()
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
GROUP BY id_a, id_b
"""
)


@golden("dedup_minhash_pairs", _MINHASH_SQL)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 universal hashes (a·h+b) mod p over one md5 per shingle)
    + LSH banding (4 bands × 2 rows): candidate near-dup pairs via
    inverted-index join on band keys. The oracle replays shingling,
    hashing, banding and the pair join with identical literals."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_band_pairs(
        docs, "doc_id", "text", num_hashes=8, band_rows=2, shingle_k=3
    )


def _jaccard_core_cte(max_df: int) -> str:
    """Shared CTE block (df counts → stop-filtered shingles → sizes →
    intersections) used by the pairs oracle AND the clusters oracle —
    one source of truth for the stop-filter and intersection logic."""
    return f"""
dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
kept AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN dfc USING (shingle)
  WHERE df <= {max_df}
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY id_a, id_b
)"""


def _jaccard_sql(max_df: int, thresh_ppt: int) -> str:
    """Jaccard-pairs oracle with the operator's default stop-shingle
    filter folded in: document-frequency counts, a df ≤ max_df keep
    filter, then sizes/intersections over the FILTERED shingle sets."""
    return (
        _SHINGLES_CTE
        + ","
        + _jaccard_core_cte(max_df)
        + f"""
SELECT id_a, id_b, n_shared,
       sa.n_shingles AS n_a, sb.n_shingles AS n_b,
       n_shared / CAST(sa.n_shingles + sb.n_shingles - n_shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared * 1000 >= {thresh_ppt} * (sa.n_shingles + sb.n_shingles - n_shared)
"""
    )


@golden("dedup_ngram_jaccard", _jaccard_sql(max_df=100, thresh_ppt=100))
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.1 via inverted-index self-join (docs sharing
    no shingle are never compared); integer cross-multiplied threshold.
    Stop-shingle filtering (df ≤ 100) is the operator default — the
    hot-key guard is on unless explicitly disabled."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.1)


def _containment_sql(max_df: int, thresh_ppt: int) -> str:
    """Directed-containment oracle over the same shared/sizes CTEs as
    the Jaccard twin: each unordered intersection row yields up to two
    directed rows (sub→super both ways), integer cross-multiplied
    threshold."""
    return (
        _SHINGLES_CTE
        + ","
        + _jaccard_core_cte(max_df)
        + f"""
SELECT id_sub, id_super, n_shared, n_sub,
       n_shared / CAST(n_sub AS DOUBLE) AS containment
FROM (
  SELECT id_a AS id_sub, id_b AS id_super, n_shared, sa.n_shingles AS n_sub
  FROM shared JOIN sizes sa ON sa.doc_id = id_a
  WHERE n_shared * 1000 >= {thresh_ppt} * sa.n_shingles
  UNION ALL
  SELECT id_b, id_a, n_shared, sb.n_shingles
  FROM shared JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared * 1000 >= {thresh_ppt} * sb.n_shingles
)
"""
    )


@golden("dedup_containment_pairs", _containment_sql(max_df=100, thresh_ppt=500))
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment ≥ 0.5 (|sub∩super| / |sub|) over the
    shingle inverted index — finds documents quoted/embedded in larger
    ones, which symmetric Jaccard misses when the container is much
    bigger. One unordered self-join; directed rows derived after."""
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5)


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT doc_id, {_H64.format(expr="token")} AS h FROM tok
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.simhash AS sig_a, b.simhash AS sig_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a, sig b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@golden("dedup_simhash_pairs", _simhash_sql())
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs (Hamming ≤ 3); per-token md5 bits vote
    ±1. The oracle recomputes every vote. 15-bit pigeonhole chunks keep
    candidate generation near-linear (VERDICT r9 #1)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


_CLUSTERS_SQL = (
    _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks")
    + ","
    + _jaccard_core_cte(max_df=100)
    + """,
pairs AS (
  SELECT id_a, id_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared * 1000 >= 100 * (sa.n_shingles + sb.n_shingles - n_shared)
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""
)


@golden("dedup_clusters", _CLUSTERS_SQL)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: Jaccard(3-gram) ≥ 0.1 pairs → connected
    components via iterative min-label propagation; every member maps to
    the min doc_id of its cluster. The oracle computes the same components
    with a recursive transitive-closure CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.1)
    from bookstore_aws_lakehouse_spark.operators.dedup import connected_components

    return connected_components(pairs.select("id_a", "id_b"))


_CAP_K = 10

_CLUSTERS_CAPPED_SQL = (
    _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks")
    + ","
    + _jaccard_core_cte(max_df=100)
    + f""",
pairs AS (
  SELECT id_a, id_b,
         n_shared / CAST(sa.n_shingles + sb.n_shingles - n_shared AS DOUBLE) AS j
  FROM shared
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared * 1000 >= 100 * (sa.n_shingles + sb.n_shingles - n_shared)
),
directed AS (
  SELECT id_a AS id, id_b AS nb, j FROM pairs
  UNION ALL
  SELECT id_b, id_a, j FROM pairs
),
ranked AS (
  SELECT id, nb,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY j DESC, nb ASC) AS r
  FROM directed
),
capped AS (
  SELECT DISTINCT least(id, nb) AS id_a, greatest(id, nb) AS id_b
  FROM ranked WHERE r <= {_CAP_K}
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM capped
  UNION ALL
  SELECT id_b, id_a FROM capped
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""
)


@golden("dedup_clusters_capped", _CLUSTERS_CAPPED_SQL)
def q_dedup_clusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-contract variant of ``dedup_clusters`` (VERDICT r11
    #3): the θ=0.1 jaccard pair set is capped to each id's top-10
    most-similar neighbors (``cap_pair_neighbors`` — rank by score DESC,
    neighbor id ASC; a pair survives if either endpoint ranks it) BEFORE
    connected components, so CC's per-iteration join volume is
    ≤ 20·|docs| edges however dense the θ-passing graph gets. The oracle
    replays the cap with the same ROW_NUMBER rule, then the same
    recursive transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.1)
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        cap_pair_neighbors,
        connected_components,
    )

    capped = cap_pair_neighbors(pairs, "id_a", "id_b", "jaccard", k=_CAP_K)
    return connected_components(capped)


@golden(
    "fuzzy_part_names",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over the distinct name dictionary —
    the entity-resolution modality. Candidates come from LENGTH-BAND
    blocking, not a cross join: edit distance ≤ 3 forces |len(a)-len(b)|
    ≤ 3, so side A explodes to its 7 admissible target lengths and
    equi-joins B on exact length — lossless blocking (the oracle is the
    unblocked all-pairs definition), and each unordered pair meets on
    exactly one length offset, so no dedup pass is needed. The dictionary
    shuffles by length (bounded key space) instead of replicating d²."""
    from pyspark.sql import functions as F

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.array(*[F.length("p_name") + F.lit(i) for i in range(-3, 4)])
        ).alias("target_len"),
    )
    b = names.select(F.col("p_name").alias("name_b"), F.length("p_name").alias("len_b"))
    return (
        a.join(b, a.target_len == b.len_b)
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_distance") <= 3)
        .select("name_a", "name_b", "edit_distance")
    )


_SURVIVORS_SQL = (
    _minhash_bands_cte().replace("WITH toks", "WITH RECURSIVE toks")
    + """, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
lab AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT d.doc_id, d.lang, d.source
FROM documents d LEFT JOIN lab USING (doc_id)
WHERE lab.cluster_id IS NULL OR lab.cluster_id = d.doc_id
"""
)


@golden("dedup_survivors", _SURVIVORS_SQL)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup pipeline a training-data run actually ships:
    MinHash+LSH candidate pairs → connected components → keep one
    canonical doc (min id) per cluster plus every unpaired doc. The
    oracle replays the whole chain — shingling, seeded minhashing,
    banding, transitive closure — in one recursive-CTE SQL statement."""
    from bookstore_aws_lakehouse_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_band_pairs(
        docs, "doc_id", "text", num_hashes=8, band_rows=2, shingle_k=3
    ).select("id_a", "id_b")
    cc = connected_components(pairs).withColumnRenamed("doc_id", "cc_id")
    from pyspark.sql import functions as F

    return (
        docs.join(cc, docs.doc_id == cc.cc_id, "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == docs.doc_id))
        .select(docs.doc_id, "lang", "source")
    )


@golden("dedup_jaccard_stopfiltered", _jaccard_sql(max_df=20, thresh_ppt=100))
def q_dedup_jaccard_stopfiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-shingle dial turned tight: df ≤ 20 (vs the default 100)
    drops every even-moderately-common shingle before the self-join —
    SCALING.md's hot-key mitigation at its aggressive end. Same operator,
    stricter max_df; Jaccard is computed over the filtered sets on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.1, max_df=20)


# --------------------------------------------------------------------------
# Incremental dedup against a bucketed fingerprint store (two-batch proof)
# --------------------------------------------------------------------------

_INCREMENTAL_SQL = r"""
WITH fp AS (
  SELECT doc_id, text,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
  FROM documents
),
a AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
b AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
canon_a AS (
  SELECT fingerprint, min(doc_id) AS doc_id
  FROM a WHERE fingerprint IS NOT NULL GROUP BY fingerprint
),
canon_b AS (
  SELECT fingerprint, min(doc_id) AS doc_id
  FROM b WHERE fingerprint IS NOT NULL GROUP BY fingerprint
),
keep_b AS (
  SELECT cb.doc_id FROM canon_b cb
  WHERE NOT EXISTS (SELECT 1 FROM canon_a ca WHERE ca.fingerprint = cb.fingerprint)
),
surv AS (
  SELECT 1 AS batch, doc_id FROM canon_a
  UNION ALL SELECT 1, doc_id FROM a WHERE fingerprint IS NULL
  UNION ALL SELECT 2, doc_id FROM keep_b
  UNION ALL SELECT 2, doc_id FROM b WHERE fingerprint IS NULL
)
SELECT CAST(s.batch AS INTEGER) AS batch, f.doc_id, f.text
FROM surv s JOIN fp f ON s.doc_id = f.doc_id
"""


@golden("dedup_incremental_bucketed", _INCREMENTAL_SQL)
def q_dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch dedup against the BUCKETED fingerprint store
    (operators/dedup.py::incremental_dedup_bucketed — the production
    daily-ingestion shape): day 1 ingests the even doc_ids (store starts
    empty → in-batch collapse only, keep min id), day 2 ingests the odd
    doc_ids and is additionally anti-joined against every fingerprint
    day 1 persisted. The store is hash-bucketed by fingerprint at write
    time so the daily anti-join never reshuffles the store side.

    Idempotent per call: the store table is dropped before and after
    (survivors are localCheckpointed inside the operator, so the result
    outlives the drop). The oracle replays both days declaratively."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.operators.dedup import incremental_dedup_bucketed

    docs = load_table(spark, sf_dir, "documents")
    table = "blhs_fp_store_twobatch"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        surv_a = incremental_dedup_bucketed(
            docs.filter(F.col("doc_id") % 2 == 0), store_table=table
        ).withColumn("batch", F.lit(1))
        surv_b = incremental_dedup_bucketed(
            docs.filter(F.col("doc_id") % 2 == 1), store_table=table
        ).withColumn("batch", F.lit(2))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    return surv_a.unionByName(surv_b).select(
        F.col("batch").cast("int").alias("batch"), "doc_id", "text"
    )


_WINNOW_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
hs AS (
  SELECT doc_id,
         [{_H64.format(expr="array_to_string(t[i:i+2], ' ')")}
          FOR i IN generate_series(1, len(t) - 2)] AS h
  FROM toks WHERE len(t) >= 3
),
fp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(h) >= 4
                  THEN [list_min(h[j:j+3]) FOR j IN generate_series(1, len(h) - 3)]
                  ELSE [list_min(h)] END) AS fp
    FROM hs WHERE len(h) >= 1
  )
),
keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100),
fpf AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fpf a JOIN fpf b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@golden("dedup_winnowed_pairs", _WINNOW_SQL)
def q_dedup_winnowed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al. 2003, the MOSS fingerprinter;
    operators/dedup.py::winnowed_pairs): positional 3-gram rolling
    hashes, min of every 4-hash window, distinct minima as the doc's
    fingerprint set — a DETERMINISTIC ~2/(w+1) subsample of the shingle
    postings that still guarantees detection of any shared run of
    ≥ window+k-1 = 6 tokens. The inverted-index self-join is therefore
    ~2.5× smaller than the full-shingle one at the same floor — the
    100 TB version of the n-gram overlap family. The oracle replays
    hashing, winnow minima, the df≤100 hot-fingerprint guard and the
    shared-count threshold value-for-value."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowed_pairs(docs, "doc_id", "text", k=3, window=4, min_shared=2)


# --- two-stage LSH → exact-Jaccard verify ----------------------------------

_VERIFY_THRESHOLD = 0.2
_VERIFY_PPM = int(round(_VERIFY_THRESHOLD * 1_000_000))

_LSH_VERIFIED_SQL = (
    _minhash_bands_cte()
    + f""",
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_shared
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, c.n_shared_bands,
       COALESCE(i.n_shared, 0) AS n_shared,
       sa.n AS n_a, sb.n AS n_b,
       COALESCE(i.n_shared, 0)
         / CAST(sa.n + sb.n - COALESCE(i.n_shared, 0) AS DOUBLE) AS jaccard,
       CASE WHEN sa.n + sb.n - COALESCE(i.n_shared, 0) > 0
            THEN (COALESCE(i.n_shared, 0) * 1000000
                  >= {_VERIFY_PPM} * (sa.n + sb.n - COALESCE(i.n_shared, 0)))
       END AS accepted
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
"""
)


@golden("dedup_lsh_verified", _LSH_VERIFIED_SQL)
def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical two-stage fuzzy-dedup pipeline: MinHash+LSH banding
    GENERATES candidate pairs (sublinear, bucketed), then exact 3-gram
    Jaccard VERIFIES each one (operators/dedup.py::verify_candidate_pairs
    — array_intersect over per-doc hashed shingle sets, cost strictly
    O(|candidates|)). Emits every candidate with its exact overlap stats
    and an ``accepted`` verdict at θ=0.2 — the precision report that
    tells a curation run how much LSH over-generates. The oracle replays
    shingling, minhashing, banding, then computes the same exact
    intersections restricted to the candidate set."""
    from bookstore_aws_lakehouse_spark.operators.dedup import (
        verify_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_band_pairs(
        docs, "doc_id", "text", num_hashes=8, band_rows=2, shingle_k=3
    )
    return verify_candidate_pairs(
        docs, cand, "doc_id", "text", shingle_k=3, threshold=_VERIFY_THRESHOLD
    )


_CROSS_SOURCE_SQL = (
    _minhash_bands_cte()
    + """,
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
lab AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi,
         c.id_a, c.id_b
  FROM cand c
  JOIN documents da ON da.doc_id = c.id_a
  JOIN documents db ON db.doc_id = c.id_b
),
ends AS (
  SELECT source_lo, source_hi, unnest([id_a, id_b]) AS doc FROM lab
)
SELECT source_lo, source_hi,
       count(*) // 2 AS n_pairs,
       count(DISTINCT doc) AS n_docs
FROM ends GROUP BY 1, 2
"""
)


@golden("dedup_cross_source_matrix", _CROSS_SOURCE_SQL)
def q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap matrix: MinHash+LSH candidate pairs aggregated by
    the UNORDERED source pair of their endpoints (operators/dedup.py::
    pair_label_matrix) — the report that finds sources plagiarizing each
    other (off-diagonal mass) vs internally duplicative ones (diagonal).
    Scale: thin (id, source) joins + one ≤|sources|² aggregation on top
    of the already-bucketed pair generator. The oracle replays the LSH
    chain and the same least/greatest cell assignment."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.operators.dedup import pair_label_matrix

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_band_pairs(
        docs, "doc_id", "text", num_hashes=8, band_rows=2, shingle_k=3
    ).select("id_a", "id_b")
    out = pair_label_matrix(cand, docs, "doc_id", "source")
    return out.select(
        F.col("label_lo").alias("source_lo"),
        F.col("label_hi").alias("source_hi"),
        "n_pairs",
        "n_docs",
    )


_TRIANGLES_SQL = (
    _SHINGLES_CTE
    + ","
    + _jaccard_core_cte(max_df=100)
    + """,
pairs AS (
  SELECT id_a, id_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared * 1000 >= 100 * (sa.n_shingles + sb.n_shingles - n_shared)
)
SELECT e1.id_a AS doc_a, e1.id_b AS doc_b, e2.id_b AS doc_c
FROM pairs e1
JOIN pairs e2 ON e2.id_a = e1.id_b
JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
"""
)


@golden("graph_similarity_triangles", _TRIANGLES_SQL)
def q_graph_similarity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the Jaccard(θ=0.1) similarity graph —
    the graph-motif operator (mutual near-dup triples are the densest
    duplication cores; triangle density per cluster separates true
    re-posts from chains of marginal overlaps). Uses the ORIENTED edge
    list (id_a < id_b, already the pair generator's convention): each
    triangle a<b<c is found exactly once via (a,b)⋈(b,c)⋈(a,c) — the
    standard distributed triangle join, two hash joins on endpoint keys
    over the bucketed pair set, never touching documents again. The
    oracle replays the pair chain and the same three-way join."""
    from bookstore_aws_lakehouse_spark.operators.graph import triangle_motifs

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.1)
    return triangle_motifs(pairs)


def _minhash_estimate_sql() -> str:
    """Estimator-calibration oracle: candidates + exact intersections
    (the _LSH_VERIFIED_SQL shapes) + the signature-agreement estimate
    straight off the shared ``wide`` CTE."""
    n_match = " + ".join(
        f"CASE WHEN wa.minhash_{s} = wb.minhash_{s} THEN 1 ELSE 0 END"
        for s in range(8)
    )
    return (
        _minhash_bands_cte()
        + f""",
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_shared
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, c.n_shared_bands,
       ({n_match}) AS n_match,
       ({n_match}) / CAST(8 AS DOUBLE) AS est_jaccard,
       COALESCE(i.n_shared, 0)
         / CAST(sa.n + sb.n - COALESCE(i.n_shared, 0) AS DOUBLE) AS jaccard,
       abs(({n_match}) / CAST(8 AS DOUBLE)
           - COALESCE(i.n_shared, 0)
             / CAST(sa.n + sb.n - COALESCE(i.n_shared, 0) AS DOUBLE)) AS abs_err
FROM cand c
JOIN wide wa ON wa.doc_id = c.id_a
JOIN wide wb ON wb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
"""
    )


@golden("dedup_minhash_estimate", _minhash_estimate_sql())
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash signature (operators/
    dedup.py::minhash_estimate_pairs): per LSH candidate, the
    8-component signature-agreement estimate next to the EXACT Jaccard
    and the absolute error — the table that says whether the banding
    parameters carry enough signal before a 100 TB run commits to them
    (E[est] = true Jaccard; with 8 components the standard error at
    j=0.5 is ~0.18, so |err| tails are expected and measurable, not a
    bug). Signature and shingle-set computation both restricted to
    candidate endpoints via semi-joins; est = n_match/8 is an exact
    binary fraction, bit-identical on both engines."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.operators.dedup import (
        minhash_estimate_pairs,
        verify_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_band_pairs(
        docs, "doc_id", "text", num_hashes=8, band_rows=2, shingle_k=3
    )
    exact = verify_candidate_pairs(
        docs, cand, "doc_id", "text", shingle_k=3, threshold=0.2
    ).select("id_a", "id_b", "n_shared_bands", "jaccard")
    est = minhash_estimate_pairs(
        docs, exact, "doc_id", "text", num_hashes=8, shingle_k=3
    )
    return est.select(
        "id_a",
        "id_b",
        "n_shared_bands",
        "n_match",
        "est_jaccard",
        "jaccard",
        F.abs(F.col("est_jaccard") - F.col("jaccard")).alias("abs_err"),
    )

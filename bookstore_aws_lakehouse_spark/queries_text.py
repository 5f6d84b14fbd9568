"""Oracle-checked text-analysis queries over ``documents`` (training-data
pipeline surface: token stats, quality features, language-ID heuristic,
fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    normalized_fingerprint,
    with_lang_guess,
    with_quality_features,
)
from bookstore_aws_lakehouse_spark.registry import golden

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


@golden(
    "text_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting — whitespace model (the BPE-ish regex variant is in
    operators/text.py::tokenize's docstring contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


@golden(
    "text_quality",
    f"""
    SELECT doc_id, n_tokens,
           (length(text) - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
           len(list_filter(toks, t -> t IN ({_SW}))) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           len(list_distinct(toks)) / CAST(n_tokens AS DOUBLE) AS distinct_ratio
    FROM (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (length / stopword / repetition signals) —
    one shuffle-free Project over the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_quality_features(docs)
    return out.select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "distinct_ratio"
    )


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({markers})))"


@golden(
    "text_langid",
    f"""
    WITH hits AS (
      SELECT doc_id, lang,
             {_lang_hits_sql("en")} AS h_en,
             {_lang_hits_sql("de")} AS h_de,
             {_lang_hits_sql("fr")} AS h_fr,
             {_lang_hits_sql("es")} AS h_es
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT doc_id, lang AS lang_label,
           CASE
             WHEN h_es > h_fr AND h_es > h_de AND h_es > h_en AND h_es > 0 THEN 'es'
             WHEN h_fr > h_de AND h_fr > h_en AND h_fr > 0 THEN 'fr'
             WHEN h_de > h_en AND h_de > 0 THEN 'de'
             WHEN h_en > 0 THEN 'en'
             ELSE 'unknown'
           END AS lang_guess
    FROM hits
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic; first-language-wins on ties in
    LANG_MARKERS order (en, de, fr, es) — the SQL CASE chain encodes the
    same argmax."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_label"), "text"
    )
    out = with_lang_guess(docs)
    return out.select("doc_id", "lang_label", "lang_guess")


@golden(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 document fingerprint (whitespace-collapsed, lowered)
    — the dedup key used by ``dedup_fingerprint``."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))


@golden(
    "text_regex_tokens",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_regex_tokens,
           len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens
    FROM documents
    """,
)
def q_text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs / other) —
    the regex alternative to whitespace tokenization; same pattern string
    evaluates identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "n_regex_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias("n_number_tokens"),
    )


@golden(
    "text_vocabulary_topk",
    """
    SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
    """,
)
def q_text_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: term frequency + document frequency, top-50 —
    the tokenize→explode→count shape every training-data pipeline runs.
    Map-side partial aggregation means the shuffle carries one row per
    (partition, token), not per token occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    agged = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    from bookstore_aws_lakehouse_spark.operators.sort import top_k

    return top_k(agged, [("freq", True)], 50, tiebreak=["token"])


QUALITY_MIN_TOKENS = 30
QUALITY_MIN_DISTINCT_RATIO = 0.35


@golden(
    "text_quality_filter",
    f"""
    SELECT doc_id, lang, n_tokens, distinct_ratio
    FROM (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
      FROM documents
    )
    WHERE n_tokens >= {QUALITY_MIN_TOKENS}
      AND distinct_ratio >= {QUALITY_MIN_DISTINCT_RATIO}
    """,
)
def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality gate: compute features, keep docs passing the
    length + repetition thresholds — the filter stage of a data-curation
    pipeline (features and predicate fuse into one codegen'd pass over
    the scan)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = with_quality_features(docs)
    return out.filter(
        (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
        & (F.col("distinct_ratio") >= QUALITY_MIN_DISTINCT_RATIO)
    ).select("doc_id", "lang", "n_tokens", "distinct_ratio")


TFIDF_TOP_N = 5


@golden(
    "text_tfidf_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rnk
      FROM scored
    ) WHERE rnk <= {TFIDF_TOP_N}
    """,
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-{TFIDF_TOP_N} terms per document: term frequency ⋈
    document frequency (broadcast — the vocabulary is small relative to
    the corpus) ⋈ corpus size, ranked per doc. Scores round to 6 dp before
    ranking so libm ulp differences between engines cannot flip an order."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # corpus size stays IN the plan (broadcast single-row cross join, the
    # q22 pattern) — an eager .count() here would launch a job every time
    # the query is merely constructed
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from bookstore_aws_lakehouse_spark.operators.windows import top_n_per_group

    return top_n_per_group(
        scored, ["doc_id"], [("tfidf", True)], TFIDF_TOP_N, tiebreak=["token"], rank_name="rnk"
    ).select("doc_id", "token", "tfidf", "rnk")


ROLL_B = 131
ROLL_M = 1_000_000_007


@golden(
    "text_rolling_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> ('0x' || substring(md5(t), 1, 7))::BIGINT)),
             (acc, x) -> (acc * {ROLL_B} + x) % {ROLL_M}
           ) AS fingerprint
    FROM documents
    """,
)
def q_text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token stream (h = h·B + tok mod M) — unlike the set-based md5
    fingerprint, token *order* changes the value, so it detects
    reorderings. Token hashes use 28 md5 bits so every fold step stays
    exactly inside BIGINT on both engines (no overflow-semantics
    divergence: Spark wraps, DuckDB errors)."""
    docs = load_table(spark, sf_dir, "documents")
    tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint")
    fingerprint = F.aggregate(
        F.split("text", " "),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * ROLL_B + tok_hash(t)) % ROLL_M,
    )
    return docs.select("doc_id", fingerprint.alias("fingerprint"))


def _embed_sql(dim: int = 16) -> str:
    comp = []
    for d in range(dim):
        comp.append(
            "CAST(CAST(list_sum([CASE WHEN h % {dim} = {d} THEN "
            "(CASE WHEN (h >> {shift}) % 2 = 0 THEN 1 ELSE -1 END) "
            "ELSE 0 END FOR h IN hs]) AS DOUBLE) / 1000.0 AS FLOAT) AS e{d}".format(dim=dim, d=d, shift=dim.bit_length() - 1)
        )
    cols = ",\n           ".join(comp)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             [('0x' || substring(md5(t), 1, 15))::BIGINT
              FOR t IN string_split(text, ' ')] AS hs
      FROM documents
    )
    SELECT doc_id,
           {cols}
    FROM toks
    """


@golden("embed_documents_stub", _embed_sql())
def q_embed_documents_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text→embedding stage (stub hash model, operators/text.py):
    verified component-by-component (flattened to scalar columns — array
    results render engine-differently). Proves the full
    curate→embed→search pipeline shape runs inside the engine."""
    from bookstore_aws_lakehouse_spark.operators.text import embed_documents_stub

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed_documents_stub(docs, dim=16)
    cols = [F.element_at("embedding", d + 1).alias(f"e{d}") for d in range(16)]
    return out.select("doc_id", *cols)


@golden(
    "text_cooccurrence_topk",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      )
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_docs
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY tok_a, tok_b
    ORDER BY n_docs DESC, tok_a, tok_b
    LIMIT 20
    """,
)
def q_text_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence: top-20 pairs by document frequency (distinct
    tokens per doc, self-joined within the doc). The join fans out
    quadratically in per-doc vocabulary, not corpus size — the pair space
    is bounded by the (small) global vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    a = toks.select("doc_id", F.col("tok").alias("tok_a"))
    b = toks.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    from bookstore_aws_lakehouse_spark.operators.sort import top_k

    return top_k(pairs, [("n_docs", True)], 20, tiebreak=["tok_a", "tok_b"])


@golden(
    "text_length_percentiles_by_lang",
    """
    SELECT lang,
           count(*) AS n_docs,
           median(n_chars) AS median_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_length_percentiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile per language: integer percentiles with the
    shared linear-interpolation formula — the length-distribution check
    that precedes any truncation/packing decision in a data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
    )


@golden(
    "text_langid_confusion",
    f"""
    WITH hits AS (
      SELECT doc_id, lang,
             {_lang_hits_sql("en")} AS h_en,
             {_lang_hits_sql("de")} AS h_de,
             {_lang_hits_sql("fr")} AS h_fr,
             {_lang_hits_sql("es")} AS h_es
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    ),
    guessed AS (
      SELECT lang AS lang_label,
             CASE
               WHEN h_es > h_fr AND h_es > h_de AND h_es > h_en AND h_es > 0 THEN 'es'
               WHEN h_fr > h_de AND h_fr > h_en AND h_fr > 0 THEN 'fr'
               WHEN h_de > h_en AND h_de > 0 THEN 'de'
               WHEN h_en > 0 THEN 'en'
               ELSE 'unknown'
             END AS lang_guess
      FROM hits
    )
    SELECT lang_label, lang_guess, count(*) AS n
    FROM guessed GROUP BY lang_label, lang_guess
    """,
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang × heuristic guess with
    counts — the accuracy report for the classifier stage of a curation
    pipeline (zh has no marker set, so it lands in 'unknown' — visible
    as its own row, exactly what the report is for)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_label"), "text"
    )
    out = with_lang_guess(docs)
    return out.groupBy("lang_label", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )


@golden(
    "text_bigram_lm_score",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    big AS (
      SELECT doc_id,
             unnest([t[i] || ' ' || t[i+1]
                     FOR i IN generate_series(1, len(t) - 1)]) AS bigram
      FROM t WHERE len(t) >= 2
    ),
    c2 AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY bigram),
    c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, count(*) AS cw1
           FROM big GROUP BY 1)
    SELECT big.doc_id, count(*) AS n_bigrams,
           round(avg(ln(c12 / cw1)), 6) AS avg_logprob
    FROM big
    JOIN c2 USING (bigram)
    JOIN c1 ON string_split(big.bigram, ' ')[1] = c1.w1
    GROUP BY big.doc_id
    """,
)
def q_text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    fluency/quality signal real curation pipelines compute with a small
    LM: avg log P(w_i | w_{i-1}) where P = c(w1 w2)/c(w1·) from the corpus
    itself.

    Scale shape (r11 rewrite; the naive per-occurrence form measured
    4.39× wall-time at 10× data):
    - Occurrences collapse to per-(doc_id, bigram) counts ``k`` FIRST —
      a map-side-combinable aggregate whose shuffle key includes doc_id,
      so Zipf-hot bigrams ("of the") spread across documents instead of
      landing on one reducer. Every downstream join moves this collapsed
      table, never the per-occurrence stream, and log P(bigram) is
      computed once per (doc, bigram) and weighted by ``k`` — identical
      math (avg over k copies of x == Σk·x/Σk), far fewer rows.
    - ``db`` and ``c2`` are PINNED with persist (stats-preserving, the
      semantic_dedup lesson — a stats-less LogicalRDD flips the score
      joins to sort-merge at 10×): db feeds the corpus counts and the
      score join; c2 feeds c1 and the score join. The per-doc result is
      eagerly materialized and the pins dropped before returning, so the
      query leaves no cache residue. Measured variants (min-of-5, sf0.1
      → 10×): unpinned restructure 2.6×, eager-localCheckpoint 2.1–2.3×,
      persist+cleanup 1.2–1.7× with the best absolute 10× time.
    - ``c1`` (unigram continuation counts) derives from ``c2`` — an
      aggregate-sized input instead of a third corpus scan — and is
      vocab-sized, so the score join BROADCASTS it: no shuffle keyed on
      raw Zipf-hot unigram strings.
    Rounded to 6 dp: ln() and the weighted sum accumulate in partition
    order (same documented tolerance as the stats aggregates). Docs with
    <2 tokens have no bigrams and drop out (no rows)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    big = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"), n.alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.col("n") - 1),
                    F.slice("t", 2, F.col("n") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bigram"),
        )
    )
    db = big.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("k")).persist()
    c2 = db.groupBy("bigram").agg(F.sum("k").alias("c12")).persist()
    c1 = (
        c2.select(F.split("bigram", " ")[0].alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("cw1"))
    )
    try:
        return (
            db.join(c2, "bigram")
            .withColumn("w1", F.split("bigram", " ")[0])
            .join(F.broadcast(c1), "w1")
            .groupBy("doc_id")
            .agg(
                F.sum("k").alias("n_bigrams"),
                F.round(
                    F.sum(F.col("k") * F.log(F.col("c12") / F.col("cw1"))) / F.sum("k"),
                    6,
                ).alias("avg_logprob"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        # try/finally: no pin leak on failed materialization.
        db.unpersist()
        c2.unpersist()


@golden(
    "text_repetition_signals",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    b AS (
      SELECT doc_id,
             list_transform(t[1:len(t) - 1], (x, i) -> x || ' ' || t[i + 1]) AS bi
      FROM t
    )
    SELECT doc_id,
           len(bi) AS n_ngrams,
           (len(bi) - len(list_distinct(bi)))
             / CAST(nullif(len(bi), 0) AS DOUBLE) AS dup_ngram_frac,
           list_max(list_transform(list_distinct(bi),
                                   d -> len(list_filter(bi, x -> x = d))))
             / CAST(nullif(len(bi), 0) AS DOUBLE) AS top_ngram_frac
    FROM b
    """,
)
def q_text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1)
    over word bigrams: fraction of duplicate n-gram slots and fraction
    taken by the single most frequent n-gram — the standard signals for
    dropping looping/boilerplate documents from a pretraining corpus.
    Pure per-row higher-order expressions (operators/text.py::
    with_repetition_signals): one shuffle-free Project, the same 100 TB
    shape as every other quality feature."""
    from bookstore_aws_lakehouse_spark.operators.text import with_repetition_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_repetition_signals(docs).select(
        "doc_id", "n_ngrams", "dup_ngram_frac", "top_ngram_frac"
    )


_RRP_BLOCK = 32


@golden(
    "text_remove_boilerplate",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, t,
             unnest(generate_series(0, CAST((n - 1) // {_RRP_BLOCK} AS INT))) AS b
      FROM d WHERE n >= 1
    ),
    h AS (
      SELECT doc_id, b,
             array_to_string(t[b * {_RRP_BLOCK} + 1 : b * {_RRP_BLOCK} + {_RRP_BLOCK}], ' ') AS chunk_str,
             md5(array_to_string(t[b * {_RRP_BLOCK} + 1 : b * {_RRP_BLOCK} + {_RRP_BLOCK}], ' ')) AS chunk_md5
      FROM c
    ),
    dfreq AS (
      SELECT chunk_md5, count(DISTINCT doc_id) AS nd FROM h GROUP BY chunk_md5
    ),
    kept AS (
      SELECT h.* FROM h JOIN dfreq USING (chunk_md5) WHERE nd <= 1
    ),
    rebuilt AS (
      SELECT doc_id,
             md5(string_agg(chunk_str, ' ' ORDER BY b)) AS clean_md5,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total FROM h GROUP BY doc_id
    )
    SELECT t.doc_id, r.clean_md5,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate REMOVAL — the rebuild stage that pairs
    with dataset_repeated_passages' detector (operators/text.py::
    remove_repeated_passages): passages appearing in more than one doc
    are dropped and each doc is reassembled from its surviving passages
    in order (clean text fingerprinted; NULL when everything was
    boilerplate). Passage df is computed once, keyed on the 16-byte
    hash; the RefinedWeb/Dolma-style template/license cleanup at corpus
    scale. The oracle replays chunking, df-filtering, and the ordered
    reassembly."""
    from bookstore_aws_lakehouse_spark.operators.text import remove_repeated_passages

    docs = load_table(spark, sf_dir, "documents")
    return remove_repeated_passages(
        docs, "doc_id", "text", block=_RRP_BLOCK, max_docs=1
    )


@golden(
    "text_nb_langid_confusion",
    """
    WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
    test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
    ttoks AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM train),
    counts AS (SELECT lang, token, count(*) AS cnt FROM ttoks GROUP BY lang, token),
    nlang AS (SELECT lang, count(*) AS n_tok FROM ttoks GROUP BY lang),
    vocab AS (SELECT count(DISTINCT token) AS v FROM ttoks),
    ndocs AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY lang),
    ntotal AS (SELECT count(*) AS n_total FROM train),
    langs AS (
      SELECT nl.lang,
             CAST(round(ln(nd.n_docs / CAST(nt.n_total AS DOUBLE)) * 1000000) AS BIGINT) AS prior_s,
             CAST(round(ln(1.0 / (nl.n_tok + vo.v)) * 1000000) AS BIGINT) AS def_s
      FROM nlang nl
      JOIN ndocs nd ON nl.lang = nd.lang
      CROSS JOIN vocab vo CROSS JOIN ntotal nt
    ),
    model AS (
      SELECT c.lang, c.token,
             CAST(round(ln((c.cnt + 1.0) / (nl.n_tok + vo.v)) * 1000000) AS BIGINT) AS ll_s
      FROM counts c JOIN nlang nl ON c.lang = nl.lang CROSS JOIN vocab vo
    ),
    stoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM test),
    cand AS (SELECT s.doc_id, s.token, l.lang, l.def_s FROM stoks s CROSS JOIN langs l),
    scored AS (
      SELECT c.doc_id, c.lang, coalesce(m.ll_s, c.def_s) AS ll_s
      FROM cand c LEFT JOIN model m ON m.lang = c.lang AND m.token = c.token
    ),
    doc_scores AS (
      SELECT sc.doc_id, sc.lang, l.prior_s + sum(sc.ll_s) AS score
      FROM scored sc JOIN langs l ON sc.lang = l.lang
      GROUP BY sc.doc_id, sc.lang, l.prior_s
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
        FROM doc_scores
      ) WHERE rn = 1
    )
    SELECT t.lang AS true_lang, p.pred_lang, count(*) AS n_docs
    FROM test t JOIN pred p USING (doc_id)
    GROUP BY true_lang, pred_lang
    """,
)
def q_text_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes language classifier TRAINED ON THE CLUSTER (operators/
    classify.py::nb_train/nb_score) — the supervised upgrade of the
    marker-token heuristic (text_langid_confusion): train multinomial NB
    with add-1 smoothing on 4/5 of the corpus (labels = the fixture's
    lang column), score the held-out fifth, and emit the confusion matrix
    against the true labels. Training is two bounded map-side-combinable
    groupBys (the model IS a DataFrame); scoring is one (label, token)
    left join + an integer score sum per doc — no gradient loop, no
    driver-side state, every step built-in JVM expressions. Cross-engine
    determinism via micro-log integer scores (round(ln·1e6) — exact sums,
    order-free; ties break label-ascending). The oracle replays the whole
    train→score→argmax chain as CTEs."""
    from bookstore_aws_lakehouse_spark.operators.classify import nb_score, nb_train

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.pmod("doc_id", F.lit(5)) != 0)
    test = docs.where(F.pmod("doc_id", F.lit(5)) == 0)
    model, labels = nb_train(train, text_col="text", label_col="lang")
    pred = nb_score(test, model, labels, text_col="text", id_col="doc_id")
    return (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred.select("doc_id", F.col("pred_label").alias("pred_lang")), "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# PII redaction (operators/text.py::redact_pii) — the fixture corpus is
# PII-free word salad, so both engines plant the SAME deterministic PII
# suffix on every doc_id % 5 == 0 before redacting: the patterns are
# exercised on non-trivial counts and the whole replace+count chain is
# value-verified, not just 0 == 0.
_PII_PLANT_SQL = """
WITH p1 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@example.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
                   || ' tel 555-123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
p2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' ssn ' || CAST(100 + doc_id % 900 AS VARCHAR)
                   || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                   || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                   || ' iban DE' || lpad(CAST(10 + doc_id % 90 AS VARCHAR), 2, '0')
                   || '370400440532' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              ELSE text END AS text
  FROM p1
),
planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0
              THEN text || ' card 4' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-1111-2222-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              ELSE text END AS text
  FROM p2
)
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IBAN = r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"
_PII_CARD = r"\b(4\d{3}|5[1-5]\d{2})[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def _pii_planted(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.col("text")
    t = F.when(
        d % 5 == 0,
        F.concat(
            t,
            F.lit(" contact u"), d.cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (d % 250).cast("string"),
            F.lit(" tel 555-123-"),
            (F.lit(1000) + d % 9000).cast("string"),
        ),
    ).otherwise(t)
    t = F.when(
        d % 7 == 0,
        F.concat(
            t,
            F.lit(" ssn "), (F.lit(100) + d % 900).cast("string"),
            F.lit("-"), F.lpad((d % 100).cast("string"), 2, "0"),
            F.lit("-"), (F.lit(1000) + d % 9000).cast("string"),
            F.lit(" iban DE"), F.lpad((F.lit(10) + d % 90).cast("string"), 2, "0"),
            F.lit("370400440532"), F.lpad((d % 1000).cast("string"), 3, "0"),
        ),
    ).otherwise(t)
    t = F.when(
        d % 11 == 0,
        F.concat(
            t,
            F.lit(" card 4"), F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-1111-2222-"), (F.lit(1000) + d % 9000).cast("string"),
        ),
    ).otherwise(t)
    return docs.withColumn("text", t)


@golden(
    "text_pii_redact",
    _PII_PLANT_SQL
    + f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '[EMAIL]', 'g'),
           '{_PII_IBAN}', '[IBAN]', 'g'),
           '{_PII_CARD}', '[CARD]', 'g'),
           '{_PII_SSN}', '[SSN]', 'g'),
           '{_PII_IPV4}', '[IP]', 'g'),
           '{_PII_PHONE}', '[PHONE]', 'g') AS text_redacted,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII_IBAN}')) AS INT) AS n_iban,
       CAST(len(regexp_extract_all(text, '{_PII_CARD}')) AS INT) AS n_credit_card,
       CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS INT) AS n_ssn,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phone
FROM planted
""",
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.py::redact_pii): emails / IPv4 /
    phone numbers replaced with typed placeholders, per-type counts on
    the original text. Pure JVM regexp expressions in whole-stage
    codegen — map-side, shuffle-free, UDF-free; at 100 TB a scan-
    bandwidth pass that fuses with the surrounding projection. Patterns
    are ANSI-conservative (no lookaround/backreferences) so Java regex
    and RE2 agree on every boundary; the oracle replays plant → redact →
    count value-for-value, including the redacted strings."""
    from bookstore_aws_lakehouse_spark.operators.text import redact_pii

    return redact_pii(_pii_planted(spark, sf_dir), "text").select(
        "doc_id", "text_redacted", "n_email", "n_iban", "n_credit_card",
        "n_ssn", "n_ipv4", "n_phone",
    )


@golden(
    "text_pii_rate_by_source",
    _PII_PLANT_SQL
    + f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '{_PII_EMAIL}'))) AS BIGINT) AS n_email,
       CAST(sum(len(regexp_extract_all(text, '{_PII_IBAN}'))) AS BIGINT) AS n_iban,
       CAST(sum(len(regexp_extract_all(text, '{_PII_CARD}'))) AS BIGINT) AS n_credit_card,
       CAST(sum(len(regexp_extract_all(text, '{_PII_SSN}'))) AS BIGINT) AS n_ssn,
       CAST(sum(len(regexp_extract_all(text, '{_PII_IPV4}'))) AS BIGINT) AS n_ipv4,
       CAST(sum(len(regexp_extract_all(text, '{_PII_PHONE}'))) AS BIGINT) AS n_phone,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '{_PII_EMAIL}'))
                       + len(regexp_extract_all(text, '{_PII_IBAN}'))
                       + len(regexp_extract_all(text, '{_PII_CARD}'))
                       + len(regexp_extract_all(text, '{_PII_SSN}'))
                       + len(regexp_extract_all(text, '{_PII_IPV4}'))
                       + len(regexp_extract_all(text, '{_PII_PHONE}')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
FROM planted
GROUP BY source
""",
)
def q_text_pii_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation dashboard over the redaction pass: per-source PII volume
    and document hit-rate — the audit table a production scrub job
    publishes. Map-side regexp counts + one small keyed aggregation; the
    redacted text itself is never shuffled."""
    from bookstore_aws_lakehouse_spark.operators.text import redact_pii

    red = redact_pii(_pii_planted(spark, sf_dir), "text")
    kinds = ["n_email", "n_iban", "n_credit_card", "n_ssn", "n_ipv4", "n_phone"]
    total = None
    for k in kinds:
        total = F.col(k) if total is None else total + F.col(k)
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(k).cast("bigint").alias(k) for k in kinds],
        F.sum((total > 0).cast("int")).cast("bigint").alias("n_docs_with_pii"),
    )


def _bpe_step_cte(k: int) -> str:
    """One unrolled BPE training step: pair counts over s{k-1}, the
    lexicographic-tie-broken argmax m{k}, then the greedy leftmost merge
    application (gaps-and-islands run parity — see operators/text.py::
    bpe_train_merges) producing the renumbered stream s{k}."""
    prev = f"s{k - 1}"
    return f"""
p{k} AS (
  SELECT l, r, count(*) AS c FROM (
    SELECT tok AS l, lead(tok) OVER (PARTITION BY doc ORDER BY pos) AS r
    FROM {prev}
  ) WHERE r IS NOT NULL GROUP BY l, r
),
m{k} AS MATERIALIZED (SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
a{k} AS (
  SELECT doc, pos, tok,
         COALESCE(tok = (SELECT l FROM m{k})
                  AND lead(tok) OVER wd = (SELECT r FROM m{k}), false) AS m
  FROM {prev} WINDOW wd AS (PARTITION BY doc ORDER BY pos)
),
b{k} AS (
  SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END) OVER wd AS mrn
  FROM a{k} WINDOW wd AS (PARTITION BY doc ORDER BY pos)
),
c{k} AS (SELECT *, CASE WHEN m THEN pos - mrn END AS grp FROM b{k}),
d{k} AS (
  SELECT *, m AND ((mrn - MIN(mrn) OVER (PARTITION BY doc, grp)) % 2 = 0) AS keep
  FROM c{k}
),
e{k} AS (
  SELECT *, COALESCE(LAG(keep) OVER wd, false) AS consumed
  FROM d{k} WINDOW wd AS (PARTITION BY doc ORDER BY pos)
),
s{k} AS MATERIALIZED (
  SELECT doc, ROW_NUMBER() OVER (PARTITION BY doc ORDER BY pos) AS pos,
         CASE WHEN keep THEN (SELECT l FROM m{k}) || ' ' || (SELECT r FROM m{k})
              ELSE tok END AS tok
  FROM e{k} WHERE NOT consumed
)"""


def _bpe_sql(steps: int) -> str:
    ctes = ",".join(_bpe_step_cte(k) for k in range(1, steps + 1))
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, l AS lhs, r AS rhs, "
        f"l || ' ' || r AS merged, CAST(c AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, steps + 1)
    )
    return (
        """
WITH t0 AS (SELECT doc_id AS doc, string_split(text, ' ') AS t FROM documents),
s0 AS MATERIALIZED (
  SELECT doc, r.p AS pos, r.tok AS tok FROM (
    SELECT doc, unnest([{'p': i, 'tok': t[i]}
                        FOR i IN generate_series(1, len(t))]) AS r
    FROM t0)
),"""
        + ctes
        + "\n"
        + finals
    )


@golden("text_bpe_merges", _bpe_sql(steps=3))
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style merge training (operators/text.py::bpe_train_merges):
    three corpus-wide merge steps at word level — count adjacent symbol
    pairs, take the (count DESC, lhs, rhs) argmax, apply it greedily
    left-to-right as pure window logic over the exploded token stream,
    recount. The tokenizer-construction primitive; every value is an
    integer count or a string, so parity is exact by construction. The
    oracle unrolls all three steps — pair counts, argmax, run-parity
    merge application, renumbering — as one CTE chain."""
    from bookstore_aws_lakehouse_spark.operators.text import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, "doc_id", "text", steps=3)


def _bpe_compression_sql(steps: int) -> str:
    ctes = ",".join(_bpe_step_cte(k) for k in range(1, steps + 1))
    aps = "".join(
        f",\nap{k} AS (SELECT count(*) AS c FROM d{k} WHERE keep)"
        for k in range(1, steps + 1)
    )
    finals = []
    before = "(SELECT c FROM tc)"
    for k in range(1, steps + 1):
        ap = f"(SELECT c FROM ap{k})"
        finals.append(
            f"SELECT CAST({k} AS BIGINT) AS step, l AS lhs, r AS rhs, "
            f"CAST(c AS BIGINT) AS pair_count, "
            f"{before} AS tokens_before, {ap} AS applied, "
            f"{before} - {ap} AS tokens_after FROM m{k}"
        )
        before = f"{before} - {ap}"
    return (
        """
WITH t0 AS (SELECT doc_id AS doc, string_split(text, ' ') AS t FROM documents),
s0 AS MATERIALIZED (
  SELECT doc, r.p AS pos, r.tok AS tok FROM (
    SELECT doc, unnest([{'p': i, 'tok': t[i]}
                        FOR i IN generate_series(1, len(t))]) AS r
    FROM t0)
),"""
        + ctes
        + ",\ntc AS (SELECT count(*) AS c FROM s0)"
        + aps
        + "\n"
        + "\nUNION ALL ".join(finals)
    )


@golden("text_bpe_compression", _bpe_compression_sql(steps=3))
def q_text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE compression curve: per merge step, the corpus symbol
    count before, the merges actually APPLIED (≤ pair_count — greedy
    application can't merge overlapping occurrences), and the count
    after (= before − applied, each merge removing exactly one symbol).
    The number a tokenizer build reads to decide when more merges stop
    paying. Same one-driver-row-per-step chain as text_bpe_merges plus
    one kept-count aggregate per step; all-integer, exact parity."""
    from bookstore_aws_lakehouse_spark.operators.text import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    out = bpe_train_merges(docs, "doc_id", "text", steps=3, with_stats=True)
    return out.select(
        "step", "lhs", "rhs", "pair_count",
        "tokens_before", "applied", "tokens_after",
    )

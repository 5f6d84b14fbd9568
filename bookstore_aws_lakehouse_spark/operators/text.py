"""Text-analysis operators for training-data pipelines (extension surface;
no reference counterpart — SURVEY §7.2 phase 4).

Everything here is built-in column expressions (split / filter / transform /
aggregate higher-order functions) — no Python UDFs, so a 100 TB documents
table never leaves the JVM. Token model: whitespace-delimited, as produced
by the fixture corpus; swap ``tokenize`` for a regex variant for real text.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tokens treated as stopwords by the quality scorer (fixture-corpus tuned)
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "in")

#: marker tokens per language for the n-gram-free language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def chunk_sliding_windows(
    df,
    id_col: str,
    text_col: str,
    window: int = 128,
    stride: int = 64,
):
    """Overlapping context-window chunking for pretraining: each doc's
    token stream yields windows of ``window`` tokens starting every
    ``stride`` tokens (stride < window → overlap; the trailing window is
    shorter). One explode per doc — map-side fan-out, no shuffle, no
    driver involvement; chunk identity is the md5 of the re-joined token
    slice so an engine-portable oracle can verify every chunk's exact
    content."""
    e = (
        df.select(F.col(id_col), tokenize(text_col).alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") >= 1)
    )
    e = e.select(
        F.col(id_col),
        "_toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.col("_n") - 1) / F.lit(stride)).cast("int"),
            )
        ).alias("chunk_no"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_no") * stride + 1, window)
    return e.select(
        F.col(id_col),
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def stopword_count(col: Column | str, stopwords: Sequence[str] = STOPWORDS) -> Column:
    toks = tokenize(col)
    return F.size(F.filter(toks, lambda t: t.isin(list(stopwords))))


def with_quality_features(
    df: DataFrame, text_col: str = "text", stopwords: Sequence[str] = STOPWORDS
) -> DataFrame:
    """Quality-scoring features: token count, mean token length, stopword
    ratio, distinct-token ratio (repetition detector). All derivable from
    one map stage — no shuffle, fully codegen'd. The token array and its
    size are materialized once (expression references inline — unstaged,
    every feature re-tokenized the document; the r10 winnowing lesson)."""
    staged = df.withColumn("_toks", tokenize(text_col)).withColumn(
        "_n", F.size("_toks")
    )
    n = F.col("_n")
    return staged.withColumns(
        {
            "n_tokens": n,
            # tokens are single-space separated: chars = len - (n-1) spaces
            "mean_token_len": (F.length(text_col) - (n - 1)) / n,
            "stopword_ratio": stopword_count(text_col, stopwords) / n,
            "distinct_ratio": F.size(F.array_distinct(F.col("_toks"))) / n,
        }
    ).drop("_toks", "_n")


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Word n-grams as an array<string> ('a b', 'b c', ...) — built with
    zip_with over shifted slices, entirely JVM-side. Documents with fewer
    than ``n`` tokens yield an empty array."""
    toks = tokenize(col)
    sz = F.size(toks)
    out = F.slice(toks, 1, F.greatest(sz - (n - 1), F.lit(0)))
    for k in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, k + 1, F.greatest(sz - (n - 1), F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return out


def with_repetition_signals(
    df: DataFrame, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style intra-document repetition signals over word n-grams
    (Rae et al. 2021 §A1.1: 'fraction of duplicate n-grams' and 'fraction
    covered by the most frequent n-gram' — standard pretraining quality
    filters): ``dup_ngram_frac`` = share of n-gram slots that repeat an
    earlier occurrence, ``top_ngram_frac`` = share taken by the single
    most frequent n-gram. Both NULL for docs with no n-gram (< n tokens).

    Per-row higher-order expressions only — the top-frequency scan is
    O(distinct × total) per DOCUMENT (bounded by doc length, independent
    of corpus size), and nothing shuffles: at 100 TB this is one map
    stage like every other quality feature.

    The n-gram array is MATERIALIZED as a column before the scan:
    expression trees inline every reference, so `filter(grams, ...)`
    inside the per-distinct lambda would otherwise re-tokenize and
    re-zip the document for every distinct n-gram — same asymptotics,
    a needless ~3× constant (the r10 winnowing lesson)."""
    staged = df.withColumn("_grams", word_ngrams(text_col, n))
    grams = F.col("_grams")
    total = F.size(grams)
    distinct = F.array_distinct(grams)
    top = F.array_max(
        F.transform(
            distinct, lambda d: F.size(F.filter(grams, lambda x: x == d))
        )
    )
    safe_total = F.nullif(total.cast("double"), F.lit(0.0))
    return staged.withColumns(
        {
            "n_ngrams": total,
            "dup_ngram_frac": (total - F.size(distinct)) / safe_total,
            "top_ngram_frac": top / safe_total,
        }
    ).drop("_grams")


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count marker-token hits per language, take the
    argmax (deterministic tie order = LANG_MARKERS insertion order), fall
    back to 'unknown' when nothing matches. Tokenizes once into a staged
    column — per-language filters over an inlined split would re-tokenize
    the document |languages| times (the r10 winnowing lesson)."""
    toks = F.col("_lang_toks")
    out = df.withColumn("_lang_toks", tokenize(text_col))
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(
            f"_hits_{lang}", F.size(F.filter(toks, lambda t: t.isin(list(markers))))
        )
    # argmax via one greatest() + a FLAT first-match chain: the old
    # fold-style CASE chain embedded the previous `best` twice per
    # language — O(2^|langs|) expression-tree growth that would stall
    # codegen on a realistic marker table. First-match keeps the same
    # insertion-order tie semantics.
    best = F.greatest(*[F.col(f"_hits_{lang}") for lang in LANG_MARKERS])
    guess = F.lit("unknown")
    for lang in reversed(LANG_MARKERS):
        guess = F.when(
            (best > 0) & (F.col(f"_hits_{lang}") == best), F.lit(lang)
        ).otherwise(guess)
    return out.withColumn("lang_guess", guess).drop(
        "_lang_toks", *[f"_hits_{lang}" for lang in LANG_MARKERS]
    )


def normalized_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed, trimmed, lowercased
    text — the canonical key for near-exact dedup (case/spacing-insensitive)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


EMBED_DIM_DEFAULT = 16
EMBED_SCALE = 1000.0


def embed_documents_stub(
    df: DataFrame, text_col: str = "text", dim: int = EMBED_DIM_DEFAULT
) -> DataFrame:
    """Text → embedding stage (STUB model): a deterministic bag-of-words
    hash embedding — each token adds ±1/scale to the dimension its md5
    selects, sign from the next hash bit. A real model swaps in behind the
    same signature (mapInPandas + GPU batch inference); every downstream
    consumer (ANN, near-dup, quantization) is exercised unchanged.

    Engine-portable by construction (md5 + integer ops + left-to-right
    fold), so even the stub embedding is oracle-verifiable. One Project,
    no shuffle, no Python.
    """
    from bookstore_aws_lakehouse_spark.operators.dedup import md5_hash64

    if dim & (dim - 1) != 0:
        raise ValueError("dim must be a power of two (sign bit is h >> log2(dim))")
    shift = dim.bit_length() - 1
    # hash each token ONCE into a MATERIALIZED column, then fold the
    # precomputed hashes per dimension. Both halves matter: the inlined
    # per-dimension alternative evaluates md5+conv 2·dim times per token
    # (32× at dim=16) and builds a giant codegen tree; and because
    # expression trees inline every REFERENCE, using the transform
    # expression directly in the `dim` aggregates below would re-hash all
    # tokens once per dimension anyway (the r10 winnowing lesson) — the
    # projection is what makes "hash once" actually true.
    staged = df.withColumn(
        "_toks_h", F.transform(tokenize(text_col), lambda t: md5_hash64(t))
    )
    toks_h = F.col("_toks_h")
    components = []
    for d in range(dim):
        # Σ over tokens hashing to dimension d: sign = the next hash bit
        # (exact integer bit ops — no float division in the hash path)
        contrib = F.aggregate(
            toks_h,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(
                h % dim == d,
                F.when(F.shiftright(h, shift) % 2 == 0, 1).otherwise(-1),
            ).otherwise(0),
        )
        components.append((contrib / EMBED_SCALE).cast("float"))
    return staged.withColumn("embedding", F.array(*components)).drop("_toks_h")


def remove_repeated_passages(
    df,
    id_col: str,
    text_col: str,
    block: int = 32,
    max_docs: int = 1,
):
    """Cross-document boilerplate REMOVAL (the rebuild op that pairs with
    the repeated-passage detector): split each doc into non-overlapping
    ``block``-token passages, compute each passage's corpus document
    frequency, drop passages appearing in more than ``max_docs`` docs
    (templates/headers/licenses), and reassemble the surviving passages
    in order. Returns ``(id, clean_md5, n_kept, n_removed)`` — clean_md5
    is NULL when every passage was boilerplate.

    Scale shape: map-side explode → one aggregation keyed on passage
    hash (the df table) → hash-keyed join back → per-doc rebuild agg.
    The join is on the 16-byte hash, never on text; nothing is ever
    all-pairs. The RefinedWeb/Dolma-style cleanup stage."""
    toks = tokenize(text_col)
    e = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") >= 1)
        .select(
            id_col,
            "_toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.col("_n") - 1) / F.lit(block)).cast("int"),
                )
            ).alias("_b"),
        )
    )
    chunk = F.array_join(
        F.slice(F.col("_toks"), F.col("_b") * block + 1, block), " "
    )
    # two-step select so the block join+slice runs once per row — md5
    # hashes the BOUND column, not a second inlined copy of the slice
    chunks = e.select(
        F.col(id_col),
        F.col("_b").cast("int").alias("_b"),
        chunk.alias("_chunk"),
    ).select(
        id_col, "_b", "_chunk", F.md5(F.col("_chunk")).alias("_chunk_md5")
    )
    dfreq = chunks.groupBy("_chunk_md5").agg(
        F.count_distinct(id_col).alias("_nd")
    )
    # one rebuild pass over ALL chunks (kept + boilerplate): collect_list
    # skips the NULLed boilerplate structs, so the kept-passage reassembly,
    # n_kept, and n_total come out of a single aggregation — no separate
    # totals scan + re-join (two aggregations total in the plan, counting
    # the dfreq one above).
    keep = F.col("_nd") <= max_docs
    return (
        chunks.join(dfreq, "_chunk_md5")
        .groupBy(id_col)
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.when(keep, F.struct("_b", "_chunk")))
                        ),
                        lambda s: s["_chunk"],
                    ),
                    " ",
                )
            ).alias("_md5_kept"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.count(F.lit(1)).cast("bigint").alias("_n_total"),
        )
        .select(
            id_col,
            # every passage boilerplate -> NULL, never md5("")
            F.when(F.col("n_kept") > 0, F.col("_md5_kept")).alias("clean_md5"),
            "n_kept",
            (F.col("_n_total") - F.col("n_kept")).cast("bigint").alias("n_removed"),
        )
    )


#: PII pattern registry for ``redact_pii`` — deliberately ANSI-regex
#: conservative (character classes, bounded quantifiers, \b, \d; no
#: lookaround or backreferences) so Java regex (Spark) and RE2 (DuckDB,
#: the oracle engine) agree on every match boundary.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    # IBAN: 2-letter country + 2 check digits + 11-30 alphanumerics (the
    # real length envelope across countries); runs before the digit
    # patterns so its digit tail can't be half-eaten by one of them
    "iban": (r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b", "[IBAN]"),
    # Luhn-shaped card numbers: network-prefix anchored (Visa 4xxx,
    # Mastercard 51-55) 16-digit groups with optional -/space joiners —
    # prefix-anchoring keeps arbitrary 16-digit runs (ids, hashes) out.
    # No backreference on the joiner (RE2, the oracle engine, has none);
    # mixed joiners over-match at worst, never under-redact.
    "credit_card": (
        r"\b(4\d{3}|5[1-5]\d{2})[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b",
        "[CARD]",
    ),
    # 3-2-4 SSN shape — disjoint from the 3-3-4 phone shape by the
    # group widths, so neither can match inside the other's plant
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    "ipv4": (r"\b(\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
):
    """PII redaction for training-data curation: replace emails, IPv4
    addresses and phone numbers with typed placeholder tokens, and count
    each type (counted on the ORIGINAL text, so overlap between patterns
    is attributed to every type that matched — the auditable convention).

    Adds ``<text_col>_redacted`` plus one ``n_<name>`` column per
    pattern. Everything is a JVM regexp expression (regexp_replace /
    regexp_count) inside whole-stage codegen: map-side only, no shuffle,
    no UDF — at 100 TB this is a pure scan-bandwidth pass that fuses
    with whatever filter/projection surrounds it. Patterns are applied
    in registry order (email before ipv4 so an address embedded in an
    email is redacted as part of the email, matching the count rule's
    original-text convention)."""
    pats = PII_PATTERNS if patterns is None else patterns
    redacted = F.col(text_col)
    for pat, token in pats.values():
        redacted = F.regexp_replace(redacted, pat, token)
    out = df.withColumn(f"{text_col}_redacted", redacted)
    for name, (pat, _) in pats.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
    return out


def bpe_train_merges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    steps: int = 3,
    with_stats: bool = False,
) -> DataFrame:
    """Byte-pair-encoding-style merge training over the token stream —
    the tokenizer-construction primitive (Sennrich et al. 2016, applied
    at word level: symbols start as whitespace tokens and merged symbols
    join with a single space). Per step: count all adjacent symbol
    pairs corpus-wide, pick the most frequent (ties → lexicographic
    (lhs, rhs), so the argmax is total and both engines agree), apply
    the merge greedily LEFT-TO-RIGHT to every document, recount.
    Returns the merge table (step, lhs, rhs, merged, pair_count) — the
    artifact a tokenizer ships.

    Distributed shape: documents live EXPLODED as (doc, pos, tok) rows
    between steps — the greedy merge is pure window logic (lead/lag +
    gaps-and-islands run parity for overlapping same-symbol runs, e.g.
    pair (a,a) on "a a a a" merges positions 1 and 3), never a
    per-document Python loop. Each step is one pair-count aggregation
    plus one window chain over the same doc-hash partitioning; the
    driver reads exactly ONE row per step (the argmax — it must become
    a literal in the next step's predicate; same bounded-collect
    contract as kmeans centroids). Every value is an integer count or
    a string — no floats anywhere, so cross-engine parity is exact by
    construction.

    Determinism of the greedy application: matched positions that
    overlap require lhs == rhs (runs of one repeated symbol); within
    each maximal run of consecutive matches, greedy keeps every other
    match starting at the run head — implemented as run-grouping
    (grp = pos − running-match-count) + parity of the in-run rank.
    A position consumed by the previous kept merge is dropped; the
    stream is re-numbered per doc afterwards.

    ``with_stats=True`` adds the compression curve: ``tokens_before``,
    ``applied`` (merges actually performed — ≤ pair_count because
    overlapping occurrences can't all merge), and ``tokens_after``
    (= tokens_before − applied: every applied merge removes exactly one
    symbol; kept matches are never themselves consumed since run parity
    forbids adjacent keeps). One corpus-stream count up front plus one
    kept-count aggregate per step; later steps derive their
    tokens_before from the previous tokens_after."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    w = Window.partitionBy("doc").orderBy("pos")
    s = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(text_col)).alias("pos", "tok"),
    )
    pins = [s.persist()]
    merges: list = []
    tokens_before = s.count() if with_stats else None
    try:
        for step in range(1, steps + 1):
            pairs = (
                s.withColumn("_r", F.lead("tok").over(w))
                .filter(F.col("_r").isNotNull())
                .groupBy(F.col("tok").alias("l"), F.col("_r").alias("r"))
                .agg(F.count(F.lit(1)).alias("c"))
            )
            top = pairs.orderBy(F.desc("c"), "l", "r").limit(1).collect()
            if not top:
                break
            lhs, rhs, cnt = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merged = f"{lhs} {rhs}"
            row = (step, lhs, rhs, merged, cnt)
            if step == steps and not with_stats:
                merges.append(row)
                break
            marked = (
                s.withColumn("_r", F.lead("tok").over(w))
                .withColumn(
                    "_m",
                    F.coalesce(
                        (F.col("tok") == F.lit(lhs))
                        & (F.col("_r") == F.lit(rhs)),
                        F.lit(False),
                    ),
                )
                .withColumn(
                    "_mrn",
                    F.sum(F.when(F.col("_m"), 1).otherwise(0)).over(w),
                )
                .withColumn(
                    "_grp", F.when(F.col("_m"), F.col("pos") - F.col("_mrn"))
                )
            )
            wg = Window.partitionBy("doc", "_grp")
            marked = (
                marked.withColumn(
                    "_keep",
                    F.col("_m")
                    & (
                        (F.col("_mrn") - F.min("_mrn").over(wg)) % 2 == 0
                    ),
                )
                .withColumn(
                    "_consumed",
                    F.coalesce(F.lag("_keep").over(w), F.lit(False)),
                )
            )
            if with_stats:
                applied = marked.filter(F.col("_keep")).count()
                row = row + (tokens_before, applied, tokens_before - applied)
                tokens_before = tokens_before - applied
            merges.append(row)
            if step == steps:
                break
            s = (
                marked.filter(~F.col("_consumed"))
                .select(
                    "doc",
                    F.row_number().over(w).alias("pos"),
                    F.when(F.col("_keep"), F.lit(merged))
                    .otherwise(F.col("tok"))
                    .alias("tok"),
                )
            )
            pins.append(s.persist())
        schema = "step bigint, lhs string, rhs string, merged string, pair_count bigint"
        if with_stats:
            schema += ", tokens_before bigint, applied bigint, tokens_after bigint"
        return spark.createDataFrame(merges, schema)
    finally:
        for p in pins:
            p.unpersist()

"""Deduplication operators for training-data pipelines (extension surface;
SURVEY §7.2 phase 4): exact, fingerprint, MinHash+LSH banding, n-gram
Jaccard, SimHash.

Scale notes — these are the shapes that survive 100 TB:
- every method reduces to *shuffle-by-key on a short hash*, never a cross
  join: exact/fingerprint shuffle one md5 per doc; MinHash/SimHash shuffle
  one signature row per (doc, band); Jaccard candidates come from an
  inverted-index self-join on shingles (docs sharing no shingle never meet).
- hashes are md5-derived (first 60 bits), seeded by concatenation — chosen
  over xxhash/murmur because md5 is bit-identical in every engine, so the
  DuckDB oracle can replay the exact pipeline.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.operators.text import normalized_fingerprint, tokenize

_log = logging.getLogger(__name__)


def _cap_saturated_buckets(
    ch: DataFrame,
    bucket_cols: list[str],
    max_bucket: int | None,
    what: str,
) -> DataFrame:
    """Bound worst-case candidate volume in an inverted-index self-join
    *by design*, not by data luck (VERDICT r9 #1): a bucket holding b rows
    yields Θ(b²) candidate pairs, so one saturated bucket — a hot band
    key, a degenerate signature chunk — dominates the whole job at scale.

    ``ch`` must already carry a ``subkey`` column: a few signature bits
    drawn from OUTSIDE the bucket's own key. Buckets with more than
    ``max_bucket`` rows get ``subkey`` appended to their join key
    (returned as ``gkey``), splitting one Θ(b²) bucket into up to 256
    sub-buckets; unsaturated buckets get ``gkey = 0`` so the common case
    adds a constant to the shuffle key and nothing to its cardinality.

    Recall contract (documented, bounded, observable): rows with
    IDENTICAL signatures share every subkey, so exact-duplicate pairs are
    never lost. A near-dup pair can be missed only if its ONLY agreeing
    bucket is saturated AND the pair differs inside the subkey bits —
    and every such event is flagged by the warning below. Cost: one
    map-side-combinable aggregate over (bucket key) pairs plus one small
    driver count; the saturated set is broadcast (≤ n_rows/max_bucket
    entries by construction), so ``ch`` itself is never reshuffled.

    The index is PINNED here (eager localCheckpoint): it feeds THREE
    consumers — the size aggregate and both self-join sides — and
    unpinned, the whole tokenize→hash→signature pipeline re-executes per
    consumer (measured +59% on the simhash row when the cap first
    landed). One materialization, three scans; blocks are executor-local
    and ContextCleaner-freed with the result. Pinned-index bytes are
    ~40 B × n_chunks × corpus rows — linear, and strictly cheaper than a
    second signature pass at any scale.
    """
    if max_bucket is None:
        return ch.withColumn("gkey", F.lit(0))
    ch = ch.localCheckpoint(eager=True)
    sizes = ch.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_bsize"))
    sat = sizes.filter(F.col("_bsize") > max_bucket).select(*bucket_cols)
    n_sat = sat.count()  # bounded: aggregate output is one row per bucket
    if not n_sat:
        return ch.withColumn("gkey", F.lit(0))
    _log.warning(
        "%s: %d bucket(s) exceed max_bucket=%d — splitting on subkey bits; "
        "near-dup pairs whose only agreeing bucket is saturated may be "
        "missed (exact duplicates never are)",
        what,
        n_sat,
        max_bucket,
    )
    return (
        ch.join(
            F.broadcast(sat.withColumn("_sat", F.lit(True))), bucket_cols, "left"
        )
        .withColumn(
            "gkey",
            F.when(F.col("_sat").isNotNull(), F.col("subkey")).otherwise(F.lit(0)),
        )
        .drop("_sat")
    )


def md5_hash64(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — the engine-portable
    hash primitive (same value in Spark, DuckDB, anything with md5)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_duplicates(df: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """Exact dedup via hash-groupBy on the content columns: one row per
    distinct content with the canonical (min) id and the duplicate count."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies")
    )


def fingerprint_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-exact dedup on the normalized md5 fingerprint (case/whitespace
    insensitive). Shuffles 16 bytes per doc regardless of doc size."""
    return (
        df.select(F.col(id_col), normalized_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingles_of_tokens(toks: Column, k: int) -> Column:
    """Distinct k-token shingles from a BOUND token-array column. The
    column must be materialized (projected) by the caller: expression
    trees inline every reference, so passing a raw ``split(...)``
    expression here would re-tokenize the document for EVERY shingle
    position inside the transform lambda — O(positions × tokens) work
    per document (the winnowing implementation hit the array-sized
    version of this and ran quadratic; see ``winnowed_fingerprints``)."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(text_col: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles of a document (array<string>).

    Docs shorter than k tokens have NO shingles: the guard matters because
    Spark's ``sequence(1, n-k+1)`` auto-descends when the end is below the
    start (yielding [1,0,-1] → slice(…, 0, …) errors), whereas DuckDB's
    ``generate_series`` returns empty — the guard pins the empty-list
    semantic on both engines.

    NOTE: convenience form — it inlines ``tokenize`` into the transform,
    re-splitting the text per shingle position. Fine for one-off column
    use; the hot inverted-index paths project the token array first and
    call ``_shingles_of_tokens`` (see that docstring).
    """
    return _shingles_of_tokens(tokenize(text_col), k)


#: Mersenne prime 2^31-1: universal-hash modulus; keeps every product
#: a·h < 2^62 — exact BIGINT arithmetic on any engine
MINHASH_P = 2_147_483_647


def minhash_params(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) for the universal hash h_s = (a·h + b) mod p,
    derived from md5 so the DuckDB twin can inline identical literals."""
    import hashlib

    a = int(hashlib.md5(f"a:{seed}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"b:{seed}".encode()).hexdigest()[:15], 16) % MINHASH_P
    return a, b


def _minhash_wide(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_k: int
) -> DataFrame:
    """One row per doc with columns minhash_0..minhash_{n-1}.

    Textbook universal-hash MinHash: hash each distinct shingle ONCE
    (portable md5 → h < p), then n permutations are n cheap affine maps
    (aᵢ·h + bᵢ) mod p evaluated inside a single aggregate — no per-seed
    row explosion, one shuffle of (doc, h) rows, map-side combinable."""
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col), tokenize(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(_shingles_of_tokens(F.col("_toks"), shingle_k)).alias(
                "shingle"
            ),
        )
    )
    hashed = sh.select(F.col(id_col), (md5_hash64(F.col("shingle")) % MINHASH_P).alias("h"))
    mins = []
    for s in range(num_hashes):
        a, b = minhash_params(s)
        mins.append(F.min((F.col("h") * a + b) % MINHASH_P).alias(f"minhash_{s}"))
    return hashed.groupBy(id_col).agg(*mins)


def minhash_band_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_rows: int = 2,
    shingle_k: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """LSH banding: docs whose signature agrees on all rows of ≥1 band
    become candidate near-duplicate pairs (id_a < id_b, with the count of
    agreeing bands). The join key is (band, band_key) — a 1-row-per-band
    inverted index, so cost scales with collisions, not with n².

    ``max_bucket`` bounds the worst case (VERDICT r9 watch): a band
    bucket over the cap — a pathologically common signature, e.g. a
    boilerplate-dominated corpus slice — is split on 8 bits of the
    NEIGHBORING band's first minhash (bits outside the bucket's own key:
    identical signatures share them, so exact dups survive; see
    ``_cap_saturated_buckets``). ``max_bucket=None`` opts out.

    Setting ``max_bucket`` makes construction EAGER (the cap's index pin
    + size probe run Spark jobs immediately) and pins executor-local
    checkpoint blocks — on executor loss, re-derive from source (the
    ``_cap_saturated_buckets`` contract). With a SINGLE band
    (num_hashes == band_rows) the cap cannot split anything: the band
    key IS the whole signature, so every row in a saturated bucket is an
    exact signature duplicate and all Θ(b²) pairs are the true output —
    a warning says the cap is ineffective rather than silently no-opping
    (ADVICE r10)."""
    if num_hashes % band_rows:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_rows "
            f"({band_rows}) — trailing hashes would be computed and then "
            f"silently excluded from banding, lowering recall"
        )
    if max_bucket is not None and num_hashes == band_rows:
        _log.warning(
            "minhash_band_pairs: max_bucket=%d is ineffective with a single "
            "band — the band key is the full signature, so saturated-bucket "
            "rows are exact signature duplicates and every subkey (drawn "
            "from signature bits) is constant within the bucket; candidate "
            "volume stays Θ(b²). Use more bands or accept the volume.",
            max_bucket,
        )
    wide = _minhash_wide(df, id_col, text_col, num_hashes, shingle_k)
    num_bands = num_hashes // band_rows
    band_rows_exprs = []
    for band in range(num_bands):
        cols = [f"minhash_{band * band_rows + r}" for r in range(band_rows)]
        key = F.concat_ws(",", *[F.col(c).cast("string") for c in cols])
        nb_col = f"minhash_{((band + 1) % num_bands) * band_rows}"
        band_rows_exprs.append(
            F.struct(
                F.lit(band).alias("band"),
                key.alias("band_key"),
                (F.col(nb_col) % 256).cast("int").alias("subkey"),
            )
        )
    bands = wide.select(
        F.col(id_col), F.explode(F.array(*band_rows_exprs)).alias("bk")
    ).select(
        id_col,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
        F.col("bk.subkey").alias("subkey"),
    )
    bands = _cap_saturated_buckets(
        bands, ["band", "band_key"], max_bucket, "minhash_band_pairs"
    )
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_key", "gkey")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_key", "gkey")
    out = (
        a.join(b, on=["band", "band_key", "gkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return out


def _shingle_shared(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    max_df: int | None,
    pin: bool = False,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Shared front end of the n-gram similarity family: shingle →
    portable-hash → optional stop-shingle filter → inverted-index
    self-join. Returns (shared, sizes, pins): unordered pair intersection
    counts (id_a < id_b), per-doc filtered shingle-set sizes, and the
    persisted intermediates the caller must unpersist after materializing
    its result.

    The self-join is keyed on the 8-byte portable hash, not the shingle
    string: the shuffle carries fixed-width keys instead of ~20-char
    text. (60-bit md5 collisions would add a phantom shared-shingle
    count; at 10^9 distinct shingles the chance of ANY collision is
    ~10^-4 — acceptable for candidate generation.)

    ``pin=True`` persists the raw and filtered postings: the self-join
    sides carry different aliases (id_a/id_b), so their exchange subtrees
    never canonicalize equal and ReusedExchange can NOT dedupe them — the
    tokenize→explode→md5 pipeline otherwise re-executes once per consumer
    (postings feed the df counts, the stop-filter join, the sizes
    aggregate, and BOTH self-join sides; measured: containment's plan
    held 88 exchanges and zero reuse). persist over localCheckpoint for
    the stats the join planner needs — the bigram-LM/pagerank lesson
    (NOTES_r14 §1-2)."""
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    pins: list[DataFrame] = []

    def _pin(d: DataFrame) -> DataFrame:
        if not pin:
            return d
        d = d.persist()
        pins.append(d)
        return d

    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col), tokenize(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(_shingles_of_tokens(F.col("_toks"), shingle_k)).alias(
                "shingle"
            ),
        )
    )
    sh = _pin(
        sh.select(F.col(id_col), md5_hash64(F.col("shingle")).alias("shingle_h"))
    )
    if max_df is not None:
        df_counts = sh.groupBy("shingle_h").agg(F.count(F.lit(1)).alias("df"))
        sh = _pin(
            sh.join(df_counts.filter(F.col("df") <= max_df), "shingle_h").select(
                F.col(id_col), "shingle_h"
            )
        )
    # sizes is consumed twice downstream (the sa/sb aliases — same
    # no-reuse hazard), and it's per-doc-sized: cheap to pin
    sizes = _pin(sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles")))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle_h")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle_h")
    shared = (
        a.join(b, "shingle_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared, sizes, pins


def shingle_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """Pre-threshold candidate stage shared by ``jaccard_pairs`` and
    ``containment_pairs``: unordered (id_a, id_b, n_shared) pairs sharing
    ≥ 1 stop-filtered shingle — the inverted-index self-join output
    before any similarity cut. Public for the growth harness's
    candidate-volume instrumentation (VERDICT r10 #4)."""
    shared, _, _ = _shingle_shared(df, id_col, text_col, shingle_k, max_df)
    return shared


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.4,
    max_df: int | None = 100,
    pin: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted-index self-join: only doc pairs
    sharing ≥1 shingle are ever compared. jaccard = |A∩B| / (|A|+|B|-|A∩B|)
    computed from integer counts — no float accumulation, so the threshold
    comparison is exact on any engine.

    ``max_df`` (on by default) drops stop-shingles appearing in more than
    that many docs BEFORE the self-join — the hot-key guard: one
    ubiquitous shingle otherwise fans out to df² candidate rows and a
    single straggler partition at 100×. Jaccard is then computed over the
    filtered shingle sets. ``max_df=None`` opts into unfiltered semantics.

    Construction is EAGER by default: the postings index is pinned, the
    result materialized, every pin dropped (see ``_shingle_shared``
    pin=True — unpinned, the shingle pipeline re-executed once per
    consumer). ``pin=False`` returns the fully LAZY scored plan — for
    plan-shape tests (the eager form explains as a checkpoint scan,
    hiding the join shapes) and callers embedding the pairs inside a
    larger one-shot plan."""
    shared, sizes, pins = _shingle_shared(
        df, id_col, text_col, shingle_k, max_df, pin=pin
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    try:
        scored = (
            shared.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
            )
            .filter(
                # integer cross-multiplication: n_shared/union >= t without
                # floats, exact for thresholds of up to 6 decimals (ppm)
                F.col("n_shared") * 1_000_000
                >= F.lit(int(round(threshold * 1_000_000)))
                * (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            )
            .select("id_a", "id_b", "n_shared", "n_a", "n_b", "jaccard")
        )
        if not pin:
            return scored
        return scored.localCheckpoint(eager=True)
    finally:
        # try/finally so a failed materialization (OOM, interrupt) does
        # not leak the postings pins into the session-lifetime cache.
        for p in pins:
            p.unpersist()


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
    pin: bool = True,
) -> DataFrame:
    """Directed n-gram containment: emit (id_sub, id_super) where
    containment(sub→super) = |sub ∩ super| / |sub| ≥ threshold — the
    asymmetric companion to Jaccard that catches a document QUOTED or
    EMBEDDED inside a larger one (jaccard stays low when |super| ≫ |sub|,
    containment does not). The curation use: drop near-subset docs while
    keeping their containers.

    Same inverted-index front end as ``jaccard_pairs`` (one self-join on
    unordered pairs — directed rows derive from it, so candidate volume
    does NOT double); integer cross-multiplied threshold, exact on any
    engine.

    Both directions emit from ONE pass over the joined pair table via a
    2-element explode — the former dir_a ∪ dir_b union put the entire
    shingle pipeline in the plan twice (88 exchanges, zero reuse;
    measured 3.9× wall-time at 10× data against the family's ~2×).
    Construction is EAGER by default: postings pinned, result
    materialized, pins dropped (``_shingle_shared`` pin=True);
    ``pin=False`` returns the lazy scored plan for plan-shape tests."""
    shared, sizes, pins = _shingle_shared(
        df, id_col, text_col, shingle_k, max_df, pin=pin
    )
    t = F.lit(int(round(threshold * 1_000_000)))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    j = shared.join(sa, "id_a").join(sb, "id_b")
    try:
        scored = (
            j.select(
                "n_shared",
                F.explode(
                    F.array(
                        F.struct(
                            F.col("id_a").alias("id_sub"),
                            F.col("id_b").alias("id_super"),
                            F.col("n_a").alias("n_sub"),
                        ),
                        F.struct(
                            F.col("id_b").alias("id_sub"),
                            F.col("id_a").alias("id_super"),
                            F.col("n_b").alias("n_sub"),
                        ),
                    )
                ).alias("_d"),
            )
            .filter(F.col("n_shared") * 1_000_000 >= t * F.col("_d.n_sub"))
            .select(
                F.col("_d.id_sub").alias("id_sub"),
                F.col("_d.id_super").alias("id_super"),
                "n_shared",
                F.col("_d.n_sub").alias("n_sub"),
                (F.col("n_shared") / F.col("_d.n_sub")).alias("containment"),
            )
        )
        if not pin:
            return scored
        return scored.localCheckpoint(eager=True)
    finally:
        # try/finally: no pin leak on failed materialization.
        for p in pins:
            p.unpersist()


SIMHASH_BITS = 60


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash: per token, each bit of the portable md5 hash votes
    ±1; the signature sets bits with positive vote sums. One explode + one
    groupBy — the classic map-side-combinable shape. 60 bits (every bit
    ``md5_hash64`` carries) so pigeonhole chunks are 15 bits wide: 32,768
    values per chunk keeps expected bucket occupancy ~N/32768 — at the old
    32 bits each chunk had only 256 values, so every bucket held ~N/256
    docs and candidate generation was asymptotically quadratic (measured
    4.98× cost at 10× data; VERDICT r9 #1). Signatures stay < 2^60, so
    all arithmetic is exact signed-BIGINT on Spark AND the DuckDB twin."""
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    tok = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("token")
    )
    tok = tok.withColumn("h", md5_hash64(F.col("token")))
    # vote sum v_b = ones_b - (n - ones_b), so v_b > 0  ⇔  2·ones_b > n:
    # summing the raw bit (shift+AND, branch-free) is measurably cheaper
    # per (row × 60 bits) than a when/otherwise ±1 — this aggregate is
    # the operator's dominant map-side cost at corpus scale
    ones = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"o{b}")
        for b in range(SIMHASH_BITS)
    ]
    agged = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"), *ones)
    sig = F.lit(0)
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"o{b}") * 2 > F.col("n_tok"), F.lit(2**b)
        ).otherwise(0)
    return agged.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Pre-verification candidate stage of ``simhash_pairs``: the distinct
    (id_a, id_b, sig_a, sig_b) pairs the pigeonhole chunk index generates,
    BEFORE the exact Hamming filter. Public so the growth harness can
    measure candidate volume separately from verified-pair volume
    (VERDICT r10 #4) — a superlinear wall-time ratio is only a defect
    when candidate volume stayed linear."""
    if max_bucket is not None and max_hamming == 0:
        _log.warning(
            "simhash: max_bucket=%d is ineffective with max_hamming=0 — the "
            "single chunk is the full signature, so saturated-bucket rows "
            "are exact signature duplicates and the neighbor-chunk subkey "
            "is constant within the bucket; candidate volume stays Θ(b²). "
            "(Hamming 0 is exact dedup — fingerprint_duplicates is the "
            "right operator for that.)",
            max_bucket,
        )
    sig = simhash_signatures(df, id_col, text_col)
    n_chunks = max_hamming + 1
    base = SIMHASH_BITS // n_chunks
    extra = SIMHASH_BITS % n_chunks  # first `extra` chunks get one more bit
    widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    chunk_structs = []
    for c in range(n_chunks):
        nb = (c + 1) % n_chunks  # subkey bits come from the neighbor chunk
        chunk_structs.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright("simhash", offsets[c])
                .bitwiseAND(F.lit((1 << widths[c]) - 1))
                .alias("chunk_val"),
                F.shiftright("simhash", offsets[nb])
                .bitwiseAND(F.lit(255))
                .alias("subkey"),
            )
        )
    ch = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunk_structs)).alias("ck")
    ).select(
        id_col,
        "simhash",
        F.col("ck.chunk").alias("chunk"),
        F.col("ck.chunk_val").alias("chunk_val"),
        F.col("ck.subkey").alias("subkey"),
    )
    ch = _cap_saturated_buckets(ch, ["chunk", "chunk_val"], max_bucket, "simhash_pairs")
    a = ch.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "chunk", "chunk_val", "gkey",
    )
    b = ch.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "chunk", "chunk_val", "gkey",
    )
    return (
        a.join(b, on=["chunk", "chunk_val", "gkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair can agree on several chunks → appears once per agreeing
        # chunk; dedupe before the (cheap) Hamming verify
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``, via
    pigeonhole chunk banding: split the signature into ``max_hamming + 1``
    bit chunks — any pair within distance d differs in ≤ d chunks, so it
    agrees EXACTLY on ≥ 1 chunk. Equi-join on (chunk, chunk_val) generates
    candidates (an inverted index, like MinHash bands; see
    ``simhash_candidates``), then the exact Hamming filter verifies.
    Result-identical to the all-pairs scan, but the shuffle is keyed on
    short chunk values — no cartesian anywhere.

    With 60-bit signatures the 4 chunks are 15 bits wide (32,768 values),
    so expected bucket occupancy is N/32768 — near-linear candidate
    volume until corpora approach that key space. ``max_bucket`` is the
    backstop past that point: buckets over the cap are split on 8
    low bits of the NEIGHBORING chunk (bits the bucket's own key never
    sees — identical signatures share them, so exact dups survive; see
    ``_cap_saturated_buckets`` for the recall contract). Defaults never
    trigger below ~10⁵ docs per bucket; ``max_bucket=None`` opts out.

    Setting ``max_bucket`` makes construction EAGER (the cap's index pin
    + size probe run Spark jobs immediately) and pins executor-local
    checkpoint blocks — on executor loss, re-derive from source (the
    ``_cap_saturated_buckets`` contract). With ``max_hamming=0`` (one
    chunk) the cap cannot split anything and a warning says so
    (ADVICE r10; exact dedup belongs to ``fingerprint_duplicates``)."""
    cand = simhash_candidates(df, id_col, text_col, max_hamming, max_bucket)
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "sig_a", "sig_b", "hamming")
    )


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer, Schwarzschild & Aiken, SIGMOD 2003 — the
    MOSS fingerprinter): positional k-gram rolling hashes, then the MIN
    hash of every ``window`` consecutive positions; the distinct minima
    are the document's fingerprint set (long form: one (id, fp) row per
    distinct fingerprint).

    Why it exists next to the full shingle index (``_shingle_shared``):
    winnowing SUBSAMPLES the postings deterministically at expected
    density 2/(window+1), so the inverted index shrinks ~(window+1)/2×
    — at 100 TB that is the difference between shuffling every shingle
    and shuffling a guaranteed-sufficient fraction — while keeping the
    paper's detection guarantee: any shared token run of length
    ≥ window + k - 1 between two documents produces ≥ 1 SHARED
    fingerprint (both windows covering the run select the same minimum).
    Pinned by tests/test_dedup_properties.py.

    All expressions are JVM higher-order functions over the token array
    (one projection — no shuffle until the caller aggregates); hashes are
    the engine's portable md5-60bit, so the DuckDB twin replays the
    pipeline value-for-value. Docs with fewer than k tokens have no
    fingerprints; docs with 1 ≤ m < window hashes contribute the single
    minimum of what they have (the standard short-doc variant)."""
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    # MATERIALIZE each intermediate array (_toks, then _hs) as a column
    # before the pass that slices it: expression trees inline every
    # reference, so slicing a raw transform/split expression inside a
    # lambda re-runs it for EVERY position — O(positions²) work per
    # document (measured: the 10× corpus ran minutes instead of seconds
    # before the _hs projection). Bound references evaluate once per
    # row; Catalyst's CollapseProject keeps multi-referenced non-cheap
    # projections separate.
    tok_base = ensure_parallelism(df).select(
        F.col(id_col), tokenize(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    hs = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 15),
                16,
                10,
            ).cast("bigint"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    base = tok_base.select(F.col(id_col), hs.alias("_hs"))
    hcol = F.col("_hs")
    m = F.size(hcol)
    fps = (
        F.when(
            m >= window,
            F.transform(
                F.sequence(F.lit(1), m - (window - 1)),
                lambda j: F.array_min(F.slice(hcol, j, window)),
            ),
        )
        .when(m >= 1, F.array(F.array_min(hcol)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return base.select(
        F.col(id_col), F.explode(F.array_distinct(fps)).alias("fp")
    )


def winnowed_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    max_df: int | None = 100,
) -> DataFrame:
    """Pre-threshold candidate stage of ``winnowed_pairs``: every pair
    sharing ≥ 1 winnowed fingerprint, with its shared count — before the
    ``min_shared`` cut. Public for the growth harness's candidate-volume
    instrumentation (VERDICT r10 #4)."""
    fps = winnowed_fingerprints(df, id_col, text_col, k, window)
    if max_df is not None:
        counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        fps = fps.join(counts.filter(F.col("_df") <= max_df), "fp").select(
            F.col(id_col), "fp"
        )
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def winnowed_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 100,
    pin: bool = True,
) -> DataFrame:
    """Overlap candidates from winnowed fingerprints: pairs sharing
    ≥ ``min_shared`` fingerprints, via the same inverted-index self-join
    shape as the shingle family — but over the ~(window+1)/2× smaller
    winnowed postings. ``max_df`` drops ubiquitous fingerprints (a
    stop-phrase minimum) before the join, the hot-key guard.

    Construction is EAGER: the fingerprint postings are pinned (the
    rolling-hash/winnow pipeline feeds the df counts, the stop-filter
    join and BOTH self-join sides, whose differing aliases defeat
    ReusedExchange — same hazard as ``_shingle_shared``), the result
    materialized, pins dropped. ``winnowed_candidates`` stays fully lazy
    for plan inspection and the growth harness's counters; ``pin=False``
    additionally exposes this function's full scored plan lazily for
    plan-shape tests."""
    pins: list[DataFrame] = []
    fps = winnowed_fingerprints(df, id_col, text_col, k, window)
    if pin:
        fps = fps.persist()
        pins.append(fps)
    if max_df is not None:
        counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        fps = fps.join(counts.filter(F.col("_df") <= max_df), "fp").select(
            F.col(id_col), "fp"
        )
        if pin:
            fps = fps.persist()
            pins.append(fps)
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    try:
        scored = (
            a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        if not pin:
            return scored
        return scored.localCheckpoint(eager=True)
    finally:
        # try/finally: no pin leak on failed materialization.
        for p in pins:
            p.unpersist()


def verify_candidate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.2,
    pin: bool = True,
) -> DataFrame:
    """Exact-Jaccard VERIFY stage over a candidate pair set — the second
    half of the canonical two-stage fuzzy-dedup pipeline (LSH generates
    candidates, exact similarity confirms them; cf. the reference's
    single-pass ETL shape, workflow/Transformer.py:105-123, which never
    needs one because it dedups exact keys only).

    Cost contract: O(|candidates|), never O(n²) — and never O(corpus)
    past the endpoint semi-join: docs are first SEMI-JOINED to the
    candidate endpoint ids, so only docs that actually appear in a pair
    are ever tokenized/shingled (at a 0.1% candidate rate that is a
    1000× cut of the shingling work; measured at sf0.1: generate+verify
    warm 7.1 s → 2.9 s).
    Each surviving doc's distinct shingle set is hashed (md5, 60-bit —
    the portable-hash policy) into ONE array column, computed once and
    shuffled once per pair side; the intersection is a JVM-side
    ``array_intersect`` per candidate row. At 100 TB the pair frame
    shuffles by id (fixed-width keys + one array whose length is
    bounded by doc token count) — no postings re-join, no index
    rebuild, no full-corpus pass.

    Output: every input pair row + ``n_shared``/``n_a``/``n_b`` (distinct
    shingle-set sizes), exact ``jaccard``, and ``accepted`` (jaccard ≥
    threshold, decided by exact integer cross-multiplication,
    ppm-rounded — no float-compare drift). Degenerate inputs surface,
    never silently resolve: a pair whose endpoints are BOTH sub-k-token
    (union = 0 — similarity undefined) gets NULL jaccard AND NULL
    accepted; a pair referencing an id absent from ``docs`` (stale
    candidate set) is KEPT with NULL stats via left joins, so a consumer
    can distinguish 'verified and rejected' (accepted = false) from
    'never verifiable' (accepted IS NULL). Candidates from shingle-based
    generators over the same ``docs`` always have n_a, n_b ≥ 1 and
    non-NULL verdicts.

    ``pin=True`` (default): the shingle-set frame is persisted (its a/b
    aliases defeat ReusedExchange — the ``_shingle_shared`` lesson) and
    the result localCheckpointed eagerly; ``pin=False`` returns the lazy
    plan for plan-shape tests."""
    ends = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    toks = docs.join(ends, id_col, "left_semi").select(
        F.col(id_col), tokenize(text_col).alias("_toks")
    )
    sets = toks.select(
        F.col(id_col),
        F.transform(
            _shingles_of_tokens(F.col("_toks"), shingle_k), md5_hash64
        ).alias("_sh"),
    )
    if pin:
        sets = sets.persist()
    a = sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    t_ppm = int(round(threshold * 1_000_000))
    union = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    try:
        out = (
            pairs.join(a, "id_a", "left")
            .join(b, "id_b", "left")
            .withColumn("n_shared", F.size(F.array_intersect("_sh_a", "_sh_b")))
            .withColumn("n_a", F.size("_sh_a"))
            .withColumn("n_b", F.size("_sh_b"))
            .withColumn(
                "jaccard",
                F.when(union > 0, F.col("n_shared") / union),
            )
            .withColumn(
                "accepted",
                # NULL verdict when similarity is undefined (union = 0 or
                # a missing endpoint) — never a vacuous 0 >= 0 accept
                F.when(
                    union > 0,
                    F.col("n_shared") * 1_000_000 >= F.lit(t_ppm) * union,
                ),
            )
            .drop("_sh_a", "_sh_b")
        )
        if not pin:
            return out
        return out.localCheckpoint(eager=True)
    finally:
        if pin:
            sets.unpersist()


def minhash_estimate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-candidate MinHash Jaccard ESTIMATE: the fraction of agreeing
    signature components (the estimator LSH banding is built on —
    E[est] = true Jaccard). Joined against the exact verify stage this
    is the estimator-calibration diagnostic: how much error the
    num_hashes-component signature carries at the corpus's similarity
    levels, i.e. whether banding parameters need more hashes BEFORE a
    100 TB run commits to them.

    Same cost contract as ``verify_candidate_pairs``: docs semi-join to
    candidate endpoints, so signatures are computed only for docs in a
    pair; the estimate is one projection per candidate row (est =
    n_match / num_hashes — an exact binary fraction, bit-identical on
    any engine). Left joins: a pair endpoint with no signature (absent
    id or sub-k-token doc — neither can come from the LSH generator)
    propagates NULL n_match/est rather than fabricating 0."""
    ends = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    wide = _minhash_wide(
        docs.join(ends, id_col, "left_semi"),
        id_col,
        text_col,
        num_hashes,
        shingle_k,
    )
    a = wide.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"minhash_{s}").alias(f"_ma{s}") for s in range(num_hashes)],
    )
    b = wide.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"minhash_{s}").alias(f"_mb{s}") for s in range(num_hashes)],
    )
    n_match = sum(
        (F.col(f"_ma{s}") == F.col(f"_mb{s}")).cast("int")
        for s in range(num_hashes)
    )
    out = (
        pairs.join(a, "id_a", "left")
        .join(b, "id_b", "left")
        .withColumn("n_match", n_match)
        .withColumn("est_jaccard", F.col("n_match") / F.lit(num_hashes))
        .drop(
            *[f"_ma{s}" for s in range(num_hashes)],
            *[f"_mb{s}" for s in range(num_hashes)],
        )
    )
    return out


def pair_label_matrix(
    pairs: DataFrame,
    labels: DataFrame,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Cross-label duplication matrix: aggregate a candidate/verified
    pair set by the UNORDERED label pair of its endpoints — the corpus
    overlap report a curation run reads to find sources that plagiarize
    each other (high n_pairs off-diagonal) or are internally duplicative
    (the diagonal). Output: (label_lo, label_hi, n_pairs, n_docs) with
    n_docs = distinct docs participating in that cell's pairs.

    Scale shape: two thin (id, label) projection joins shuffle the pair
    frame by each endpoint id; the endpoint explode doubles it once; the
    final aggregation lands on ≤ |labels|² cells — constants at any
    corpus size. No full-document columns ever move.

    Contract: a pair with an endpoint ABSENT from ``labels`` has no
    cell and is EXCLUDED (inner joins) — pass a label table covering
    every id in the pair set (the registered row derives both from the
    same ``documents`` scan, so nothing can be missing). Audit the
    assumption when the tables have different lineages:
    ``pairs.join(labels, pairs.id_a == labels[id_col], "anti")``."""
    la = labels.select(
        F.col(id_col).alias("id_a"), F.col(label_col).alias("_lab_a")
    )
    lb = labels.select(
        F.col(id_col).alias("id_b"), F.col(label_col).alias("_lab_b")
    )
    ends = (
        pairs.select("id_a", "id_b")
        .join(la, "id_a")
        .join(lb, "id_b")
        .select(
            F.least("_lab_a", "_lab_b").alias("label_lo"),
            F.greatest("_lab_a", "_lab_b").alias("label_hi"),
            F.explode(F.array("id_a", "id_b")).alias("_doc"),
        )
    )
    return ends.groupBy("label_lo", "label_hi").agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
        F.count_distinct(F.col("_doc")).alias("n_docs"),
    )


def cap_pair_neighbors(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "jaccard",
    k: int = 10,
) -> DataFrame:
    """Per-id top-k neighbor cap for similarity pair sets (VERDICT r11
    #3): bound the edge volume ``connected_components`` consumes.

    At a low threshold the θ-passing pair set is the scale hazard — the
    10× growth corpus grew θ=0.1 jaccard pairs 25.6× while candidates
    stayed linear (NOTES_r14 §8), and at 100 TB an unbounded pair set
    makes every CC iteration's join superlinear in corpus growth. The
    cap keeps, for each id, only its ``k`` most-similar neighbors
    (kNN-graph OR-symmetrization: a pair survives if it ranks top-k for
    EITHER endpoint), so CC's input is ≤ 2k·|ids| edges by construction.

    Determinism/oracle contract: rank by (score DESC, neighbor id ASC)
    via row_number — a total order per id, replayable in ANSI SQL.

    Invariants (pinned by tests/test_dedup_properties.py):
    - output ⊆ input (the cap only removes edges, never invents them);
    - exact-duplicate groups stay single clusters: in a clique of m
      identical docs (score ties at the top), every member ranks the
      clique's MINIMUM id within its top-k (ties break id-ascending), so
      all m connect to that minimum even when m ≫ k;
    - the documented trade: a long low-similarity CHAIN can split where
      a hub's weakest edges fall outside every endpoint's top-k — at
      θ→0 that is exactly the transitive gluing a bounded pipeline must
      refuse.
    """
    from pyspark.sql import Window

    directed = pairs.select(
        F.col(id_a).alias("_id"), F.col(id_b).alias("_nb"),
        F.col(score_col).alias("_s"),
    ).unionByName(
        pairs.select(
            F.col(id_b).alias("_id"), F.col(id_a).alias("_nb"),
            F.col(score_col).alias("_s"),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.col("_s").desc(), F.col("_nb").asc())
    return (
        directed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(
            F.least("_id", "_nb").alias(id_a),
            F.greatest("_id", "_nb").alias(id_b),
        )
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
    check_every: int = 1,
) -> DataFrame:
    """Cluster near-duplicate pairs into groups: every doc gets the MIN id
    reachable through the pair graph (the canonical representative), via
    iterative min-label propagation.

    This is the one genuinely *iterative* algorithm in the engine — the
    driver loop only controls convergence; all data stays distributed.
    Checkpointing truncates the growing plan lineage each round. Dup
    clusters are near-cliques, so convergence is 2-3 rounds regardless of
    corpus size; each round is one join + one aggregate keyed on doc id.

    Durability: the default pins state with ``localCheckpoint()`` —
    executor-local blocks, fine on local[*] but NOT fault-tolerant on a
    cluster (a lost executor kills the job mid-iteration). Pass
    ``reliable=True`` (plus ``checkpoint_dir`` on first use) to write
    round state to the reliable checkpoint directory (HDFS/S3 in
    production) so iteration state survives executor loss.

    Driver round-trips: the convergence probe is one extra job per
    check, run every ``check_every`` rounds. The default is 1 (probe
    after every propagation round): the probe is a NODE-sized max()
    over the just-pinned label blocks, while a skipped probe's price is
    a whole extra EDGE-sized join round — and on a duplicate graph
    edges ≥ nodes, so at scale (and measured at sf0.1: probe 0.12-0.39 s
    vs join round 0.8-1.4 s on the dedup_clusters input, which converges
    after round 1) the probe is always the cheaper side of that trade.
    The old default of 2 halved the probe jobs but ran every clusters
    row one converged-but-full join round past its fixpoint.
    ``check_every > 1`` remains for graphs known to need many rounds
    (long chains), where intermediate probes cannot break early anyway.
    Round 0 never checks: a non-trivial graph cannot have converged
    before any propagation.

    Scale contract: this operator consumes whatever pair volume its
    caller emits — at a low threshold that volume, not the candidate
    index, is the 100-TB hazard (measured 25.6× pair growth at 10× data,
    NOTES_r14 §8). Callers clustering at low θ should bound the input
    with ``cap_pair_neighbors`` (per-id top-k most-similar, ≤ 2k·|ids|
    edges by construction) — the opt-in used by ``dedup_clusters_capped``.
    """
    spark = pairs.sparkSession
    if reliable and checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def pin(df: DataFrame) -> DataFrame:
        return _pin_state(df, reliable)

    sym = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # materialize the (possibly expensive) pair computation ONCE; the
    # vertex set derives from the checkpointed edges, not from `pairs`
    sym = pin(sym)
    verts = sym.select(F.col("src").alias("id")).distinct()
    labels = verts.withColumn("label", F.col("id"))
    for it in range(max_iter):
        nbr = (
            sym.join(labels.select("id", "label"), sym.dst == F.col("id"))
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry a per-row improvement flag: the convergence probe is then
        # one max() scan over the just-pinned blocks instead of a
        # new-vs-old self-join — half the probe's cost, same signal
        new_labels = pin(
            labels.select("id", "label")
            .join(nbr, F.col("id") == nbr.src, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
        )
        labels = new_labels
        if it == 0 or (it % check_every) != 0:
            continue
        changed = new_labels.agg(F.max(F.coalesce("chg", F.lit(False)))).first()[0]
        if not changed:
            break
    else:
        # max_iter exhausted without a converged probe: min-label
        # propagation moves one hop per round, so a component whose
        # diameter exceeds max_iter would get SILENTLY split into
        # several cluster_ids — run the probe one final time and refuse
        # loudly instead of returning wrong clusters
        changed = labels.agg(F.max(F.coalesce("chg", F.lit(False)))).first()[0]
        if changed:
            raise RuntimeError(
                f"connected_components did not converge within max_iter="
                f"{max_iter} rounds — the duplicate graph has a component "
                f"of diameter > {max_iter}; raise max_iter (labels move "
                f"one hop per round)"
            )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def _pin_state(df: DataFrame, reliable: bool) -> DataFrame:
    """Pin a DataFrame's contents against lineage recomputation.
    ``reliable=False``: ``localCheckpoint()`` — executor-local blocks,
    fast, fine on local[*] but lost with a lost executor. ``reliable=
    True``: dir-based ``checkpoint()`` to the configured reliable
    checkpoint directory (HDFS/S3 in production) — survives executor
    loss, the right mode for cluster runs of iterative/store-mutating
    operators. Fails loudly if no checkpoint dir is configured."""
    if not reliable:
        return df.localCheckpoint()
    spark = df.sparkSession
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        raise ValueError(
            "reliable=True needs a reliable checkpoint directory: pass "
            "checkpoint_dir= or call spark.sparkContext.setCheckpointDir() "
            "first"
        )
    return df.checkpoint()


def _dedup_against_store(new_docs, seen, id_col: str, text_col: str):
    """Shared core of the incremental-dedup variants: fingerprint the
    batch, collapse in-batch duplicates (keep min id), anti-join against
    the ``seen`` store (None on first run). NULL-text docs can't be
    fingerprinted — they bypass dedup entirely and pass through as
    survivors (their fingerprint is NULL, which must never enter a join:
    null-unsafe equality would silently DROP them — a data-loss bug this
    helper exists to prevent)."""
    fp = new_docs.select(
        F.col(id_col), F.col(text_col), normalized_fingerprint(text_col).alias("fingerprint")
    )
    nulls = fp.filter(F.col("fingerprint").isNull())
    fp = fp.filter(F.col("fingerprint").isNotNull())
    # collapse in-batch duplicates first (deterministic keep: min id)
    w_min = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    fp = fp.join(w_min, on=["fingerprint", id_col])
    if seen is not None:
        fp = fp.join(seen.select("fingerprint"), on="fingerprint", how="left_anti")
    return fp.unionByName(nulls)


def incremental_dedup_bucketed(
    new_docs: DataFrame,
    store_table: str = "fingerprint_store",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 8,
    reliable: bool = False,
) -> DataFrame:
    """``incremental_dedup`` with the fingerprint store as a BUCKETED
    catalog table: the store (the side that grows for years) is hash-
    bucketed by fingerprint at write time, so the daily anti-join reads
    it with NO exchange — only the (small) incoming batch shuffles into
    bucket layout. Appends preserve bucketing (Spark writes appended
    files per bucket), so the store never reshuffles, ever.

    Same survivors contract as the path-based version; the store keeps
    fingerprints only."""
    spark = new_docs.sparkSession
    seen = spark.table(store_table) if spark.catalog.tableExists(store_table) else None
    survivors = _dedup_against_store(new_docs, seen, id_col, text_col)
    survivors = _pin_state(survivors, reliable)  # pin before the store changes
    (
        survivors.select("fingerprint")
        .filter(F.col("fingerprint").isNotNull())
        .write.mode("append")
        .bucketBy(num_buckets, "fingerprint")
        .saveAsTable(store_table)
    )
    return survivors.select(id_col, text_col)


def incremental_dedup(
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    reliable: bool = False,
) -> DataFrame:
    """Cross-batch dedup against a persistent fingerprint store — the
    production shape for daily ingestion: today's docs are dropped if
    their normalized fingerprint was EVER seen; survivors' fingerprints
    are appended to the store.

    The store holds 16-byte fingerprints only (not documents); the check
    is one anti-join keyed on the fingerprint. Returns the surviving new
    docs. Batch-internal duplicates also collapse (keep min id). See
    ``incremental_dedup_bucketed`` for the store layout that co-locates
    the anti-join at scale.
    """
    from bookstore_aws_lakehouse_spark.sources.writers import _fs_path_exists

    spark = new_docs.sparkSession
    # Hadoop FS existence check, not os.path: on s3a://-style stores a
    # local-only check is always False, which would silently disable
    # cross-batch dedup forever (every day a "first run")
    seen = spark.read.parquet(store_path) if _fs_path_exists(spark, store_path) else None
    # checkpoint, not cache(): the append below writes to the same
    # path the plan reads, and Spark invalidates path-dependent caches on
    # write — a cached plan would silently recompute against the UPDATED
    # store and anti-join its own survivors away. Checkpointing pins the
    # result before the store changes (reliable=True for cluster runs).
    survivors = _pin_state(
        _dedup_against_store(new_docs, seen, id_col, text_col), reliable
    )
    (
        survivors.select("fingerprint")
        .filter(F.col("fingerprint").isNotNull())
        .write.mode("append")
        .parquet(store_path)
    )
    return survivors.select(id_col, text_col)

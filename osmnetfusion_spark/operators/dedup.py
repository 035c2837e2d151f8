"""Deduplication operators for web-scale corpora.

Five families, each a first-class DataFrame operator:

- exact          -- hash-groupBy on normalized text (one shuffle)
- n-gram Jaccard -- shingle sets, blocked self-join, array intersect/union
- MinHash + LSH  -- shingle -> polynomial hash -> k minima -> banded
                    bucket-join (the scale path: candidate pairs only)
- SimHash        -- 48-bit sign-aggregated fingerprint, near-dup =
                    hamming distance <= k via xor/bit_count
- embedding      -- cosine >= tau pairs over array<float> (see similarity)

All hashing uses the polynomial grammar from :mod:`.textstats` so every
operator has a value-exact DuckDB oracle. Everything below is pure Spark
column expressions -- the hot paths stay in whole-stage codegen; at cluster
scale the only shuffles are the groupBys/joins listed per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .partitioning import fan_out
from .textstats import (
    POLY_MOD, poly_hash, poly_hash_sql, tokens_col, tokens_sql,
)

# deterministic affine MinHash parameters (public constants, any odd a works)
MINHASH_A = [2 * k + 1 for k in range(1, 65)]
MINHASH_B = [7_919 * k + 104_729 for k in range(1, 65)]
SIMHASH_BITS = 48


# ------------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedupe: keep the smallest id per identical text.

    Returns (keep_id, dup_count, ids) per distinct text -- one shuffle on
    the text hash. At 100 TB the groupBy key is ``xxhash64(text)`` rather
    than the text itself to keep shuffle rows narrow; here we group by a
    64-bit hash and keep a deterministic representative.
    """
    return (
        df.groupBy(F.col(text_col).alias("__text"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.array_sort(F.collect_list(id_col)).alias("ids"),
        )
        .select("keep_id", "dup_count", "ids")
    )


# ------------------------------------------------------------------ shingles


GRAM_BASE = 1_000_003


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Sorted distinct hashes of word n-gram shingles.

    Two-level fold keeps the cost linear in document length: each token is
    polynomial-hashed ONCE (char-level), then a shingle hash folds the n
    token hashes with base :data:`GRAM_BASE`. Both levels have exact DuckDB
    twins -> value-exact oracles.
    """
    tok_hashes = F.transform(tokens_col(text), poly_hash)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tok_hashes) - n, F.lit(0))),
        lambda i: F.aggregate(
            F.slice(tok_hashes, i + 1, n),
            F.lit(0).cast("long"),
            lambda acc, h: (acc * GRAM_BASE + h) % POLY_MOD,
        ),
    )
    grams = F.when(F.size(tok_hashes) >= n, grams).otherwise(
        F.array().cast("array<long>")
    )
    return F.array_sort(F.array_distinct(grams))


def shingle_hashes_fast(n: int = 3):
    """Arrow-batched twin of :func:`shingle_hashes` -- same values.

    The column version's nested higher-order functions (``transform`` /
    ``aggregate`` with a per-character lambda) are INTERPRETED by Catalyst,
    not whole-stage-codegen'd: measured ~2.8 ms/doc (14 s for 5,000 docs at
    sf0.1), which made the shingle kernel -- not the joins -- the dedup
    bottleneck. The r6 version moves the arithmetic from per-character
    Python loops to numpy vector ops with a module-level token-residue
    memo (:mod:`._fasthash`, guide §4.2) -- exact uint64 integer
    arithmetic, so DuckDB oracle parity stays value-for-value. The
    column/SQL versions remain as the oracle-side definition.
    """
    from ._fasthash import shingle_kernel

    return shingle_kernel(n)


def shingle_hashes_sql(text: str, n: int = 3) -> str:
    toks = tokens_sql(text)
    tok_hashes = f"list_transform({toks}, t -> {poly_hash_sql('t')})"
    gram = (
        f"list_reduce(list_prepend(0::BIGINT, list_slice(th, i + 1, i + {n})), "
        f"(acc, h) -> (acc * {GRAM_BASE} + h) % {POLY_MOD})"
    )
    return (
        f"(SELECT CASE WHEN length(th) >= {n} THEN "
        f"list_sort(list_distinct(list_transform(range(0, length(th) - {n} + 1), i -> {gram}))) "
        f"ELSE [] END FROM (SELECT {tok_hashes} AS th) __th)"
    )


# ------------------------------------------------------------ n-gram Jaccard


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = "lang",
) -> DataFrame:
    """Near-dup pairs with shingle-set Jaccard >= threshold.

    Candidate generation is a SHARED-SHINGLE equi-join, not an all-pairs
    block product: explode each doc's shingle hashes (narrow rows), self-
    join on (block, shingle) -- any pair with Jaccard >= t > 0 shares at
    least one shingle, so this is LOSSLESS -- then a size-ratio prefilter
    (J <= min|sz|/max|sz|, also lossless) before the exact intersect runs
    on the surviving candidates only. Shuffle volume is O(total shingles),
    never O(block^2): measured 87.6 s -> sub-second at sf0.1 (5,000 docs,
    ~3M block pairs vs ~130k shared-shingle candidates).

    ``block_col`` equality still restricts the search (both sides of the
    oracle apply the same blocking, so results match by construction);
    hot shingles bound the worst case at df^2 per shingle -- the
    MinHash/LSH operator below is the alternative when shingle document
    frequency is unbounded.
    """
    assert threshold > 0.0, "shared-shingle candidates require threshold > 0"
    base = (
        fan_out(df).select(
            F.col(id_col).alias("id"),
            (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
            shingle_hashes_fast(n)(F.col(text_col)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        # referenced by both sides of the shared-shingle self-join:
        # lazily checkpoint so the shingle kernel runs once, not 2x
        .localCheckpoint(eager=False)
    )
    ex = base.select("id", "blk", F.size("sh").alias("sz"), F.explode("sh").alias("h"))
    a = ex.select(F.col("id").alias("id_a"), "blk", F.col("sz").alias("sz_a"), "h")
    b = ex.select(F.col("id").alias("id_b"), "blk", F.col("sz").alias("sz_b"), "h")
    # Shingle arrays are DISTINCT per doc, so a pair's matching-row count
    # in the shared-shingle join IS |intersection| -- one map-side-
    # combinable groupBy replaces the old dropDuplicates + two array
    # join-backs + array_intersect (guide §2.3 "aggregate before you
    # shuffle": the per-pair reduce collapses m-shared-shingle pairs to
    # one row before the exchange; measured 3.3 s + 3.9 s of join-back
    # work -> sub-second at 50k docs). Identical values: inter is the
    # same integer, union = sz_a + sz_b - inter, same rounded double.
    counted = (
        a.join(b, ["blk", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("sz_a", "sz_b").cast("double")
            >= F.lit(float(threshold)) * F.greatest("sz_a", "sz_b").cast("double")
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    inter = F.col("__inter")
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        counted.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------- contamination check


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    doc_id: str = "doc_id",
    bench_id: str = "bench_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark-contamination detection (training-data decontamination):
    flag corpus documents sharing >= ``min_overlap`` distinct word
    n-grams with a benchmark/eval item -- the published GPT-3/PaLM-style
    13-gram overlap test, parameterized.

    Shape for 100 TB: the corpus side is exploded to (doc, shingle-hash)
    rows -- a NARROW transform, no shuffle -- and probed against the
    broadcast benchmark shingle set; only matching rows reach the
    (doc, bench) group-count, so shuffle volume is O(matches), not
    O(corpus shingles). ``broadcast_bench=False`` falls back to a plain
    equi-join (AQE picks the strategy) for benchmark suites too large to
    broadcast.

    Output: (doc_id, bench_id, n_overlap, doc_ngrams, overlap_frac) for
    pairs meeting the threshold, excluding doc_id == bench_id self-pairs
    (benchmarks drawn from the corpus itself would trivially self-match).
    """
    sh = shingle_hashes_fast(n)
    d = (
        fan_out(docs)
        .select(F.col(doc_id).alias("__did"), sh(F.col(text_col)).alias("__sh"))
        .filter(F.size("__sh") > 0)
        .select(
            "__did",
            F.size("__sh").cast("long").alias("doc_ngrams"),
            F.explode("__sh").alias("__h"),
        )
    )
    b = (
        fan_out(benchmark)
        .select(
            F.col(bench_id).alias("__bid"), sh(F.col(bench_text_col)).alias("__sh")
        )
        .filter(F.size("__sh") > 0)
        .select("__bid", F.explode("__sh").alias("__h"))
    )
    if broadcast_bench:
        b = F.broadcast(b)
    out = (
        d.join(b, "__h")
        .filter(F.col("__did") != F.col("__bid"))
        .groupBy("__did", "__bid")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.max("doc_ngrams").alias("doc_ngrams"),
        )
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return out.select(
        F.col("__did").alias(doc_id),
        F.col("__bid").alias(bench_id),
        "n_overlap",
        "doc_ngrams",
        (F.col("n_overlap").cast("double") / F.col("doc_ngrams").cast("double")).alias(
            "overlap_frac"
        ),
    )


# ---------------------------------------------------------------- MinHash


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-join.

    rows_per_band = num_hashes / bands; docs sharing any full band land in
    the same bucket. Plan: explode bands (narrow), groupBy-join on
    (band_idx, band_hash) -- shuffle volume O(docs * bands), never
    quadratic. Returns distinct candidate (id_a < id_b) pairs with their
    exact Jaccard for verification.
    """
    r = num_hashes // bands

    def rehash(i: int):
        a, b = MINHASH_A[i], MINHASH_B[i]
        return lambda h: (F.lit(a) * h + F.lit(b)) % POLY_MOD

    sigs = (
        fan_out(df).select(
            F.col(id_col).alias("id"),
            shingle_hashes_fast(n)(F.col(text_col)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .select(
            "id", "sh",
            F.array(
                *[F.array_min(F.transform(F.col("sh"), rehash(i))) for i in range(num_hashes)]
            ).alias("sig"),
        )
    )
    banded = sigs.select(
        "id", "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    # fold keeps acc < POLY_MOD (~2^30), so acc*GRAM_BASE+h
                    # peaks ~2^50 -- no 64-bit overflow (acc*2^61-range
                    # folds overflow under ANSI mode)
                    F.aggregate(
                        F.slice("sig", bnd * r + 1, r),
                        F.lit(0).cast("long"),
                        lambda acc, h: (acc * GRAM_BASE + h) % POLY_MOD,
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.bh")
    a = banded.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "bh")
    pairs = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return pairs.select(
        "id_a", "id_b",
        F.round(inter.cast("double") / union.cast("double"), 6).alias("jaccard"),
    )


# ----------------------------------------------------------------- SimHash


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Sign-aggregated token fingerprint (Charikar).

    For each token t and bit b: contribute +1 if bit b of a derived 61-bit
    token hash is set, else -1; fingerprint bit b = (sum > 0). Derived
    hash = (poly(t) * a_b + b_b) mod P per bit family -- keeps everything
    in 64-bit arithmetic that DuckDB reproduces exactly.
    """
    toks = F.array_distinct(tokens_col(text))
    counters = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.when(
                    ((poly_hash(t) * (2 * b + 3) + b * 97 + 13) % POLY_MOD) % 2 == 1,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long")),
            ),
            lambda a, x: a + x,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda c, b: F.when(
                c > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_sql(text: str, bits: int = SIMHASH_BITS) -> str:
    toks = f"list_distinct({tokens_sql(text)})"
    ph = poly_hash_sql("t")
    bit_contrib = (
        f"list_transform(range(0, {bits}), b -> "
        f"CASE WHEN (({ph} * (2*b + 3) + b*97 + 13) % {POLY_MOD}) % 2 = 1 "
        f"THEN 1::BIGINT ELSE -1::BIGINT END)"
    )
    counters = (
        f"list_reduce(list_prepend(list_transform(range(0, {bits}), x -> 0::BIGINT), "
        f"list_transform({toks}, t -> {bit_contrib})), "
        f"(acc, row) -> list_transform(range(1, {bits} + 1), i -> acc[i] + row[i]))"
    )
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(list_zip({counters}, range(0, {bits})), "
        f"p -> CASE WHEN p[1] > 0 THEN (1::BIGINT << p[2]) ELSE 0::BIGINT END)), "
        f"(a, b) -> a + b)"
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 2,
    sep: str = "\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Corpus-level line (boilerplate) removal, the CCNet/RefinedWeb
    preprocessing step: drop every line whose document frequency exceeds
    ``max_df`` (nav bars, cookie banners, footers repeat across a site;
    real content doesn't), then reassemble each document's surviving
    lines in their original order.

    ``sep`` is a split REGEX (default newline); ``join_sep`` is the
    literal put between surviving lines on reassembly (defaults to
    ``sep`` when that is a plain literal, else a space). Empty lines
    are ignored for both counting and reassembly.

    Scale shape: the df-count is one groupBy over distinct (line, doc)
    pairs, and the removal join is a LEFT ANTI against only the
    OFFENDING lines (df > max_df). The offending-line set is
    DATA-DEPENDENT AND UNBOUNDED -- every site contributes its own
    nav/footer boilerplate, so with a small ``max_df`` it grows with
    the number of sites, not with a fixed dictionary -- therefore the
    join strategy is deliberately left to AQE (no forced broadcast
    hint): at runtime AQE broadcasts when the counted set is genuinely
    small and falls back to a shuffled anti-join on the ``line`` key
    when it is not, instead of OOMing executors on a forced broadcast.
    Reassembly is one grouped sort_array over (pos, line) structs.
    Documents whose every line is boilerplate drop out of the result.
    """
    lines = fan_out(docs).select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line")
    ).filter(F.col("line") != "")
    bad = (
        lines.select("line", id_col)
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("line")
    )
    kept = lines.join(bad, "line", "left_anti")
    if join_sep is None:
        join_sep = sep if sep.isspace() or sep.isalnum() else " "
    joiner = join_sep
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"],
                ),
                joiner,
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )


def span_dedup(
    docs: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact: bool = False,
) -> DataFrame:
    """Duplicated-span detection over rolling ``w``-token windows (the
    substring-dedup signal of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): for each document, the fraction
    of its ``w``-token windows that occur >= 2 times anywhere in the
    corpus (including elsewhere in the same document). High
    ``dup_span_frac`` = the document is largely stitched from text that
    exists verbatim elsewhere -- the span-level complement of document-
    level MinHash dedup, and the per-doc score used to decide span
    excision vs whole-doc removal.

    Output: ``(doc_id, n_windows, dup_windows, dup_span_frac)``;
    documents with fewer than ``w`` word tokens have no windows and emit
    no row.

    Scale shape: windows are built per row as a JVM ``transform`` over
    the token array (shuffle-free) and keyed by the collision-hardened
    64-bit double-polynomial hash (`poly_hash64`, key space ~1e18 -- a
    single 1e9+7 residue already collides at ~1e4 windows) so the
    shuffle moves 8-byte keys, not
    ~50-byte strings; the occurrence count is one map-side-combinable
    hash groupBy, and the attribution join back to (doc, window) rows is
    a shuffled equi-join on the hash key -- deliberately NOT a broadcast:
    the duplicated-window set grows with corpus size (the line_dedup
    lesson), so the strategy is left to AQE. The per-doc reduce is one
    combinable agg. ``exact=True`` keys windows by the raw joined string
    instead (zero collisions, ~w x the shuffle bytes). At 100 TB even
    ~1e18 keys saturate -- production would swap `poly_hash64` for
    ``F.xxhash64`` on the window string; the contract keeps poly because
    the DuckDB oracle reproduces it value-for-value, and `exact` mode is
    the collision-free reference both are tested against.
    """
    if w < 1:
        raise ValueError(f"window must be >= 1 token, got {w}")
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    nw = n - (w - 1)
    if exact:
        key = lambda i: F.concat_ws("\x1f", F.slice(toks, i, w))  # noqa: E731
        wins = F.when(
            nw >= 1, F.transform(F.sequence(F.lit(1), nw), key)
        ).otherwise(F.array().cast("array<string>"))
    else:
        # r6: the window keys come from a numpy-vectorized Arrow kernel
        # (:func:`._fasthash.window_keys_np`) -- a direct windowed fold
        # of the per-token poly64 residues as uint64 slice arithmetic.
        # History: the r4 shape re-hashed every character of every window
        # (28 s at sf0.1); r5 replaced it with a Catalyst ``aggregate``
        # Rabin-Karp rolling fold (4.9 s) -- but Catalyst higher-order
        # functions are INTERPRETED, and the struct-accumulator fold
        # still cost ~32 s of the sf1.0 vector. The kernel computes
        # IDENTICAL values (modular-arithmetic identity with the rolling
        # fold; pinned by the DuckDB oracle, which computes the direct
        # per-window fold) at numpy speed, with token residues memoized
        # across batches (guide §4.2/§4.5).
        from ._fasthash import span_keys_kernel

        wins = span_keys_kernel(w)(F.col(text_col))
    exploded = fan_out(docs).select(
        F.col(id_col).alias("__did"), F.explode(wins).alias("wkey")
    )
    cnts = exploded.groupBy("wkey").agg(F.count(F.lit(1)).alias("occ"))
    return (
        exploded.join(cnts, "wkey")  # no broadcast hint: set is unbounded
        .groupBy("__did")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("occ") >= 2).cast("long")).alias("dup_windows"),
        )
        .select(
            F.col("__did").alias(id_col),
            "n_windows",
            "dup_windows",
            F.round(
                F.col("dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("dup_span_frac"),
        )
    )


# ------------------------------------------------- content-defined chunking


def cdc_chunks(
    docs: DataFrame,
    avg: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunk dedup (the FastCDC / rsync rolling-hash
    family, here at token granularity): a chunk boundary falls AFTER any
    token whose polynomial hash is ``0 mod avg``, so chunk edges are
    decided by content, not position -- an insertion early in a document
    shifts every fixed-window span but leaves all later CDC chunks
    byte-identical, which is why backup/dedup systems prefer it.
    Expected chunk length is ``avg`` tokens.

    Output: ``(doc_id, n_chunks, dup_chunks, dup_chunk_frac)`` where a
    chunk is "dup" if its text occurs >= 2 times corpus-wide (keyed by
    `poly_hash64`, same collision budget as `span_dedup`). Documents
    with no word tokens emit no row.

    Scale shape: tokenization + boundary flags are per-row JVM exprs;
    the chunk assembly is ONE window + groupBy pair partitioned by
    ``doc_id`` (per-doc state only, no global ordering); the occurrence
    count is a map-side-combinable groupBy on the 8-byte chunk key; the
    attribution join is an AQE-chosen equi-join (never a forced
    broadcast -- the duplicated-chunk set grows with corpus size).
    Unlike `span_dedup` each token lands in exactly ONE chunk, so the
    shuffled row count is ~n_tokens, not ~w * n_tokens.
    """
    if avg < 2:
        raise ValueError(f"target average chunk length must be >= 2, got {avg}")
    # r6: chunking is decided entirely WITHIN a document, so the old
    # posexplode -> per-doc window cumsum -> groupBy collect_list plan
    # (two shuffles of ~n_tokens rows) is replaced by a per-row numpy
    # kernel that tokenizes, splits at content boundaries (h1 % avg == 0
    # after a token) and emits each chunk's poly64 key directly
    # (:func:`._fasthash.cdc_keys_np` -- same boundary rule, same join
    # string, same hash grammar; oracle-pinned). The only remaining
    # shuffles are the corpus-wide occurrence count and the attribution
    # join, both unavoidable (guide §2.4: remove shuffles outright).
    from ._fasthash import cdc_keys_kernel

    chunks = fan_out(docs).select(
        F.col(id_col).alias("__did"),
        F.explode(cdc_keys_kernel(avg)(F.col(text_col))).alias("ckey"),
    )
    cnts = chunks.groupBy("ckey").agg(F.count(F.lit(1)).alias("occ"))
    return (
        chunks.join(cnts, "ckey")  # no broadcast hint: set is unbounded
        .groupBy("__did")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("occ") >= 2).cast("long")).alias("dup_chunks"),
        )
        .select(
            F.col("__did").alias(id_col),
            "n_chunks",
            "dup_chunks",
            F.round(
                F.col("dup_chunks").cast("double")
                / F.col("n_chunks").cast("double"),
                6,
            ).alias("dup_chunk_frac"),
        )
    )

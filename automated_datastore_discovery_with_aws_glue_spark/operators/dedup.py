"""Deduplication operators for LLM-data pipelines at 100 TB scale:

- exact dedup           — fingerprint group-by (one shuffle on a 128-bit key)
- n-gram Jaccard        — blocked self-join + exact set Jaccard
- MinHash + LSH         — shingle -> 64-perm signature -> banded bucket
                          join -> verify; candidate generation never
                          compares all pairs (the scale path)
- SimHash               — 64-bit sign-sum sketch + blocked Hamming join

Everything is native DataFrame ops (explode / higher-order functions /
xxhash64 / bit ops) — no Python in the hot path. The quadratic variants
take a blocking column; at 100 TB you block (by language, length bucket,
LSH band) or you don't run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from automated_datastore_discovery_with_aws_glue_spark.operators.cache import (
    own,
    release,
    release_except,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hot import (
    HOT_POLICIES,
    split_hot_buckets,
    star_reps,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.rebalance import spread
from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
    fingerprint,
    let,
    md5_hash64,
    normalize_text,
    token_count,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: representative = min id,
    plus duplicate count. Single hash aggregate on the md5 fingerprint —
    shuffle carries (fingerprint, id, count) only, never the text."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (whole text as a
    single shingle when shorter than n words). The word array is
    let-bound so the split runs once per row, not once per gram."""

    def body(words: Column) -> Column:
        k = F.size(words)
        grams = F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
        return F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", words)))

    return F.array_distinct(let(F.split(normalize_text(col), " "), body))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocks.

    Scale design — prefix-filtered set-similarity join (the All-Pairs /
    PPJoin candidate rule; public literature: Bayardo et al. WWW'07,
    Vernica et al. SIGMOD'10):

    1. Shingles get a canonical total order (their xxhash64 — a proxy
       for rarest-first). For J >= t it suffices to index each doc's
       first ``|sh| - ceil(t*|sh|) + 1`` shingles: any qualifying pair
       must share an indexed prefix shingle.
    2. Candidates = inverted-index equi-join on (block, prefix-shingle)
       — work scales with shared-shingle pairs, never all pairs.
    3. Size-compatibility prune (J>=t implies min/max sizes >= t) with
       integer arithmetic, then exact verification: one array_intersect
       per surviving candidate; |A∪B| = |A|+|B|-|A∩B| so no union
       array materializes.

    Threshold compares use integer cross-multiplication so engine float
    quirks can't flip boundary pairs. Output: (id_a, id_b, jaccard).

    The hashed-shingle frame is the prefix index AND both verification
    sides, so it is persisted (memory-and-disk; hashes only, never the
    text) — one shingling pass instead of three; ``spread`` rebalances
    unsplittable inputs before the CPU-heavy shingle stage.

    Canonical shingle order is ASCENDING DOCUMENT FREQUENCY (ties by
    hash) — the standard all-pairs refinement: prefixes then hold each
    document's *rarest* shingles, so the inverted index rarely collides
    on stop-gram noise. Costs one extra explode+groupBy+join pipeline
    over the shingle stream (at PB scale the df table can come from a
    sample instead; the ordering only affects pruning power, never
    correctness). Raw candidates skip the pre-verification ``distinct``
    — verifying a duplicate candidate is cheaper than shuffling all
    candidates to dedup them; the final (tiny) result dedups instead.
    """
    num = int(round(threshold * 10000))
    base = (
        _hashed_shingle_frame(df, id_col, text_col, n, block_col)
        .withColumn("plen", F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)).cast("int") + 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # document frequency per shingle hash -> rarest-first total order.
    # The prefix index comes straight off a row_number window over
    # (df, ph) per doc: same single shuffle on id as the previous
    # collect_list+array_sort+posexplode formulation, but no per-doc
    # array materialization/re-explode — measured ~20% faster end-to-end
    # with identical pairs.
    grams = base.select("id", "block", "sz", "plen", F.explode("hs").alias("ph"))
    freq = grams.groupBy("ph").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "ph")
    pref = (
        grams.join(freq, "ph")
        .withColumn("p", F.row_number().over(w) - 1)
        .filter(F.col("p") < F.col("plen"))
        .select("id", "block", "sz", "p", "ph")
    )
    a = pref.select(F.col("id").alias("id_a"), "block", F.col("sz").alias("sz_a"), F.col("p").alias("p_a"), "ph")
    b = pref.select(F.col("id").alias("id_b"), "block", F.col("sz").alias("sz_b"), F.col("p").alias("p_b"), "ph")
    # PPJoin positional filter (Xiao et al. WWW'08): with the matched
    # prefix shingle at 0-based positions (p_a, p_b), the overlap can't
    # exceed min(p_a,p_b) common shingles before the match + the match +
    # min(suffix_a, suffix_b) after it; J >= t needs overlap*(1+t) >=
    # t*(sz_a+sz_b). At the best positions (0,0) this reduces to the
    # plain size-compatibility bound, so it strictly subsumes it. Checked
    # with integer cross-multiplication (scaled by 10000+num).
    overlap_bound = (
        F.least("p_a", "p_b")
        + 1
        + F.least(F.col("sz_a") - F.col("p_a") - 1, F.col("sz_b") - F.col("p_b") - 1)
    )
    pos_ok = overlap_bound * F.lit(10000 + num) >= F.lit(num) * (F.col("sz_a") + F.col("sz_b"))
    cand = (
        a.join(b, ["block", "ph"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pos_ok)
        .select("id_a", "id_b")
    )
    sets = base.select("id", "hs", "sz")
    joined = (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    result = (
        joined.filter(F.col("inter") * 10000 >= F.lit(num) * union)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter").cast("double") / union, 4).alias("jaccard"),
        )
        .distinct()
    )
    own(base)
    return result


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def hashed_shingles(col: Column, n: int = 3) -> Column:
    """Sorted distinct 64-bit hashes of the word n-grams — computed
    numerically: hash each word once, then hash each n-window of word
    hashes (``xxhash64(h_i, h_{i+1}, h_{i+2})``). No shingle string is
    ever materialized, and distinct/sort run over fixed-width longs
    instead of variable-length strings. Set cardinalities (and therefore
    Jaccard) match the string formulation modulo 64-bit collisions.

    The word-hash array is let-bound: a plain Column reference inside the
    gram lambda would re-execute the whole split+hash tree for every
    ``element_at`` — O(L^2) work per document instead of O(L)."""

    def body(wh: Column) -> Column:
        k = F.size(wh)
        grams = F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.xxhash64(*[F.element_at(wh, i + j) for j in range(n)]),
        )
        return F.when(k >= n, grams).otherwise(F.array(F.xxhash64(wh)))

    wh_expr = F.transform(F.split(normalize_text(col), " "), lambda w: F.xxhash64(w))
    return F.sort_array(F.array_distinct(let(wh_expr, body)))


def _hashed_shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int, block_col: str | None = None
) -> DataFrame:
    """(id[, block], hs, sz): hs = ``hashed_shingles``. Every downstream
    stage (signatures, prefix index, verification) works on the 8-byte
    hashes — the text is dropped at the scan. ``spread`` rebalances
    unsplittable inputs before the CPU-heavy shingling."""
    cols = [F.col(id_col).alias("id")]
    keep = ["id"]
    if block_col is not None:
        cols.append(F.col(block_col).alias("block"))
        keep.append("block")
    cols.append(F.col(text_col).alias("_t"))
    return (
        spread(df.select(*cols))
        .select(*keep, hashed_shingles(F.col("_t"), n).alias("hs"))
        .withColumn("sz", F.size("hs"))
    )


def _signature_expr(hs: Column, num_hashes: int) -> Column:
    """MinHash signature from a hashed-shingle array, fully map-side.

    The i-th permutation is ``xxhash64(h, i)`` over the 64-bit shingle
    hash — an independent mix per i with no modular arithmetic
    (ANSI-safe), and hashing a fixed-width long instead of re-walking the
    shingle string per permutation. Computed as a nested higher-order
    transform inside one projection: NO explode, NO shuffle — the
    signature stage is embarrassingly parallel at any scale."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hs, lambda h: F.xxhash64(h, i))),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document (one shuffle-free projection:
    shingle -> hash -> per-permutation array_min).

    ``hash_fn='xxhash64'`` is the production path (numeric shingle
    hashes, ``xxhash64(h, i)`` permutations). ``'md5'`` computes the
    i-th permutation as the top-15-hex-digit md5 of ``shingle + '#' + i``
    over the *string* shingles — slower, but the identical computation
    exists in DuckDB so the differential oracle can replay every
    signature value (same pattern as ``simhash64``)."""
    if hash_fn == "md5":
        def perm(s: Column, i: Column) -> Column:
            return md5_hash64(F.concat(s, F.lit("#"), i.cast("string")))

        sig = let(
            word_shingles(F.col("_t"), n),
            lambda sh: F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.array_min(F.transform(sh, lambda s: perm(s, i))),
            ),
        )
        return spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))).select(
            "id", sig.alias("signature")
        )
    return _hashed_shingle_frame(df, id_col, text_col, n).select(
        "id", _signature_expr(F.col("hs"), num_hashes).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    on_hot: str = "drop",
) -> DataFrame:
    """Near-dup pairs via banded LSH + exact-Jaccard verification.

    Candidate generation: signatures split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band bucket become
    candidates (equi-join on (band, bucket-hash) — linear shuffle, never
    all-pairs). Verification recomputes exact shingle Jaccard on the
    candidates only. With 16 bands x 4 rows the S-curve catches
    J >= ~0.5 with high recall.

    The hashed-shingle frame feeds the map-side signature expression and
    both verification sides — persisted once (sorted hash arrays, never
    text); signatures need no shuffle at all (see ``_signature_expr``).

    ``max_bucket`` mirrors the hot-bucket safety valve of
    ``similarity.lsh_near_dup``: (band, bucket) groups larger than the
    cap — boilerplate-dominated corpora collapsing into one bucket —
    leave the self-join before it turns quadratic. ``on_hot`` picks the
    policy (``operators/hot.py``): ``'drop'`` excludes them (logged,
    never silent), ``'route'`` emits star candidates to each hot
    group's min-id representative — O(B) per bucket, same exact
    verification."""
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    rows = num_hashes // bands
    base = _hashed_shingle_frame(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = base.select("id", _signature_expr(F.col("hs"), num_hashes).alias("signature"))
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bandix: F.struct(
                    bandix.alias("band"),
                    # xxhash64 hashes the band's long-array slice directly
                    F.xxhash64(F.slice("signature", bandix * rows + 1, rows)).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    extra = None
    cached: list = [base]
    if max_bucket is not None:
        banded, hot, _stats, sizes = split_hot_buckets(
            banded, ("band", "bucket"), max_bucket,
            label="minhash_lsh_pairs", policy=on_hot,
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("band", "bucket"))
                .filter(F.col("id") != F.col("_rep"))
                .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
            )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    if extra is not None:
        cand = cand.union(extra)
    cand = cand.distinct()
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    num = int(round(threshold * 10000))
    result = (
        cand.join(
            base.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .filter(inter * 10000 >= F.lit(num) * union)
        .select("id_a", "id_b", F.round(inter.cast("double") / union, 4).alias("jaccard"))
    )
    own(*cached)
    return result


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    on_hot: str = "drop",
) -> DataFrame:
    """Differential twin of ``minhash_lsh_pairs``: same banded-LSH shape
    (signature -> band slices -> equi-join -> exact-Jaccard verify), but
    every hash is the top-15-hex-digit md5 used by ``minhash_signatures
    (hash_fn='md5')`` — a computation DuckDB reproduces bit-for-bit, so
    the *pair set itself* is oracle-checkable, not just the signatures.
    Candidates join on the band's signature slice directly (arrays are
    hashable join keys); verification runs on distinct string shingles.
    ``max_bucket``/``on_hot`` are the same hot-bucket valve as the
    xxhash64 variant (the (band, slice) group is the bucket key).

    The xxhash64 variant stays the production path — numeric shingle
    hashes and more permutations; this twin exists so the driver's
    differential gate can pin the full candidate+verify pipeline."""
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    rows = num_hashes // bands
    base = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", word_shingles(F.col("_t"), n).alias("sh"))
        .withColumn("sz", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def perm(s: Column, i: Column) -> Column:
        return md5_hash64(F.concat(s, F.lit("#"), i.cast("string")))

    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(F.col("sh"), lambda s: perm(s, i))),
    )
    banded = base.select("id", sig.alias("signature")).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bandix: F.struct(
                    bandix.alias("band"),
                    F.slice("signature", bandix * rows + 1, rows).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    extra = None
    cached = [base]
    if max_bucket is not None:
        banded, hot, _stats, sizes = split_hot_buckets(
            banded, ("band", "bucket"), max_bucket,
            label="minhash_lsh_pairs_md5", policy=on_hot,
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("band", "bucket"))
                .filter(F.col("id") != F.col("_rep"))
                .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b"))
            )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    if extra is not None:
        cand = cand.union(extra)
    cand = cand.distinct()
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    num = int(round(threshold * 10000))
    result = (
        cand.join(
            base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .filter(inter * 10000 >= F.lit(num) * union)
        .select("id_a", "id_b", F.round(inter.cast("double") / union, 4).alias("jaccard"))
    )
    own(*cached)
    return result


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: per-document sketch from the distinct-token hash array ``th``: fold a
#: {width}-bin bit histogram (ones[i] = #tokens with bit i set), then set
#: sketch bit i iff the majority of tokens have it (sign-sum > 0 iff
#: 2*ones > n). ONE SQL expression: a single parse/analyze, no explode,
#: no shuffle — the sketch stage scales with executors alone.
# Per-bit scalar fold: the outer loop runs once per sketch bit, the inner
# aggregate folds the token hashes with a SCALAR accumulator. The earlier
# counter-array formulation (zip_with over a 64-long accumulator) allocated
# a fresh 64-element array per token — same O(T x width) step count but
# with per-token allocation; this form measures ~15% faster and allocates
# nothing per token.
_SIMHASH_EXPR_TMPL = """
    aggregate(
        transform(sequence(0, {maxbit}), i ->
            shiftleft(cast(2 * aggregate(th, cast(0 as bigint),
                                         (a, h) -> a + (shiftrightunsigned(h, i) & 1))
                           > size(th) as bigint), i)),
        cast(0 as bigint),
        (acc, t) -> acc ^ t
    )
"""
_SIMHASH_EXPR = _SIMHASH_EXPR_TMPL.format(maxbit=63)


def simhash64(df: DataFrame, id_col: str, text_col: str, *, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash per document, fully map-side: hash the distinct tokens,
    then fold the sketch with one higher-order expression. The old
    formulation exploded every token and ran a 64-column SUM aggregate —
    a full shuffle of the token stream plus a giant generated aggregate
    class; this is one shuffle-free projection.

    ``hash_fn='xxhash64'`` is the production path (full 64-bit sketch).
    ``'md5'`` hashes each token to the top 15 hex digits of its md5 —
    a 60-bit sketch whose entire computation exists identically in
    DuckDB, so the differential oracle can replay the sketch math
    bit-for-bit (same pattern as ``text.winnow_fingerprints``)."""
    if hash_fn == "md5":
        width = 60
        def tok_hash(t: Column) -> Column:
            return md5_hash64(t)
    else:
        width = 64
        def tok_hash(t: Column) -> Column:
            return F.xxhash64(t)
    expr = _SIMHASH_EXPR_TMPL.format(maxbit=width - 1)
    return spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))).select(
        "id",
        F.transform(
            F.array_distinct(F.split(normalize_text(F.col("_t")), " ")),
            tok_hash,
        ).alias("th"),
    ).select("id", F.expr(expr).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    *,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    on_hot: str = "drop",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming within blocks.

    Candidate generation is EXACT band-blocking (Manku et al., WWW'07):
    split the 64-bit sketch into ``max_hamming + 1`` disjoint bit bands —
    by pigeonhole, two sketches within ``max_hamming`` bits agree on at
    least one whole band — and equi-join on (block, band, band-bits).
    Work scales with band collisions, never all pairs; verification is a
    single bit_count per candidate.

    ``max_bucket`` is the hot-bucket safety valve (see
    ``minhash_lsh_pairs``): (block, band, key) groups above the cap
    leave the self-join. NOTE unlike the probabilistic LSH families this
    band-blocking is exact, so a cap trades completeness for boundedness.
    ``on_hot='drop'`` excludes capped groups (logged, never silent);
    ``on_hot='route'`` keeps hot groups connected by pairing every
    member with the group's min-id representative (its sketch rides the
    ``min_by`` aggregate) — O(B) per bucket, Hamming-verified like any
    candidate. Default ``max_bucket=None`` keeps exactness."""
    if on_hot not in HOT_POLICIES:
        raise ValueError(f"on_hot must be one of {HOT_POLICIES}, got {on_hot!r}")
    bands = max_hamming + 1
    width = 64 // bands
    mask = (1 << width) - 1
    s = simhash64(df, id_col, text_col)
    blocks = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("block"))
    # both sides of the band join read the sketch frame — persist the
    # (id, simhash, block) triple (16B/doc) so sketches compute once
    base = s.join(blocks, "id").persist(StorageLevel.MEMORY_AND_DISK)
    # the 8-byte sketch rides along on both sides of the band join, so
    # verification needs NO join back to the sketch frame — measured ~25%
    # faster than candidates->distinct->2 lookup joins, same results
    banded = base.select(
        "id",
        "block",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "block", "simhash", "bb.band", "bb.key")
    extra = None
    cached = [base]
    if max_bucket is not None:
        banded, hot, _stats, sizes = split_hot_buckets(
            banded, ("block", "band", "key"), max_bucket,
            label="simhash_pairs", policy=on_hot,
        )
        cached.append(sizes)
        if on_hot == "route":
            extra = (
                star_reps(hot, ("block", "band", "key"), carry={"_rep_sh": "simhash"})
                .filter(F.col("id") != F.col("_rep"))
                .select(
                    F.col("_rep").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.col("_rep_sh").alias("sh_a"),
                    F.col("simhash").alias("sh_b"),
                )
            )
    left = banded.select(
        F.col("id").alias("id_a"), "block", "band", "key", F.col("simhash").alias("sh_a")
    )
    right = banded.select(
        F.col("id").alias("id_b"), "block", "band", "key", F.col("simhash").alias("sh_b")
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    cand = (
        left.join(right, ["block", "band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    )
    if extra is not None:
        cand = cand.union(extra)
    result = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    own(*cached)
    return result


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    hash_fn: str = "xxhash64",
    detect_on: DataFrame | None = None,
) -> DataFrame:
    """Test-set decontamination (the GPT-3-style pipeline step): drop
    every training document that shares ANY word ``n``-gram with the
    benchmark corpus, so evaluation data never leaks into training.

    Scale shape — the benchmark is the SMALL side (benchmarks are KBs/MBs
    where the corpus is TBs): its distinct gram hashes build once and
    BROADCAST to the training scan, so contamination detection is a
    map-side semi-join over the exploded corpus grams (no corpus-sized
    shuffle to find matches); the only corpus-keyed shuffle is the final
    anti-join on contaminated ids, which is bounded by the number of
    contaminated documents. Gram hashing reuses ``hashed_shingles``
    (fixed-width longs, no gram strings materialize).

    ``hash_fn='md5'`` computes grams as top-15-hex-digit md5 of the
    string shingles — the DuckDB-replayable twin (same dual-path design
    as ``minhash_signatures``); ``'xxhash64'`` is the production path.
    Returns the surviving ``train`` rows unchanged.

    ``detect_on`` (optional) is the frame the contaminated id set is
    COMPUTED from — it must contain every ``train`` row's (id, text)
    pair; a SUPERSET is fine because the final anti-join only ever
    removes ids present in ``train``. Callers whose ``train`` is an
    expensive derivation of an already-cached frame (corpus_prepare's
    post-dedup canonical slice of the persisted quality gate) pass the
    cached superset here so the gram explode reads the cache instead of
    re-evaluating the canonical subtree — identical output, one
    evaluation of the expensive side."""
    if hash_fn == "md5":
        def grams(df: DataFrame) -> DataFrame:
            sh = word_shingles(F.col("_t"), n)
            return (
                spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
                .select("id", F.explode(sh).alias("g"))
                .select("id", md5_hash64(F.col("g")).alias("gh"))
            )
    else:
        def grams(df: DataFrame) -> DataFrame:
            return _hashed_shingle_frame(df, id_col, text_col, n).select(
                "id", F.explode("hs").alias("gh")
            )

    bench_grams = grams(bench).select("gh").distinct()
    contaminated = (
        grams(train if detect_on is None else detect_on)
        .join(F.broadcast(bench_grams), "gh", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def decontaminate_bloom(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    hash_fn: str = "xxhash64",
    num_bits: int = 8_388_608,
) -> DataFrame:
    """:func:`decontaminate` for the regime where the benchmark's gram
    set is too large to broadcast as an exact hash set (many benchmarks
    x many grams at 100 TB): build a BLOOM FILTER over the benchmark
    grams, prefilter the corpus gram scan with it, then verify ONLY the
    flagged rows against the exact gram set with a shuffle semi-join.

    The filter is a one-hash blocked Bloom built from public primitives
    (Spark's ``bloom_filter_agg`` expression is not SQL-registered):
    bit position = ``pmod(gh, num_bits)``, packed into 64-bit words by a
    ``bit_or`` aggregate — at the default 2^23 bits that is a <=131072-
    row (word, bits) table, ~1 MB broadcast however many grams it
    summarizes. The prefilter is then a broadcast join on the word
    index + a mask test — map-side, corpus never shuffles to be tested.

    Exactness is preserved by construction: a Bloom filter has no false
    negatives, so every truly contaminated gram survives the prefilter,
    and the exact verify discards the false positives — the output
    EQUALS :func:`decontaminate`'s (same oracle), while the exact
    set's shuffle join now sees only the flagged sliver of the corpus
    instead of every gram. Undersizing ``num_bits`` degrades the
    prefilter's selectivity, never the answer (pinned in pytest with an
    absurdly small filter)."""
    if hash_fn == "md5":
        def grams(df: DataFrame) -> DataFrame:
            sh = word_shingles(F.col("_t"), n)
            return (
                spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
                .select("id", F.explode(sh).alias("g"))
                .select("id", md5_hash64(F.col("g")).alias("gh"))
            )
    else:
        def grams(df: DataFrame) -> DataFrame:
            return _hashed_shingle_frame(df, id_col, text_col, n).select(
                "id", F.explode("hs").alias("gh")
            )

    def bit_cols(df: DataFrame) -> DataFrame:
        # F.shiftleft only takes a literal shift amount; the per-row
        # shift goes through an expression
        pos = F.pmod(F.col("gh"), F.lit(int(num_bits)))
        return df.withColumn("_pos", pos).selectExpr(
            "*",
            "CAST(_pos / 64 AS BIGINT) AS _w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT)) AS _m",
        ).drop("_pos")

    bench_grams = grams(bench).select("gh").distinct()
    bloom = (
        bit_cols(bench_grams)
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
    )
    flagged = (
        bit_cols(grams(train))
        .join(F.broadcast(bloom), "_w")
        .filter(F.col("_m").bitwiseAND(F.col("_bits")) != 0)
        .select("id", "gh")
    )
    contaminated = (
        flagged.join(bench_grams, "gh", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def contamination_scores(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """GRADED test-set contamination: per training document, the
    fraction of its distinct word ``n``-grams that appear anywhere in
    the benchmark corpus — the overlap metric behind GPT-3's appendix-C
    contamination analysis, where :func:`decontaminate` is the boolean
    gate built on the same rule. Use it to rank/flag instead of drop
    (e.g. keep docs under an overlap budget).

    Same scale shape as :func:`decontaminate`: the benchmark's distinct
    gram hashes build once and BROADCAST (benchmarks are MBs where the
    corpus is TBs), the corpus side joins map-side against them, and the
    only corpus-keyed shuffle is the per-doc aggregate of (hits, total)
    pairs of longs. Returns ``(id, n_grams, n_contaminated,
    contamination_frac)`` for every ``train`` row (gram-less docs score
    0.0). ``hash_fn`` as in :func:`decontaminate` ('md5' = the
    DuckDB-replayable twin)."""
    if hash_fn == "md5":
        def grams(df: DataFrame) -> DataFrame:
            sh = word_shingles(F.col("_t"), n)
            return (
                spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
                .select("id", F.explode(sh).alias("g"))
                .select("id", md5_hash64(F.col("g")).alias("gh"))
            )
    else:
        def grams(df: DataFrame) -> DataFrame:
            return _hashed_shingle_frame(df, id_col, text_col, n).select(
                "id", F.explode("hs").alias("gh")
            )

    bench_grams = grams(bench).select("gh").distinct().withColumn("_hit", F.lit(1))
    scored = (
        grams(train)
        .join(F.broadcast(bench_grams), "gh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                4,
            ).alias("contamination_frac"),
        )
    )


def dedup_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep: str = "\n\n",
) -> DataFrame:
    """Segment-level (paragraph/line) dedup across the WHOLE corpus —
    the C4/RefinedWeb-style cleaning step: split each document on
    ``sep``, keep only the globally FIRST occurrence of every distinct
    segment (order: (doc id, position)), and reassemble documents from
    their surviving segments. Returns ``(id, text, n_kept, n_dropped)``
    — a document whose every segment is boilerplate comes back empty
    rather than disappearing.

    Shape: posexplode -> md5 fingerprint -> one row_number window keyed
    on the fingerprint (the only shuffle that grows with segment count;
    the shuffle carries 16-byte hashes + positions, never full segments
    twice) -> groupBy(id) reassembly ordered by position, left-joined
    back onto the input ids so EVERY document keeps its output row (a
    NULL/empty/all-boilerplate text comes back as ''). ``sep`` is a
    literal string — it is regex-escaped for the split (F.split takes a
    pattern; an unescaped '. ' or '|' would shred documents). No
    all-pairs anywhere; skew on a viral boilerplate segment is one hot
    fingerprint key whose rows are a few bytes each."""
    import re as _re

    segs = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(F.col(text_col), F.lit(_re.escape(sep)), -1)
            ).alias("pos", "seg"),
        )
        .filter(F.trim("seg") != "")
        .withColumn("fp", F.md5(F.col("seg").cast("binary")))
    )
    w = Window.partitionBy("fp").orderBy("id", "pos")
    kept = segs.withColumn("rn", F.row_number().over(w))
    reassembled = (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s.getField("seg"),
                ),
            ).alias("text"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
            F.sum((F.col("rn") != 1).cast("long")).alias("n_dropped"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(reassembled, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components) + canonical selection
# ---------------------------------------------------------------------------

def _clusters_driver_unionfind(
    pairs: DataFrame,
    edges: DataFrame,
    all_ids: DataFrame | None,
    *,
    id_a: str,
) -> DataFrame:
    """Bounded small-graph path of :func:`dedup_clusters`: exact
    union-find over the collected edge set (path-halving + min-root
    merge so the representative is the component MINIMUM, matching the
    distributed labels bit-for-bit), labels re-distributed via a
    broadcast join. The caller has counted ``edges`` under the cap, so
    the collect is bounded by construction."""
    rows = edges.collect()
    edges.unpersist()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r["a"]), find(r["b"])
        if ra != rb:
            # min root wins -> label = component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = [(x, find(x)) for x in parent]
    idt = pairs.schema[id_a].dataType
    schema = T.StructType(
        [T.StructField("id", idt), T.StructField("cluster_id", idt)]
    )
    spark = pairs.sparkSession
    labels_df = spark.createDataFrame(labels, schema)
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        return ids.join(F.broadcast(labels_df), "id", "left").select(
            "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )
    return labels_df


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
    driver_max_pairs: int | None = 200_000,
) -> DataFrame:
    """Connected components over near-dup pairs — the step that turns
    pairwise similarity into dedup groups: ``(id, cluster_id)`` with
    ``cluster_id`` = the component's minimum id (a deterministic
    canonical representative). With ``all_ids`` (one id per row, first
    column), unpaired documents appear as their own singleton cluster.

    Small-graph fast path: the verified pair set is orders of magnitude
    smaller than the corpus (it is the LSH/PPJoin OUTPUT — ~O(actual
    near-dups), not O(rows²)), so when the distinct directed edge count
    is at most ``2 * driver_max_pairs`` the components are solved with a
    driver-side union-find — one bounded collect, ZERO iterative jobs —
    and the labels broadcast back. The real driver cost is PySpark Row
    objects (~100+ bytes each incl. py4j transfer), so the default cap
    of 200k pairs bounds the collect at tens of MB of Python objects;
    raise it deliberately if your driver is sized for more. This removes
    the per-round scheduling latency that dominates the distributed loop
    on small graphs. Above the cap (or with ``driver_max_pairs=None``)
    the fully distributed path runs; results are identical either way
    (both compute exact components with min-id labels).

    Distributed path — iterative min-label propagation: each round every
    node takes the minimum label among itself and its neighbors; after k
    rounds a node holds the component minimum within distance k, so
    rounds needed = component diameter. Near-dup components are shallow
    (star-like around a template document), so 2-4 rounds is typical;
    ``max_rounds`` bounds adversarial chains.

    Scale: each round is one equi-join + one groupBy, both keyed on the
    node id (the exchange is reused), and convergence is detected with a
    LIMIT-1 count — O(1) driver data per round. ``localCheckpoint``
    truncates lineage every round so the plan does not grow with rounds
    (iterative DataFrame algorithms otherwise re-plan the full history).

    Raises ``RuntimeError`` if labels are still changing after
    ``max_rounds`` — exiting silently there would return *wrong* cluster
    ids for any component whose diameter exceeds the bound.

    Cache lifecycle (``operators/cache.py``): ``pairs`` is consumed —
    the label computation is eager, so its caches are released here,
    except those the result still reads through ``all_ids``; do not
    release ``pairs`` yourself, and re-collecting it afterwards
    recomputes (correct, uncached). Each round's checkpoint is released
    as soon as the next round has materialized. Release the result once
    after its last action: it reads the final round's checkpoint, so
    it cannot recompute afterwards.
    """
    # both edge directions come out of ONE evaluation of the pair
    # subtree (explode of a 2-struct array): the former
    # e.union(e.reversed) planned the — typically expensive, rarely
    # persisted — pair generation TWICE (two full candidate+verify
    # passes feeding one distinct)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                    F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
                )
            ).alias("_ab")
        )
        .select("_ab.a", "_ab.b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the count materializes the persisted edge set either way; on the
    # small side it also licenses the bounded driver collect
    if driver_max_pairs is not None and edges.count() <= 2 * driver_max_pairs:
        result = _clusters_driver_unionfind(pairs, edges, all_ids, id_a=id_a)
        release_except(pairs, result)
        return result
    # init = the first propagation round fused into a groupBy (labels are
    # the identity at round 0, so min-over-neighbors needs no join yet):
    # every node starts at min(id, neighbors) — one round fewer in the loop
    labels = (
        edges.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("mb"))
        .select("id", F.least("id", "mb").alias("label"))
        .localCheckpoint()
    )
    own(labels)
    for _ in range(max_rounds):
        nmin = (
            edges.join(labels.select(F.col("id").alias("b"), F.col("label").alias("nb")), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("nb").alias("nlabel"))
        )
        # change detection rides the update projection — no second join
        # against the previous labels, just a LIMIT-1 probe on the
        # checkpointed result
        new = (
            labels.join(nmin, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                F.coalesce(F.col("nlabel") < F.col("label"), F.lit(False)).alias("_chg"),
            )
            .localCheckpoint()
        )
        own(new)
        changed = new.filter("_chg").limit(1).count()
        # the superseded round's checkpoint feeds no live plan once
        # `new` is materialized (localCheckpoint is eager) — drop it NOW
        # instead of letting rounds pile up for the session's lifetime
        release(labels)
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        edges.unpersist()
        release(labels)
        release_except(pairs, all_ids)
        raise RuntimeError(
            f"dedup_clusters: labels still changing after {max_rounds} rounds "
            "(a component's diameter exceeds max_rounds; its cluster ids would "
            "be wrong). Raise max_rounds — rounds needed = component diameter."
        )
    edges.unpersist()
    if all_ids is not None:
        ids = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
        result = ids.join(labels, "id", "left").select(
            "id", F.coalesce("label", F.col("id")).alias("cluster_id")
        )
    else:
        result = labels.select("id", F.col("label").alias("cluster_id"))
    release_except(pairs, result)
    return result


def dedup_canonical(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep exactly one document per near-dup cluster (the minimum-id
    representative) — the end of the dedup pipeline: pairs -> clusters ->
    filtered corpus. Left-semi join, so no column changes and no row
    multiplication.

    Consumes ``pairs`` like :func:`dedup_clusters`. The result reads the
    cluster checkpoint and ``df``'s caches: release it once after its
    last action (``cache.release``) — frames derived from it need
    nothing, and neither ``pairs`` nor ``df`` is released separately."""
    clusters = dedup_clusters(pairs, df.select(id_col))
    keep = clusters.filter(F.col("id") == F.col("cluster_id"))
    return df.join(keep.select(F.col("id").alias(id_col)), id_col, "left_semi")


def _span_gram_base(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared base of the repeated-span operators: ``base`` = (id,
    n_tokens, _w normalized word array), ``grams`` = every POSITIONED
    word k-gram keyed by md5 (pos is the 0-based gram index; the gram
    at pos covers tokens [pos, pos+k-1])."""
    base = df.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_w"),
    )
    grams = base.select(
        "id",
        F.posexplode(
            F.when(
                F.size("_w") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - k + 1),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("_w", i, k))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    return base, grams


def _merged_spans(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked gram positions into disjoint
    per-document token spans ``(id, _s, _e)`` — overlapping or adjacent
    k-token covers collapse via a running max of span end."""
    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("_end", F.col("pos") + k - 1)
        .withColumn("_prev_end", F.max("_end").over(w_prev))
        .withColumn(
            "_new",
            (F.col("_prev_end").isNull() | (F.col("pos") > F.col("_prev_end") + 1)).cast("int"),
        )
        .withColumn("_island", F.sum("_new").over(w_run))
        .groupBy("id", "_island")
        .agg(F.min("pos").alias("_s"), F.max("_end").alias("_e"))
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Cross-document repeated-substring analysis at word-k-gram
    granularity — the Spark-first approximation of exact substring
    dedup over a suffix array ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022: repeated >= N-token spans
    are memorization fuel and should be found corpus-wide, not just at
    whole-document granularity).

    Shape: every POSITIONED word k-gram of every document
    (``posexplode`` — positions matter here, unlike the dedup
    shingles), keyed by md5; a gram occurring more than once in the
    CORPUS (any document, including the same one) marks its k-token
    span; overlapping/adjacent marked spans merge per document via a
    gaps-and-islands window (running max of span end). Output per
    document: ``(id, n_spans, dup_tokens, n_tokens, dup_frac)`` —
    ``dup_frac`` is the fraction of the document's tokens inside some
    repeated span, the number a span-trim or doc-drop policy thresholds
    on.

    Scale: one shuffle on the gram hash (count), one semi-join back
    (hash-partitioned, candidate-bounded), one per-document window.
    Everything JVM-side; the gram payload entering the count shuffle is
    a 32-char md5, never the text.
    """
    base, grams = _span_gram_base(df, id_col, text_col, k)
    repeated = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("h")
    )
    marked = grams.join(repeated, "h", "left_semi")
    spans = (
        _merged_spans(marked, k)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_tokens"),
        )
    )
    return (
        base.select("id", "n_tokens")
        .join(spans, "id", "left")
        .select(
            "id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def strip_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """The ACTIONABLE form of :func:`dup_span_stats`: rebuild each
    document with every non-first occurrence of a corpus-repeated
    k-gram span REMOVED, keeping the corpus-wide first occurrence
    (winner = min id, then min position within it — Lee et al. 2022's
    keep-one-copy policy at k-gram granularity). Output text is the
    NORMALIZED token stream re-joined with single spaces — the same
    canonical form every operator in the dedup family hashes.

    Returns ``(id, text_stripped, n_kept, n_removed)``; a document
    whose every token sits inside someone else's earlier span comes
    back empty, never dropped.

    Scale: the stats operator's shuffles plus one winner aggregate
    (metadata-scale: one row per repeated hash) and one positions
    anti-join whose exploded side is bounded by the corpus's duplicated
    tokens.
    """
    base, grams = _span_gram_base(df, id_col, text_col, k)
    # winner = the lexicographic struct-min over (id, pos): first the
    # minimum id, then the minimum pos within that id — exactly the
    # (min doc, first position in it) keep-one-copy policy. One
    # aggregate replaces the old three-step rep -> firsts-join ->
    # anti-join chain (r14): the grams subtree is evaluated twice
    # instead of three times and two gram-scale joins disappear.
    rep = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("id", "pos")).alias("_w"),
        )
        .filter(F.col("_n") > 1)
        .select(
            "h",
            F.col("_w.id").alias("_wid"),
            F.col("_w.pos").alias("_wpos"),
        )
    )
    # inner join on the unique-h winner table (row-preserving for
    # repeated grams), then drop the single winning occurrence — the
    # same rows the semi-join + anti-join pair kept
    marked = grams.join(rep, "h").filter(
        ~((F.col("id") == F.col("_wid")) & (F.col("pos") == F.col("_wpos")))
    )
    covered = _merged_spans(marked, k).select(
        "id", F.explode(F.sequence("_s", "_e")).alias("pos")
    )
    toks = base.select(
        "id", F.posexplode("_w").alias("pos", "tok")
    ).filter(F.col("tok") != "")
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias("_a")
    )
    return (
        base.select("id", "n_tokens")
        .join(agg, "id", "left")
        .select(
            "id",
            F.concat_ws(
                " ",
                F.transform(
                    F.coalesce("_a", F.array().cast("array<struct<pos:int,tok:string>>")),
                    lambda x: x["tok"],
                ),
            ).alias("text_stripped"),
            F.coalesce(F.size("_a"), F.lit(0)).alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.size("_a"), F.lit(0))).alias("n_removed"),
        )
    )

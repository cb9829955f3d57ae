"""Cross-table fuzzy (similarity) join via banded MinHash LSH.

The dedup family (`operators/dedup.py`) finds near-duplicate pairs
WITHIN one corpus; record linkage needs the two-table form — match a
dirty feed against a clean master by text similarity, never by exact
key. Same public construction (Broder MinHash + banding, Leskovec et
al., "Mining of Massive Datasets" ch. 3), different join topology:

- each side independently computes shingles -> signature -> band
  buckets (all map-side, no shuffle);
- candidates = ONE equi-join of left buckets against right buckets on
  ``(band, bucket)`` — linear shuffle in the bucket frames, never
  |L| x |R|;
- exact shingle Jaccard verifies candidates only, against the
  persisted shingle frames.

``hash_fn='xxhash64'`` is the production path (numeric shingle hashes,
``xxhash64(h, i)`` permutations). ``'md5'`` runs the identical pipeline
on string shingles with md5 permutation hashes so a DuckDB oracle can
replay signatures, candidates, and verification bit-for-bit (house twin
pattern, see ``dedup.minhash_lsh_pairs_md5``).

Hot buckets (boilerplate collapsing both sides into one bucket) go
through the same accounted valve as the dedup family: groups larger
than ``max_bucket`` on EITHER side are dropped from candidate
generation (logged, never silent) — at 100 TB this is what keeps the
bucket join from turning quadratic on degenerate text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.storagelevel import StorageLevel

from automated_datastore_discovery_with_aws_glue_spark.operators.cache import own
from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
    _hashed_shingle_frame,
    _signature_expr,
    word_shingles,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.hot import (
    split_hot_buckets,
)
from automated_datastore_discovery_with_aws_glue_spark.operators.rebalance import spread
from automated_datastore_discovery_with_aws_glue_spark.operators.text import md5_hash64


def _md5_shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", word_shingles(F.col("_t"), n).alias("sh"))
        .withColumn("sz", F.size("sh"))
    )


def _md5_signature(num_hashes: int) -> Column:
    def perm(s: Column, i: Column) -> Column:
        return md5_hash64(F.concat(s, F.lit("#"), i.cast("string")))

    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(F.col("sh"), lambda s: perm(s, i))),
    )


def _banded(base: DataFrame, sig: Column, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) — bucket is the band's signature slice (arrays
    are hashable join keys; keeping the slice itself rather than a hash
    of it is what lets the md5 twin replay in SQL)."""
    return (
        base.select("id", sig.alias("signature"))
        .select(
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
        )
        .select("id", "bb.band", "bb.bucket")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Similarity join: ``(id_l, id_r, jaccard)`` for every cross-table
    pair with shingle Jaccard >= ``threshold`` that shares at least one
    LSH band bucket (the S-curve recall caveat of every LSH family —
    near-threshold pairs are probabilistic; see the dedup twins).

    Jaccard is thresholded by integer cross-multiplication
    (``inter * 10000 >= t * union``) — boundary pairs are engine-stable."""
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    rows = num_hashes // bands
    if hash_fn == "md5":
        base_l = _md5_shingle_frame(left, left_id, left_text, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        base_r = _md5_shingle_frame(right, right_id, right_text, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        sig = _md5_signature(num_hashes)
    else:
        base_l = _hashed_shingle_frame(left, left_id, left_text, n).withColumnRenamed(
            "hs", "sh"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        base_r = _hashed_shingle_frame(right, right_id, right_text, n).withColumnRenamed(
            "hs", "sh"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        sig = _signature_expr(F.col("sh"), num_hashes)

    banded_l = _banded(base_l, sig, bands, rows)
    banded_r = _banded(base_r, sig, bands, rows)
    cached = [base_l, base_r]
    if max_bucket is not None:
        banded_l, _hot_l, _st_l, sizes_l = split_hot_buckets(
            banded_l, ("band", "bucket"), max_bucket, label="fuzzy_join.left",
            policy="drop",
        )
        banded_r, _hot_r, _st_r, sizes_r = split_hot_buckets(
            banded_r, ("band", "bucket"), max_bucket, label="fuzzy_join.right",
            policy="drop",
        )
        cached += [sizes_l, sizes_r]

    cand = (
        banded_l.select(F.col("id").alias("id_l"), "band", "bucket")
        .join(
            banded_r.select(F.col("id").alias("id_r"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("id_l", "id_r")
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_l", "sh_r"))
    union = F.col("sz_l") + F.col("sz_r") - inter
    num = int(round(threshold * 10000))
    result = (
        cand.join(
            base_l.select(
                F.col("id").alias("id_l"), F.col("sh").alias("sh_l"), F.col("sz").alias("sz_l")
            ),
            "id_l",
        )
        .join(
            base_r.select(
                F.col("id").alias("id_r"), F.col("sh").alias("sh_r"), F.col("sz").alias("sz_r")
            ),
            "id_r",
        )
        .filter(inter * 10000 >= F.lit(num) * union)
        .select("id_l", "id_r", F.round(inter.cast("double") / union, 4).alias("jaccard"))
    )
    own(*cached)
    return result

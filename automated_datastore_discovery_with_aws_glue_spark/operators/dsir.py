"""DSIR-style data selection via hashed n-gram importance resampling.

Public method: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (NeurIPS) — fit bag-of-hashed-n-grams models on a
TARGET corpus (the distribution you want more of) and on the RAW pool,
score every raw document by its importance log-weight

    log w(x) = sum_b c_b(x) * [ln p_b - ln q_b]
             = sum over gram occurrences of ln((tp_b + 1) / (tq_b + 1))
               + C(x) * ln((Tq + B) / (Tp + B))          (add-1 smoothing)

then keep the top-weighted (or Gumbel-resampled) slice. The engine's
selection step is a deterministic top-k on the weight.

Numerics are engine-portable by construction: the per-bucket log-ratio
and the normalization constant are QUANTIZED to integer micro-nats
(``round(ln(r) * 1e6)``) before any per-document summation, so the
document score is an exact integer sum — order-independent under hash
aggregation and bit-identical in the DuckDB oracle (the only libm call,
``ln``, sits behind the quantization; a 1-ulp divergence would have to
land within 5e-7 of a rounding boundary to surface).

Scale shape (100 TB): the gram explode is map-local; bucket tables are
``n_buckets`` rows (constant), broadcast to the scorer; the only
corpus-sized shuffle is the per-document partial-aggregated integer sum.
No all-pairs anything, no Python UDFs, no driver collects.

Reference scope: the discovery pipeline (src/lambda, glue_jobs) has no
training-data selection stage — this is beyond-parity surface from the
builder brief's text-analysis mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from automated_datastore_discovery_with_aws_glue_spark.operators import cache as C
from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
    md5_hash64,
    normalize_text,
    tokens,
    word_grams,
)

#: hashed-feature dimensionality (shared unigram+bigram bucket space)
N_BUCKETS = 4096

#: micro-nat quantization of the per-bucket log-ratios
_SCALE = 1_000_000


def gram_occurrences(
    df: DataFrame, id_col: str, text_col: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per unigram AND bigram OCCURRENCE (multiplicity kept)
    with its hash bucket: ``(id, *extra, bucket)``. Empty-normalized
    documents contribute nothing. Fully map-side (split + one explode)."""
    norm = normalize_text(F.col(text_col))
    grams = F.concat(tokens(F.col(text_col)), word_grams(F.col(text_col), 2))
    return (
        df.filter(norm != "")
        .select(id_col, *extra_cols, F.explode(grams).alias("gram"))
        .select(
            id_col,
            *extra_cols,
            (md5_hash64(F.col("gram")) % N_BUCKETS).alias("bucket"),
        )
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Importance log-weight (integer micro-nats) for every raw
    document: ``(id, n_grams, score_micro)``.

    ``target`` may be a subset of ``raw`` (hash-selected quality proxy)
    or a disjoint corpus — the math never assumes either."""
    occ = gram_occurrences(raw, id_col, text_col).persist()

    # the two bucket tables are <= N_BUCKETS rows — persist them and
    # derive BOTH corpus totals as sums over them (sum(count-per-bucket)
    # == count, with empty-input null coalesced to 0): the target corpus
    # then explodes exactly once (tp) instead of twice (tp + its total),
    # and the cached raw occurrences are read twice (tq + scorer)
    # instead of three times
    tq = occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("cq")).persist()
    tp = (
        gram_occurrences(target, id_col, text_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cp"))
        .persist()
    )
    ratio = (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("cq"), F.lit(0)) + F.lit(1.0)
    )
    lut = tp.join(tq, "bucket", "full").select(
        "bucket",
        F.round(F.log(ratio) * _SCALE).cast("bigint").alias("l_micro"),
    )

    nq = tq.agg(F.coalesce(F.sum("cq"), F.lit(0)).alias("nq"))
    np_ = tp.agg(F.coalesce(F.sum("cp"), F.lit(0)).alias("np"))
    k_micro = (
        nq.crossJoin(np_)
        .select(
            F.round(
                F.log(
                    (F.col("nq") + N_BUCKETS).cast("double")
                    / (F.col("np") + N_BUCKETS).cast("double")
                )
                * _SCALE
            )
            .cast("bigint")
            .alias("k_micro")
        )
    )

    scored = (
        occ.join(F.broadcast(lut), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("l_micro").alias("_sl"),
        )
        .crossJoin(k_micro)
        .select(
            id_col,
            "n_grams",
            (F.col("_sl") + F.col("n_grams") * F.col("k_micro")).alias(
                "score_micro"
            ),
        )
    )
    C.own(occ, tq, tp)
    return scored


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic top-``k`` raw documents by importance weight
    (ties broken on the id) — the resampling step with the noise term
    set to zero, the reproducible form a data-selection audit wants."""
    scores = dsir_scores(raw, target, id_col=id_col, text_col=text_col)
    return scores.orderBy(F.desc("score_micro"), id_col).limit(k)

"""Hot-bucket handling shared by the banded LSH/sketch candidate
generators (``minhash_lsh_pairs``, ``simhash_pairs``,
``similarity.lsh_near_dup``).

A degenerate (band, bucket) group — boilerplate-dominated corpora where
near-constant documents collapse into one bucket — turns that group's
self-join quadratic. The ``max_bucket`` cap bounds it, but a silent cap
loses recall with no signal (and for SimHash's exact band-blocking,
loses exactness). Two policies, both accounted for:

- ``drop``: capped groups are excluded from candidate generation, and
  the dropped (group count, row count) is LOGGED — a skewed corpus is
  visible, never silent.
- ``route``: capped groups contribute STAR candidates instead — every
  member paired with the group's minimum id. O(B) extra candidates per
  hot bucket, not O(B²); the pairs flow through the same exact
  verification as every other candidate, and for the clustering
  consumers (``dedup_clusters`` / ``dedup_canonical``) star edges are
  exactly what's needed to keep a boilerplate component connected.
  All-pairs output inside a hot bucket is intrinsically quadratic —
  routing recovers the component at linear cost, trading only
  pair-level completeness *within* the bucket.

The bucket-size frame is PERSISTED and returned to the caller: the
action-time (keys, count) joins share its blocks, and callers register
the sizes frame (``cache.own``) so the blocks are released with their
result.

Accounting modes (``account``):

- ``"async"`` (default): the probe aggregate runs on a DAEMON THREAD —
  operator construction returns immediately with zero blocking jobs on
  the caller's critical path, and the probe's work is not wasted: it is
  the job that populates the persisted sizes cache the caller's action
  then reuses. The warning (with counts) fires as soon as the probe
  lands.
- ``True`` (eager): the legacy probe — the same tiny aggregate runs NOW
  and the counts return in ``stats``. For callers that need the numbers
  synchronously.
- ``False``: no accounting, no logging; fully lazy.

Why not ``DataFrame.observe``? It would be the zero-extra-job ideal
(metrics ride the caller's own action), but under AQE this Spark
version returns an EMPTY observed-metrics row when the CollectMetrics
node sits on an aggregate beneath a join (the exchange-stage re-plan
drops it; verified empirically — ``obs._jo.get().size() == 0`` with AQE
on, correct counts with AQE off). The engine runs with AQE on, so the
async probe is the honest alternative; revisit if Spark fixes
observed-metrics propagation through AQE stages.
"""

from __future__ import annotations

import logging
import threading
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

log = logging.getLogger(__name__)

HOT_POLICIES = ("drop", "route")


def _log_hot_stats(n_groups: int, n_rows: int, label: str, max_bucket: int, policy: str) -> None:
    log.warning(
        "%s: %d hot bucket group(s) holding %d rows exceed max_bucket=%d; "
        "policy=%s (%s; see operators/hot.py)",
        label,
        n_groups,
        n_rows,
        max_bucket,
        policy,
        "excluded from candidate generation"
        if policy == "drop"
        else "star-routed to the group representative",
    )


def _probe(sizes: DataFrame, max_bucket: int) -> tuple[int, int]:
    row = (
        sizes.filter(F.col("_bn") > max_bucket)
        .agg(
            F.count("*").alias("k"),
            F.coalesce(F.sum("_bn"), F.lit(0)).alias("r"),
        )
        .first()
    )
    return int(row["k"]), int(row["r"])


def split_hot_buckets(
    banded: DataFrame,
    keys: Sequence[str],
    max_bucket: int,
    *,
    label: str,
    policy: str = "drop",
    account: bool | str = "async",
) -> tuple[DataFrame, DataFrame, tuple[int, int] | None, DataFrame]:
    """Partition a banded frame into (ok, hot) by group size and account
    for the hot side. Returns ``(ok, hot, stats, sizes)`` — ``stats`` =
    ``(n_groups, n_rows)`` of the over-cap groups (only with the eager
    ``account=True``; the default ``"async"`` mode logs the same counts
    from a daemon thread without blocking construction — see module
    docstring), ``sizes`` = the persisted (keys, count) frame both
    filtered sides read: register it with the operator result
    (``cache.own``). The size aggregate shuffles only (keys, count) —
    never document payloads — and is computed ONCE (whichever of the
    probe or the caller's action runs first populates the cache; the
    other reuses it)."""
    keys = list(keys)
    sizes = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("_bn"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = None
    if account is True:
        stats = _probe(sizes, max_bucket)
        if stats[0]:
            _log_hot_stats(stats[0], stats[1], label, max_bucket, policy)
    elif account == "async":
        def _run() -> None:
            try:
                n_groups, n_rows = _probe(sizes, max_bucket)
            except Exception:  # session torn down before the probe landed
                return
            if n_groups:
                _log_hot_stats(n_groups, n_rows, label, max_bucket, policy)

        try:
            from pyspark import InheritableThread

            t: threading.Thread = InheritableThread(target=_run, daemon=True)
        except ImportError:  # pragma: no cover - ancient pyspark
            t = threading.Thread(target=_run, daemon=True)
        t.name = f"hot-bucket-probe-{label}"
        t.start()
    joined = banded.join(sizes, keys)
    ok = joined.filter(F.col("_bn") <= max_bucket).drop("_bn")
    hot = joined.filter(F.col("_bn") > max_bucket).drop("_bn")
    return ok, hot, stats, sizes


def star_reps(
    hot: DataFrame,
    keys: Sequence[str],
    id_col: str = "id",
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """Join each hot-group row with its group's representative: the
    minimum ``id_col`` (``_rep``), plus ``min_by``-selected companion
    columns (``carry`` maps output name -> source column — e.g. the
    representative's sketch). The per-group aggregate is tiny (one row
    per hot group, and hot groups number at most rows/max_bucket), so
    the join broadcasts."""
    keys = list(keys)
    aggs = [F.min(id_col).alias("_rep")]
    for out, col in (carry or {}).items():
        aggs.append(F.expr(f"min_by({col}, {id_col})").alias(out))
    mins = hot.groupBy(*keys).agg(*aggs)
    return hot.join(F.broadcast(mins), keys)

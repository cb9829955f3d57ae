"""Reference-counted lifetime for operator-internal caches and checkpoints.

Several operators persist a shared intermediate frame (the hashed-shingle
index, the LSH bucket frame, the normed-vector frame) or localCheckpoint
one (label rounds, rank rounds) because it feeds several branches of the
plan they return. The cache must stay alive until the *caller* runs its
last action on that plan — an event the operator never observes.

One registry owns them all, keyed by what the plan itself exposes:

- a cache is an ``InMemoryRelation`` leaf of the cache-substituted plan,
  keyed by the id of its builder's size accumulator, unique per cache
  (the persisted RDD only exists once the first action builds it, and
  asking for it earlier would run the cached plan);
- a checkpoint is a ``LogicalRDD`` leaf, keyed by its RDD id.

``own(*frames)`` — called by an operator on the frames it persisted or
checkpointed and whose data its result reads — adds one reference per
distinct key. Spark's CacheManager shares one cache between every frame
with the same plan, so a second operator run over the same input adds a
reference to the same entry instead of a second owner that could free it.

The contract for callers is one rule: **release the frame you were
given, once, after its last action.** ``release(df)`` drops one reference
for every registered key among the leaves of ``df``'s plan (and of the
registered caches those leaves are built from), and unpersists each
entry that reaches zero. A frame derived from an operator result (a
``filter``, ``orderBy``, join) reads the same leaves, so releasing the
derived frame frees its parents' caches — no hand-over is needed, and
the parent must not be released as well. Keys that were never
registered are ignored: a caller's own caches, or checkpoint blocks that
the JVM ContextCleaner frees with their frame. A frame whose plan reads
a checkpoint cannot recompute after release — release means "done".

Nothing frees an unreleased result: its caches live until the session
ends. Cleanup swallows JVM errors — at interpreter shutdown or after
``spark.stop()`` the gateway may already be gone, and a cleanup path
must never raise.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_RELEASED = "_cache_released"

_lock = threading.Lock()
# key -> [references, owning frame, checkpoint RDD (None for a cache)];
# insertion order is own order, so a cache is registered after the
# caches it is built from
_entries: dict[tuple, list] = {}


def _leaves(jplan) -> list:
    seq = jplan.collectLeaves()
    return [seq.apply(i) for i in range(seq.size())]


def _key(leaf, ctx: int) -> tuple | None:
    # RDD ids restart with each SparkContext: ``ctx`` keeps an entry left
    # over from a stopped context from matching a new context's RDD
    name = leaf.nodeName()
    if name == "InMemoryRelation":
        return (ctx, "cache", leaf.cacheBuilder().sizeInBytesStats().id())
    if name == "LogicalRDD":
        return (ctx, "rdd", leaf.rdd().id())
    return None


def _cache_manager(df: DataFrame):
    return df.sparkSession._jsparkSession.sharedState().cacheManager()


def _ctx(df: DataFrame) -> int:
    return id(df.sparkSession.sparkContext)


def _owned_keys(df: DataFrame) -> list[tuple]:
    """(key, checkpoint RDD) pairs for a frame an operator persisted
    (its cache, found through the CacheManager even when the frame's own
    plan was analyzed before the persist) or checkpointed (the RDD
    leaves of its plan)."""
    ctx = _ctx(df)
    cached = _cache_manager(df).lookupCachedData(df._jdf)
    if cached.isDefined():
        return [(_key(cached.get().cachedRepresentation(), ctx), None)]
    return [
        (key, leaf.rdd())
        for leaf in _leaves(df._jdf.queryExecution().withCachedData())
        if (key := _key(leaf, ctx)) is not None and key[1] == "rdd"
    ]


def own(*frames: DataFrame) -> None:
    """Register one reference to the cache or checkpoint behind each of
    ``frames`` (frames sharing a cache count once per call). Call it
    for every persisted or checkpointed frame the returned plan reads,
    after any internal unpersist, right before returning."""
    found: dict[tuple, tuple] = {}
    for df in frames:
        for key, rdd in _owned_keys(df):
            found.setdefault(key, (df, rdd))
    with _lock:
        for key, (df, rdd) in found.items():
            entry = _entries.get(key)
            if entry is None:
                _entries[key] = [1, df, rdd]
            else:
                entry[0] += 1


def _reads(df: DataFrame) -> set[tuple]:
    """Keys of everything ``df``'s plan reads: its cache and checkpoint
    leaves, plus — through each registered cache — the leaves that
    cache is built from (a cache hides its inputs from the plans that
    read it)."""
    cm, ctx = _cache_manager(df), _ctx(df)
    todo = _leaves(df._jdf.queryExecution().withCachedData())
    keys: set[tuple] = set()
    while todo:
        key = _key(todo.pop(), ctx)
        if key is None or key in keys:
            continue
        keys.add(key)
        entry = _entries.get(key)
        if key[1] == "cache" and entry is not None:
            children = entry[1]._jdf.queryExecution().analyzed().children()
            for i in range(children.size()):
                todo += _leaves(cm.useCachedData(children.apply(i)))
    return keys


def _drop(df: DataFrame, keep: DataFrame | None = None) -> None:
    with _lock:
        if df.__dict__.get(_RELEASED):
            return
        df.__dict__[_RELEASED] = True
    try:
        keys = _reads(df) - (_reads(keep) if keep is not None else set())
    except Exception:  # gateway already down — nothing left to free
        return
    with _lock:
        dead = []
        for key in [k for k in _entries if k in keys]:
            entry = _entries[key]
            entry[0] -= 1
            if entry[0] == 0:
                dead.append(_entries.pop(key))
        # newest first: a cache is freed before the caches it reads
        for _, frame, rdd in reversed(dead):
            try:
                if rdd is None:
                    frame.unpersist()
                else:
                    rdd.unpersist(False)
            except Exception:
                pass


def release(df: DataFrame) -> None:
    """Drop one reference to every registered cache and checkpoint
    ``df``'s plan reads; unpersist those that reach zero. Call once,
    after the last action on ``df``; idempotent per frame object."""
    _drop(df)


def release_except(df: DataFrame, keep: DataFrame | None) -> None:
    """:func:`release` ``df``, sparing what ``keep``'s plan reads — for
    an operator that has fully consumed an input (``dedup_clusters``'s
    pairs) and returns a frame that still reads part of the same
    caches (the caller's documents)."""
    _drop(df, keep)

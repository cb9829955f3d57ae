"""Deterministic lifecycle of operator-internal caches.

The dedup/LSH operators persist shared intermediate frames (shingle
index, bucket frame, label checkpoints). In a long-lived session those
must be freed when the caller is done — not accumulate until they evict
each other. Contract under test:

- after collecting an operator's result and calling ``cache.release``
  on it, NO persisted RDD it created remains (``getPersistentRDDs``
  compared with a snapshot taken before the operator ran);
- releasing a frame derived from a result frees the result's caches;
- two results sharing a cached plan each keep it until both are released;
- released results with intact lineage still recompute correctly.
"""

from __future__ import annotations

import gc

from tests.conftest import SF_DIR

import pyspark.sql.functions as F
import pytest

from automated_datastore_discovery_with_aws_glue_spark.operators import similarity
from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release
from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
    dedup_canonical,
    dedup_clusters,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (3, "the quick brown fox jumps over the lazy cat again and again", "en"),
        (4, "completely unrelated text about spark query planning and shuffles", "en"),
        (5, "ein ganz anderer deutscher satz ohne jede ueberlappung", "de"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


@pytest.fixture()
def emb(spark):
    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)], i % 2) for i in range(20)]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def _snapshot(spark) -> set[int]:
    """Ids of every persisted RDD, localCheckpoint blocks included."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _leaf_names(df) -> set[str]:
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


@pytest.mark.parametrize(
    "make",
    [
        lambda docs, emb: jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.4),
        lambda docs, emb: minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4),
        lambda docs, emb: simhash_pairs(docs, "doc_id", "text", "lang", max_hamming=10),
        lambda docs, emb: similarity.blocked_near_dup(
            emb, "vec_id", "embedding", "label", threshold=0.2
        ),
        lambda docs, emb: similarity.lsh_near_dup(
            emb, "vec_id", "embedding", threshold=0.2, n_bands=4, band_planes=2
        ),
    ],
    ids=["jaccard", "minhash_lsh", "simhash", "blocked", "lsh_near_dup"],
)
def test_release_leaves_no_cached_rdds(spark, docs, emb, make):
    before = _snapshot(spark)
    result = make(docs, emb)
    first = result.collect()
    assert _snapshot(spark) - before, "operator should cache while live"
    release(result)
    assert _snapshot(spark) - before == set()
    # lineage is intact for persist-only operators: released frames
    # recompute (uncached) with identical results
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, first))


def test_cluster_pipeline_releases_checkpoints(spark, docs):
    before = _snapshot(spark)
    pairs = jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.4)
    clusters = dedup_clusters(pairs, docs.select("doc_id"))
    got = {r["id"]: r["cluster_id"] for r in clusters.collect()}
    assert got[1] == got[2] == got[3] == 1 and got[4] == 4 and got[5] == 5
    # superseded per-round checkpoints were dropped eagerly; only the
    # final round's blocks (backing the live result) may remain
    release(clusters)
    assert _snapshot(spark) - before == set()


def test_canonical_releases_everything(spark, docs):
    before = _snapshot(spark)
    pairs = jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.4)
    kept = dedup_canonical(docs, pairs, "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4, 5]
    release(kept)
    assert _snapshot(spark) - before == set()


def test_release_of_derived_frame_frees_its_parents_caches(spark, docs):
    """A derived frame reads its parent's caches in its own plan, so
    releasing it frees them — no hand-over from parent to child."""
    before = _snapshot(spark)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4)
    ordered = pairs.orderBy("id_a")
    assert ordered.collect()
    assert _snapshot(spark) - before, "operator should cache while live"
    release(ordered)
    assert _snapshot(spark) - before == set()


def test_shared_plan_survives_the_first_release(spark, docs):
    """Spark keys caches by plan: two results of the same operator over
    the same input share one cache, and releasing the first must not
    free it under the second."""
    before = _snapshot(spark)
    a = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4)
    b = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4)
    want = sorted(map(tuple, a.collect()))
    release(a)
    # a fresh plan over b still reads the cache instead of recomputing
    assert "InMemoryRelation" in _leaf_names(b.select("*"))
    assert sorted(map(tuple, b.collect())) == want
    release(b)
    assert _snapshot(spark) - before == set()


def test_corpus_clean_releases(spark):
    from automated_datastore_discovery_with_aws_glue_spark.plans.llm_pipeline import corpus_clean

    before = _snapshot(spark)
    result = corpus_clean(spark, SF_DIR)
    rows = result.collect()
    assert len(rows) > 0
    release(result)
    assert _snapshot(spark) - before == set()


def test_query_layer_entries_release(spark):
    """The bench/driver path: every headline dedup/LSH query's returned
    frame owns its operator caches — collect + release leaves the
    session clean."""
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in [
        "dedup_ngram_jaccard",
        "dedup_clusters_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "emb_near_dup",
        "emb_near_dup_lsh",
        "corpus_prepare",
    ]:
        before = _snapshot(spark)
        df = queries[name](spark, SF_DIR)
        df.collect()
        release(df)
        assert _snapshot(spark) - before == set(), f"{name} leaked caches after release"


def test_released_cluster_result_still_readable_before_release(spark, docs):
    """Order matters: collect-then-release is the contract. The collect
    must see checkpoint blocks alive even though the intermediate frames
    went out of scope inside the operator (the registry keeps them)."""
    before = _snapshot(spark)
    pairs = jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.4)
    clusters = dedup_clusters(pairs, docs.select("doc_id"))
    gc.collect()  # would free the blocks if nothing owned them
    assert len(clusters.collect()) == 5
    release(clusters)
    assert _snapshot(spark) - before == set()

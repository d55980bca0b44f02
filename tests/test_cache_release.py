"""Cache-lifecycle guards for the shingle stage (round 11).

``DataFrame.unpersist()`` does NOT cascade into a subplan cache, so
``finalize_unpersist(out, shingles(...))`` was a silent no-op for nine
rounds: the inner exploded-shingle block stayed persisted after every
"released" query. :func:`operators.dedup.shingles` now tags the real
persisted handle on its returned frame (``_graft_inner_cache``) and
``session.finalize_unpersist`` cascades to it. These tests pin:

* result-sized shingle consumers leave NO corpus-sized cached blocks
  behind (only their own 1-partition result checkpoint may remain);
* a stage a batch driver pinned (``session.pin_stage``) is untagged, so
  a consumer's finalize/release must LEAVE it for its siblings (the
  bench contract), and only ``session.release_stages`` frees it.
"""

from __future__ import annotations

import pytest

from python_sql_etl_project_spark import registry
from python_sql_etl_project_spark.operators import dedup, graph
from python_sql_etl_project_spark.session import (
    pin_stage,
    pinned_stage,
    release_caches,
    release_stages,
)

SF = "/root/testdata/sf0.001"

registry.load_all()

#: result-sized (or doc-grain) cache consumers that must release their
#: persisted intermediates: shingle-stage consumers plus the round-11
#: AST-sweep finds (direct handles left cached behind lazy returns)
RELEASING = [
    "txt_novelty_decay_curve",
    "decon_minhash_train_eval",
    "pipe_incremental_curation",
    "sim_kmeans_codebook",
    "txt_unigram_lm_score",
    "decon_benchmark_ngrams",
]


def _persistent_rdds(spark):
    """{rdd_id: n_partitions} of currently persisted RDDs."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    out = {}
    it = rdds.toList().iterator()
    while it.hasNext():
        t = it.next()
        out[t._1()] = t._2().getNumPartitions()
    return out


def _cache_manager_empty(spark) -> bool:
    """True iff no DataFrame-level caches remain. ``persist()`` registers
    in the CacheManager; ``localCheckpoint`` persists its RDD directly and
    does NOT — so this distinguishes a leaked intermediate cache from the
    query's own (legitimate, GC-freed) result checkpoint."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", RELEASING)
def test_result_sized_consumers_release_shingle_cache(spark, name):
    spark.catalog.clearCache()
    registry.QUERIES[name](spark, SF).count()
    assert _cache_manager_empty(spark), (
        f"{name} left a DataFrame cache behind (its result checkpoint is "
        "fine; a persisted intermediate is the leak)"
    )


def _pin(spark, key, df):
    """Pin ``df`` as a batch driver does; return it and the ids of the
    persisted RDDs that hold it."""
    before = set(_persistent_rdds(spark))
    pinned = pin_stage(spark, key, df)
    return pinned, set(_persistent_rdds(spark)) - before


def test_shared_memo_frame_is_not_released(spark):
    """A pinned shingle stage carries no release handle, and a releasing
    consumer run against it must leave it in place for its siblings."""
    spark.catalog.clearCache()
    try:
        pinned, held = _pin(spark, ("shingles", SF), dedup.shingles(spark, SF))
        assert held, "the pinned stage should hold persisted blocks"
        sh = dedup.shingles(spark, SF)
        assert sh is pinned and not hasattr(sh, "_graft_inner_cache")
        # a releasing consumer runs against the pinned stage...
        registry.QUERIES["txt_novelty_decay_curve"](spark, SF).count()
        # ...and must leave it in place for siblings
        assert held <= set(_persistent_rdds(spark))
    finally:
        release_stages(spark)
        spark.catalog.clearCache()


def test_pinned_stage_survives_clear_cache_until_released(spark):
    """A pinned stage outlives the bench's per-query clearCache and is
    gone, blocks included, after release_stages."""
    key = ("edges", SF)
    spark.catalog.clearCache()
    try:
        pinned, held = _pin(spark, key, graph._copurchase_pairs(spark, SF))
        assert held
        n = pinned.count()
        spark.catalog.clearCache()
        assert graph._copurchase_pairs(spark, SF) is pinned
        assert held <= set(_persistent_rdds(spark))
        assert pinned.count() == n
    finally:
        release_stages(spark)
    assert pinned_stage(spark, key) is None
    assert not held & set(_persistent_rdds(spark))


#: every pair-/batch-grain query returning a LAZY frame over a persisted
#: stage must tag its caches for caller-managed release (r13: the full
#: tag_release population, closing the r11 #2/#6 ledger item)
PAIR_GRAIN_RELEASING = [
    "dd_shingle_jaccard_pairs",
    "dd_minhash_lsh_pairs",
    "dd_semantic_confirmed_pairs",
    "dd_incremental_minhash",
    "dd_minhash_estimate_audit",
    "dd_containment_pairs",
]


@pytest.mark.parametrize("name", PAIR_GRAIN_RELEASING)
def test_pair_grain_query_supports_caller_managed_release(spark, name):
    """Round 12: pair-grain queries stay lazy and leave the shingle
    cache live (recompute-safety for further actions), but tag it on
    their result so a long-lived caller can free it with
    ``session.release_caches`` after the last action."""
    spark.catalog.clearCache()
    out = registry.QUERIES[name](spark, SF)
    out.count()
    # the cache is deliberately still live after the action...
    assert not _cache_manager_empty(spark)
    release_caches(out)
    # ...and fully gone once the caller releases it
    assert _cache_manager_empty(spark)
    # idempotent
    release_caches(out)
    assert _cache_manager_empty(spark)


def test_release_is_noop_on_shared_memo_snapshot(spark):
    """A pinned shingle stage belongs to the batch driver: the pair-grain
    result carries no release tag, so a caller's release_caches must
    leave the stage in place for siblings."""
    spark.catalog.clearCache()
    try:
        _, held = _pin(spark, ("shingles", SF), dedup.shingles(spark, SF))
        out = registry.QUERIES["dd_shingle_jaccard_pairs"](spark, SF)
        out.count()
        assert not hasattr(out, "_graft_release")
        release_caches(out)
        assert held <= set(_persistent_rdds(spark))
    finally:
        release_stages(spark)
        spark.catalog.clearCache()


def test_cc_clusters_release_shingles_after_edge_checkpoint(spark):
    """dd_duplicate_clusters' edge checkpoint is the shingle cache's
    last reader — the query releases it in-flight (round 12), so even
    this pair-graph consumer leaves no corpus-sized blocks."""
    spark.catalog.clearCache()
    registry.QUERIES["dd_duplicate_clusters"](spark, SF).count()
    assert _cache_manager_empty(spark)

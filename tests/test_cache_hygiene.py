"""Cache-lifetime discipline (round-8 VERDICT finding 2 / ADVICE):
library functions that persist internal dependency frames (bm25_terms,
bm25_terms_multi, the near-dup shingle pipelines, bm25_from_state) must
not grow executor storage without bound across calls in a long-lived
session. functions/_cache bounds them with generation eviction — a
repeat call releases the previous call's pins — and exposes
deterministic release for callers that are done.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hydraide_spark.functions import release_all_pinned
from hydraide_spark.functions._cache import _PINNED, pin_latest, release_pinned
from hydraide_spark.functions.retrieval import bm25_terms_multi
from hydraide_spark.functions.text import bm25_terms


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"stream data query alpha beta doc{i}") for i in range(20)],
        "doc_id long, text string",
    )


def test_bm25_repeat_calls_hold_one_cache_generation(spark):
    release_all_pinned()
    base = _n_cached(spark)
    docs = _docs(spark)

    bm25_terms(docs, "doc_id", "text", ["stream", "data"]).count()
    after_one = _n_cached(spark)
    assert after_one > base  # the dl/post boundaries are real caches

    # ten more IDENTICAL calls: generation eviction keeps the footprint
    # flat AND the shared-plan cache entries stay warm (plan-identical
    # deps are exempt from eviction — CacheManager dedupes by plan, so
    # evicting the old generation would evict the new one too)
    for _ in range(10):
        bm25_terms(docs, "doc_id", "text", ["stream", "data"]).count()
    assert _n_cached(spark) == after_one

    # alternating DIFFERENT queries: still at most one generation each
    for i in range(6):
        words = ["stream"] if i % 2 else ["data", "alpha"]
        bm25_terms(docs, "doc_id", "text", words).count()
    assert _n_cached(spark) <= after_one + 2  # dl is plan-shared; post differs

    release_all_pinned()
    assert _n_cached(spark) == base


def test_bm25_multi_releases_on_request_end(spark):
    release_all_pinned()
    base = _n_cached(spark)
    docs = _docs(spark)
    out = bm25_terms_multi(
        docs, "doc_id", "text", [(0, ["stream"]), (1, ["data", "query"])]
    )
    assert out.count() > 0
    assert _n_cached(spark) > base
    release_all_pinned()
    assert _n_cached(spark) == base


def test_release_pinned_is_per_site(spark):
    release_all_pinned()
    a = _docs(spark).persist()
    b = _docs(spark).filter(F.col("doc_id") > 5).persist()
    a.count(), b.count()
    pin_latest("site_a", a)
    pin_latest("site_b", b)
    release_pinned("site_a")
    assert "site_a" not in _PINNED and "site_b" in _PINNED
    assert b.storageLevel.useMemory  # site_b survives site_a's release
    release_all_pinned()
    assert not _PINNED


def test_pin_latest_evicts_beyond_generation_budget(spark):
    # LRU of generations: the site keeps the newest N (r9: one-
    # generation eviction made interleaved query-variant families evict
    # each other every bench pass — whole family cold); beyond the
    # budget the OLDEST is released, newer ones stay warm.
    release_all_pinned()
    gens = []
    for i in range(8):
        g = _docs(spark).filter(F.col("doc_id") > i).persist()
        g.count()
        pin_latest("site", g, max_generations=6)
        gens.append(g)
    assert not gens[0].storageLevel.useMemory  # beyond budget: evicted
    assert not gens[1].storageLevel.useMemory
    for g in gens[2:]:
        assert g.storageLevel.useMemory  # the newest 6 stay warm
    release_all_pinned()
    for g in gens:
        assert not g.storageLevel.useMemory


def test_pin_latest_never_evicts_plan_shared_entries(spark):
    # a repeat call re-persists the SAME CacheManager entry (dedup by
    # plan); evicting the old generation must not evict the warm one
    release_all_pinned()
    g1 = _docs(spark).persist()
    g1.count()
    pin_latest("site", g1, max_generations=1)
    g2 = _docs(spark).persist()  # same plan -> same cache entry
    g2.count()
    pin_latest("site", g2, max_generations=1)
    assert g2.storageLevel.useMemory  # survived its twin's eviction
    g3 = _docs(spark).filter(F.col("doc_id") > 5).persist()
    g3.count()
    pin_latest("site", g3, max_generations=1)
    assert not g2.storageLevel.useMemory  # different plan: evicted
    assert g3.storageLevel.useMemory
    release_all_pinned()


def test_store_commits_leave_cache_footprint_flat(spark, tmp_path):
    """A TreasureStore commit caches its touched rows at most once and
    the next commit releases them (claims cache nothing), so no commit
    leaves more than one entry per store and N mixed commits leave the
    CacheManager where the first one left it."""
    from datetime import datetime, timedelta

    from hydraide_spark.operators.mutate import PatchKind, PatchOp
    from hydraide_spark.query import Cmp, Op
    from hydraide_spark.query.index import Index, IndexOrder, IndexType
    from hydraide_spark.sources.store import TreasureStore

    schema = "key string, val long, body struct<n:bigint>, expired_at timestamp"
    store = TreasureStore(spark, str(tmp_path / "store"))
    store.init(spark.range(200).select(
        F.format_string("k%03d", "id").alias("key"),
        (F.col("id") % 10).alias("val"),
        F.struct((F.col("id") % 5).alias("n")).alias("body"),
        F.when(F.col("id") % 2 == 0, F.lit(datetime(2020, 1, 1))).alias("expired_at"),
    ))
    inc = [PatchOp(PatchKind.INC, "n", 1)]
    by_key = Index(index_type=IndexType.KEY, order=IndexOrder.ASC)

    def commits(i):
        keys = [f"k{(i * 37 + j * 7) % 200:03d}" for j in range(10)]
        yield lambda: store.set(spark.createDataFrame(
            [(k, 1, (1,), None) for k in keys] + [(f"new{i}", 2, (0,), None)], schema
        ))
        yield lambda: store.increment(keys, "val", 1, condition=Cmp("val", Op.LT, 9))
        yield lambda: store.patch(keys, inc)
        yield lambda: store.patch_each([(k, inc, None) for k in keys[:3]])
        yield lambda: store.delete(keys[:2])
        yield lambda: store.shift_matching(by_key, Cmp("val", Op.GE, 5), how_many=3)
        yield lambda: store.shift_expired(datetime(2021, 1, 1), how_many=2)
        yield lambda: store.patch_expired(
            datetime(2021, 1, 1), 2, lease=timedelta(minutes=5), ops=inc
        )

    release_all_pinned()
    base = _n_cached(spark)
    store.increment(["k001"], "val", 1).collect()
    after_one = _n_cached(spark)
    assert after_one <= base + 1
    for i in range(2):
        for commit in commits(i):
            commit().collect()
            assert _n_cached(spark) <= after_one
    store.increment(["k001"], "val", 1).collect()
    assert _n_cached(spark) == after_one

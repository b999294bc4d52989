"""Generated classes are compiled once per session, not once per cycle.

A refresh re-runs the same query shapes; with Spark's default class
cache (100 entries) one ``corpus_refresh`` cycle's ~150 classes evicted
each other and every cycle recompiled them all. ``get_spark`` sizes the
cache to the engine's working set, so a repeated pass compiles nothing.
"""

from __future__ import annotations

from economic_data_project_spark import registry
from economic_data_project_spark.caches import free_session_caches
from economic_data_project_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compilations,
)

CORPUS_REFRESH = (
    "doc_chunks",
    "doc_tfidf_topterms",
    "fts_postings_index",
    "dedup_semantic_semdedup",
    "ann_ivf_topk",
)


def test_session_sizes_codegen_cache(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_ENTRIES


def test_second_refresh_pass_compiles_nothing(spark, sf_dir):
    qs = registry.all_queries()

    def one_pass() -> int:
        free_session_caches()
        spark.catalog.clearCache()
        before = codegen_compilations(spark)
        for name in CORPUS_REFRESH:
            qs[name](spark, sf_dir).collect()
        return codegen_compilations(spark) - before

    one_pass()
    assert one_pass() == 0


def test_tune_session_warns_once_on_small_cache(spark, monkeypatch):
    import warnings

    from economic_data_project_spark import session

    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", CODEGEN_CACHE_ENTRIES * 2)
    monkeypatch.setattr(session, "_warned_codegen_cache", False)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        session.tune_session(spark)
        session.tune_session(spark)
    msgs = [str(w.message) for w in seen if "maxEntries" in str(w.message)]
    assert len(msgs) == 1
    assert f"maxEntries is {CODEGEN_CACHE_ENTRIES}, below" in msgs[0]

"""The shared IVF index (similarity/ann.ivf_index) and the ordering
rules of its assignment surfaces.

- ``ann_ivf_topk`` and the one-level ``dedup_semantic_semdedup`` path
  read ONE index per (corpus, K): whichever builder runs second in a
  session must read the first one's cached fill, never re-run the
  Lloyd chain, and both must still match their DuckDB oracles in
  either order and after the caches are freed.
- argmin/probe ordering is cosine DESC NULLS LAST, then cluster ASC —
  the oracle windows' order — whatever order the centroids are packed
  in.
- cosine templates bind centroid columns explicitly, so a name shared
  between the two sides is rejected instead of silently rebound.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from economic_data_project_spark.caches import free_session_caches
from economic_data_project_spark.functions.vectors import DOT_SPARK
from economic_data_project_spark.registry import all_oracles, all_queries
from economic_data_project_spark.similarity import ann
from tests.conftest import SF_DIR, compare_with_oracle, duckdb_connect

_INDEX_USERS = ("dedup_semantic_semdedup", "ann_ivf_topk")


def _plan_nodes(df):
    """Every node of the optimized plan, depth first. InMemoryRelation
    is a leaf there: what a cache computes lives in its cachedPlan."""
    out = []

    def walk(node):
        out.append(node)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def _imrs(df):
    return [
        n
        for n in _plan_nodes(df)
        if n.getClass().getSimpleName() == "InMemoryRelation"
    ]


def _imr_outputs(df) -> list[tuple[set, bool]]:
    """(column names, fill loaded) of each InMemoryRelation the plan
    reads."""
    res = []
    for n in _imrs(df):
        names, it = set(), n.output().iterator()
        while it.hasNext():
            names.add(it.next().name())
        res.append((names, n.cacheBuilder().isCachedColumnBuffersLoaded()))
    return res


def _posexplodes_outside_imr(df) -> list[str]:
    return [
        n.simpleString(120)
        for n in _plan_nodes(df)
        if n.getClass().getSimpleName() == "Generate"
        and n.generator().prettyName() == "posexplode"
    ]


def _check(spark, name, sf_dir):
    ok, msg = compare_with_oracle(
        spark, all_queries()[name], all_oracles()[name], sf_dir
    )
    assert ok, (name, msg)


@pytest.mark.parametrize("order", [_INDEX_USERS, _INDEX_USERS[::-1]])
def test_second_builder_reads_the_shared_index(spark, order):
    first, second = order
    free_session_caches()
    spark.catalog.clearCache()
    _check(spark, first, SF_DIR)

    df = all_queries()[second](spark, SF_DIR)
    imrs = _imr_outputs(df)
    # every read of the lists is the first builder's fill
    lists = [loaded for cols, loaded in imrs if "cc" in cols]
    assert lists and all(lists), imrs
    assert not _posexplodes_outside_imr(df)
    if second == "ann_ivf_topk":  # probes read the filled centroids
        cents = [loaded for cols, loaded in imrs if "cnorm" in cols]
        assert cents and all(cents), imrs
    _check(spark, second, SF_DIR)

    # cold rebuild after the registry is freed
    free_session_caches()
    for name in order:
        _check(spark, name, SF_DIR)


def test_cold_ivf_topk_runs_the_lloyd_chain_inside_the_index(spark):
    """Cold, the probes and the list fill both read the centroid cache;
    the Lloyd explode must exist only inside the index caches."""
    free_session_caches()
    spark.catalog.clearCache()
    df = all_queries()["ann_ivf_topk"](spark, SF_DIR)
    assert not _posexplodes_outside_imr(df)
    cached = [n.cachedPlan().toString() for n in _imrs(df)]
    assert any("posexplode" in p for p in cached), cached


def _write_vecs(tmp_path, vecs) -> str:
    pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [
                None if v is None else list(map(float, v)) for v in vecs
            ],
            "label": [i % 3 for i in range(len(vecs))],
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)
    return str(tmp_path)


def test_null_cosine_seed_packed_first_matches_duckdb(spark, tmp_path):
    """vec_id 0 has a NULL embedding, so the first Lloyd seed — packed
    first into the centroid array — scores a NULL cosine against every
    vector. NULL must lose to every real cosine (DuckDB sorts it last
    on DESC); a fold that keeps the first-packed element would send the
    whole corpus to seed 0."""
    rng = np.random.RandomState(7)
    vecs = [None] + list(rng.normal(size=(47, 8)))
    sf = _write_vecs(tmp_path, vecs)
    con = duckdb_connect(sf)
    try:
        free_session_caches()
        for name in (*_INDEX_USERS, "ann_ivf_topk_int8"):
            ok, msg = compare_with_oracle(
                spark, all_queries()[name], all_oracles()[name], sf, con=con
            )
            assert ok, (name, msg)
    finally:
        con.close()
        free_session_caches()


def _vectors(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, vnorm double"
    ).coalesce(1)


def _centroids(spark, rows):
    # one partition, in list order: collect_list packs them as given
    return spark.createDataFrame(
        rows, "cluster long, centroid array<double>, cnorm double"
    ).coalesce(1)


def test_argmin_assign_null_cosine_loses_and_ties_on_cluster(spark):
    cents = _centroids(
        spark,
        [
            (5, None, None),  # NULL cosine for every vector, packed first
            (9, [1.0, 0.0], 1.0),
            (3, [0.0, 1.0], 1.0),
        ],
    )
    vecs = _vectors(
        spark,
        [
            (0, [1.0, 0.1], float(np.hypot(1.0, 0.1))),
            (1, [0.1, 1.0], float(np.hypot(1.0, 0.1))),
            (2, None, None),  # every cosine NULL: smallest cluster wins
        ],
    )
    got = {
        r.vec_id: (r.cluster, r.c)
        for r in ann.argmin_assign(
            vecs, cents, ann._COS_CENTROID, "cluster"
        ).collect()
    }
    assert got[0][0] == 9 and got[1][0] == 3
    assert got[2] == (3, None)


def test_topn_probes_rank_null_cosine_centroids_last(spark):
    cents = _centroids(
        spark,
        [
            (0, None, None),  # smallest id: a cluster-only order puts it first
            (1, [1.0, 0.0], 1.0),
            (2, [0.0, 1.0], 1.0),
        ],
    )
    vecs = _vectors(spark, [(7, [1.0, 1.0], float(np.sqrt(2.0)))])
    probes = ann.topn_probes(vecs, cents, ann._COS_CENTROID, "cluster", 2)
    assert sorted(r.cluster for r in probes.collect()) == [1, 2]
    allp = ann.topn_probes(vecs, cents, ann._COS_CENTROID, "cluster", 3)
    assert sorted(r.cluster for r in allp.collect()) == [0, 1, 2]


def test_cosine_template_binds_centroid_columns_explicitly(spark):
    """A centroid column named like a lambda variable of the dot
    product (``x``) is bound through the template, never by text
    rewriting, so the cosine is still right."""
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0), (2, [0.0, 1.0], 1.0)],
        "cluster long, x array<double>, cn double",
    ).coalesce(1)
    vecs = _vectors(spark, [(0, [0.2, 1.0], float(np.hypot(0.2, 1.0)))])
    cos = DOT_SPARK.format(a="embedding", b="{s}.x") + " / (vnorm * {s}.cn)"
    (row,) = ann.argmin_assign(vecs, cents, cos, "cluster").collect()
    assert row.cluster == 2
    assert row.c == pytest.approx(1.0 / np.hypot(0.2, 1.0))


def test_colliding_column_names_raise(spark):
    cents = _centroids(spark, [(1, [1.0, 0.0], 1.0)])
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0], 1.0, 1.0)],
        "vec_id long, embedding array<double>, vnorm double, cnorm double",
    )
    with pytest.raises(ValueError, match="cnorm"):
        ann.argmin_assign(vecs, cents, ann._COS_CENTROID, "cluster")
    with pytest.raises(ValueError, match="cnorm"):
        ann.topn_probes(vecs, cents, ann._COS_CENTROID, "cluster", 1)

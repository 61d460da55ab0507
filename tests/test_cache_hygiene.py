"""Persist-lifecycle hygiene: in a long-lived shared session (the
oracle gate runs 200+ queries on one SparkSession; a service loop runs
thousands), an operator persist that outlives ``release_cache(result)``
accumulates executor storage memory forever. Round-5 review found five
such leaks — pair-graph postings persists discarded before their
attachment could travel to the result frame (dedup_components,
dedup_cluster_histogram, dedup_graph_pagerank, neardup_rate_by_source,
dedup_graph_triangles). This test would have caught every one:

It wraps ``DataFrame.persist``/``unpersist`` to keep a live-set of
Python-initiated persists (by JVM plan identity), runs each
cache-using query end-to-end (build → collect → ``release_cache``),
and asserts the live-set returns to its starting state. localCheckpoint
is exempt by construction (it doesn't route through the Python
``persist`` API, and its blocks are reclaimed by Spark's
ContextCleaner on GC, which is correct behavior to leave alone).
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from csdid_pyspark_spark.cache import release_cache
from csdid_pyspark_spark.queries import ALL_QUERIES as QUERIES

# Queries that route through persisting operators (pair-graph dedup,
# two-phase scans, components/pagerank, span cut, packing). Keeping the
# list explicit documents which queries are REQUIRED to be
# persist-balanced; plain single-pass queries never persist and don't
# need the (non-trivial) wrapper overhead.
CACHE_USERS = [
    "dedup_jaccard",
    "dedup_components",
    "dedup_keep_list",
    "dedup_cluster_histogram",
    "dedup_graph_pagerank",
    "dedup_graph_triangles",
    "neardup_rate_by_source",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_containment",
    "decontam_neardup",
    "text_span_cut",
    "text_span_cut_minlen",
    "curation_pipeline",
    "bpe_encode_stats",
    "suppliers_pareto",
    "sample_weighted_systematic",
    "events_outliers_mad",
    "pack_greedy",
    "pack_offsets",
    "pack_epoch_shuffle",
    "global_row_number",
    "events_mannwhitney_u",
    "events_ks_test",
    "docs_split_cluster_safe",
    "groupby_weighted_median",
    "groupby_weighted_quantiles",
    "dp_noisy_median",
    "neardup_degree_histogram",
]

SMOKE_SF = "/root/testdata/sf0.001"


@pytest.fixture()
def persist_ledger(monkeypatch):
    """Live-set of persists initiated through the Python DataFrame API."""
    live: dict[int, str] = {}
    orig_persist = DataFrame.persist
    orig_unpersist = DataFrame.unpersist

    def persist(self, *a, **kw):
        out = orig_persist(self, *a, **kw)
        live[self._jdf.queryExecution().analyzed().semanticHash()] = "persist"
        return out

    def unpersist(self, *a, **kw):
        live.pop(self._jdf.queryExecution().analyzed().semanticHash(), None)
        return orig_unpersist(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "persist", persist)
    monkeypatch.setattr(DataFrame, "unpersist", unpersist)
    return live


@pytest.mark.parametrize("name", [n for n in CACHE_USERS if n in QUERIES])
def test_query_releases_every_persist(name, spark, persist_ledger):
    df = QUERIES[name](spark, SMOKE_SF)
    df.collect()
    release_cache(df)
    assert not persist_ledger, (
        f"{name}: {len(persist_ledger)} persist(s) still live after "
        f"release_cache — either release inside the query (eager consumers) "
        f"or carry_cache the attachment onto the returned frame"
    )


def test_attgt_unpersist_releases_every_persist(spark):
    """An estimator's whole life — construct, bootstrap fit, all four
    aggregations, ``unpersist()`` — leaves no RDD persisted: the
    projected panel ``preprocess_did`` caches, the cell and IF tables
    and every aggregation pass are released. Compared by RDD id, so an
    earlier test's cache cleaned up meanwhile cannot mask a leak."""
    import numpy as np
    import pandas as pd

    from csdid_pyspark_spark.did import ATTgt

    rng = np.random.default_rng(4)
    rows = []
    for i in range(90):
        g = float([0, 3, 4][i % 3])
        for t in (1, 2, 3, 4):
            rows.append((i, t, g, 0.1 * t + (1.0 if 0 < g <= t else 0.0) + rng.normal(0, 0.1)))
    sdf = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "t", "g", "y"]))

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    est = ATTgt(sdf, "y", "t", "id", "g", allow_unbalanced_panel=False, biters=49)
    est.fit("reg", bstrap=True, cband=True)
    for typec in ("simple", "group", "calendar", "dynamic"):
        est.compute_aggte(typec)
    est.unpersist()
    assert persisted() - before == set()

"""Per-graph search statistics: computed once per GraphStore, borrowed by
every chain over it, released by their owner; and the two candidate
tiers (LocalGraph and Spark) agreeing on graphs with duplicate triples."""

from __future__ import annotations

import numpy as np
import pytest

from motive_rdf_spark.data.generators import planted_graph
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators import mdl_ops
from motive_rdf_spark.operators.bgp import GraphStore, find, prepare_triples
from motive_rdf_spark.operators.localgraph import LocalGraph
from motive_rdf_spark.operators.mdl_ops import null_bits
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.search import SAConfig, SimAnnealing, sa_parallel

TRIANGLE = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]


def _spark_cfg(**kw) -> SAConfig:
    kw.setdefault("iterations", 2)
    return SAConfig(local_graph=False, max_matches=2000, **kw)


def _persistent(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as sets: Spark's ContextCleaner
    may release unrelated leftovers (local checkpoints) at any time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="module")
def graph(spark):
    g = planted_graph(spark, 300, 900, 5, TRIANGLE, 30, seed=4).persist()
    g.count()
    yield g
    g.unpersist()


def test_store_and_plain_chains_score_alike(graph):
    """A chain borrowing a GraphStore's statistics and a chain building
    its own over the plain DataFrame give every candidate the same
    score, on the driver-exact and the distributed scoring paths."""
    store = GraphStore(graph)
    try:
        for threshold in (50_000, 0):  # 0: every candidate scores distributed
            cfg = _spark_cfg(seed=0, alpha=1.0, iterations=4, driver_prune_threshold=threshold)
            seen: list[Pattern] = []

            class Recording(SimAnnealing):
                def _score(self, pattern):
                    seen.append(pattern)
                    return super()._score(pattern)

            a = Recording(store, cfg, init_pattern=Pattern(TRIANGLE))
            a.run()
            b = SimAnnealing(graph, cfg, init_pattern=Pattern(TRIANGLE))
            try:
                for p in seen:
                    b._score(p)
                cache_a, cache_b = a.state.score_cache, b.state.score_cache
                assert len(cache_a) > 1
                assert cache_b.keys() == cache_a.keys()
                if threshold:
                    assert cache_b == cache_a
                else:
                    # histogram sums follow the collected row order
                    for key, (score, freq) in cache_a.items():
                        assert cache_b[key] == (pytest.approx(score, rel=1e-12), freq)
                assert (b.state.n, b.state.m, b.state.r) == (a.state.n, a.state.m, a.state.r)
                ref = null_bits(store.plain)
                for st in (a.state, b.state):
                    assert st.null_bits == pytest.approx(ref, rel=1e-9)
            finally:
                a.close()
                b.close()
    finally:
        store.unpersist()


def test_statistics_computed_once_per_store(spark, graph, monkeypatch):
    """Three chains over one store, and sa_parallel's three chains, run
    graph_dims once and collect each degree frame once."""
    calls = {"dims": 0, "collects": 0}
    dims, dense = deg.graph_dims, mdl_ops._dense

    def counted_dims(*a, **kw):
        calls["dims"] += 1
        return dims(*a, **kw)

    def counted_dense(*a, **kw):
        calls["collects"] += 1
        return dense(*a, **kw)

    monkeypatch.setattr(deg, "graph_dims", counted_dims)
    monkeypatch.setattr(mdl_ops, "_dense", counted_dense)

    store = GraphStore(graph)
    try:
        for seed in range(3):
            sa = SimAnnealing(store, _spark_cfg(seed=seed), init_pattern=Pattern(TRIANGLE))
            sa.run()
            sa.close()
    finally:
        store.unpersist()
    assert calls == {"dims": 1, "collects": 3}

    calls.update(dims=0, collects=0)
    before = _persistent(spark)
    state = sa_parallel(graph, chains=3, config=_spark_cfg(seed=1), init_pattern=Pattern(TRIANGLE))
    assert calls == {"dims": 1, "collects": 3}
    assert state.null_bits == pytest.approx(null_bits(prepare_triples(graph)), rel=1e-9)
    assert _persistent(spark) <= before


def test_close_releases_only_owned_statistics(spark, graph):
    """Closing one chain leaves the store's statistics to the next chain;
    store.unpersist() (and a plain-DataFrame chain's close()) leave no
    RDD of theirs persisted."""
    before = _persistent(spark)
    store = GraphStore(graph)
    a = SimAnnealing(store, _spark_cfg(seed=0), init_pattern=Pattern(TRIANGLE))
    b = SimAnnealing(store, _spark_cfg(seed=1), init_pattern=Pattern(TRIANGLE))
    a.close()
    score, freq = b._score(Pattern([(-1, 0, -2), (-1, 1, -3)]))
    assert np.isfinite(score) and freq > 0
    b.close()
    assert _persistent(spark) - before  # the store's copies and statistics
    store.unpersist()
    assert _persistent(spark) <= before

    own = SimAnnealing(graph, _spark_cfg(seed=0), init_pattern=Pattern(TRIANGLE))
    assert _persistent(spark) - before
    own.close()
    assert _persistent(spark) <= before


def test_store_chain_gates_local_tier_without_dims_job(graph, monkeypatch):
    """With local_graph=True a chain over a store takes m for the
    LOCAL_GRAPH_LIMIT gate from the store's memoized count."""
    store = GraphStore(graph)
    try:
        store.n_triples
        calls = []
        dims = deg.graph_dims
        monkeypatch.setattr(deg, "graph_dims", lambda t: calls.append(t) or dims(t))
        sa = SimAnnealing(store, SAConfig(iterations=0), init_pattern=Pattern(TRIANGLE))
        assert sa._local is not None
        assert calls == []
        assert sa.state.m == store.n_triples
    finally:
        store.unpersist()


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_plain_chain_and_store_share_frames_without_uncaching(spark, graph, monkeypatch):
    """A store's frames and those of a plain-DataFrame chain over the
    store's source have one plan, hence one CacheManager entry. Neither
    holder's release may uncache them while the other still holds them,
    and a holder built while a twin is live runs no statistics job."""
    def frames_of(d):
        return d.in_deg, d.out_deg, d.rel_deg

    store = GraphStore(graph)
    frames = store.stats
    calls = []
    dims = deg.graph_dims
    monkeypatch.setattr(deg, "graph_dims", lambda t: calls.append(t) or dims(t))
    plain = SimAnnealing(graph, _spark_cfg(seed=0), init_pattern=Pattern(TRIANGLE))
    assert calls == []
    assert plain.state.null_bits == store.stats.null_bits
    monkeypatch.undo()
    plain.close()
    assert all(_cached(f) for f in frames_of(frames))

    plain = SimAnnealing(graph, _spark_cfg(seed=0), init_pattern=Pattern(TRIANGLE))
    store.unpersist()
    assert all(_cached(f) for f in frames_of(plain._degs))
    # the distributed scoring path reads the frames
    plain.cfg = _spark_cfg(seed=0, driver_prune_threshold=0)
    score, freq = plain._score(Pattern([(-1, 0, -2), (-1, 1, -3)]))
    assert np.isfinite(score) and freq > 0
    plain.close()
    assert not any(_cached(f) for f in frames_of(frames))
    plain.close()  # idempotent


def test_bucketed_store_releases_statistics(spark, graph, tmp_path):
    from motive_rdf_spark.operators.bgp import BucketedGraphStore, write_bucketed_graph

    name = "stats_bstore_test"
    try:
        write_bucketed_graph(graph, name, buckets=4, path=str(tmp_path))
        before = _persistent(spark)
        bstore = BucketedGraphStore(spark, name)
        sa = SimAnnealing(bstore, _spark_cfg(seed=0), init_pattern=Pattern(TRIANGLE))
        assert sa.state.null_bits == pytest.approx(null_bits(prepare_triples(graph)), rel=1e-9)
        sa.run()
        sa.close()
        assert _persistent(spark) - before  # the memoized degree frames
        bstore.unpersist()
        assert _persistent(spark) <= before
    finally:
        for suffix in ("by_s", "by_o"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")


def test_duplicate_triples_both_tiers_agree(spark, graph):
    """KGraph is a set: a duplicated triple must not change m, the
    matches or the null model on either tier."""
    dup = graph.unionAll(graph.limit(3)).persist()
    try:
        distinct = prepare_triples(dup)
        m = distinct.count()
        assert dup.count() == m + 3
        local = LocalGraph.from_df(dup)
        assert local.dims() == deg.graph_dims(distinct)
        for edges in (TRIANGLE, [(-1, -3, -2)], [(-1, 0, -2), (-2, -3, -1)]):
            pat = Pattern(edges)
            rows, _ = local.find_rows(pat)
            assert sorted(rows) == sorted(list(r) for r in find(dup, pat).collect()), edges
        init = Pattern(TRIANGLE)
        cfg = SAConfig(iterations=0, max_matches=2000)
        tiers = [SimAnnealing(dup, cfg, init_pattern=init)]
        tiers.append(SimAnnealing(dup, _spark_cfg(iterations=0), init_pattern=init))
        store = GraphStore(dup)
        tiers.append(SimAnnealing(store, _spark_cfg(iterations=0), init_pattern=init))
        ref = null_bits(distinct)
        for sa in tiers:
            assert sa.state.m == m
            assert sa.state.null_bits == pytest.approx(ref, rel=1e-9)
            assert sa.score == pytest.approx(tiers[0].score, rel=1e-9)
            sa.close()
        store.unpersist()
    finally:
        dup.unpersist()


def test_local_graph_from_df_keeps_duplicate_free_order(spark, graph):
    pdf = graph.select("s", "p", "o").toPandas()
    local = LocalGraph.from_df(graph)
    for col, arr in (("s", local.S), ("p", local.P), ("o", local.O)):
        assert np.array_equal(arr, pdf[col].to_numpy())


@pytest.mark.parametrize(
    "max_time_s, max_steps, expect",
    [(None, 500, None), (None, None, "clock"), (2.0, 500, "clock")],
)
def test_local_sampling_deadline(max_time_s, max_steps, expect):
    """A step budget alone passes no wall-clock deadline to the
    LocalGraph sampler, so fixed-seed sampling ignores timing."""
    rng = np.random.default_rng(0)
    g = LocalGraph(rng.integers(0, 30, 200), rng.integers(0, 3, 200), rng.integers(0, 30, 200))
    cfg = SAConfig(iterations=0, max_time_s=max_time_s, max_steps=max_steps)
    sa = SimAnnealing(g, cfg, init_pattern=Pattern([(-1, 0, -2)]))
    seen = []

    def stub(pattern, max_rows=None, deadline=None, max_steps=None):
        seen.append((deadline, max_steps))
        return [[1, 2]], False

    g.find_rows = stub
    assert sa._sample_match(Pattern([(-1, 1, -2)])) == [1, 2]
    (deadline, steps), = seen
    assert steps == max_steps
    assert (deadline is None) == (expect is None)


def test_stats_memo_computed_once_under_contention(graph, monkeypatch):
    """sa_parallel's chains read store.stats from concurrent threads:
    more readers than cores, a tiny switch interval and a slow
    computation must still yield one computation and one shared object."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    calls = []

    def slow_stats(triples):
        calls.append(triples)
        time.sleep(0.05)
        return SimpleNamespace(unpersist=lambda: None)

    monkeypatch.setattr(mdl_ops, "GraphDegrees", slow_stats)
    store = GraphStore(graph)
    got = []
    start = threading.Barrier(16)

    def read():
        start.wait()
        got.append(store.stats)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        store.unpersist()
    assert len(calls) == 1
    assert len(got) == 16 and all(s is got[0] for s in got)

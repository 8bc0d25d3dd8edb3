"""MDL scorer invariants — ports of the reference's own guarantees:

- planted-motif recovery: prune(find(pattern)) == k planted instances
  (FindTest.motifTest, FindTest.java:370-483);
- compression: a graph with many planted instances of a motif scores
  below the null model, a pure random graph does not meaningfully
  (MotifCodeTest.randomGraphTest2, MotifCodeTest.java:473-563);
- prune semantics: distributed fixpoint == sequential greedy replica
  (MotifCode.prune, MotifCode.java:418-436).
"""

import math

import pytest

from motive_rdf_spark.data.generators import chain_graph, planted_graph, random_graph
from motive_rdf_spark.functions import coders
from motive_rdf_spark.functions.mdl import Prior, degrees_from_lists, edgelist_codelength
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators.bgp import find
from motive_rdf_spark.operators.mdl_ops import null_bits, score_motif
from motive_rdf_spark.operators.prune import prune_matches, prune_matches_df
from motive_rdf_spark.patterns import Pattern

# triangle pattern used for planting: constant predicates, 3 node vars
TRIANGLE = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]


def test_log2_factorial():
    assert coders.log2_factorial(0) == 0.0
    assert coders.log2_factorial(1) == 0.0
    assert abs(coders.log2_factorial(5) - math.log2(120)) < 1e-9
    assert abs(coders.log2_factorial(20) - sum(math.log2(i) for i in range(2, 21))) < 1e-6


def test_prefix_monotone():
    vals = [coders.prefix(n) for n in (0, 1, 5, 100, 10**6, 10**12)]
    assert all(b > a for a, b in zip(vals, vals[1:]))


def test_ml_sequence_code():
    # uniform histogram of n symbols: n*log2(k) bits for k equiprobable values
    assert abs(coders.store_sequence_ml({1: 8, 2: 8}) - 16.0) < 1e-9
    assert coders.store_sequence_ml({7: 16}) == 0.0


def test_py_coder_valid_code():
    # a valid code: more concentrated histograms cost fewer bits
    concentrated = coders.py_store_hist({3: 100})
    spread = coders.py_store_hist({i: 1 for i in range(100)})
    assert concentrated < spread
    # opt never worse than default params by more than the param cost
    h = {0: 50, 1: 30, 2: 20}
    assert coders.py_store_hist_opt(h) <= coders.py_store_hist(h) + 10


def test_py_opt_coder_bounded_by_fast():
    """storeIntegersOpt (grid-optimized PY) is never worse than the
    fast default parameters by more than the grid-index cost."""
    from motive_rdf_spark.functions.coders import log2, py_store_hist, py_store_hist_opt

    for hist in ({1: 5, 2: 3, 7: 1}, {0: 10, 1: 1}, {3: 100}):
        fast = py_store_hist(hist)
        opt = py_store_hist_opt(hist)
        grid_cost = log2(6 * 7)
        assert opt <= fast + grid_cost + 1e-9
        assert opt > 0


def test_edgelist_codelength_tiny():
    # 2-node graph with one edge 0->1, one relation:
    # 2*log2(1!) - 0 - 0 - 0 + 0 = 0 bits under NONE prior
    degs = degrees_from_lists([0, 1], [1, 0], [1])
    assert edgelist_codelength(degs, Prior.NONE) == 0.0
    # m=2: 2*log2(2!) = 2 bits minus sum log2(d!) terms
    degs2 = degrees_from_lists([0, 2], [1, 1], [2])
    expected = 2 * math.log2(2) - math.log2(2) - math.log2(2)
    assert abs(edgelist_codelength(degs2, Prior.NONE) - expected) < 1e-9


def test_prune_greedy_semantics():
    # two overlapping instances: second loses (MotifCode.java:418-436)
    pat = Pattern([(-1, 0, -2)])
    kept = prune_matches(pat, [[5, 6], [5, 6], [7, 8]])
    assert kept == [[5, 6], [7, 8]]


def test_prune_distributed_equals_driver(spark):
    # chain graph: ?n1-[0]->0, ?n2-[1]->1, ?n1-[2]->?n2 — disjoint
    # instances, plus engineered overlaps via a vee pattern on hub 0
    middle = 30
    g = chain_graph(spark, middle)
    pat = Pattern([(-1, 0, 0), (-2, 1, 1), (-1, 2, -2)])
    matches = find(g, pat)
    rows = sorted([list(r) for r in matches.collect()])
    kept_driver = prune_matches(pat, rows)
    kept_df = sorted([list(r) for r in prune_matches_df(pat, matches).collect()])
    assert sorted(kept_driver) == kept_df
    assert len(kept_df) == middle  # all disjoint -> all kept


def test_prune_distributed_with_overlaps(spark):
    # vee pattern on the hub graph: every match shares object node 0,
    # overlapping triples force real pruning chains
    from motive_rdf_spark.data.generators import hub_graph

    g = hub_graph(spark, 12)
    pat = Pattern([(-1, -3, -2), (-1, -4, -2)])  # needs 2 distinct triples s->o
    matches = find(g, pat)
    rows = sorted([list(r) for r in matches.collect()])
    kept_driver = prune_matches(pat, rows)
    kept_df = sorted([list(r) for r in prune_matches_df(pat, matches).collect()])
    assert sorted(kept_driver) == kept_df


def test_planted_motif_recovery(spark):
    # FIXTURES.md §5 / FindTest.motifTest: plant k disjoint triangle
    # instances; prune(find(pattern)) recovers >= k (base graph may add
    # spurious matches; with r=7 relations and sparse base, expect == k)
    n, m, r, k = 400, 800, 7, 25
    g = planted_graph(spark, n, m, r, TRIANGLE, k)
    pat = Pattern(TRIANGLE)
    matches = find(g, pat)
    kept = prune_matches(pat, [list(x) for x in matches.collect()])
    assert len(kept) >= k
    # planted nodes are disjoint blocks, so at least k disjoint instances
    planted_only = [x for x in kept if all(v >= n for v in x[:3])]
    assert len(planted_only) == k


def test_compression_detects_planted_motif(spark):
    """Motif code beats null on a graph dominated by planted structure;
    does NOT meaningfully beat null on a pure random graph
    (MotifCodeTest.randomGraphTest2 semantics, MotifCodeTest.java:473-563)."""
    n, m, r, k = 300, 600, 5, 120
    pat = Pattern(TRIANGLE)

    planted = planted_graph(spark, n, m, r, TRIANGLE, k).cache()
    nb = null_bits(planted, Prior.ML)
    gn, gm, gr = deg.graph_dims(planted)
    matches = find(planted, pat)
    kept_rows = prune_matches(pat, [list(x) for x in matches.collect()])
    kept_df = spark.createDataFrame(
        kept_rows, ", ".join(f"v{i+1} long" for i in range(pat.num_vars))
    )
    score = score_motif(planted, pat, kept_df, gn, gm, gr)
    assert score.total < nb, (score, nb)

    # pure random graph: motif never compresses meaningfully
    rnd = random_graph(spark, n, m, r, seed=7).cache()
    nb2 = null_bits(rnd, Prior.ML)
    m2 = find(rnd, pat)
    kept2 = prune_matches(pat, [list(x) for x in m2.collect()])
    if kept2:
        kept2_df = spark.createDataFrame(
            kept2, ", ".join(f"v{i+1} long" for i in range(pat.num_vars))
        )
        gn2, gm2, gr2 = deg.graph_dims(rnd)
        score2 = score_motif(rnd, pat, kept2_df, gn2, gm2, gr2)
        # allow small slack as the reference does (5 bits, MotifCodeTest.java:561)
        assert score2.total > nb2 - 50, (score2, nb2)


def test_prune_distributed_long_chain_fallback(spark):
    """A path graph makes a conflict chain longer than the fixpoint's
    round budget (each round settles ~2 chain positions). The driver
    completion for the residual must still reproduce the sequential
    greedy exactly (the non-convergence case previously raised)."""
    n = 120
    rows = [(i, 0, i + 1) for i in range(n)]
    g = spark.createDataFrame(rows, "s long, p long, o long")
    pat = Pattern([(-1, 0, -2), (-2, 0, -3)])  # consecutive matches overlap
    matches = find(g, pat)
    drv = prune_matches(pat, sorted([list(r) for r in matches.collect()]))
    # max_rounds far below the chain length -> exercises the fallback
    got = sorted([list(r) for r in prune_matches_df(pat, matches, max_rounds=5).collect()])
    assert got == sorted(drv)
    # and the pure fixpoint (enough rounds) agrees too
    full = sorted([list(r) for r in prune_matches_df(pat, matches, max_rounds=200).collect()])
    assert full == sorted(drv)


def test_driver_exact_scoring_equals_distributed(spark):
    """score_motif_rows (zero-Spark-job tier used by the search hot
    loop) must produce the exact histograms and total of the
    distributed score_motif path — same rows, same graph, two
    patterns (one with a predicate variable)."""
    from motive_rdf_spark.operators.mdl_ops import (
        GraphDegrees,
        score_motif,
        score_motif_rows,
    )

    g = planted_graph(spark, 300, 700, 5, TRIANGLE, 30, seed=11).cache()
    gn, gm, gr = deg.graph_dims(g)
    degs = GraphDegrees(g)
    try:
        for edges in (TRIANGLE, [(-1, -3, -2), (-2, 1, -1)]):
            pat = Pattern(edges)
            matches = find(g, pat)
            kept = prune_matches(pat, sorted([list(x) for x in matches.collect()]))
            if not kept:
                continue
            kept_df = spark.createDataFrame(
                kept, ", ".join(f"v{i+1} long" for i in range(pat.num_vars))
            )
            dist = score_motif(g, pat, kept_df, gn, gm, gr, degs=degs)
            drv = score_motif_rows(
                pat, kept, gn, gm, gr, degs.arrays
            )
            assert drv.total == pytest.approx(dist.total, abs=1e-9), (edges, drv, dist)
    finally:
        degs.unpersist()
        g.unpersist()

"""Output checks. Each returns a list of failure messages (empty = pass).

They run after the timed region and read only what the program wrote
or returned, so a corrupted output makes them fail
(``test_perfbench.py`` corrupts each one on purpose).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from motive_rdf_spark.canon import canonical_key
from motive_rdf_spark.operators.bgp import find_count
from motive_rdf_spark.pipeline.materialize import load_graph
from motive_rdf_spark.search import by_score


def check_construction(spark, out_dir: str, snapshots: list[str], last_supports: dict, motifs: dict) -> list[str]:
    """The ledger holds one row per committed snapshot, its triple total
    equals the deduped graph, and each motif's maintained support after
    the last snapshot equals a from-scratch count over that graph (the
    invariant ``_maintain_motif_supports`` documents)."""
    errors = []
    ledger = spark.read.parquet(f"{out_dir}/ledger").select("snapshot", "n_triples").collect()
    got = sorted(r["snapshot"] for r in ledger)
    if got != sorted(snapshots):
        errors.append(f"ledger rows {len(got)} for {len(snapshots)} committed snapshots")
    committed = sum(int(r["n_triples"]) for r in ledger)
    graph = load_graph(spark, out_dir)
    loaded = graph.count()
    if committed != loaded:
        errors.append(f"ledger total {committed} != load_graph count {loaded}")
    for name, pattern in motifs.items():
        expect = find_count(graph, pattern)
        if last_supports.get(name) != expect:
            errors.append(f"motif {name}: maintained {last_supports.get(name)} != find_count {expect}")
    table = (
        spark.read.parquet(f"{out_dir}/motif_supports")
        .filter(F.col("snapshot") == max(snapshots))
        .select("motif", "support")
        .collect()
    )
    if {r["motif"]: int(r["support"]) for r in table} != last_supports:
        errors.append("motif_supports table disagrees with the last snapshot report")
    return errors


def check_planted_first(state, planted) -> list[str]:
    """The planted motif ranks first by score and beats the null model."""
    best = by_score(state, 1)
    if not best:
        return ["no motif beat the null model"]
    errors = []
    if canonical_key(best[0].pattern) != canonical_key(planted):
        errors.append(f"best motif {best[0].pattern} is not the planted one")
    if not best[0].score < state.null_bits:
        errors.append(f"best score {best[0].score} not below null {state.null_bits}")
    return errors


def check_repeatable(first: tuple[int, float], again: tuple[int, float]) -> list[str]:
    """Two runs at one seed score the same number of candidates (and the
    same best score): the work per seed is fixed."""
    if first != again:
        return [f"same seed, different outcome: {first} vs {again}"]
    return []

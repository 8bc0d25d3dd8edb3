"""The benchmark's workloads: snapshot construction and motif search.

Each workload generates its inputs from the run's seed in ``setup``,
then runs whole work units (``unit``) while the run measures, checks
the outputs after the timed region (``check``), and reports its
end-to-end metrics (``e2e``) or, for a traced run, its per-layer
metrics (``layers``). See README.md for why these workloads.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from motive_rdf_spark import search as S
from motive_rdf_spark.data.generators import candidate_dict, planted_graph, source_code_table
from motive_rdf_spark.operators.bgp import GraphStore
from motive_rdf_spark.operators.localgraph import LocalGraph
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.pipeline import materialize as M

import checks
from eventlog import LayerCost
from spans import Tracer

SETUP_REPS = 3  # input generation and graph builds are repeated; setup_s takes the median

CONSTRUCT_LAYERS = ("extract_link", "dictionary", "encode", "canonicalize", "write", "delta")
SEARCH_LAYERS = ("search", "canon", "spark_match", "sample", "prune", "mdl")

# the reference's Synthetic.java protocol: plant a triangle, warm-start on it
TRIANGLE = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
WARMUP_SA_SEED = 999


def _quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class ConstructIncremental:
    """``run_pipeline`` over small snapshots, one call per snapshot, with
    two maintained motifs. Setup commits the first snapshot, so every
    measured commit reads a history, extends the versioned dictionaries,
    folds into an existing canonical map and runs ``find_delta`` against
    the earlier snapshots. A commit runs about 140 Spark jobs whatever
    its size, so per-job overhead dominates."""

    min_units = 1
    base_layer = "pipeline"
    COMMITS = 8
    ROWS_PER_COMMIT = 2000
    MOTIFS = {
        "vee": Pattern([(-1, -4, -2), (-1, -5, -3)]),
        "edge": Pattern([(-1, -4, -2)]),
    }

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.out = os.path.join(work, "kg")
        self.src = self.cands = None
        self.reports: list = []  # one per committed snapshot, bootstrap first
        self.latencies: list[float] = []

    def _generate(self) -> None:
        for df in (self.src, self.cands):
            if df is not None:
                df.unpersist()
        rows = self.ROWS_PER_COMMIT * self.COMMITS
        self.src = source_code_table(
            self.spark, rows, commits=self.COMMITS, seed=self.seed
        ).drop("k").persist()
        self.src.count()
        self.cands = candidate_dict(self.spark, rows).persist()
        self.cands.count()
        self.snaps = sorted(r["commit"] for r in self.src.select("commit").distinct().collect())

    def setup(self) -> float:
        gen = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self._generate()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.reports += M.run_pipeline(
            self.spark, self.src, self.cands, self.out,
            snapshots=self.snaps[:1], motifs=self.MOTIFS,
        )
        return statistics.median(gen) + time.perf_counter() - t

    def units_left(self) -> int:
        return len(self.snaps) - len(self.reports)

    @property
    def units(self) -> int:
        return len(self.latencies)

    def unit(self, tracer: Tracer | None = None) -> None:
        snap = self.snaps[len(self.reports)]
        t = time.perf_counter()
        rep = M.run_pipeline(
            self.spark, self.src, self.cands, self.out, snapshots=[snap], motifs=self.MOTIFS
        )[0]
        self.latencies.append(time.perf_counter() - t)
        self.reports.append(rep)
        if tracer is not None:
            tracer.release()

    @property
    def measured(self) -> list:
        return self.reports[1:]

    def check(self) -> list[str]:
        return checks.check_construction(
            self.spark,
            self.out,
            [r.snapshot for r in self.reports],
            self.reports[-1].motif_supports,
            self.MOTIFS,
        )

    def e2e(self) -> dict[str, float]:
        triples = sum(r.n_triples for r in self.measured)
        return {
            "run_s": statistics.median(self.latencies),
            "throughput_per_s": triples / sum(self.latencies),
        }

    def issue_names(self, e2e: dict) -> dict[str, tuple[float, str]]:
        return {
            "triples_per_s": (e2e["throughput_per_s"], "1/s"),
            "snapshot_s_p50": (statistics.median(self.latencies), "s"),
            "snapshot_s_max": (max(self.latencies), "s"),
            "storage_bytes_per_triple": (self.bytes_per_triple(), "B"),
        }

    def bytes_per_triple(self) -> float:
        return _dir_bytes(self.out) / sum(r.n_triples for r in self.reports)

    def trace_patches(self, tr: Tracer) -> list:
        PS = M.ParquetStorage
        return [
            # run_snapshot's first actions (source filter, extract+link
            # count) belong to extract_link; each later wrapped call
            # switches the current layer until the snapshot returns
            (M, "run_snapshot", tr.scoped("extract_link", M.run_snapshot)),
            (M, "processed_snapshots", tr.sticky("write", M.processed_snapshots)),
            (M, "build_string_triples", tr.sticky("extract_link", M.build_string_triples)),
            (PS, "load_dict", tr.sticky("dictionary", PS.load_dict)),
            (M, "extend_dict", tr.sticky("dictionary", M.extend_dict)),
            (PS, "write_dict", tr.sticky("dictionary", PS.write_dict)),
            (M, "encode_triples", tr.sticky("encode", M.encode_triples, force=lambda out: out[0])),
            (M, "canonical_entities", tr.sticky("canonicalize", M.canonical_entities)),
            (M, "rewrite_triples", tr.sticky("canonicalize", M.rewrite_triples, force=lambda df: df)),
            (M, "_latest_canonical_map", tr.sticky("canonicalize", M._latest_canonical_map)),
            (M, "connected_components", tr.sticky("canonicalize", M.connected_components)),
            (M, "extend_components", tr.sticky("canonicalize", M.extend_components)),
            (PS, "write", tr.sticky("write", PS.write)),
            (M, "_maintain_motif_supports", tr.sticky("delta", M._maintain_motif_supports)),
        ]

    def layers(self, tr: Tracer, costs: dict[str, LayerCost]) -> dict[str, float]:
        n = len(self.measured)
        out: dict[str, float] = {}
        for layer in CONSTRUCT_LAYERS:
            c = costs.get(layer, LayerCost())
            out[f"{layer}.s"] = tr.wall[layer] / n
            out[f"{layer}.jobs"] = c.jobs / n
            out[f"{layer}.task_s"] = c.task_s / n
            out[f"{layer}.shuffle_write_bytes"] = c.shuffle_write_bytes / n
            out[f"{layer}.spill_bytes"] = c.spill_bytes / n
        out["extract_link.rows"] = sum(r.n_mentions for r in self.measured) / n
        out["dictionary.rows"] = costs.get("dictionary", LayerCost()).output_records / n
        out["encode.rows"] = tr.counts["encode.rows"] / n
        out["canonicalize.rows"] = tr.counts["canonicalize.rows"] / n
        out["write.bytes"] = costs.get("write", LayerCost()).output_bytes / n
        out["write.storage_bytes_per_triple"] = self.bytes_per_triple()
        deltas, history = [], []
        for i, rep in enumerate(self.reports[1:], start=1):
            prev = self.reports[i - 1].motif_supports
            deltas.append(sum(v - prev.get(k, 0) for k, v in rep.motif_supports.items()))
            history.append(sum(r.n_triples for r in self.reports[:i]))
        out["delta.rows"] = sum(deltas) / n
        out["delta.history_rows"] = sum(history) / n
        return out

    def close(self) -> None:
        for df in (self.src, self.cands):
            if df is not None:
                df.unpersist()


@dataclass
class Chain:
    tier: str  # "local" (LocalGraph) or "spark" (GraphStore)
    sa: S.SimAnnealing
    wall_s: float
    latencies: list[float]  # one per iterate() that scored a new candidate

    @property
    def candidates(self) -> int:
        return len(self.sa.state.score_cache)


class MotifSearch:
    """Fixed-seed simulated annealing over a planted graph, warm-started
    on the planted triangle, on both candidate-evaluation tiers. A unit
    runs ``LOCAL_CHAINS`` short chains on the LocalGraph tier
    (SimAnnealing's default for graphs up to 2M triples: match, prune
    and MDL in driver Python, no Spark job) and one chain with
    ``local_graph=False`` over a GraphStore (the tier for larger graphs:
    one or more Spark jobs per candidate). The run's seed generates the
    graph; chain ``i`` of a run uses ``SAConfig(seed=i)``. Only the
    ``max_matches`` row cap and the
    ``max_steps`` attempt cap bound a candidate's enumeration (no
    wall-clock budget), so the work per seed is fixed and a faster
    matcher shows as a shorter run, not as different work.

    A chain's early moves decide whether it stays among specific, cheap
    patterns (~2 ms a candidate) or drifts to general ones (~30 ms), so
    a chain's cost depends on its SA seed far more than on the graph:
    with chain seeds drawn from the run's seed, candidates/s over 80
    chains still ranged 20-33 across ten seeds (quartile spread 0.31 of
    the median). The same chain seeds on graphs from different run
    seeds cost within a few percent of each other, so the chain seeds
    are fixed and the run's seed varies the graph."""

    min_units = 1
    base_layer = "search"
    GRAPH = dict(n=6000, m=18000, r=8, k=200)
    LOCAL_CHAINS = 40
    # a Spark-tier candidate costs ~0.5-1 s, a LocalGraph one 2-50 ms
    ITERATIONS = {"local": 5, "spark": 8}
    # SAConfig's defaults (200k rows, no step cap) let a general
    # candidate such as the all-variable triangle enumerate in driver
    # Python for 0.5-5 s, so how many chains met one decided a run's
    # time. Both caps are counts, not clocks: the work stays fixed.
    MAX_MATCHES = 2000
    MAX_STEPS = 30_000

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.graph = self.local = self.store = None
        self.chains: list[Chain] = []
        self.local_walls: list[float] = []  # the LocalGraph part of each unit
        self.spark_sa = None
        # counted in a traced run only
        self.score_calls = self.accepts = self.empties = self.hits = 0

    def _build(self) -> None:
        if self.graph is not None:
            self.graph.unpersist()
        self.graph = planted_graph(
            self.spark, pattern_edges=TRIANGLE, seed=self.seed, **self.GRAPH
        ).persist()
        self.graph.count()
        self.local = LocalGraph.from_df(self.graph)

    def setup(self) -> float:
        builds = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self._build()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.store = GraphStore(self.graph)
        self.store.n_triples
        self.store.by_s.count()
        self.store.by_o.count()
        # warm-up chains at an SA seed no measured chain uses: fill the
        # Spark tier's persisted degree frames and warm the JIT
        for tier in self.ITERATIONS:
            self._chain(tier, WARMUP_SA_SEED, 2)
        return statistics.median(builds) + time.perf_counter() - t

    def _chain(self, tier: str, sub_seed: int, iterations: int, traced: bool = False) -> Chain:
        local = tier == "local"
        cfg = S.SAConfig(
            seed=sub_seed,
            local_graph=local,
            max_matches=self.MAX_MATCHES,
            max_steps=self.MAX_STEPS,
            max_time_s=None,
        )
        t0 = time.perf_counter()
        sa = S.SimAnnealing(
            self.local if local else self.store, cfg, init_pattern=Pattern(TRIANGLE)
        )
        latencies = []
        for _ in range(iterations):
            before = len(sa.state.score_cache)
            calls, pattern = self.score_calls, sa.pattern
            t = time.perf_counter()
            sa.iterate()
            dt = time.perf_counter() - t
            if len(sa.state.score_cache) > before:
                latencies.append(dt)
            if traced:
                self.accepts += sa.pattern is not pattern
                if self.score_calls == calls:
                    self.empties += 1
                elif len(sa.state.score_cache) == before:
                    self.hits += 1
        wall = time.perf_counter() - t0
        if not local:
            # chains share the persisted degree frames: release them
            # once, after the last chain (close())
            self.spark_sa = sa
        return Chain(tier, sa, wall, latencies)

    def units_left(self) -> int:
        # measured chains' SA seeds stay below the warm-up's
        return WARMUP_SA_SEED // (self.LOCAL_CHAINS + 1) - self.units

    @property
    def units(self) -> int:
        return len(self.local_walls)

    def unit(self, tracer: Tracer | None = None) -> None:
        sc = tracer.sc if tracer is not None else None
        for tier, n in (("local", self.LOCAL_CHAINS), ("spark", 1)):
            if tracer is not None:
                # the LocalGraph tier runs no Spark job: skip its
                # per-span job-group calls
                tracer.bind(sc if tier == "spark" else None)
            t = time.perf_counter()
            for _ in range(n):
                self.chains.append(
                    self._chain(tier, len(self.chains), self.ITERATIONS[tier], tracer is not None)
                )
            if tier == "local":
                self.local_walls.append(time.perf_counter() - t)
        if tracer is not None:
            tracer.bind(sc)

    def check(self) -> list[str]:
        errors = []
        for i, c in enumerate(self.chains):
            state = c.sa.state
            errors += [f"chain {i} ({c.tier}): {e}" for e in checks.check_planted_first(state, Pattern(TRIANGLE))]
        first = self.chains[0]
        again = self._chain(first.tier, 0, self.ITERATIONS[first.tier])
        errors += checks.check_repeatable(
            (first.candidates, S.by_score(first.sa.state, 1)[0].score),
            (again.candidates, S.by_score(again.sa.state, 1)[0].score),
        )
        return errors

    def _tier(self, tier: str) -> list[Chain]:
        return [c for c in self.chains if c.tier == tier]

    def e2e(self) -> dict[str, float]:
        # Spark tier only. A LocalGraph chain's cost depends on which
        # general patterns its graph and moves lead it to: candidates/s
        # over 80 chains ranged 20-41 across seeds (quartile spread
        # 0.31-0.33 of the median) while one seed repeated within 3%.
        # A Spark-tier candidate costs its jobs, whose number varies
        # little. The LocalGraph tier is reported per layer and printed.
        remote = self._tier("spark")
        return {
            "run_s": statistics.median(c.wall_s for c in remote),
            "throughput_per_s": sum(c.candidates for c in remote)
            / sum(c.wall_s for c in remote),
        }

    def issue_names(self, e2e: dict) -> dict[str, tuple[float, str]]:
        out = {}
        for tier in self.ITERATIONS:
            chains = self._tier(tier)
            lat = [x for c in chains for x in c.latencies]
            out[f"{tier}.candidates_per_s"] = (
                sum(c.candidates for c in chains) / sum(c.wall_s for c in chains),
                "1/s",
            )
            out[f"{tier}.candidate_ms_p50"] = (1000 * statistics.median(lat), "ms")
            out[f"{tier}.candidate_ms_p90"] = (1000 * _quantile(lat, 0.9), "ms")
        return out

    def trace_patches(self, tr: Tracer) -> list:
        def count_prune(args, kwargs, kept):
            tr.counts["prune.rows_in"] += len(args[1])
            tr.counts["prune.kept"] += len(kept)

        score = S.SimAnnealing._score

        def traced_score(sa, pattern):
            self.score_calls += 1
            # the Spark tier's _score runs the match jobs itself (find
            # is lazy); on the LocalGraph tier matching is find_rows
            with tr.scope("search" if sa.cfg.local_graph else "spark_match"):
                return score(sa, pattern)

        find_rows, incident = self.local.find_rows, self.local.incident
        sample_rows = S.SAConfig().sample_rows

        def traced_find_rows(pattern, max_rows=None, **kw):
            layer = "sample" if max_rows == sample_rows else "match"
            tr.calls[layer] += 1
            with tr.scope(layer):
                rows, timed_out = find_rows(pattern, max_rows=max_rows, **kw)
            if layer == "match":
                tr.counts["match.rows"] += len(rows)
                truncated = max_rows is not None and len(rows) >= max_rows
                tr.counts["match.truncated"] += truncated or timed_out
            return rows, timed_out

        return [
            (S.SimAnnealing, "_score", traced_score),
            (S, "canonical_key", tr.scoped("canon", S.canonical_key)),
            (S, "prune_matches", tr.scoped("prune", S.prune_matches, on_result=count_prune)),
            (S, "prune_matches_df", tr.scoped("prune", S.prune_matches_df)),
            (S, "score_motif_rows", tr.scoped("mdl", S.score_motif_rows)),
            (S, "score_motif", tr.scoped("mdl", S.score_motif)),
            (self.local, "find_rows", traced_find_rows),
            (self.local, "incident", tr.scoped("sample", incident)),
        ]

    def layers(self, tr: Tracer, costs: dict[str, LayerCost]) -> dict[str, float]:
        n = self.units
        local, remote = self._tier("local"), self._tier("spark")
        iters = len(local) * self.ITERATIONS["local"] + len(remote) * self.ITERATIONS["spark"]
        local_lat = [x for c in local for x in c.latencies]
        out = {
            "search.iterations": iters / n,
            "search.candidates": sum(c.candidates for c in self.chains) / n,
            "search.cache_hit_frac": self.hits / iters,
            "search.empty_proposal_frac": self.empties / iters,
            "search.accept_frac": self.accepts / iters,
            "search.self_s": tr.wall["search"] / n,
            "canon.s": tr.wall["canon"] / n,
            "canon.calls": tr.calls["canon"] / n,
            "localgraph.match_s": tr.wall["match"] / n,
            "localgraph.match_calls": tr.calls["match"] / n,
            "localgraph.match_rows": tr.counts["match.rows"] / n,
            "localgraph.truncated": tr.counts["match.truncated"] / n,
            "localgraph.sample_s": tr.wall["sample"] / n,
            "localgraph.sample_calls": tr.calls["sample"] / n,
            "localgraph.candidate_ms_p50": 1000 * statistics.median(local_lat),
            "localgraph.candidate_ms_p90": 1000 * _quantile(local_lat, 0.9),
            "prune.s": tr.wall["prune"] / n,
            "prune.rows_in": tr.counts["prune.rows_in"] / n,
            "prune.kept_frac": tr.counts["prune.kept"] / max(tr.counts["prune.rows_in"], 1),
            "mdl.s": tr.wall["mdl"] / n,
            "mdl.calls": tr.calls["mdl"] / n,
        }
        # every job in a search span comes from a Spark-tier chain
        spark = LayerCost()
        for layer in SEARCH_LAYERS:
            c = costs.get(layer, LayerCost())
            spark.jobs += c.jobs
            spark.job_wall_s += c.job_wall_s
            spark.task_s += c.task_s
            spark.shuffle_write_bytes += c.shuffle_write_bytes
        cands = sum(c.candidates for c in remote)
        out["spark.jobs_per_candidate"] = spark.jobs / cands
        out["spark.job_wall_s"] = spark.job_wall_s / cands
        out["spark.task_s"] = spark.task_s / cands
        out["spark.shuffle_bytes"] = spark.shuffle_write_bytes / cands
        out["spark.driver_self_s"] = (sum(c.wall_s for c in remote) - spark.job_wall_s) / cands
        remote_lat = [x for c in remote for x in c.latencies]
        out["spark.candidate_ms_p50"] = 1000 * statistics.median(remote_lat)
        out["spark.candidate_ms_p90"] = 1000 * _quantile(remote_lat, 0.9)
        out["spark.chain_s"] = sum(c.wall_s for c in remote) / n
        out["localgraph.chains_s"] = sum(self.local_walls) / n
        return out

    def close(self) -> None:
        if self.spark_sa is not None:
            self.spark_sa.close()
        if self.store is not None:
            self.store.unpersist()
        if self.graph is not None:
            self.graph.unpersist()


WORKLOADS = {"construct_incremental": ConstructIncremental, "motif_search": MotifSearch}

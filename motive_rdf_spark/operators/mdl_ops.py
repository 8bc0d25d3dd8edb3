"""Spark adapters feeding the driver-side MDL math (functions/mdl.py).

Everything heavy stays distributed; only *histograms of histograms*
(distinct degree values × counts — tiny at any graph size) are
collected. Reference: MotifCode.codelength (MotifCode.java:56-137).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.functions.mdl import (
    Hist,
    MotifScore,
    Prior,
    edgelist_codelength,
    motif_codelength,
)
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators.bgp import prepare_triples
from motive_rdf_spark.operators.prune import instance_triples_df
from motive_rdf_spark.patterns import Pattern, var_col


#: driver-exact scoring densifies 3 int64 degree vectors; at the cap
#: that is ~48 MB of driver heap. Graphs with larger id spaces always
#: take the distributed histogram path.
DRIVER_DEGREE_LIMIT = 2_000_000


class GraphDegrees:
    """The per-graph constants every search candidate is scored against,
    over the graph's deduplicated triples (KGraph is a set): ``(n, m, r)``,
    the persisted per-position degree frames, their dense driver form
    ``arrays`` (None above DRIVER_DEGREE_LIMIT, the 100 TB case: stay
    distributed) and the null model's codelength ``null_bits``. The
    frames are pattern-independent, so every ``score_motif`` call of a
    search reuses them instead of running three groupBy shuffles.

    Building costs one ``graph_dims`` job plus one collect per frame, or
    nothing while another live ``GraphDegrees`` has the same graph plan:
    Spark's CacheManager keeps one cache entry per plan, so such holders
    share their frames anyway, and ``unpersist`` uncaches them only when
    the last of those holders releases. ``GraphStore.stats`` memoizes one
    per store; a search chain over a plain DataFrame builds its own and
    ``SimAnnealing.close`` releases it."""

    def __init__(self, triples: DataFrame):
        self.graph = prepare_triples(triples)
        # held while building, so a twin is never released half-copied
        with _live_lock:
            twin = next(
                (d for d in _live if d.graph.sameSemantics(self.graph)), None
            )
            if twin is not None:
                self.__dict__.update(twin.__dict__)
            else:
                self._build()
            _live.add(self)

    def _build(self) -> None:
        t = self.graph
        self.n, self.m, self.r = deg.graph_dims(t)
        self.in_deg = deg.in_degrees(t).persist()
        self.out_deg = deg.out_degrees(t).persist()
        self.rel_deg = deg.rel_degrees(t).persist()
        self.arrays = None
        if max(self.n, self.r) <= DRIVER_DEGREE_LIMIT:
            self.arrays = (
                _dense(self.in_deg, self.n),
                _dense(self.out_deg, self.n),
                _dense(self.rel_deg, self.r),
            )
            self.null_bits = null_bits_arrays(self.arrays)
        else:
            self.null_bits = null_bits(t, degs=self, dims=(self.n, self.m, self.r))

    def unpersist(self) -> None:
        """Release this holder; the frames are uncached once no live
        holder of the same graph plan is left. Idempotent."""
        with _live_lock:
            if self not in _live:
                return
            _live.discard(self)
            if any(d.graph.sameSemantics(self.graph) for d in _live):
                return
            for d in (self.in_deg, self.out_deg, self.rel_deg):
                d.unpersist()


#: every GraphDegrees not yet released (weak: a dropped holder releases
#: nothing, as with any persisted DataFrame nobody unpersists)
_live: "weakref.WeakSet[GraphDegrees]" = weakref.WeakSet()
_live_lock = threading.Lock()


def _dense(df: DataFrame, space: int) -> "np.ndarray":
    """A (key, deg) frame as a dense numpy degree vector: one collect."""
    import numpy as np

    kv = np.array(df.collect(), dtype=np.int64).reshape(-1, 2)
    arr = np.zeros(space, dtype=np.int64)
    arr[kv[:, 0]] = kv[:, 1]
    return arr


def null_bits(
    triples: DataFrame,
    prior: Prior = Prior.ML,
    degs: GraphDegrees | None = None,
    dims: tuple[int, int, int] | None = None,
) -> float:
    """EdgeListModel.codelength(KGraph.degrees(data), prior) — the null
    model every motif competes against (RealWorld.java:62). ``dims``
    passes an already-known ``graph_dims`` result."""
    n, _, r = dims or deg.graph_dims(triples)
    if degs is None:
        return edgelist_codelength(deg.degree_histograms(triples, n, r), prior)
    hists = [
        deg.degree_histogram(degs.in_deg, n),
        deg.degree_histogram(degs.out_deg, n),
        deg.degree_histogram(degs.rel_deg, r),
    ]
    return edgelist_codelength(hists, prior)


def null_bits_arrays(degs_np: tuple, prior: Prior = Prior.ML) -> float:
    """``null_bits`` from dense driver-side degree vectors (the
    LocalGraph / driver-exact tier) — same histogram, zero Spark jobs.
    The dense vectors already carry the implicit zeros that
    deg.degree_histogram adds to the sparse collected form."""
    import numpy as np

    hists: list[Hist] = []
    for arr in degs_np:
        vals, cnts = np.unique(arr, return_counts=True)
        hists.append({int(v): int(c) for v, c in zip(vals, cnts)})
    return edgelist_codelength(hists, prior)


def _hist_of(df: DataFrame, col: str) -> Hist:
    rows = df.groupBy(col).agg(F.count("*").alias("cnt")).collect()
    return {int(r[col]): int(r["cnt"]) for r in rows}


def template_degree_hists(
    triples: DataFrame,
    pattern: Pattern,
    matches: DataFrame,
    n: int,
    r: int,
    degs: GraphDegrees | None = None,
) -> list[Hist]:
    """Graph degree histograms after subtracting the degree contribution
    of all instance triples, duplicates preserved (MotifCode.java:100-126:
    SparseList.inc over Utils.allTriples, then lazy minus).

    Spark shape: instance triples (projection-only explode of matches) →
    per-id counts → full outer join with the graph's per-id degrees →
    subtract → histogram. One shuffle per position; the three positions
    are independent Spark actions and run concurrently from driver
    threads (the scheduler interleaves their tiny stages).
    """
    from concurrent.futures import ThreadPoolExecutor

    inst = instance_triples_df(pattern, matches).select("s", "p", "o")

    def tmpl_hist(graph_deg: DataFrame, key: str, inst_col: str, space: int) -> Hist:
        sub = inst.groupBy(F.col(inst_col).alias(key)).agg(F.count("*").alias("sub"))
        joined = graph_deg.join(sub, key, "full_outer").select(
            (F.coalesce(F.col("deg"), F.lit(0)) - F.coalesce(F.col("sub"), F.lit(0))).alias("deg")
        )
        h = _hist_of(joined, "deg")
        covered = sum(h.values())
        if space > covered:
            h[0] = h.get(0, 0) + (space - covered)
        return h

    in_deg = degs.in_deg if degs else deg.in_degrees(triples)
    out_deg = degs.out_deg if degs else deg.out_degrees(triples)
    rel_deg = degs.rel_deg if degs else deg.rel_degrees(triples)
    jobs = [
        (in_deg, "node", "o", n),
        (out_deg, "node", "s", n),
        (rel_deg, "rel", "p", r),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        return list(pool.map(lambda a: tmpl_hist(*a), jobs))


def variable_freq_hists(
    pattern: Pattern, matches: DataFrame, n: int, r: int
) -> dict[int, tuple[Hist, int]]:
    """Per-variable frequency-of-frequency histograms
    (MotifCode.patternDegrees, MotifCode.java:247-269): for each variable,
    how often each bound value occurs across matches, collected as
    {frequency -> #values}. Node variables range over [0,n), predicate
    variables over [0,r)."""
    from concurrent.futures import ThreadPoolExecutor

    node_vars = set(pattern.node_vars)

    def one(v: int) -> tuple[int, tuple[Hist, int]]:
        freq = matches.groupBy(var_col(v)).agg(F.count("*").alias("f"))
        return v, (_hist_of(freq, "f"), n if v in node_vars else r)

    vs = list(pattern.variables)
    if not vs:
        return {}
    with ThreadPoolExecutor(max_workers=min(len(vs), 6)) as pool:
        return dict(pool.map(one, vs))


def score_motif(
    triples: DataFrame,
    pattern: Pattern,
    pruned_matches: DataFrame,
    n: int,
    m: int,
    r: int,
    fast_py: bool = True,
    degs: GraphDegrees | None = None,
) -> MotifScore:
    """Full MotifCode.codelength pipeline over DataFrames. ``pruned_matches``
    must already be overlap-pruned (operators/prune.py). The count,
    template hists, and variable hists are independent actions over the
    (persisted) match set, so they run concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_k = pool.submit(pruned_matches.count)
        f_tmpl = pool.submit(
            template_degree_hists, triples, pattern, pruned_matches, n, r, degs
        )
        f_var = pool.submit(variable_freq_hists, pattern, pruned_matches, n, r)
        k, tmpl, var_h = f_k.result(), f_tmpl.result(), f_var.result()
    return motif_codelength(tmpl, n, m, r, pattern, var_h, k, fast_py)


def score_motif_rows(
    pattern: Pattern,
    rows: list[list[int]],
    n: int,
    m: int,
    r: int,
    degs_np: tuple,
    fast_py: bool = True,
) -> MotifScore:
    """Driver-exact tier of ``score_motif``: identical arithmetic, zero
    Spark jobs. Used by the search hot loop when the (already
    overlap-pruned) matches live on the driver — the prune_matches
    path, bounded by ``driver_prune_threshold`` rows — and the graph's
    id spaces fit ``GraphDegrees.arrays``. The histogram algebra
    mirrors template_degree_hists/variable_freq_hists exactly: dense
    degree vector minus instance-triple contribution, then
    value-histogram (the Spark path's full-outer-join + implicit-zeros
    logic is the sparse form of the same subtraction)."""
    import numpy as np

    in_arr, out_arr, rel_arr = degs_np
    k = len(rows)
    mat = np.asarray(rows, dtype=np.int64).reshape(k, pattern.num_vars)

    def col(t: int) -> "np.ndarray":
        # values[i] binds var -(i+1)  ->  var t < 0 is column -t-1
        return mat[:, -t - 1] if t < 0 else np.full(k, t, dtype=np.int64)

    s_parts = [col(s) for s, _, _ in pattern.edges]
    p_parts = [col(p) for _, p, _ in pattern.edges]
    o_parts = [col(o) for _, _, o in pattern.edges]
    sub_out = np.bincount(np.concatenate(s_parts), minlength=n)
    sub_rel = np.bincount(np.concatenate(p_parts), minlength=r)
    sub_in = np.bincount(np.concatenate(o_parts), minlength=n)

    def hist_of(arr: "np.ndarray") -> Hist:
        vals, cnts = np.unique(arr, return_counts=True)
        return {int(v): int(c) for v, c in zip(vals, cnts)}

    tmpl = [
        hist_of(in_arr - sub_in),
        hist_of(out_arr - sub_out),
        hist_of(rel_arr - sub_rel),
    ]
    node_vars = set(pattern.node_vars)
    var_h: dict[int, tuple[Hist, int]] = {}
    for i, v in enumerate(pattern.variables):
        freqs = np.unique(mat[:, i], return_counts=True)[1]
        var_h[v] = (hist_of(freqs), n if v in node_vars else r)
    return motif_codelength(tmpl, n, m, r, pattern, var_h, k, fast_py)

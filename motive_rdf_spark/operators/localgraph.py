"""Driver-tier graph for the search hot loop: the triple table
collected into numpy arrays + hash indexes so candidate evaluation
(match -> prune -> score) runs with ZERO Spark jobs per candidate.

Why this exists: one SA iteration evaluates one candidate pattern on
a FIXED graph. On the reference's fixture graphs (29k-75k triples)
the distributed matcher's cost is pure job-scheduling overhead
(~1.4 s per candidate for microseconds of data work), which caps
simulated annealing at ~1 iteration/s; the published motif tables
come from 10^4-10^6-iteration runs. This tier mirrors the repo's
existing driver-exact prune (operators/prune.py) and driver-exact
scoring (operators/mdl_ops.score_motif_rows): bounded small-data
computation runs on the driver, the distributed path remains the
only path above the cap.

Scale story: ``LOCAL_GRAPH_LIMIT`` caps the triple count (default
2M: three int64 arrays ~48 MB plus ~3x that in indexes). Above it
``SimAnnealing`` keeps the distributed matcher (operators/bgp.find)
for every candidate — the 100 TB case never collects the graph.

Match semantics are identical to ``bgp.find`` (Find.java:40-500 via
SURVEY §1.2), pinned by a differential test against the same
brute-force enumerator that validates the distributed matcher:
constants as filters, one emitted row per distinct triple
combination (tid multiset), pairwise node-variable injectivity
(Find.java:135-148), per-edge triple distinctness for collidable
edge pairs (Find.java:286-316), variables projected descending
(v1 = -1 first).
"""

from __future__ import annotations

import time

import numpy as np

from motive_rdf_spark.patterns import Pattern

#: max triples collectable into a LocalGraph (see module docstring)
LOCAL_GRAPH_LIMIT = 2_000_000


class LocalGraph:
    """Immutable in-memory triple table with per-position indexes."""

    def __init__(self, s: np.ndarray, p: np.ndarray, o: np.ndarray):
        self.S = np.ascontiguousarray(s, dtype=np.int64)
        self.P = np.ascontiguousarray(p, dtype=np.int64)
        self.O = np.ascontiguousarray(o, dtype=np.int64)
        self.m = len(self.S)
        self._idx: dict[tuple[str, ...], dict] = {}
        for key in (("s",), ("p",), ("o",), ("s", "p"), ("p", "o"), ("s", "o")):
            self._idx[key] = self._build(key)

    def _cols(self, names: tuple[str, ...]) -> list[np.ndarray]:
        return [{"s": self.S, "p": self.P, "o": self.O}[n] for n in names]

    def _build(self, names: tuple[str, ...]) -> dict:
        cols = self._cols(names)
        idx: dict = {}
        if len(cols) == 1:
            keys = cols[0]
            order = np.argsort(keys, kind="stable")
            sk = keys[order]
            bounds = np.searchsorted(sk, np.unique(sk), side="left")
            uniq = np.unique(sk)
            ends = np.append(bounds[1:], len(sk))
            for u, a, b in zip(uniq.tolist(), bounds.tolist(), ends.tolist()):
                idx[u] = order[a:b]
        else:
            # composite key via lexicographic sort
            order = np.lexsort(tuple(reversed([c for c in cols])))
            sorted_cols = [c[order] for c in cols]
            changed = np.zeros(len(order), dtype=bool)
            if len(order):
                changed[0] = True
                for c in sorted_cols:
                    changed[1:] |= c[1:] != c[:-1]
            starts = np.flatnonzero(changed)
            ends = np.append(starts[1:], len(order))
            for a, b in zip(starts.tolist(), ends.tolist()):
                key = tuple(int(c[a]) for c in sorted_cols)
                idx[key] = order[a:b]
        return idx

    @classmethod
    def from_df(cls, triples) -> "LocalGraph":
        """Collect a (s, p, o) DataFrame. Caller is responsible for the
        LOCAL_GRAPH_LIMIT gate (it already knows m from graph_dims).

        Duplicate triples are dropped on the driver, keeping each one's
        first occurrence in collected order: KGraph is a set, as
        ``bgp.prepare_triples`` makes the distributed tier's graph."""
        pdf = triples.select("s", "p", "o").toPandas()
        spo = np.stack([pdf[c].to_numpy(dtype=np.int64) for c in ("s", "p", "o")], axis=1)
        spo = spo[np.sort(np.unique(spo, axis=0, return_index=True)[1])]
        return cls(spo[:, 0], spo[:, 1], spo[:, 2])

    def dims(self) -> tuple[int, int, int]:
        """(n, m, r) under the same dense-id contract as
        degrees.graph_dims: space size = max id + 1."""
        n = int(max(self.S.max(initial=-1), self.O.max(initial=-1))) + 1
        r = int(self.P.max(initial=-1)) + 1
        return n, self.m, r

    # -- lookups -------------------------------------------------------

    def candidates(self, s: int | None, p: int | None, o: int | None) -> np.ndarray:
        """Row ids whose bound positions equal the given values
        (None = unbound)."""
        bound = [(n, v) for n, v in (("s", s), ("p", p), ("o", o)) if v is not None]
        if not bound:
            return np.arange(self.m)
        if len(bound) == 1:
            (n, v), = bound
            return self._idx[(n,)].get(v, _EMPTY)
        if len(bound) == 2:
            names = tuple(n for n, _ in bound)
            key = tuple(v for _, v in bound)
            return self._idx[names].get(key, _EMPTY)
        rows = self._idx[("s", "p")].get((s, p), _EMPTY)
        return rows[self.O[rows] == o]

    def incident(self, node: int, cap: int) -> list[tuple[int, int, int]]:
        """First ``cap`` triples touching ``node`` as subject or object
        (the sampling pool of the EXTEND transition)."""
        rows = np.union1d(
            self._idx[("s",)].get(node, _EMPTY), self._idx[("o",)].get(node, _EMPTY)
        )[:cap]
        return [
            (int(self.S[r]), int(self.P[r]), int(self.O[r])) for r in rows
        ]

    # -- the matcher ---------------------------------------------------

    def find_rows(
        self,
        pattern: Pattern,
        max_rows: int | None = None,
        deadline: float | None = None,
        max_steps: int | None = None,
    ) -> tuple[list[list[int]], bool]:
        """All matches of ``pattern`` (see module docstring for the
        contract), as rows of variable values in descending variable
        order — the same layout as ``find(...)``'s v1..vk columns.
        Returns (rows, timed_out); rows is a correct subset when
        ``timed_out`` or when ``max_rows`` truncated enumeration.

        Budgets: ``deadline`` (time.monotonic) mirrors the reference's
        wall-clock match budget; ``max_steps`` caps candidate-row
        attempts instead — the same differential truncation of
        expensive patterns, but DETERMINISTIC (load-independent), so
        fixed-seed searches reproduce bit-for-bit."""
        edges = pattern.edges
        if not edges:
            raise ValueError("empty pattern")
        order = self._order(pattern)
        node_vars = set(pattern.node_vars)
        variables = pattern.variables
        # collidable(i, j): can edges i and j match the same triple?
        collid = [
            [
                j
                for j in range(len(edges))
                if j != i
                and not (
                    edges[i][1] >= 0 and edges[j][1] >= 0
                    and edges[i][1] != edges[j][1]
                )
            ]
            for i in range(len(edges))
        ]
        out: list[list[int]] = []
        used: dict[int, int] = {}  # edge index -> row id
        binding: dict[int, int] = {}
        timed_out = False
        steps = 0

        def bound_or_none(t: int) -> int | None:
            return t if t >= 0 else binding.get(t)

        def rec(depth: int) -> bool:
            """Returns False to abort enumeration (budget hit)."""
            nonlocal timed_out, steps
            if deadline is not None and time.monotonic() > deadline:
                timed_out = True
                return False
            if depth == len(order):
                out.append([binding[v] for v in variables])
                return max_rows is None or len(out) < max_rows
            ei = order[depth]
            s, p, o = edges[ei]
            rows = self.candidates(bound_or_none(s), bound_or_none(p), bound_or_none(o))
            prior = [used[j] for j in collid[ei] if j in used]
            if max_steps is not None:
                steps += len(rows)
                if steps > max_steps:
                    timed_out = True
                    return False
            for r in rows.tolist():
                if r in prior:
                    continue
                new_terms: list[int] = []
                ok = True
                for term, val in ((s, self.S[r]), (p, self.P[r]), (o, self.O[r])):
                    val = int(val)
                    if term >= 0:
                        if term != val:
                            ok = False
                            break
                    else:
                        cur = binding.get(term)
                        if cur is None:
                            if term in node_vars and val in (
                                binding[w] for w in binding if w in node_vars
                            ):
                                ok = False  # node-var injectivity
                                break
                            binding[term] = val
                            new_terms.append(term)
                        elif cur != val:
                            ok = False
                            break
                if ok:
                    used[ei] = r
                    cont = rec(depth + 1)
                    del used[ei]
                    for t in new_terms:
                        del binding[t]
                    if not cont:
                        return False
                else:
                    for t in new_terms:
                        del binding[t]
            return True

        rec(0)
        return out, timed_out

    def _order(self, pattern: Pattern) -> list[int]:
        """Greedy selective-first, connected-next edge order — the
        in-memory analog of bgp._order_edges(probe=True), with exact
        constants-only candidate counts from the indexes."""
        edges = list(pattern.edges)
        costs = [
            len(
                self.candidates(
                    s if s >= 0 else None,
                    p if p >= 0 else None,
                    o if o >= 0 else None,
                )
            )
            for s, p, o in edges
        ]

        def evars(e) -> set[int]:
            return {t for t in e if t < 0}

        remaining = set(range(len(edges)))
        order: list[int] = []
        bound: set[int] = set()
        while remaining:
            connected = [i for i in remaining if evars(edges[i]) & bound]
            pool = connected or sorted(remaining)
            best = min(pool, key=lambda i: (costs[i], i))
            order.append(best)
            bound |= evars(edges[best])
            remaining.discard(best)
        return order

    # -- degree vectors (for driver-exact scoring) ---------------------

    def degree_arrays(self, n: int, r: int) -> tuple:
        """(in, out, rel) dense degree vectors — the same statistic
        GraphDegrees.arrays holds, computed locally."""
        return (
            np.bincount(self.O, minlength=n),
            np.bincount(self.S, minlength=n),
            np.bincount(self.P, minlength=r),
        )


_EMPTY = np.empty(0, dtype=np.int64)

"""BGP matcher: conjunctive-query evaluation over a triples DataFrame.

The reference's query engine is a backtracking constraint solver with
MRV variable ordering and arc-consistency pruning (Find.java:40-500).
Set-at-a-time Spark replaces all of that with an **iterative hash-join
expansion**: start from the most selective pattern edge as a filtered
scan of ``triples``, then for each further edge join the accumulated
embedding DataFrame with ``triples`` on the shared variables.

Semantics preserved exactly (SURVEY.md §1.2):

- constants filter the per-edge scan (FindTest.java:51-64 uses
  grounded terms);
- **node-variable injectivity** — two node variables never bind the
  same constant (Find.alreadyClaimed, Find.java:135-148; setSingleton
  Find.java:256-268) → pairwise ``!=`` predicates, applied as soon as
  both columns exist (early pruning);
- **per-edge triple distinctness** — every pattern edge maps to a
  distinct graph triple (Find.Candidates.isMatch, Find.java:286-316)
  → carry each edge's triple id through the joins, final pairwise
  ``!=`` filter;
- match projection ordered by variable descending, ``-1`` first
  (Find.java:402-422) → columns ``v1, v2, …``.

Scale notes: each expansion step is one shuffle-or-broadcast hash join
on long keys; AQE handles skewed hub values (rdf:type-like predicates)
via skew-join splitting, and runtime Bloom-filter joins recreate the
reference's semijoin candidate reduction (Find.java:197-216). Join
*order* (the MRV analog, Find.java:101-102) is chosen here at
plan-construction time: constants-first heuristic, or exact per-edge
selectivity probes when ``probe=True``.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.patterns import Pattern, var_col

TID = "__tid"


def prepare_triples(triples: DataFrame) -> DataFrame:
    """Dedupe (KGraph is a set of triples, KGraph.java:94-106) and attach
    a deterministic per-triple id for edge-distinctness filtering.

    ``xxhash64(s,p,o)`` is collision-free in practice (2^-64 per pair)
    and — unlike ``monotonically_increasing_id`` — stable across runs
    and partitionings, which matters for checkpoint/resume.
    """
    cols = triples.columns
    if TID in cols:
        return triples
    return triples.select("s", "p", "o").dropDuplicates().withColumn(
        TID, F.xxhash64("s", "p", "o")
    )


class GraphStore:
    """Pre-partitioned copies of the prepared graph — the in-memory
    analog of bucketed table storage (``bucketBy(s)`` plus a
    ``bucketBy(o)`` copy, VERDICT r1 item 9). An expansion join whose
    shared variable binds this edge's subject (object) scans the
    s-partitioned (o-partitioned) copy, so the graph side arrives
    already hash-distributed on the join key and Spark elides that
    exchange; the surviving partitioning also propagates into the
    embedding, cutting exchanges on later joins keyed on the same
    variable. On a real cluster the same layout is two bucketed
    tables written once at ingest (``BucketedGraphStore`` below);
    ``persist()`` plays that role on local mode.

    Memory policy (VERDICT r3 item 6): copies persist at
    ``storage_level`` — default MEMORY_AND_DISK (was always the
    implicit behavior: partitions that don't fit spill to local disk
    instead of evicting, so a graph larger than executor storage
    degrades to disk reads, never recomputation-from-source).
    ``keep_plain=False`` drops the third, un-partitioned copy and
    serves plain scans (degree aggregations, probes, counts) from the
    s-partitioned copy — same rows, and ``groupBy("s")`` degree scans
    then skip their exchange too. Budget: 2×|G| encoded instead of
    3×|G| (~15.6 B/triple per copy columnar); at 69M triples measured
    1.99 GiB vs 3.02 GiB persisted, identical answers on both query
    classes and faster on both (BENCH/BASELINE.md "GraphStore
    storage").

    The store also memoizes the graph's search statistics (``stats``):
    every SA chain over one store shares them, and ``unpersist``
    releases them with the copies."""

    def __init__(
        self,
        triples: DataFrame,
        storage_level=None,
        keep_plain: bool = True,
    ):
        from pyspark import StorageLevel

        storage_level = storage_level or StorageLevel.MEMORY_AND_DISK
        t = prepare_triples(triples)
        self._init_memo()
        # secondary cluster by p inside each hash partition: the
        # in-memory columnar cache keeps per-batch min/max stats, so a
        # constant-predicate edge scan (`p = c`, the common case —
        # KGraph's per-relation index, KGraph.java:154-190) prunes all
        # batches whose p-range excludes c instead of decompressing the
        # whole copy. sortWithinPartitions is a narrow op: the hash
        # partitioning on the join key survives, so expansion joins
        # still elide the graph-side exchange; the memory-bandwidth cost
        # of a scan drops from |G| to ~|G|/r (VERDICT r2 item 6).
        self.by_s = t.repartition("s").sortWithinPartitions("p", "s").persist(storage_level)
        self.by_o = t.repartition("o").sortWithinPartitions("p", "o").persist(storage_level)
        if keep_plain:
            # if preparation derived a new plan (dedupe + tid), cache
            # it — degree aggregations and probes read .plain repeatedly
            self._own_plain = t is not triples
            if self._own_plain:
                t = t.persist(storage_level)
            self.plain = t
        else:
            self._own_plain = False
            self.plain = self.by_s

    def for_edge(self, edge: tuple[int, int, int], present: set[str]) -> DataFrame:
        """The copy whose partitioning matches the join keys this edge
        will contribute (``present`` = embedding columns bound so far;
        empty for the leading edge, where s-partitioning seeds the
        cascade)."""
        s, _, o = edge
        s_shared = s < 0 and (not present or var_col(s) in present)
        o_shared = o < 0 and (not present or var_col(o) in present)
        if s_shared:
            return self.by_s
        if o_shared:
            return self.by_o
        return self.plain

    @property
    def n_triples(self) -> int:
        """Graph size, counted once (and cached) off the persisted
        plain copy — drives the expansion joins' strategy choice."""
        with self._memo_lock:
            if self._n is None:
                self._n = self.plain.count()
            return self._n

    def _init_memo(self) -> None:
        self._n: int | None = None
        self._stats = None
        # sa_parallel's chains read the memo from concurrent threads
        self._memo_lock = threading.Lock()

    @property
    def stats(self):
        """The graph's search statistics, an ``mdl_ops.GraphDegrees``
        (dims, persisted degree frames, dense degree arrays, null model),
        computed on first use and shared by every search chain over this
        store. The store holds them: ``unpersist`` releases them."""
        from motive_rdf_spark.operators.mdl_ops import GraphDegrees

        with self._memo_lock:
            if self._stats is None:
                self._stats = GraphDegrees(self.plain)
            return self._stats

    def _release_stats(self) -> None:
        with self._memo_lock:
            if self._stats is not None:
                self._stats.unpersist()
                self._stats = None

    def unpersist(self, blocking: bool = False) -> None:
        self._release_stats()
        self.by_s.unpersist(blocking)
        self.by_o.unpersist(blocking)
        if self._own_plain:
            self.plain.unpersist(blocking)


def write_bucketed_graph(
    triples: DataFrame, name: str, buckets: int = 32, path: str | None = None
) -> None:
    """Ingest-time bucketed layout for cluster deployments: the same
    two clusterings GraphStore persists in memory, written once as
    bucketed+sorted tables (``<name>_by_s`` bucketed on s, ``<name>_by_o``
    on o, both sorted by (p, key) for min/max predicate skipping).
    Every later session scans them exchange-free on the bucket key with
    zero load cost — memory holds only what a query touches, so this is
    the path for graphs past executor storage (the 2-3×|G| persist
    budget does not apply). ``path`` makes them external tables rooted
    there instead of the session warehouse."""
    t = prepare_triples(triples)
    for key, sort in (("s", ("p", "s")), ("o", ("p", "o"))):
        w = t.write.bucketBy(buckets, key).sortBy(*sort).mode("overwrite")
        if path is not None:
            w = w.option("path", f"{path}/by_{key}")
        w.saveAsTable(f"{name}_by_{key}")


class BucketedGraphStore(GraphStore):
    """GraphStore served from the bucketed tables ``write_bucketed_graph``
    materialized — the cluster-scale storage mode behind the same
    ``for_edge`` interface. Scans arrive hash-distributed on the join
    key straight from storage (bucketed FileScan reports the
    partitioning, so the expansion join elides the graph-side exchange
    exactly like the persisted copies); only the memoized search
    statistics' degree frames are pinned, and ``unpersist`` releases
    them."""

    def __init__(self, spark, name: str):
        self.by_s = spark.table(f"{name}_by_s")
        self.by_o = spark.table(f"{name}_by_o")
        self.plain = self.by_s
        self._own_plain = False
        self._init_memo()

    def unpersist(self, blocking: bool = False) -> None:  # tables stay
        self._release_stats()


def storage_bytes(spark) -> tuple[int, int]:
    """(memory_bytes, disk_bytes) currently held by persisted RDDs —
    the numbers the UI's Storage tab shows (SparkContext
    getRDDStorageInfo). Used to measure GraphStore's footprint
    (BENCH/BASELINE.md)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    disk = sum(i.diskSize() for i in infos)
    return mem, disk


#: expansion joins hint shuffle_hash only past this graph size. Below
#: it the per-edge scans sit in (or near) the broadcast regime and the
#: un-hinted plan lets AQE pick broadcast from runtime sizes (a
#: strategy hint would suppress that conversion); above it the scans
#: are too big to broadcast but each build map is a bounded slice of a
#: cache-resident copy (~n/shuffle_partitions * 32 B), so the
#: sort-free shuffled-hash join is safe and measures ~23% faster than
#: sort-merge on the 69M-triple matcher workload.
SHJ_HINT_MIN_TRIPLES = 4_000_000


def _edge_scan(triples: DataFrame, edge: tuple[int, int, int], idx: int) -> DataFrame:
    """Filtered scan of the triples table for one pattern edge, projected
    to that edge's variable columns + its triple id.

    Constants become pushed-down filters (the Spark analog of the
    reference's 8-way index dispatch, KGraph.java:154-190).
    """
    s, p, o = edge
    df = triples
    for term, col in ((s, "s"), (p, "p"), (o, "o")):
        if term >= 0:
            df = df.filter(F.col(col) == F.lit(term))
    # repeated variable within one edge (e.g. ?x -[p]-> ?x) => equality
    if s < 0 and s == o:
        df = df.filter(F.col("s") == F.col("o"))
    if p < 0 and (p == s or p == o):
        # node and predicate vars live in distinct id spaces in the
        # reference; a shared negative id across positions cannot occur
        # in a valid pattern (Utils.valid) — guard anyway.
        raise ValueError(f"variable {p} used as both node and predicate")
    sel = []
    seen: set[str] = set()
    for term, col in ((s, "s"), (p, "p"), (o, "o")):
        if term < 0:
            name = var_col(term)
            if name not in seen:
                sel.append(F.col(col).alias(name))
                seen.add(name)
    sel.append(F.col(TID).alias(f"{TID}_{idx}"))
    return df.select(*sel)


def _order_edges(
    pattern: Pattern, triples: DataFrame, probe: bool
) -> list[int]:
    """Join-order heuristic replacing the reference's MRV fail-first
    ordering (Find.java:101-102, variablesRemaining 382-394).

    Greedy left-deep: start from the most selective edge, then always
    pick a connected edge (shares a variable with what's bound) with
    the best selectivity estimate. ``probe=True`` runs one cheap
    ``count()`` per edge (pushed-down scans) for exact base
    selectivities; otherwise constants-count is the proxy.
    """
    edges = list(pattern.edges)
    n = len(edges)
    if probe:
        costs = [
            float(_edge_scan(triples, e, i).count()) for i, e in enumerate(edges)
        ]
    else:
        # fewer variables → more selective; predicate constants help most
        costs = [
            sum((t < 0) * (2.0 if pos != 1 else 1.0) for pos, t in enumerate(e))
            for e in edges
        ]

    def edge_vars(e) -> set[int]:
        return {t for t in e if t < 0}

    remaining = set(range(n))
    order: list[int] = []
    bound: set[int] = set()
    while remaining:
        connected = [i for i in remaining if edge_vars(edges[i]) & bound]
        pool = connected or sorted(remaining)
        best = min(pool, key=lambda i: (costs[i], i))
        order.append(best)
        bound |= edge_vars(edges[best])
        remaining.discard(best)
    return order


def find(
    triples: DataFrame | GraphStore,
    pattern: Pattern,
    probe: bool = False,
    distinct_edges: bool = True,
) -> DataFrame:
    """All matches of ``pattern`` in ``triples`` — the Spark equivalent of
    ``Find.find(pattern, graph)`` (Find.java:40-72).

    ``triples`` may be a ``GraphStore`` (pre-partitioned copies) to
    elide the graph-side shuffle on each expansion join.

    Returns a DataFrame with one column per variable, named ``v1..vk``
    in variable-descending order (v1 = variable -1). For a fully
    grounded pattern, returns a single-column DataFrame ``matched``
    with one row iff all edges exist as pairwise-distinct triples.
    """
    if not pattern.edges:
        raise ValueError("empty pattern")
    store = triples if isinstance(triples, GraphStore) else None
    base = store.plain if store is not None else prepare_triples(triples)

    order = _order_edges(pattern, base, probe)
    node_var_cols = [var_col(v) for v in pattern.node_vars]

    # size-aware join strategy (see SHJ_HINT_MIN_TRIPLES): hint the
    # graph-scan side shuffle_hash on large graphs so the build is the
    # bounded scan slice and the (potentially exploding) embedding
    # side streams — never the other way round
    shj = store is not None and store.n_triples >= SHJ_HINT_MIN_TRIPLES

    emb: DataFrame | None = None
    present: set[str] = set()
    injected: set[frozenset[str]] = set()
    for idx in order:
        edge = pattern.edges[idx]
        src = store.for_edge(edge, present) if store is not None else base
        scan = _edge_scan(src, edge, idx)
        evars = [c for c in scan.columns if not c.startswith(TID)]
        if emb is None:
            emb = scan
        else:
            shared = [c for c in evars if c in present]
            if shared:
                emb = emb.join(scan.hint("shuffle_hash") if shj else scan, on=shared, how="inner")
            else:
                emb = emb.crossJoin(scan)
        present.update(evars)
        # inject node-var injectivity as soon as both columns exist
        for i, a in enumerate(node_var_cols):
            for b in node_var_cols[i + 1 :]:
                key = frozenset((a, b))
                if a in present and b in present and key not in injected:
                    emb = emb.filter(F.col(a) != F.col(b))
                    injected.add(key)

    assert emb is not None
    if distinct_edges and len(pattern.edges) > 1:
        tids = [f"{TID}_{i}" for i in range(len(pattern.edges))]
        for i in range(len(tids)):
            for j in range(i + 1, len(tids)):
                # only edge pairs that can collide on a triple need the
                # filter: same constant predicates or any variable pred
                pi, pj = pattern.edges[i][1], pattern.edges[j][1]
                if pi >= 0 and pj >= 0 and pi != pj:
                    continue
                emb = emb.filter(F.col(tids[i]) != F.col(tids[j]))

    out_cols = [var_col(v) for v in pattern.variables]
    if not out_cols:  # fully grounded pattern
        return emb.limit(1).select(F.lit(True).alias("matched"))
    return emb.select(*out_cols)


def find_count(triples: DataFrame, pattern: Pattern, **kw) -> int:
    """Match count — the support statistic (SimAnnealing.java:156,204)."""
    return find(triples, pattern, **kw).count()


@dataclass
class BudgetedMatches:
    """Result of a wall-clock-budgeted match: ``matches`` is complete
    when ``timed_out`` is False, else a correct subset (every returned
    row is a genuine full match)."""

    matches: DataFrame
    timed_out: bool


def _checkpoint_until(df: DataFrame, deadline: float) -> DataFrame | None:
    """``localCheckpoint(eager=True)`` under a Spark job group that a
    watchdog cancels at ``deadline`` — the enforcement half of the match
    budget (an explosive expansion round must not blow past the
    deadline inside its own materialization job, ADVICE r2). Returns
    the checkpointed DataFrame, or None if the deadline cancelled it.
    """
    import threading
    import uuid

    sc = df.sparkSession.sparkContext
    group = f"find-budgeted-{uuid.uuid4().hex[:12]}"
    result: dict = {}

    def work() -> None:
        # job groups are thread-local; only this round's jobs join it
        sc.setJobGroup(group, "find_budgeted round materialization", True)
        try:
            result["df"] = df.localCheckpoint(eager=True)
        except Exception as e:  # cancellation surfaces as a job failure
            result["err"] = e

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(max(deadline - time.monotonic(), 0.05))
    if t.is_alive():
        sc.cancelJobGroup(group)
        t.join()
        return None
    if "err" in result:
        if time.monotonic() >= deadline:
            return None  # cancelled right at the wire
        raise result["err"]
    return result["df"]


def find_budgeted(
    triples: DataFrame | GraphStore,
    pattern: Pattern,
    timeout_s: float,
    max_matches: int = 200_000,
    probe: bool = False,
    distinct_edges: bool = True,
    soft_frac: float = 0.25,
    cap_multiple: int = 10,
) -> BudgetedMatches:
    """``find`` with the reference's wall-clock match budget
    (Find.java:59-69,116-120): bounded work per pattern, partial
    results allowed, ``timed_out`` reported.

    The no-pressure path is plan-identical to plain ``find``: while
    elapsed time stays under ``soft_frac``·budget the expansion stays
    lazy (one whole-plan Catalyst-optimized job at the end — the
    reference charges only a clock check per step, Find.java:59-69;
    VERDICT r2 item 3). Once a round crosses the soft threshold, each
    further intermediate is capped at ``cap_multiple``·``max_matches``
    rows and materialized under a deadline watchdog
    (``_checkpoint_until``) so the clock is enforced *during* the
    round, not just after it. A cancelled or cap-saturated round flips
    ``timed_out``: from then on every intermediate is truncated to
    ``max_matches``. Joins only constrain embeddings, so everything
    produced from a truncated prefix is still a genuine match — the
    reference's exact contract (correct subset + ``timed_out=True``).
    """
    if not pattern.edges:
        raise ValueError("empty pattern")
    store = triples if isinstance(triples, GraphStore) else None
    base = store.plain if store is not None else prepare_triples(triples)
    start = time.monotonic()
    deadline = start + timeout_s

    order = _order_edges(pattern, base, probe)
    node_var_cols = [var_col(v) for v in pattern.node_vars]

    # same size-aware strategy as find(), keeping the two plan-equal
    shj = store is not None and store.n_triples >= SHJ_HINT_MIN_TRIPLES

    emb: DataFrame | None = None
    present: set[str] = set()
    injected: set[frozenset[str]] = set()
    timed_out = False
    for round_no, idx in enumerate(order):
        edge = pattern.edges[idx]
        src = store.for_edge(edge, present) if store is not None else base
        scan = _edge_scan(src, edge, idx)
        evars = [c for c in scan.columns if not c.startswith(TID)]
        if emb is None:
            emb = scan
        else:
            shared = [c for c in evars if c in present]
            if shared:
                emb = emb.join(scan.hint("shuffle_hash") if shj else scan, on=shared, how="inner")
            else:
                emb = emb.crossJoin(scan)
        present.update(evars)
        for i, a in enumerate(node_var_cols):
            for b in node_var_cols[i + 1 :]:
                key = frozenset((a, b))
                if a in present and b in present and key not in injected:
                    emb = emb.filter(F.col(a) != F.col(b))
                    injected.add(key)
        if round_no < len(order) - 1:
            elapsed = time.monotonic() - start
            if timed_out:
                # budget gone: bounded truncate-then-materialize (cheap)
                emb = emb.limit(max_matches).localCheckpoint(eager=True)
            elif elapsed > soft_frac * timeout_s:
                cap = cap_multiple * max_matches
                ck = _checkpoint_until(emb.limit(cap), deadline)
                if ck is None:
                    # round cancelled at the deadline — fall back to the
                    # lazy capped plan; downstream limits bound the work
                    timed_out = True
                    emb = emb.limit(max_matches)
                else:
                    emb = ck
                    # cap saturation means the intermediate was truncated:
                    # report partiality honestly (the row-budget analog of
                    # the reference's match budget)
                    if ck.count() >= cap or time.monotonic() > deadline:
                        timed_out = True
            # else: no pressure — stay lazy, identical plan to find()

    assert emb is not None
    if distinct_edges and len(pattern.edges) > 1:
        tids = [f"{TID}_{i}" for i in range(len(pattern.edges))]
        for i in range(len(tids)):
            for j in range(i + 1, len(tids)):
                pi, pj = pattern.edges[i][1], pattern.edges[j][1]
                if pi >= 0 and pj >= 0 and pi != pj:
                    continue
                emb = emb.filter(F.col(tids[i]) != F.col(tids[j]))

    out_cols = [var_col(v) for v in pattern.variables]
    if not out_cols:
        out = emb.limit(1).select(F.lit(True).alias("matched"))
    else:
        out = emb.select(*out_cols)
    if timed_out:
        out = out.limit(max_matches)
    elif time.monotonic() > deadline:
        timed_out = True
        out = out.limit(max_matches)
    return BudgetedMatches(matches=out, timed_out=timed_out)

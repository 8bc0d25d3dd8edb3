"""KG-construction pipeline tests (north_star requirements):
extraction goldens on the synthesized source-code table, the sha256
per-row invariant, exact entity linking on the closed vocabulary,
connected-components canonicalization, parallelism-invariance, and
snapshot checkpoint/resume idempotence."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import pytest
from pyspark.sql import Window, functions as F

from motive_rdf_spark.data.generators import candidate_dict, source_code_table
from motive_rdf_spark.pipeline.canonicalize import canonical_entities, connected_components
from motive_rdf_spark.pipeline.encode import dense_ids
from motive_rdf_spark.pipeline.extract import extract_triples, with_sha
from motive_rdf_spark.pipeline.link import link_mentions
from motive_rdf_spark.pipeline.materialize import (
    extend_dict,
    load_dict,
    load_graph,
    run_pipeline,
)

ROWS = 40


def _expected_triples(rows):
    """Closed-form expected extraction from the known content template
    (FIXTURES.md §1) — derived from the template, not from the extractor."""
    exp = set()
    for r in rows:
        file_id = f"{r['repo']}/{r['path']}"
        k = r["k"]
        m = re.search(r"return (f\d+_fn)\(\)", r["content"])
        callee = m.group(1)
        module = re.search(r"import ([\w.]+)", r["content"]).group(1)
        exp.add((file_id, "defines_class", f"C{k}_cls"))
        exp.add((file_id, "defines_function", f"f{k}_fn"))
        exp.add((f"f{k}_fn", "member_of", f"C{k}_cls"))
        exp.add((file_id, "imports", module))
        exp.add((file_id, "in_repo", r["repo"]))
        if callee != f"f{k}_fn":
            exp.add((f"f{k}_fn", "calls", callee))
    return exp


def test_extraction_closed_form(spark):
    src = source_code_table(spark, ROWS)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in extract_triples(src.drop("k")).collect()
    }
    exp = _expected_triples(src.collect())
    assert got == exp


def test_sha256_invariant(spark):
    src = source_code_table(spark, 10)
    for r in with_sha(src).collect():
        assert r["content_sha"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_linking_exact_on_closed_vocab(spark):
    src = source_code_table(spark, ROWS)
    cands = candidate_dict(spark, ROWS)
    mentions = (
        extract_triples(src.drop("k"))
        .filter(F.col("pred") == "calls")
        .select(F.col("obj").alias("mention"))
    )
    links = {r["mention"]: r["entity_id"] for r in link_mentions(mentions, cands).collect()}
    assert links  # hub guarantees f0_fn is mentioned
    for surface, eid in links.items():
        assert surface == f"f{eid}_fn"


def test_linking_fuzzy_tier(spark):
    """Mentions with no exact dictionary hit fall through to the fuzzy
    blocked scorer; near-misses link when score clears the threshold,
    unrelated strings do not."""
    cands = spark.createDataFrame(
        [("f123_fn", 123, 0.5), ("f124_fn", 124, 0.9), ("zzz_other", 9, 0.1)],
        "surface string, entity_id long, prior double",
    )
    mentions = spark.createDataFrame(
        [("f123_fn",),     # exact -> tier 1
         ("f123_fnX",),    # near miss (lcp 7/8 = 0.875) -> fuzzy tier
         ("qqqq",)],       # no block partner -> unlinked
        "mention string",
    )
    from motive_rdf_spark.pipeline.link import link_mentions

    links = {r["mention"]: (r["entity_id"], r["score"])
             for r in link_mentions(mentions, cands, min_score=0.8).collect()}
    assert links["f123_fn"][0] == 123 and links["f123_fn"][1] >= 1.0
    assert links["f123_fnX"][0] == 123 and 0.8 <= links["f123_fnX"][1] < 1.0
    assert "qqqq" not in links


def test_connected_components_chain_star_hub(spark):
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (10, 12), (10, 13)]
    # a hub star: node 1000 connected to 500 nodes (salting path)
    edges += [(1000, 2000 + i) for i in range(500)]
    df = spark.createDataFrame(edges, "src long, dst long")
    cc = {r["node"]: r["component"] for r in connected_components(df).collect()}
    for n in (0, 1, 2, 3):
        assert cc[n] == 0
    for n in (10, 11, 12, 13):
        assert cc[n] == 10
    assert cc[1000] == 1000
    assert all(cc[2000 + i] == 1000 for i in range(500))


def test_cc_parallelism_invariance(spark):
    """Same components at different shuffle widths (the determinism
    property behind the N vs 4N scaling criterion)."""
    edges = spark.range(200).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(80)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(80)).alias("dst"),
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, connected_components(edges).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, connected_components(edges).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_dense_ids_matches_window_rank(spark):
    df = spark.createDataFrame(
        [(w,) for w in "pear apple fig apple date fig cherry".split()], "term string"
    )
    got = {r["term"]: r["id"] for r in dense_ids(df, "term", num_partitions=3).collect()}
    exp_df = df.distinct().withColumn(
        "id", F.row_number().over(Window.orderBy("term")) - 1
    )
    exp = {r["term"]: r["id"] for r in exp_df.collect()}
    assert got == exp


def test_extend_dict_append_only(spark):
    base = dense_ids(
        spark.createDataFrame([("b",), ("a",)], "term string"), "term"
    )
    grown = extend_dict(
        base, spark.createDataFrame([("a",), ("c",), ("0",)], "term string")
    )
    m = {r["term"]: r["id"] for r in grown.collect()}
    assert m["a"] == 0 and m["b"] == 1  # unchanged
    assert sorted((m["0"], m["c"])) == [2, 3]  # new ids above old max


@pytest.fixture()
def pipeline_out(spark, tmp_path):
    src = source_code_table(spark, 60, commits=2).drop("k")
    cands = candidate_dict(spark, 60)
    out = str(tmp_path / "kg")
    reports = run_pipeline(spark, src, cands, out)
    return src, cands, out, reports


def test_pipeline_end_to_end(spark, pipeline_out):
    src, cands, out, reports = pipeline_out
    assert len(reports) == 2 and not any(r.skipped for r in reports)
    g = load_graph(spark, out)
    assert g.count() > 0
    # lineage covers every repo in the source
    lineage = spark.read.parquet(f"{out}/lineage")
    n_repos = src.select("repo").distinct().count()
    assert lineage.select("repo").distinct().count() == n_repos
    # metrics recorded per snapshot per stage
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.select("snapshot").distinct().count() == 2
    # canonicalization happened: same_as is not in the final graph
    pred_dict = load_dict(spark, f"{out}/pred_dict")
    sa = pred_dict.filter(F.col("term") == "same_as").collect()
    if sa:
        assert g.filter(F.col("p") == sa[0]["id"]).count() == 0
    # crash-safety: dictionaries are versioned, at most the last two kept,
    # and each committed version carries a _SUCCESS marker
    vdirs = sorted(p.name for p in (Path(out) / "pred_dict").iterdir() if p.is_dir())
    assert vdirs and all(v.startswith("v") for v in vdirs) and len(vdirs) <= 2
    assert (Path(out) / "pred_dict" / vdirs[-1] / "_SUCCESS").exists()


def test_dict_crash_mid_write_keeps_committed_version(spark, pipeline_out):
    """An incomplete (no _SUCCESS) newer version must be ignored by
    load_dict, so a crash mid-dict-write never loses the committed dict."""
    _, _, out, _ = pipeline_out
    base = Path(out) / "pred_dict"
    committed = {r["term"]: r["id"] for r in load_dict(spark, str(base)).collect()}
    vs = sorted(int(p.name[1:]) for p in base.iterdir() if p.is_dir())
    fake = base / f"v{vs[-1] + 1}"
    fake.mkdir()
    (fake / "part-00000.parquet").write_bytes(b"not parquet")  # torn write
    try:
        after = {r["term"]: r["id"] for r in load_dict(spark, str(base)).collect()}
        assert after == committed
    finally:
        for f in fake.iterdir():
            f.unlink()
        fake.rmdir()


def test_pipeline_resume_idempotent(spark, pipeline_out):
    src, cands, out, _ = pipeline_out
    before = sorted(map(tuple, load_graph(spark, out).collect()))
    reports2 = run_pipeline(spark, src, cands, out)
    assert all(r.skipped for r in reports2)
    after = sorted(map(tuple, load_graph(spark, out).collect()))
    assert before == after
    # force re-run of one snapshot: dynamic overwrite keeps it identical
    snap = sorted(r["commit"] for r in src.select("commit").distinct().collect())[0]
    run_pipeline(spark, src, cands, out, snapshots=[snap], force=True)
    again = sorted(map(tuple, load_graph(spark, out).collect()))
    assert before == again


def test_linking_shuffle_join_equals_broadcast(spark):
    """Past BROADCAST_DICT_MAX_ROWS the dictionary join degrades to a
    spillable shuffle join; both code paths must produce identical
    links on both tiers (exact + fuzzy)."""
    cands = spark.createDataFrame(
        [("f123_fn", 123, 0.5), ("f124_fn", 124, 0.9), ("zzz_other", 9, 0.1)],
        "surface string, entity_id long, prior double",
    )
    mentions = spark.createDataFrame(
        [("f123_fn",), ("f123_fnX",), ("qqqq",)], "mention string"
    )
    rows = lambda bd: sorted(  # noqa: E731
        (r["mention"], r["entity_id"], round(r["score"], 6))
        for r in link_mentions(
            mentions, cands, min_score=0.8, broadcast_dict=bd
        ).collect()
    )
    assert rows(True) == rows(False)


def test_encode_broadcast_equals_shuffle(spark, monkeypatch):
    """The node-dictionary joins in encode/decode broadcast below
    BROADCAST_NODE_DICT_MAX_TERMS and shuffle-join above it; both
    strategies must yield identical encodings, and the broadcast must
    actually reach the physical plan when the dictionary fits."""
    from motive_rdf_spark.pipeline import encode as enc_mod

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c"), ("c", "p", "a"), ("a", "q", "c")],
        "subj string, pred string, obj string",
    )

    def run():
        e, nd, pd_ = enc_mod.encode_triples(triples)
        dec = enc_mod.decode_triples(e.select("s", "p", "o"), nd, pd_)
        return (
            sorted(map(tuple, e.select("s", "p", "o").collect())),
            sorted(map(tuple, dec.collect())),
            e,
        )

    enc_b, dec_b, df_b = run()
    plan_b = df_b._jdf.queryExecution().executedPlan().toString()
    # pred dict broadcasts unconditionally, so presence alone can't
    # detect a node-broadcast regression (ADVICE r3): subj + obj + pred
    # all broadcast => at least 3 BroadcastHashJoins in the fitting case
    assert plan_b.count("BroadcastHashJoin") >= 3

    monkeypatch.setattr(enc_mod, "BROADCAST_NODE_DICT_MAX_TERMS", 0)
    enc_s, dec_s, df_s = run()
    plan_s = df_s._jdf.queryExecution().executedPlan().toString()
    assert plan_s.count("BroadcastHashJoin") < plan_b.count("BroadcastHashJoin")
    assert enc_b == enc_s
    assert dec_b == dec_s
    assert sorted(dec_b) == sorted(map(tuple, triples.collect()))


def test_incremental_motif_supports(spark, tmp_path):
    """motif_supports maintained per snapshot via delta matching must
    equal a from-scratch find_count over the accumulated deduped graph
    after EVERY snapshot, and resume must not double-count."""
    from motive_rdf_spark.operators.bgp import find_count
    from motive_rdf_spark.patterns import Pattern

    src = source_code_table(spark, 80, commits=3).drop("k")
    cands = candidate_dict(spark, 80)
    out = str(tmp_path / "kg_inc")
    # in_repo edges share files as subjects with imports: a vee motif
    motifs = {
        "vee": Pattern([(-1, -4, -2), (-1, -5, -3)]),
        "edge": Pattern([(-1, -4, -2)]),
    }
    snaps = sorted(r["commit"] for r in src.select("commit").distinct().collect())
    reports = run_pipeline(spark, src, cands, out, motifs=motifs)
    assert [r.snapshot for r in reports] == snaps

    sup_tbl = spark.read.parquet(f"{out}/motif_supports")
    for i, snap in enumerate(snaps):
        upto = (
            spark.read.parquet(f"{out}/triples")
            .filter(F.col("snapshot").isin(snaps[: i + 1]))
            .select("s", "p", "o")
            .dropDuplicates()
        )
        for name, pat in motifs.items():
            maintained = (
                sup_tbl.filter(
                    (F.col("snapshot") == snap) & (F.col("motif") == name)
                ).collect()[0]["support"]
            )
            assert maintained == find_count(upto, pat), (snap, name)

    # resume: everything skipped, table unchanged
    before = sorted(map(tuple, sup_tbl.collect()))
    reports2 = run_pipeline(spark, src, cands, out, motifs=motifs)
    assert all(r.skipped for r in reports2)
    after = sorted(map(tuple, spark.read.parquet(f"{out}/motif_supports").collect()))
    assert before == after

    # crash re-run of the LAST snapshot: dynamic overwrite + prior-row
    # derivation keep the support identical (idempotent, no double add)
    run_pipeline(spark, src, cands, out, snapshots=[snaps[-1]], force=True, motifs=motifs)
    again = sorted(map(tuple, spark.read.parquet(f"{out}/motif_supports").collect()))
    assert before == again

    # crash re-run of a MID-HISTORY snapshot (ADVICE r4): the old graph
    # must be snapshot < current, not snapshot != current — otherwise
    # the recomputed delta sees future triples as "old", strips matches
    # involving them, and corrupts that snapshot's support row
    run_pipeline(spark, src, cands, out, snapshots=[snaps[1]], force=True, motifs=motifs)
    mid = sorted(map(tuple, spark.read.parquet(f"{out}/motif_supports").collect()))
    assert before == mid


def test_global_canonical_map_maintenance(spark, tmp_path):
    """canonical_map maintained incrementally per snapshot must equal
    from-scratch CC over the union of all stored same_as edges, and
    load_graph(canonical=True) must equal rewriting through that map."""
    from motive_rdf_spark.pipeline.canonicalize import (
        connected_components,
        rewrite_triples,
    )

    src = source_code_table(spark, 70, commits=3).drop("k")
    cands = candidate_dict(spark, 70)
    out = str(tmp_path / "kg_cmap")
    run_pipeline(spark, src, cands, out)

    sa = spark.read.parquet(f"{out}/same_as_edges")
    cmap = spark.read.parquet(f"{out}/canonical_map")
    snaps = sorted(r["snapshot"] for r in sa.select("snapshot").distinct().collect())
    for i, snap in enumerate(snaps):
        upto = sa.filter(F.col("snapshot").isin(snaps[: i + 1])).select("src", "dst")
        scratch = {
            r["node"]: r["component"] for r in connected_components(upto).collect()
        }
        maintained = {
            r["node"]: r["component"]
            for r in cmap.filter(F.col("snapshot") == snap).collect()
        }
        assert maintained == scratch, snap

    plain = load_graph(spark, out)
    canon = sorted(map(tuple, load_graph(spark, out, canonical=True).collect()))
    final_map = cmap.filter(F.col("snapshot") == snaps[-1]).select("node", "component")
    expected = sorted(
        map(tuple, rewrite_triples(plain, final_map).dropDuplicates().collect())
    )
    assert canon == expected

    # crash re-run of the last snapshot: map unchanged (derived from the
    # PRIOR snapshot's rows, partition dynamic-overwritten)
    before = sorted(map(tuple, cmap.collect()))
    run_pipeline(spark, src, cands, out, snapshots=[snaps[-1]], force=True)
    after = sorted(
        map(tuple, spark.read.parquet(f"{out}/canonical_map").collect())
    )
    assert before == after


def test_dense_ids_single_exchange_plan(spark):
    """Round-5 encode cut: the dictionary build pays exactly ONE
    exchange (the range partition) — dedup runs in-partition because
    range partitioning satisfies its clustering requirement."""
    df = spark.range(5000).select((F.col("id") % 400).cast("string").alias("term"))
    d = df.select("term").repartitionByRange(4, F.col("term")).dropDuplicates(["term"])
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_motif_maintenance_does_not_grow_persisted_rdds(spark, tmp_path, monkeypatch):
    """Each snapshot's motif-support maintenance (find_delta over the
    history) releases everything it persists: over N snapshots the
    persisted RDD count around that step never grows. Local checkpoints
    are released by Spark's ContextCleaner once unreachable, so the
    count is taken after a forced GC."""
    import gc
    import time

    from motive_rdf_spark.patterns import Pattern
    from motive_rdf_spark.pipeline import materialize as M

    jsc = spark.sparkContext._jsc

    def left_since(before: set) -> set:
        for _ in range(20):
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.25)
            extra = set(jsc.getPersistentRDDs().keys()) - before
            if not extra:
                break
        return extra

    left = []
    maintain = M._maintain_motif_supports

    def tracked(*args, **kwargs):
        before = set(jsc.getPersistentRDDs().keys())
        maintain(*args, **kwargs)
        left.append(left_since(before))

    monkeypatch.setattr(M, "_maintain_motif_supports", tracked)
    src = source_code_table(spark, 60, commits=3).drop("k")
    motifs = {"vee": Pattern([(-1, -4, -2), (-1, -5, -3)]), "edge": Pattern([(-1, -4, -2)])}
    run_pipeline(spark, src, candidate_dict(spark, 60), str(tmp_path / "kg"), motifs=motifs)
    assert left == [set()] * 3

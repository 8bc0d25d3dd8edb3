"""Tests of the benchmark's own parts: output checks fire on corrupted
outputs, spans attribute time, and the event-log reader attributes a
tiny real local run's jobs to their job groups.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

import checks
from eventlog import Timeline, attribute, find_log, read_events
from spans import Tracer, patched
from workloads import TRIANGLE

from motive_rdf_spark.data.generators import candidate_dict, planted_graph, source_code_table
from motive_rdf_spark.operators.localgraph import LocalGraph
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.pipeline.materialize import run_pipeline
from motive_rdf_spark.search import SAConfig, SimAnnealing


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("events")


@pytest.fixture(scope="module")
def spark(events_dir):
    from motive_rdf_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions="4",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events_dir}",
            "spark.eventLog.compress": "false",
            "spark.driver.memory": "2g",
        },
    )
    yield s
    s.stop()


MOTIFS = {"vee": Pattern([(-1, -4, -2), (-1, -5, -3)]), "edge": Pattern([(-1, -4, -2)])}


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    src = source_code_table(spark, 60, commits=2, seed=5).drop("k")
    cands = candidate_dict(spark, 60)
    out = str(tmp_path_factory.mktemp("kg") / "out")
    reports = run_pipeline(spark, src, cands, out, motifs=MOTIFS)
    return out, [r.snapshot for r in reports], reports[-1].motif_supports


def _copy(out: str, tmp_path) -> str:
    dst = str(tmp_path / "copy")
    shutil.copytree(out, dst)
    return dst


def _rewrite(spark, path: str, df) -> None:
    rows = df.collect()
    shutil.rmtree(path)
    spark.createDataFrame(rows, df.schema).write.parquet(path)


def test_construction_check_passes(spark, kg):
    out, snaps, supports = kg
    assert checks.check_construction(spark, out, snaps, supports, MOTIFS) == []


def test_construction_check_fires_on_missing_ledger_row(spark, kg, tmp_path):
    out, snaps, supports = kg
    bad = _copy(out, tmp_path)
    ledger = spark.read.parquet(f"{bad}/ledger")
    _rewrite(spark, f"{bad}/ledger", ledger.filter(F.col("snapshot") != snaps[0]))
    errors = checks.check_construction(spark, bad, snaps, supports, MOTIFS)
    assert any("ledger rows" in e for e in errors)


def test_construction_check_fires_on_extra_triple(spark, kg, tmp_path):
    out, snaps, supports = kg
    bad = _copy(out, tmp_path)
    spark.createDataFrame([(10**9, 0, 10**9 + 1)], "s long, p long, o long").write.parquet(
        f"{bad}/triples/snapshot={snaps[-1]}", mode="append"
    )
    errors = checks.check_construction(spark, bad, snaps, supports, MOTIFS)
    assert any("load_graph" in e for e in errors)


def test_construction_check_fires_on_wrong_support(spark, kg, tmp_path):
    out, snaps, supports = kg
    wrong = dict(supports, vee=supports["vee"] + 1)
    errors = checks.check_construction(spark, out, snaps, wrong, MOTIFS)
    assert any("motif vee" in e for e in errors)

    bad = _copy(out, tmp_path)
    table = spark.read.parquet(f"{bad}/motif_supports")
    _rewrite(
        spark,
        f"{bad}/motif_supports",
        table.withColumn("support", F.col("support") + F.lit(1)),
    )
    errors = checks.check_construction(spark, bad, snaps, supports, MOTIFS)
    assert errors == ["motif_supports table disagrees with the last snapshot report"]


def test_search_checks(spark):
    g = planted_graph(spark, n=300, m=900, r=5, pattern_edges=TRIANGLE, k=60, seed=3)
    sa = SimAnnealing(
        LocalGraph.from_df(g), SAConfig(seed=3), init_pattern=Pattern(TRIANGLE)
    )
    for _ in range(20):
        sa.iterate()
    planted = Pattern(TRIANGLE)
    assert checks.check_planted_first(sa.state, planted) == []

    for res in sa.state.results.values():
        res.score = sa.state.null_bits + 1  # nothing beats the null any more
    assert checks.check_planted_first(sa.state, planted)

    assert checks.check_repeatable((40, 1.5), (40, 1.5)) == []
    assert checks.check_repeatable((40, 1.5), (41, 1.5))


def test_spans_charge_self_time():
    tr = Tracer()

    def slow():
        time.sleep(0.02)
        return "built"

    def inner():
        time.sleep(0.01)

    outer = tr.scoped("outer", lambda: (tr.scoped("inner", inner)(), slow()))
    t = time.perf_counter()
    outer()
    total = time.perf_counter() - t
    tr.flush()
    assert tr.layer == "idle"
    assert tr.wall["inner"] >= 0.01 and tr.wall["outer"] >= 0.02
    # self time: the outer span is charged its time minus the inner one's
    assert abs(tr.wall["outer"] + tr.wall["inner"] - total) < 0.005

    tr.sticky("lazy", lambda: None)()
    assert tr.layer == "lazy"  # stays current for the later action

    class Box:
        def f(self):
            return 1

    box = Box()
    with patched([(box, "f", lambda: 2), (Box, "f", lambda self: 3)]):
        assert box.f() == 2 and Box().f() == 3
    assert box.f() == 1 and "f" not in vars(box)


def test_eventlog_fallbacks():
    """A job without a group goes to the layer current at submission; a
    stage a later job reuses keeps its first job's layer."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [0, 1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    costs = attribute(events, Timeline([(0.0, "a"), (2000.0, "b")]))
    assert (costs["a"].jobs, costs["a"].task_s) == (1, 0.5)
    assert (costs["b"].jobs, costs["b"].task_s, costs["b"].job_wall_s) == (1, 0.25, 0.5)


def test_eventlog_attributes_jobs_to_groups(spark, events_dir):
    """Last in this module: stops the shared session to finish the log."""
    sc = spark.sparkContext
    tr = Tracer(sc)
    tr.switch("scan")
    spark.range(1000).filter("id % 3 = 0").collect()  # no exchange
    tr.switch("shuffle")
    spark.range(10000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    tr.switch("threaded")
    # a job from a thread PySpark did not start carries no job group;
    # the timeline places it
    t = threading.Thread(target=lambda: spark.range(100).count())
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    tr.switch("idle")
    spark.stop()

    costs = attribute(read_events(find_log(str(events_dir))), Timeline(tr.switches))
    assert costs["scan"].jobs >= 1 and costs["scan"].shuffle_write_bytes == 0
    assert costs["shuffle"].jobs >= 1 and costs["shuffle"].shuffle_write_bytes > 0
    assert costs["shuffle"].task_s > 0 and costs["shuffle"].job_wall_s > 0
    assert costs["threaded"].jobs >= 1

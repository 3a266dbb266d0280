"""F6: checkpoint/resume + lineage metrics (north-rule additions).

Resume from a mid-run snapshot must equal the uninterrupted run bit-for-bit;
the metrics jsonl doubles as the per-partition lineage record.
"""

import json
import os

import pytest

from graph_data_science_spark.graph import Graph, edges_from_tuples
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.operators.wcc import wcc
from tests.fixtures import F1_EDGES, F1_NODES, LAYOUT_CONF, LAYOUT_N


@pytest.fixture()
def f1_graph(spark):
    e = edges_from_tuples(spark, F1_EDGES)
    n = spark.createDataFrame([(i,) for i in F1_NODES], "node_id long")
    return Graph(nodes=n, edges=e)


def _scores(res):
    return {r["node_id"]: r["score"] for r in res.scores.collect()}


def test_pagerank_resume_equals_uninterrupted(f1_graph, tmp_path):
    full = _scores(pagerank(f1_graph, tolerance=0.0, max_iterations=15))

    ckpt = str(tmp_path / "pr")
    # "killed" run: only 5 supersteps executed, snapshots on disk
    partial = pagerank(f1_graph, tolerance=0.0, max_iterations=5, checkpoint_dir=ckpt)
    assert not partial.converged
    # resume from the latest snapshot and continue to the same cap
    resumed = pagerank(f1_graph, tolerance=0.0, max_iterations=15,
                       checkpoint_dir=ckpt, resume=True)
    # the tiny fixture runs the co-partitioned loop at N = 1
    assert {m["layout_partitions"] for m in resumed.metrics} == {1}
    got = _scores(resumed)
    assert got == full  # bit-for-bit: same floats
    # resumed run executed only the remaining supersteps
    assert resumed.ran_iterations < 15


def test_metrics_lineage_records(f1_graph, tmp_path):
    ckpt = str(tmp_path / "m")
    res = pagerank(f1_graph, tolerance=0.0, max_iterations=4, checkpoint_dir=ckpt)
    path = os.path.join(ckpt, "metrics.jsonl")
    assert os.path.exists(path)
    recs = [json.loads(l) for l in open(path)]
    assert len(recs) == 3  # maxIterations-1 message exchanges
    for r in recs:
        assert {"superstep", "wall_ms", "active", "rows", "num_partitions",
                "partition_rows", "delta_max", "rank_sum"} <= set(r)
        assert sum(r["partition_rows"].values()) == r["rows"] == 11
    # convergence trace is monotone-ish: delta_max decreases overall
    assert recs[-1]["delta_max"] < recs[0]["delta_max"]


def test_wcc_resume(spark, tmp_path):
    # long chain forces many supersteps
    chain = [(i, i + 1) for i in range(30)]
    e = edges_from_tuples(spark, chain)
    n = spark.createDataFrame([(i,) for i in range(31)], "node_id long")
    g = Graph(nodes=n, edges=e)
    full = {r["node_id"]: r["component"] for r in wcc(g).components.collect()}

    ckpt = str(tmp_path / "wcc")
    wcc(g, max_iterations=4, checkpoint_dir=ckpt)
    resumed = wcc(g, checkpoint_dir=ckpt, resume=True)
    assert {m["layout_partitions"] for m in resumed.metrics} == {1}
    got = {r["node_id"]: r["component"] for r in resumed.components.collect()}
    assert got == full
    assert all(v == 0 for v in got.values())


# ---- resume at N > 1 -----------------------------------------------------------
# A resumed snapshot arrives unpartitioned: its first superstep re-exchanges
# the state onto the co-partitioned layout. The tests above run at N = 1;
# under LAYOUT_CONF the same fixtures run at N = LAYOUT_N, and the resumed
# result is still the uninterrupted one, bit for bit.

def test_pagerank_resume_bit_identical_at_n_partitions(f1_graph, spark_conf, tmp_path):
    spark_conf(LAYOUT_CONF)
    whole = pagerank(f1_graph, tolerance=0.0, max_iterations=12)
    ckpt = str(tmp_path / "pr")
    pagerank(f1_graph, tolerance=0.0, max_iterations=4, checkpoint_dir=ckpt)
    resumed = pagerank(f1_graph, tolerance=0.0, max_iterations=12,
                       checkpoint_dir=ckpt, resume=True)
    for res in (whole, resumed):
        assert {m["layout_partitions"] for m in res.metrics} == {LAYOUT_N}
    assert resumed.ran_iterations < 12
    assert _scores(resumed) == _scores(whole)


def test_wcc_resume_bit_identical_at_n_partitions(spark, spark_conf, tmp_path):
    spark_conf(LAYOUT_CONF)
    # two chains and isolated nodes: several components, many supersteps
    chain = [(i, i + 1) for i in range(14)] + [(i, i + 1) for i in range(20, 33)]
    g = Graph(nodes=spark.createDataFrame([(i,) for i in range(40)], "node_id long"),
              edges=edges_from_tuples(spark, chain))
    whole = wcc(g)
    ckpt = str(tmp_path / "wcc")
    wcc(g, max_iterations=5, checkpoint_dir=ckpt)
    resumed = wcc(g, checkpoint_dir=ckpt, resume=True)
    for res in (whole, resumed):
        assert {m["layout_partitions"] for m in res.metrics} == {LAYOUT_N}
    got = {r["node_id"]: r["component"] for r in resumed.components.collect()}
    assert got == {r["node_id"]: r["component"]
                   for r in whole.components.collect()}
    assert set(got.values()) == {0, 20} | set(range(15, 20)) | set(range(34, 40))

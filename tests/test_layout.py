"""Co-partitioned superstep layout (plans/partitioning.py, Pregel doc #4).

PageRank and WCC hash-partition their edge table on ``src`` (sync label
propagation on ``dst``) and the vertex state on ``node_id`` with the same
partition count N, and Pregel's in-memory truncation keeps the state's
partitioner. A steady-state superstep then exchanges only its messages —
one ``Exchange`` in the executed plan for PageRank and WCC, the two tallies
for label propagation — and never the edge table or the state.
"""

import pytest

from graph_data_science_spark.graph import Graph, edges_from_tuples
from graph_data_science_spark.operators.estimate import table_bytes
from graph_data_science_spark.operators.label_propagation import label_propagation
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.partitioning import layout_partitions
from graph_data_science_spark.plans.pregel import Pregel
from tests.fixtures import LAYOUT_CONF, LAYOUT_N as N


@pytest.fixture()
def ring_graph(spark):
    # ring + chords: every node keeps sending, so each superstep has work
    n = 40
    es = [(i, (i + 1) % n) for i in range(n)] + [(i, (i * 7) % n) for i in range(0, n, 3)]
    e = edges_from_tuples(spark, [(a, b) for a, b in es if a != b])
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    return Graph(nodes=nodes, edges=e)


@pytest.fixture()
def executed_plans(monkeypatch):
    """The executed physical plan of every in-memory truncation a Pregel run
    makes: [start-up, superstep 0, superstep 1, ...]."""
    plans = []
    orig = Pregel._mem_truncate

    def spy(self, df):
        out = orig(self, df)
        plans.append(df._jdf.queryExecution().executedPlan())
        return out

    monkeypatch.setattr(Pregel, "_mem_truncate", spy)
    return plans


def _nodes(plan):
    out = [plan]
    children = plan.children()
    for i in range(children.length()):
        out += _nodes(children.apply(i))
    return out


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _assert_exchanges(plan, keys):
    """The plan's exchanges are exactly ``keys`` (each the hash key names of
    one N-partition shuffle), and the edge table is read from its cache."""
    nodes = _nodes(plan)
    exchanges = [x for x in nodes if "Exchange" in _name(x)]
    assert all(_name(x) == "ShuffleExchangeExec" for x in exchanges), plan.toString()
    assert all(x.outputPartitioning().numPartitions() == N for x in exchanges), \
        plan.toString()
    got = []
    for x in exchanges:
        exprs = x.outputPartitioning().expressions()
        got.append(tuple(exprs.apply(i).name() for i in range(exprs.length())))
    assert sorted(got) == sorted(keys), plan.toString()
    # the edge table is scanned from its cached layout, not re-exchanged
    assert any(_name(x) == "InMemoryTableScanExec" for x in nodes), plan.toString()


def _assert_messages_only(plan):
    _assert_exchanges(plan, [("dst",)])


def test_pagerank_superstep_exchanges_only_messages(spark_conf, ring_graph,
                                                  executed_plans):
    spark_conf(LAYOUT_CONF)
    res = pagerank(ring_graph, tolerance=0.0, max_iterations=5)
    assert res.ran_iterations == 5
    steady = executed_plans[2:]  # supersteps >= 1 after the start-up job
    assert len(steady) >= 2
    for plan in steady:
        _assert_messages_only(plan)
    assert {m["layout_partitions"] for m in res.metrics} == {N}
    assert all(m["aqe_off"] for m in res.metrics)


def test_wcc_superstep_exchanges_only_messages(spark, spark_conf, executed_plans):
    chain = [(i, i + 1) for i in range(12)]
    g = Graph(nodes=spark.createDataFrame([(i,) for i in range(13)], "node_id long"),
              edges=edges_from_tuples(spark, chain))
    spark_conf(LAYOUT_CONF)
    res = wcc(g)
    assert {r["component"] for r in res.components.collect()} == {0}
    steady = executed_plans[2:]
    assert len(steady) >= 2
    for plan in steady:
        _assert_messages_only(plan)
    assert {m["layout_partitions"] for m in res.metrics} == {N}


def test_layout_loop_above_gate_starts_on_scratch(ring_graph, spark_conf,
                                                  executed_plans, monkeypatch):
    # at or above the state-row gate the loop truncates on parquet; the
    # in-memory start-up state moves to scratch before the first block
    from graph_data_science_spark.plans import pregel

    def scores(res):
        return {r["node_id"]: r["score"] for r in res.scores.collect()}

    spark_conf(LAYOUT_CONF)
    want = scores(pagerank(ring_graph, tolerance=0.0, max_iterations=5))
    executed_plans.clear()
    monkeypatch.setattr(pregel, "_AQE_OFF_MIN_ROWS", 1)
    scratch = []
    orig = Pregel._scratch_truncate

    def spy(self, df, superstep):
        scratch.append(superstep)
        return orig(self, df, superstep)

    monkeypatch.setattr(Pregel, "_scratch_truncate", spy)
    res = pagerank(ring_graph, tolerance=0.0, max_iterations=5)
    assert len(executed_plans) == 1  # the start-up truncation only
    assert scratch[0] == -1 and len(scratch) > 1
    assert max(m["fused"] for m in res.metrics) > 1
    assert scores(res) == pytest.approx(want, rel=1e-12)


def test_label_propagation_sync_exchanges_only_tallies(spark, ring_graph,
                                                      spark_conf, executed_plans):
    # the same call on the default session runs at N = 1: labels must not
    # depend on the layout
    ref = label_propagation(ring_graph, mode="sync", max_iterations=6)
    assert {m["layout_partitions"] for m in ref.metrics} == {1}
    want = {r["node_id"]: r["label"] for r in ref.labels.collect()}
    executed_plans.clear()
    spark_conf(LAYOUT_CONF)
    res = label_propagation(ring_graph, mode="sync", max_iterations=6)
    assert {r["node_id"]: r["label"] for r in res.labels.collect()} == want
    assert res.ran_iterations == ref.ran_iterations
    assert {m["layout_partitions"] for m in res.metrics} == {N}
    steady = executed_plans[2:]
    assert len(steady) >= 2
    for plan in steady:
        # edges on dst join the voters in place; the per-(node, label) and
        # per-node tallies are the superstep's only shuffles, and the winner
        # lands on the state's partitioning
        _assert_exchanges(plan, [("_v", "_vote"), ("_v",)])


def test_layout_n_rule(spark, spark_conf):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame([], "src long, dst long").schema
    assert layout_partitions(spark, table_bytes(30, edges)) == 1
    # 10M (src, dst) rows: ~190 MB of edge table
    assert layout_partitions(spark, table_bytes(10_000_000, edges)) == cap
    spark_conf({"spark.sql.shuffle.partitions": "64"})
    # 1 MiB minPartitionSize: just over 2 MiB of edges -> 3 partitions
    assert layout_partitions(spark, (2 << 20) + 1) == 3
    assert layout_partitions(spark, table_bytes(10_000_000, edges)) == 64

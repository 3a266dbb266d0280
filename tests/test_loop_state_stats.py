"""Regression: chained in-memory checkpoints must not compound plan stats.

Since SPARK-34899 a (local)checkpoint's LogicalRDD carries the origin
plan's statistics forward, so an iterative loop's join-size estimates
compound exponentially across truncations — a nested loop (Borůvka outer
rounds × min-label inner rounds, operators/spanning.py) overflowed
BigInteger's 2^31-bit cap ("BigInteger would overflow supported range")
and spent planning time on multi-million-bit BigInt arithmetic well before
that. strip_origin_stats (plans/loop_state.py) re-wraps the checkpointed
RDD without the origin stats; these tests pin the invariant for all three
truncation mechanisms (LoopState, louvain._Scratch memory mode, Pregel
memory mode). The strip keeps the checkpoint's output partitioning, which
the co-partitioned superstep loop depends on (docs/SCALE_NOTES.md §35).
"""

from pyspark.sql import functions as F

from graph_data_science_spark.plans.loop_state import LoopState, strip_origin_stats
from graph_data_science_spark.plans.pregel import no_aqe


def _stats_bits(df) -> int:
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()


def _self_join_step(df):
    a = df.select(F.col("node_id").alias("comp"), F.col("comp").alias("_pl"))
    return (
        df.join(a, "comp", "left")
        .select(
            "node_id",
            F.least("comp", F.coalesce("_pl", F.col("comp"))).alias("comp"),
        )
    )


def test_strip_origin_stats_resets_estimate(spark):
    df = spark.range(100).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"))
    ck = _self_join_step(df).localCheckpoint(eager=True)
    stripped = strip_origin_stats(ck)
    assert _stats_bits(stripped) <= 64
    # same data either way
    assert stripped.count() == 100
    assert stripped.schema == ck.schema


def _size(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _partitioning(df) -> str:
    return df._jdf.queryExecution().executedPlan().outputPartitioning().toString()


def test_strip_origin_stats_keeps_partitioner(spark):
    n = 3
    df = spark.range(100).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"))
    with no_aqe(spark, n):
        ck = _self_join_step(df).repartition(n, "node_id").localCheckpoint(
            eager=True)
    assert _partitioning(ck).startswith("hashpartitioning(node_id#")
    stripped = strip_origin_stats(ck)
    # the partitioner survives the strip ...
    assert _partitioning(stripped) == _partitioning(ck)
    assert _partitioning(stripped).endswith(f", {n})")
    # ... and the carried origin estimate is still replaced by the
    # default (Long.MaxValue) a statistics-free LogicalRDD reports
    assert _size(stripped) == 2**63 - 1 != _size(ck)
    assert sorted(stripped.collect()) == sorted(ck.collect())


def test_loop_state_truncate_keeps_stats_flat(spark):
    df = spark.range(200).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"))
    loop = LoopState()
    state = loop.truncate(df)
    # 40 chained self-join truncations: with carried origin stats the
    # estimate doubles its bit length per round (2^63 -> overflow at ~25)
    for _ in range(40):
        state = loop.truncate(_self_join_step(state))
        assert _stats_bits(state) <= 64
    assert state.count() == 200
    loop.detach(state)


def test_scratch_memory_mode_keeps_stats_flat(spark):
    from graph_data_science_spark.operators.louvain import _Scratch

    scratch = _Scratch(spark, mode="memory")
    try:
        df = spark.range(150).select(
            F.col("id").alias("node_id"), F.col("id").alias("comp"))
        state = scratch.truncate(df, "comp")
        for _ in range(40):
            state = scratch.truncate(_self_join_step(state), "comp")
            assert _stats_bits(state) <= 64
        assert state.count() == 150
    finally:
        scratch.cleanup()


def test_pregel_memory_mode_keeps_stats_flat(spark):
    from graph_data_science_spark.plans.pregel import Pregel

    df = spark.range(120).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"),
        F.lit(1).alias("_active"))

    def step(state, i):
        a = state.select(
            F.col("node_id").alias("comp"), F.col("comp").alias("_pl"))
        return (
            state.drop("_active")
            .join(a, "comp", "left")
            .select(
                "node_id",
                F.least("comp", F.coalesce("_pl", F.col("comp"))).alias("comp"),
                F.lit(1).alias("_active") if i < 29 else F.lit(0).alias("_active"),
            )
        )

    res = Pregel(spark, max_iterations=30, truncation="memory", fuse=1).run(df, step)
    assert res.state.count() == 120
    assert _stats_bits(res.state) <= 64


def test_pregel_layout_truncation_keeps_partitioner(spark):
    from graph_data_science_spark.plans.pregel import Pregel

    n = 3
    df = spark.range(120).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"),
        F.lit(1).alias("_active")).repartition(n, "node_id")

    def step(state, i):
        # messages keyed by node_id, joined back onto the state's node_id:
        # the state side keeps its partitioner
        msgs = state.groupBy(F.col("comp").alias("_to")).agg(
            F.min("node_id").alias("_m"))
        return state.join(msgs, state.node_id == msgs._to, "left").select(
            state.node_id,
            F.least("comp", F.coalesce("_m", F.col("comp"))).alias("comp"),
            F.lit(int(i < 9)).alias("_active"))

    res = Pregel(spark, max_iterations=10, fuse=1).run(df, step)
    assert res.ran_iterations == 10
    assert _partitioning(res.state).startswith("hashpartitioning(node_id#")
    assert _partitioning(res.state).endswith(f", {n})")
    assert _stats_bits(res.state) <= 64
    assert {m["layout_partitions"] for m in res.metrics} == {n}

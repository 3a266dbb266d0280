"""In-memory loop-state truncation for ad-hoc iterative operators.

The Pregel driver (plans/pregel.py) truncates each superstep's vertex state
with an eager SERIALIZED ``localCheckpoint`` and unpersists the PREVIOUS
superstep's checkpoint RDD once the new state is materialized — without the
unpersist, chained localCheckpoints pin every iteration's state in storage
memory forever (the measured 0.5 → 7.4 s/superstep degradation; pregel.py
module doc #1, docs/SCALE_NOTES.md §2). Several operators run small ad-hoc
loops outside the Pregel driver (k-core peeling, RWR/CNARW frontier
sampling, random-forest level descent); this module gives them the same
discipline without pulling in the full driver.

Usage::

    loop = LoopState()
    state = loop.truncate(initial_state)
    for ...:
        state = loop.truncate(new_state)   # old checkpoint retired here
    return loop.detach(state)              # final state stays; bookkeeping ends

``detach`` (or plain ``truncate`` of the terminal state) leaves exactly one
checkpoint resident — the returned DataFrame's — matching the single
terminal ``localCheckpoint`` the non-loop operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def strip_origin_stats(df: DataFrame) -> DataFrame:
    """Re-wrap a checkpointed DataFrame's ``LogicalRDD`` WITHOUT the origin
    plan's statistics, keeping its output partitioning.

    Since SPARK-34899 a (local)checkpoint's ``LogicalRDD`` carries the
    ORIGIN plan's computed statistics forward. In an iterative loop the
    next iteration's join-size estimate is then a product over the previous
    iteration's (already estimated) sizes, so the carried ``sizeInBytes``
    compounds EXPONENTIALLY across supersteps — measured: 7,901 decimal
    digits after 10 chained 1-join supersteps; a nested loop (Borůvka's
    outer rounds × inner min-label rounds, operators/spanning.py) overflows
    BigInteger's 2^31-bit cap (``ArithmeticException: BigInteger would
    overflow supported range``) and, well before that, Catalyst spends its
    planning time on multi-million-bit BigInt arithmetic. The parquet
    scratch path never sees this (a fresh scan gets honest file-size
    stats); in-memory truncation must therefore drop the origin stats —
    the copied ``LogicalRDD`` falls back to ``defaultSizeInBytes``, which
    is what a pre-3.2 checkpoint reported.

    The copy keeps everything else of the checkpoint's ``LogicalRDD``: the
    same persisted checkpoint RDD (so storage/unpersist bookkeeping against
    it is unaffected) and its ``outputPartitioning``. A state checkpointed
    while hash-partitioned on ``node_id`` therefore stays co-partitioned
    with the loop's edge layout, and the next superstep's joins against it
    need no exchange (docs/SCALE_NOTES.md §35). Rebuilding from ``toRdd``
    through ``internalCreateDataFrame`` would lose that partitioner."""
    spark = df.sparkSession
    try:
        jvm, jspark = spark._jvm, spark._jsparkSession
        rel = df._jdf.queryExecution().analyzed()
        none = jvm.scala.Option.empty()
        rel = rel.copy(rel.output(), rel.rdd(), rel.outputPartitioning(),
                       rel.outputOrdering(), rel.isStreaming(), rel.stream(),
                       jspark, none, none)
        return DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(jspark, rel), spark)
    except Exception:  # pragma: no cover - private-API shape changed
        return df


class LoopState:
    """Eager serialized localCheckpoint + retire-previous for loop state.

    At most TWO iteration states are ever resident (the new one and, briefly,
    the one being retired) — the same bound as the two-slot parquet scratch,
    held in RAM (MEMORY_AND_DISK spills under pressure, so the bound is
    cluster-safe). Serialized storage keeps the blocks as compact Tungsten
    bytes the GC scans in O(#blocks), not O(#rows) (pregel.py:_mem_truncate).
    """

    def __init__(self) -> None:
        self._prev_rdd = None

    def truncate(self, df: DataFrame) -> DataFrame:
        new_df = df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        rdd = None
        try:
            rdd = new_df._jdf.queryExecution().analyzed().rdd()
        except Exception:  # pragma: no cover - plan shape changed
            pass
        new_df = strip_origin_stats(new_df)
        if self._prev_rdd is not None:
            try:
                self._prev_rdd.unpersist(False)
            except Exception:  # pragma: no cover
                pass
        self._prev_rdd = rdd
        return new_df

    def detach(self, df: DataFrame) -> DataFrame:
        """Stop tracking: the final state's checkpoint stays resident for the
        caller; earlier iterations are already retired."""
        self._prev_rdd = None
        return df

    def release(self) -> None:
        """Unpersist the final iteration's blocks too — for loops whose
        result is a driver-side value (e.g. a trained model), where no
        DataFrame escapes the loop."""
        if self._prev_rdd is not None:
            try:
                self._prev_rdd.unpersist(False)
            except Exception:  # pragma: no cover
                pass
            self._prev_rdd = None

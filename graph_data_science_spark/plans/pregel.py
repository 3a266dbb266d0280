"""Superstep driver: the engine's Pregel analog.

Reference analog: pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:172-210
(iterate: init messenger → run partitioned compute → masterCompute →
converged?). There, a superstep is a fork/join over shared arrays; here, a
superstep is one Spark job over a vertex-state DataFrame, and the barrier is
the action that materializes the new state.

Spark-specific disciplines the reference doesn't need (SURVEY §4):

1. **Lineage control.** An iterative DataFrame loop grows the logical plan
   every step, and Catalyst re-analysis cost explodes super-linearly in plan
   depth (measured locally: a 3-join superstep chained 6 deep takes 32s to
   *plan*). Persisting alone does NOT truncate the logical plan. Round 1
   truncated with ``localCheckpoint``; round 2 measured chained
   localCheckpoints degrading 0.5 → 7.4 s/superstep and switched every loop
   to a parquet-snapshot round-trip. Round 3 root-caused the localCheckpoint
   degradation: each eager checkpoint leaves its MEMORY_AND_DISK RDD
   persisted FOREVER (nothing unpersists it), so a 20-superstep loop pins 20
   copies of the vertex state — the "hidden planning state" was storage/GC
   pressure, not Catalyst. ``truncation="memory"`` therefore
   localCheckpoints each superstep AND unpersists the previous superstep's
   checkpoint RDD once the new state is materialized: flat plans, no disk
   I/O, at most two superstep states resident (the same bound as the
   two-slot parquet scratch, in RAM instead of disk; MEMORY_AND_DISK spills
   under pressure, so the bound is cluster-safe). ``truncation="parquet"``
   keeps the round-2 scratch-dir behavior for comparison/debugging.

2. **Checkpoint / resume** (north-rule requirement; the reference has no
   mid-run checkpointing — nearest analog is its progress/task system,
   progress-tracking/.../TaskProgressTracker.java). With ``checkpoint_dir``
   set, every ``snapshot_interval`` supersteps the vertex state is written to
   ``{dir}/state/superstep=NNNNN/`` (atomic via Spark's _SUCCESS marker) and a
   metrics record — superstep, wall_ms, active count, rows, partition count,
   per-partition row counts (the lineage record), plus algorithm-supplied
   aggregates like delta_max — is appended to ``{dir}/metrics.jsonl``.
   Round 3: the snapshot write is ASYNCHRONOUS — the state is materialized
   in memory first (the critical path), then a background thread writes the
   parquet snapshot while the next superstep computes. The previous
   superstep's in-memory state is unpersisted only after its writer thread
   completes (the write reads from it), and at most one writer is in flight.
   Durability is unchanged: resume still reads the latest _SUCCESS-marked
   snapshot; a crash mid-write just resumes one snapshot earlier.
   :func:`Pregel.resume_state` finds the latest complete snapshot so a killed
   run restarts mid-iteration with identical results.

3. **Convergence = vote-to-halt.** Algorithms mark per-vertex activity in an
   ``_active`` column (int); the driver folds ``sum(_active)`` into the same
   action that materializes the state (no extra job) and stops at 0 — the
   analog of HugeAtomicBitSet vote bits + "no messages sent"
   (pregel/.../PartitionedComputer.java:87-92). The loop's start-up
   truncation carries the same Observation (one in-memory job for a
   layout-carrying loop, a parquet scratch write otherwise), and the size
   gate reads its row count; a layout-carrying loop that the gate puts on
   parquet truncation moves its start state to scratch too.

4. **Co-partitioned layout.** An initial state ending in
   ``repartition(N, "node_id")`` (the operator persisted its edge table
   through ``plans/partitioning.repartition_edges`` with the same N) makes
   the loop *layout-carrying*: every materializing action runs with AQE
   off and ``spark.sql.shuffle.partitions = N``, and the in-memory
   truncation keeps the state's partitioner, so a steady-state superstep
   exchanges only its combined messages (docs/SCALE_NOTES.md §35). Each
   metrics row records ``layout_partitions`` (N or None) and ``aqe_off``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from graph_data_science_spark.plans.partitioning import hash_layout

ACTIVE_COL = "_active"

# vertex-state rows above which fused block writes disable AQE (see
# Pregel._aqe_ctx and docs/SCALE_NOTES.md §11); below it AQE partition
# coalescing wins at local scale
_AQE_OFF_MIN_ROWS = int(os.environ.get("SPARK_GRAFT_AQE_OFF_MIN_ROWS", "1000000"))


from contextlib import contextmanager


@contextmanager
def no_aqe(spark: SparkSession, shuffle_partitions: int | None = None):
    """Disable adaptive query execution for the queries run inside — and,
    with ``shuffle_partitions``, pin the exchange count to a co-partitioned
    loop's N (module doc #4).

    Fused superstep blocks reference each sub-step's output 2-5× (join side
    + message branch). The static ``ReuseExchange`` rule dedupes those
    references perfectly — measured per-superstep cost *falls* with block
    depth (4.9 s → 0.83 s at depth 5 on a 2M-edge WCC step). Under AQE,
    runtime query-stage reuse stops matching beyond depth ~2 and the chain
    re-executes its prefix per reference: depth 6 measured ~5× the work
    (docs/SCALE_NOTES.md §11). AQE's wins (skew join, partition coalescing)
    matter for the one-shot relational operators, not for the fixed-layout
    superstep loop, so the loop's materializing queries run with AQE off
    and the session default stays on for everything else.

    The flags are read per query execution, so toggling around the single
    materializing action is safe; restored in a ``finally``."""
    conf = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


class _SnapshotWriter:
    """Background parquet snapshot of a materialized (in-memory) state.

    Runs the write off the superstep critical path; the caller joins it
    before unpersisting the state it reads. Exceptions surface at join."""

    def __init__(self, df: DataFrame, path: str, fmt=None):
        self._df = df
        self._path = path
        self._fmt = fmt
        self._exc: BaseException | None = None
        import threading
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        try:
            if self._fmt is not None:
                self._fmt.write(self._df, self._path)
            else:
                self._df.write.mode("overwrite").parquet(self._path)
        except BaseException as e:  # pragma: no cover - surfaced at join
            self._exc = e

    def start(self) -> None:
        self._thread.start()

    def join(self) -> None:
        self._thread.join()
        if self._exc is not None:
            raise self._exc


@dataclass
class PregelResult:
    state: DataFrame
    ran_iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


class Pregel:
    def __init__(
        self,
        spark: SparkSession,
        max_iterations: int = 20,
        checkpoint_dir: str | None = None,
        snapshot_interval: int = 1,
        extra_metrics: dict[str, Column] | None = None,
        track_partition_rows: bool | None = None,
        manifest: dict | None = None,
        truncation: str | None = None,
        fuse: int | None = None,
        table_format=None,
        metadata_dir: str | None = None,
    ):
        self.spark = spark
        self.max_iterations = max_iterations
        # Run metadata (manifest.json, metrics.jsonl) is DRIVER-LOCAL
        # filesystem by design — tiny json, written outside Spark. With the
        # default path-based format it lives inside checkpoint_dir; a
        # deployment whose checkpoint_dir is a catalog identifier (Iceberg)
        # passes metadata_dir to give the metadata a real directory.
        self.metadata_dir = metadata_dir if metadata_dir is not None \
            else checkpoint_dir
        # Durable-snapshot format seam (sources/table_format.py): parquet
        # here (the sandbox default); a real deployment passes
        # IcebergFormat so every checkpoint snapshot is an Iceberg table
        # commit with a recorded snapshot id — the north rule's
        # "vertex-state Iceberg snapshots with per-partition lineage".
        # Only DURABLE snapshots route through the seam; the per-superstep
        # scratch truncation is engine-internal perf machinery and stays
        # on raw parquet regardless of format.
        if table_format is None:
            from graph_data_science_spark.sources.table_format import (
                DEFAULT_FORMAT)
            table_format = DEFAULT_FORMAT
        self.table_format = table_format
        # Superstep FUSION (module doc #4): run `fuse` supersteps as ONE lazy
        # Catalyst plan and materialize/truncate only at block ends. The
        # per-superstep job barrier + scratch round-trip is the engine's
        # non-scaling cost component (it is the same wall-clock at every
        # parallelism level), so dividing it by `fuse` is what moves the
        # two-cluster-size efficiency, not just the absolute time.
        # Semantics: convergence is checked on block-final state, so a
        # tolerance-converging run may execute up to fuse-1 supersteps past
        # first convergence — identical results for fixpoint-stable step
        # functions (all shipped vote-to-halt algorithms: an empty frontier
        # makes step_fn the identity). Algorithms that STEER the next
        # superstep off the previous superstep's aggregates
        # (driver.metrics_so_far — A*, NN-descent) must pass fuse=1.
        # Blocks never cross max_iterations or a snapshot boundary, so
        # fixed-iteration runs execute exactly max_iterations supersteps and
        # checkpoint cadence/resume points are unchanged.
        # fuse is SIZE-gated like the AQE toggle (run(): _fuse_eff): fusion
        # amortizes the per-block job barrier, which pays only when state is
        # large enough that the barrier is small relative to a superstep's
        # work; below the gate a fused chain costs replay amplification
        # (AQE stays on there, and AQE defeats ReuseExchange dedup of the
        # chained exchanges) plus up to fuse-1 overshoot supersteps past
        # convergence — measured at sf0.1: wcc 4→6 supersteps, lpa 2×.
        # An explicit fuse argument or SPARK_GRAFT_FUSE env bypasses the
        # gate (the sweep/probe scripts set it deliberately).
        if fuse is None:
            env = os.environ.get("SPARK_GRAFT_FUSE")
            self._fuse_explicit = env is not None
            fuse = int(env) if env is not None else 3
        else:
            self._fuse_explicit = True
        self.fuse = max(1, int(fuse))
        self.checkpoint_dir = checkpoint_dir
        self.snapshot_interval = max(1, snapshot_interval)
        self.extra_metrics = extra_metrics or {}
        #: run identity (algorithm name + config) written into checkpoint_dir;
        #: resume validates it so a dir from a different algorithm/config is
        #: rejected instead of silently resuming incompatible state
        self.manifest = manifest or {}
        # "parquet": scratch-dir round-trip — the columnar,
        # vectorized-rescan truncation. MEASURED at the north-rule scale
        # (57M edges, local[2], 6-superstep pagerank): parquet 342 s;
        # localCheckpoint with the deserialized default storage >2× slower
        # (suite timed out at 90 min); localCheckpoint with SERIALIZED
        # storage 711 s — still 2× slower, because a row-wise checkpoint
        # cache deserializes per row on rescan while the parquet scan is a
        # vectorized columnar batch read inside whole-stage codegen.
        # "memory": eager localCheckpoint + retire-previous — zero disk
        # I/O, wins BELOW the size gate where the ~0.3 s/superstep write
        # floor dominates (measured at sf0.1: pagerank ~2× faster).
        # "auto" (default): the initial truncate observes the row count on
        # the way — in memory for a layout-carrying loop (module doc #4), on
        # parquet scratch otherwise, and on scratch whenever the loop itself
        # will truncate on parquet — then the loop picks memory below
        # _AQE_OFF_MIN_ROWS state rows and parquet at or above it — the
        # same gate that drives AQE/fusion, for the same reason: small
        # state is floor-bound, large state is scan-bound.
        # SPARK_GRAFT_TRUNCATION pins an explicit mode (the scale/probe
        # scripts and the A/B harness set it deliberately).
        if truncation is None:
            truncation = os.environ.get("SPARK_GRAFT_TRUNCATION", "auto")
        if truncation not in ("memory", "parquet", "auto"):
            raise ValueError(f"unknown truncation {truncation!r}")
        self.truncation = truncation
        self._tmp_dir: str | None = None
        self._slot = 0  # next scratch slot; alternates per truncation call
        self._prev_ckpt_rdd = None  # JVM RDD handle of the previous superstep
        self._layout: int | None = None  # N of a co-partitioned loop (doc #4)
        # AQE off (the scale-safe side) until the start-up job has measured
        # the state row count; see _aqe_ctx
        self._aqe_off = True
        self._writer = None  # in-flight async snapshot writer thread
        # per-partition lineage rows cost one extra tiny job per snapshot;
        # default on only when checkpointing is on
        self.track_partition_rows = (
            checkpoint_dir is not None if track_partition_rows is None else track_partition_rows
        )

    def _scratch_truncate(self, df: DataFrame, superstep: int) -> DataFrame:
        """Plan truncation via parquet round-trip into a temp scratch dir,
        alternating two slots so only the last two materializations occupy
        disk. Slots alternate by CALL, not by superstep parity: with fused
        blocks (clipped at max_iterations / snapshot boundaries) consecutive
        block-end supersteps can share parity, and superstep-parity slots
        would then overwrite the very files the in-flight job is reading.
        (truncation="parquet" path; see module doc #1.)"""
        import tempfile
        if self._tmp_dir is None:
            self._tmp_dir = tempfile.mkdtemp(prefix="gds_pregel_")
        path = os.path.join(self._tmp_dir, f"slot{self._slot}")
        self._slot ^= 1
        with self._aqe_ctx():
            df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _aqe_ctx(self):
        """AQE toggle for the block-materializing action. A layout-carrying
        loop (module doc #4) always runs with AQE off and N shuffle
        partitions: under AQE the checkpoint loses the state's partitioner
        and every superstep re-exchanges the state. Otherwise SIZE-gated
        (docs/SCALE_NOTES.md §11): fused chains over large state need AQE
        off so static ReuseExchange dedups the repeated sub-plan references
        (measured 2-3× at 2M+ nodes), but below ~1M state rows AQE's
        partition coalescing wins outright — at sf0.1 every 32-task stage
        is scheduling floor, and re-executed prefixes over 600k edges are
        cheap. Defaults to OFF (the scale-safe side) until the start-up job
        of the run measures the state row count."""
        from contextlib import nullcontext
        if self._layout is not None:
            return no_aqe(self.spark, self._layout)
        if self._aqe_off:
            return no_aqe(self.spark)
        return nullcontext()

    def _mem_truncate(self, df: DataFrame) -> DataFrame:
        """Plan truncation via eager localCheckpoint: materializes the state
        (running any attached Observation), yields a flat LogicalRDD plan with
        zero disk I/O. The PREVIOUS superstep's checkpoint RDD is unpersisted
        by :meth:`_retire_prev` once the new state (and any snapshot write
        reading from the old one) is done — without that unpersist, chained
        localCheckpoints pin every superstep's state in storage memory (the
        measured round-2 0.5→7.4 s/superstep degradation; module doc #1).

        Storage level is SERIALIZED memory-and-disk, not Spark's
        deserialized localCheckpoint default: a multi-million-row vertex
        state held as deserialized JVM row objects churns the old
        generation every superstep (measured: the deserialized default
        more than doubled the local[2] 57M-edge suite vs the round-2
        parquet scratch); serialized blocks are compact Tungsten bytes the
        GC scans in O(#blocks), not O(#rows).

        The checkpoint's carried-forward origin statistics are STRIPPED
        (plans/loop_state.py:strip_origin_stats): chained checkpoints
        compound join-size estimates exponentially across supersteps,
        overflowing BigInteger in nested loops and slowing planning long
        before that."""
        from pyspark.storagelevel import StorageLevel

        from graph_data_science_spark.plans.loop_state import strip_origin_stats
        with self._aqe_ctx():
            new_df = df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        analyzed = new_df._jdf.queryExecution().analyzed()
        try:
            rdd = analyzed.rdd()  # LogicalRDD's underlying checkpointed RDD
        except Exception:  # pragma: no cover - plan shape changed
            rdd = None
        return strip_origin_stats(new_df), rdd

    def _retire_prev(self, new_rdd) -> None:
        """Unpersist the previous superstep's checkpoint RDD and remember the
        new one. Called only when nothing references the old state anymore."""
        if self._prev_ckpt_rdd is not None:
            try:
                self._prev_ckpt_rdd.unpersist(False)
            except Exception:  # pragma: no cover
                pass
        self._prev_ckpt_rdd = new_rdd

    def _join_writer(self) -> None:
        if self._writer is not None:
            self._writer.join()
            self._writer = None

    def _cleanup_scratch(self) -> None:
        if self._tmp_dir is not None:
            import shutil
            shutil.rmtree(self._tmp_dir, ignore_errors=True)
            self._tmp_dir = None

    # -- checkpoint layout ---------------------------------------------------
    # All state targets are composed through TableFormat.child — never by
    # string/path concatenation — so the same layout maps to directories
    # (parquet: state/superstep=00005) or catalog identifiers (Iceberg:
    # <tbl>_state_superstep_00005) without touching this class.
    def _state_root(self) -> str:
        return self.table_format.child(self.checkpoint_dir, "state")

    def _state_path(self, superstep: int) -> str:
        return self.table_format.child(
            self._state_root(), f"superstep={superstep:05d}")

    def _metrics_path(self) -> str:
        return os.path.join(self.metadata_dir, "metrics.jsonl")

    def _manifest_path(self) -> str:
        return os.path.join(self.metadata_dir, "manifest.json")

    def _write_manifest(self) -> None:
        os.makedirs(self.metadata_dir, exist_ok=True)
        with open(self._manifest_path(), "w") as fh:
            json.dump(self.manifest, fh, sort_keys=True, default=str)

    def _validate_manifest(self) -> None:
        """Raise when resuming a checkpoint_dir written by a different
        (algorithm, config) — stale incompatible state must not resume."""
        path = self._manifest_path()
        if not os.path.exists(path):
            return  # pre-manifest dir: accept (legacy layout)
        with open(path) as fh:
            found = json.load(fh)
        want = json.loads(json.dumps(self.manifest, sort_keys=True, default=str))
        if found != want:
            raise ValueError(
                f"checkpoint_dir {self.checkpoint_dir!r} belongs to a different run: "
                f"manifest on disk {found!r} != this run {want!r}")

    @staticmethod
    def _snapshot_num(name: str) -> int | None:
        """Superstep number from a snapshot child name — tolerant of both
        the parquet (``superstep=00005``) and identifier-sanitized
        (``superstep_00005``) spellings."""
        import re
        m = re.fullmatch(r"superstep[=_](\d+)", name)
        return int(m.group(1)) if m else None

    def _prune_above(self, superstep: int) -> None:
        """Drop snapshots above the resume point so an earlier longer run's
        higher-numbered snapshots can't be picked up later."""
        root = self._state_root()
        for d in self.table_format.list_children(
                self.spark, root, complete_only=False):
            n = self._snapshot_num(d)
            if n is not None and n > superstep:
                self.table_format.drop(self.spark,
                                       self.table_format.child(root, d))

    def _reset_dir(self) -> None:
        """Fresh (non-resume) run into an existing dir: clear prior state and
        metrics so snapshots/metrics of different runs never interleave."""
        root = self._state_root()
        for d in self.table_format.list_children(
                self.spark, root, complete_only=False):
            self.table_format.drop(self.spark,
                                   self.table_format.child(root, d))
        self.table_format.drop(self.spark, root)
        for f in (self._metrics_path(),):
            if os.path.exists(f):
                os.remove(f)

    def latest_snapshot(self) -> int | None:
        """Highest superstep with a complete/committed snapshot."""
        if not self.checkpoint_dir:
            return None
        done = [n for n in (self._snapshot_num(d)
                            for d in self.table_format.list_children(
                                self.spark, self._state_root()))
                if n is not None]
        return max(done) if done else None

    def resume_state(self) -> tuple[DataFrame, int] | None:
        """(state, next_superstep) from the latest complete snapshot, if any."""
        last = self.latest_snapshot()
        if last is None:
            return None
        return (self.table_format.read(self.spark, self._state_path(last)),
                last + 1)

    # -- the loop -------------------------------------------------------------
    def run(
        self,
        initial_state: DataFrame,
        step_fn: Callable[[DataFrame, int], DataFrame],
        resume: bool = False,
    ) -> PregelResult:
        """Iterate ``state = step_fn(state, superstep)`` to convergence.

        ``initial_state`` and every ``step_fn`` output must carry an
        ``_active`` int column; convergence is ``sum(_active) == 0``.
        """
        # gds.beta.listProgress surface (progress.py): supersteps over
        # max_iterations, reported off the counts the loop already
        # observes — no extra jobs
        from graph_data_science_spark import progress as _progress
        self._progress_task = _progress.begin(
            str((self.manifest or {}).get("algorithm", "pregel")),
            volume_total=self.max_iterations)
        try:
            out = self._run_inner(initial_state, step_fn, resume)
        except BaseException:
            _progress.finish(self._progress_task, failed=True)
            raise
        _progress.finish(self._progress_task)
        return out

    def _run_inner(
        self,
        initial_state: DataFrame,
        step_fn: Callable[[DataFrame, int], DataFrame],
        resume: bool = False,
    ) -> PregelResult:
        metrics: list[dict] = []
        #: live view for step_fn closures: algorithms that steer the NEXT
        #: superstep off the previous superstep's aggregates (e.g. A*'s
        #: branch-and-bound target distance) read ``driver.metrics_so_far[-1]``
        #: — the aggregate rides the materializing job's Observation, so the
        #: steering costs zero extra jobs
        self.metrics_so_far = metrics
        start_step = 0
        state = initial_state
        # read before a resumed snapshot replaces the state: the snapshot
        # arrives unpartitioned, and its first superstep re-exchanges it
        # onto the layout
        self._layout = hash_layout(initial_state)
        self._aqe_off = True
        if self.checkpoint_dir:
            if resume:
                self._validate_manifest()
            else:
                self._reset_dir()
            self._write_manifest()
        if resume:
            resumed = self.resume_state()
            if resumed is not None:
                state, start_step = resumed
                self._prune_above(start_step - 1)
        from pyspark.sql import Observation

        # truncate the incoming plan too — step 0 should start from a flat
        # scan. The truncation materializes the state and observes its
        # active/row counts on the way (module doc #3). "auto" starts a
        # layout-carrying loop in memory (a parquet re-read would drop the
        # partitioner) and every other loop on parquet scratch, whose rescan
        # is the fast one at or above the size gate (see __init__).
        obs = Observation("superstep_start")
        state = state.observe(
            obs, F.sum(F.col(ACTIVE_COL).cast("long")).alias("a"),
            F.count(F.lit(1)).alias("r"))
        state_on_scratch = self.truncation == "parquet" or (
            self.truncation == "auto" and self._layout is None)
        if state_on_scratch:
            state = self._scratch_truncate(state, -1)
        else:
            state, rdd0 = self._mem_truncate(state)
            self._retire_prev(rdd0)
        first = obs.get
        active = first["a"] or 0
        # size gate for _aqe_ctx, fusion AND auto-truncation (state rows
        # ride the start-up job): below the threshold AQE stays on,
        # fusion stays off, and truncation goes in-memory — as a package —
        # see the __init__ fuse/truncation comments. A layout-carrying loop
        # keeps AQE off at every size (_aqe_ctx).
        rows0 = int(first["r"] or 0)
        self._aqe_off = rows0 >= _AQE_OFF_MIN_ROWS
        fuse_eff = self.fuse if (self._fuse_explicit
                                 or rows0 >= _AQE_OFF_MIN_ROWS) else 1
        if self.truncation == "auto":
            trunc_eff = "parquet" if rows0 >= _AQE_OFF_MIN_ROWS else "memory"
        else:
            trunc_eff = self.truncation
        if trunc_eff == "parquet" and not state_on_scratch:
            # a layout-carrying loop at or above the gate starts on scratch
            # like every later block: a fused first block reading the
            # in-memory start-up checkpoint measured 1.7× the same block
            # reading parquet (PageRank, 1.05M nodes; SCALE_NOTES §35)
            state = self._scratch_truncate(state, -1)
            self._retire_prev(None)
            state_on_scratch = True
        converged = active == 0

        superstep = start_step
        while not converged and superstep < self.max_iterations:
            t0 = time.monotonic()
            # block size: fuse, clipped to max_iterations and to the next
            # snapshot boundary (snapshots must land at exactly the same
            # supersteps as an unfused run, so resume points are identical)
            block = min(fuse_eff, self.max_iterations - superstep)
            if self.checkpoint_dir:
                to_boundary = self.snapshot_interval - (
                    superstep % self.snapshot_interval)
                block = min(block, to_boundary)
            new_state = state
            for j in range(block):
                new_state = step_fn(new_state, superstep + j)
            block_end = superstep + block - 1
            # fold the convergence/metrics aggregation INTO the materializing
            # job (Observation API): one Spark job per block where
            # round 1 ran two per superstep (materialize + separate agg)
            obs = Observation(f"superstep_{block_end}")
            aggs = [
                F.sum(F.col(ACTIVE_COL).cast("long")).alias("active"),
                F.count(F.lit(1)).alias("rows"),
            ] + [expr.alias(name) for name, expr in self.extra_metrics.items()]
            new_state = new_state.observe(obs, *aggs)
            do_snapshot = self.checkpoint_dir and (block_end + 1) % self.snapshot_interval == 0
            new_rdd = None
            snap_id = None
            aqe_off = self._layout is not None or self._aqe_off
            if trunc_eff == "memory":
                # critical path: in-memory materialization only; any snapshot
                # write overlaps the NEXT superstep (module doc #2)
                new_state, new_rdd = self._mem_truncate(new_state)
                state_on_scratch = False
            elif do_snapshot:
                # sync durable snapshot (truncation="parquet" legacy path)
                # via the table-format seam
                with self._aqe_ctx():
                    self.table_format.write(
                        new_state, self._state_path(block_end))
                new_state = self.table_format.read(
                    self.spark, self._state_path(block_end))
                state_on_scratch = True
                # formats with table versioning (Iceberg) contribute their
                # commit id to the lineage record — the north rule's
                # "snapshots with per-partition lineage"; parquet says None
                snap_id = self.table_format.snapshot_id(
                    self.spark, self._state_path(block_end))
            else:
                new_state = self._scratch_truncate(new_state, block_end)
                state_on_scratch = True
            row = dict(obs.get)
            wall_ms = (time.monotonic() - t0) * 1000.0
            if trunc_eff == "memory":
                # the in-flight writer (if any) reads the PREVIOUS state —
                # wait for it before unpersisting that state
                self._join_writer()
                self._retire_prev(new_rdd)
                if do_snapshot:
                    self._writer = _SnapshotWriter(
                        new_state, self._state_path(block_end),
                        fmt=self.table_format)
                    self._writer.start()
            active = row.pop("active") or 0
            rec = {
                "superstep": block_end,
                "fused": block,
                "wall_ms": round(wall_ms, 3),
                # the posture this block ran under
                "layout_partitions": self._layout,
                "aqe_off": aqe_off,
                "active": int(active),
                "rows": int(row.pop("rows")),
                **{k: (float(v) if v is not None else None) for k, v in row.items()},
            }
            if self.checkpoint_dir:
                # .rdd conversion is not free — only pay for it when the
                # metrics are actually recorded as the lineage record
                rec["num_partitions"] = new_state.rdd.getNumPartitions()
            if snap_id is not None:
                rec["snapshot_id"] = snap_id
            if do_snapshot and self.track_partition_rows:
                parts = (
                    new_state.groupBy(F.spark_partition_id().alias("pid"))
                    .count().orderBy("pid").collect()
                )
                rec["partition_rows"] = {int(r["pid"]): int(r["count"]) for r in parts}
            state = new_state
            converged = active == 0
            if self.checkpoint_dir:
                os.makedirs(self.metadata_dir, exist_ok=True)
                with open(self._metrics_path(), "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
            metrics.append(rec)
            from graph_data_science_spark import progress as _progress
            _progress.update(self._progress_task, block_end + 1)
            superstep += block

        # drain the in-flight snapshot writer (memory mode) before returning
        self._join_writer()
        if self._tmp_dir is not None:
            # detach the returned state from the scratch dir (one terminal
            # localCheckpoint is fine — the pathology is CHAINED never-
            # unpersisted ones), then reclaim the per-superstep snapshots.
            # A memory-truncated final state is already detached — the
            # scratch dir only backs auto mode's step-0 truncate then.
            if state_on_scratch:
                state = state.localCheckpoint(eager=True)
            self._cleanup_scratch()
        return PregelResult(
            state=state,
            ran_iterations=superstep - start_step,
            converged=converged,
            metrics=metrics,
        )

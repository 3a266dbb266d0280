"""Link-graph engine benchmark.

    python3 perfbench/run.py --workload tpch-sf0.1 --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) in one SparkSession at ``local[4]``
with the engine's own ``get_spark`` defaults, as a closed loop:
one client runs the workload's operations back to back, each after the
previous one finished, until ``--seconds`` have passed (always at least one
full round). Every operation's output is checked against an independent
reference. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the session also writes a
Spark event log and the metrics are the per-layer ones (see README.md).

Everything a run writes lives under ``.perfbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

MASTER = "local[4]"
CORES = 4
# get_spark defaults the driver heap to 48g; pinned so the JVM fits a 15 GB
# host, the same value for every run and commit
DRIVER_MEMORY = "4g"

# engine size-gate / posture overrides: the benchmark measures the engine's
# own posture choices, so none may be set
POSTURE_KNOBS = ("SPARK_GRAFT_TRUNCATION", "SPARK_GRAFT_FUSE",
                 "SPARK_GRAFT_BCAST_MAX_ROWS", "SPARK_GRAFT_LOUVAIN_LOCAL_MAX",
                 "SPARK_GRAFT_BPE_LOCAL_MAX_WORDS")
POSTURE_KNOB_PREFIX = "SPARK_GRAFT_AQE_OFF_MIN_"


@dataclass
class Measurement:
    setup_s: float
    samples: dict
    outputs: dict
    attempted: int = 0
    failed: int = 0
    rounds: int = 0
    peak_rss_mb: float = 0.0
    profile: dict = field(default_factory=dict)


def set_posture_knobs() -> list[str]:
    return sorted(k for k in os.environ
                  if k in POSTURE_KNOBS or k.startswith(POSTURE_KNOB_PREFIX))


def prepare_environment(run_dir: str) -> None:
    """Child processes (the JVM and its Python workers) inherit these, so
    every file a run writes stays under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    for p in (os.path.dirname(os.path.abspath(__file__)), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=120)


def measure(args, run_dir: str, spark, tracer, t_setup: float) -> Measurement:
    import spans as tr
    from workloads import OPS, TRACED_OPS, WORKLOADS

    tracer.bind(spark.sparkContext)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    wl = WORKLOADS[args.workload](spark, tracer, run_dir, os.path.join(STATE, "cache"))
    in_dir = os.path.join(run_dir, "input")
    t_start = time.perf_counter() - t_setup
    with tracer.span("sources.generate", op="setup"):
        wl.generate(args.seed, in_dir)
    t_gen = time.perf_counter() - t_setup
    # one untimed projection warms the session (JIT, Python workers, file
    # cache); each operation's own plan compilation stays in its first timed
    # sample, on every run alike
    if wl.warm_up:
        with tracer.span("session.warmup", op="setup"):
            wl.run_op("project", in_dir, "project#warmup")
    m = Measurement(time.perf_counter() - t_setup,
                    {op: [] for op in OPS}, {op: [] for op in OPS})
    print(f"setup: session {t_start:.3f} s, input {t_gen - t_start:.3f} s, "
          f"warm-up {m.setup_s - t_gen:.3f} s", file=sys.stderr)

    with tracer.span("check", op="check"):
        refs = wl.prepare_checks(in_dir)
    t0 = time.perf_counter()
    while m.rounds == 0 or time.perf_counter() - t0 < args.seconds:
        seen = dict.fromkeys(OPS, 0)
        for op in wl.round_sequence():
            run_checked(wl, m, tracer, refs, in_dir, op, f"{op}#{m.rounds}.{seen[op]}")
            seen[op] += 1
        m.rounds += 1
    if args.trace:
        for op in TRACED_OPS:
            run_checked(wl, m, tracer, refs, in_dir, op, f"{op}#profile")
        m.profile = profile(wl, tracer, in_dir)
    m.peak_rss_mb = tr.tree_peak_rss_mb(jvm_pid)
    return m


def run_checked(wl, m: Measurement, tracer, refs, in_dir: str, op: str, op_id: str) -> None:
    """Run one operation, time it, check its output; record all three."""
    ts = time.perf_counter()
    ok = False
    try:
        with tracer.span(op, op=op_id):
            out = wl.run_op(op, in_dir, op_id)
        m.samples[op].append(time.perf_counter() - ts)
        out.op_id = op_id
        m.outputs[op].append(out)
        with tracer.span("check", op="check"):
            ok = wl.check_op(op, out, refs)
    except Exception:
        traceback.print_exc()
        m.samples[op].append(time.perf_counter() - ts)
    m.attempted += 1
    if not ok:
        m.failed += 1
        print(f"FAILED {op_id}", file=sys.stderr)


def profile(wl, tracer, in_dir: str) -> dict:
    """Traced-run extras outside the timed rounds: the input's skew, the
    source layer's sub-steps and the CSR engine's pack/pass split
    (``pagerank(mode="csr")``)."""
    from graph_data_science_spark.operators.pagerank import pagerank
    from graph_data_science_spark.plans.partitioning import degree_stats

    with tracer.span("profile"):
        with tracer.span("sources.degree_stats"):
            stats = degree_stats(wl.graph.edges, key="dst")
        split = wl.profile_sources(in_dir)
        with tracer.span("plans.csr"):
            res = pagerank(wl.graph, mode="csr", tolerance=0.0, max_iterations=3)
            res.scores.count()
    pack = [r["wall_ms"] for r in res.metrics if r.get("phase") == "pack"]
    passes = [r["wall_ms"] for r in res.metrics if "superstep" in r]
    return {"max_in_degree": stats["max_degree"], **split,
            "csr_pack_s": pack[0] / 1e3 if pack else 0.0,
            "csr_pass_ms": statistics.median(passes) if passes else 0.0}


def round_s(med: dict) -> float:
    """Summed median operation time of a round (the trace-overhead base)."""
    from workloads import ROUND_OPS

    return sum(med[op] for op in ROUND_OPS)


def run(args, run_dir: str) -> dict:
    from graph_data_science_spark.session import get_spark

    import layers
    import spans as tr

    tracer = tr.Tracer(enabled=bool(args.trace))
    event_dir = os.path.join(run_dir, "eventlog")
    conf = {}
    if args.trace:
        os.makedirs(event_dir)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    t_setup = time.perf_counter()
    with tracer.span("session.start", op="setup"):
        spark = get_spark(master=MASTER, extra_conf=conf)
    try:
        m = measure(args, run_dir, spark, tracer, t_setup)
    finally:
        stop_spark(spark)  # also flushes the event log

    result = {"correct": m.failed == 0, "attempted": m.attempted, "failed": m.failed}
    med = {op: statistics.median(v) for op, v in m.samples.items() if v}
    print(f"rounds={m.rounds} setup={m.setup_s:.3f} "
          + " ".join(f"{k}={v:.3f}" for k, v in med.items()), file=sys.stderr)
    print("samples " + json.dumps(m.samples), file=sys.stderr)
    history = os.path.join(STATE, f"untraced-{args.workload}.jsonl")
    if not args.trace:
        with open(history, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "ops_s": round_s(med)}) + "\n")
        result["metrics"] = layers.end_to_end_metrics(m.setup_s, med, m.peak_rss_mb)
        return result
    events = []
    for f in sorted(os.listdir(event_dir)):
        events += tr.read_event_log(os.path.join(event_dir, f))
    metrics, complete = layers.per_layer_metrics(events, tracer.spans, m, round_s(med),
                                                 CORES, history)
    if not complete:
        print("event-log attribution does not account for every job", file=sys.stderr)
        result["correct"] = False
    tracer.write(os.path.join(STATE, f"trace-{args.workload}-seed{args.seed}.json"))
    result["metrics"] = metrics
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="link-graph engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    knobs = set_posture_knobs()
    if knobs:
        print(f"posture knobs must be unset for the benchmark: {knobs}", file=sys.stderr)
        return 2
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)
    try:
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Metric catalogue and the arithmetic that fills it.

End-to-end metrics come from an untraced run. Per-layer metrics come from a
traced run: Spark counts from the event log attributed to the benchmark's
spans, Pregel's per-block records from each result's ``metrics``, and span
durations for the layers the benchmark calls into.
"""

from __future__ import annotations

import json
import os
import statistics

import spans as tr
from workloads import OPS, ROUND_OPS, TRACED_OPS

END_TO_END = [("setup_s", "s")] + [(f"{op}_s", "s") for op in ROUND_OPS] + [
    ("peak_rss_mb", "MiB")]

# Spark counts per operation; ``resume`` covers the checkpointed, interrupted
# PageRank and its resumed half together
SPARK_OPS = ("project", "pagerank", "wcc", "triangle", "resume")
SPARK_ITERATIVE = ("pagerank", "wcc", "resume")
SPARK_FIELDS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("busy_frac", "ratio"), ("executor_run_s", "s"),
                ("executor_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                ("spill_bytes", "B"), ("result_bytes", "B"), ("output_bytes", "B")]
PREGEL_OPS = ("pagerank", "wcc", "checkpoint", "resume")
PREGEL_FIELDS = [("supersteps", "count"), ("fused", "count"),
                 ("superstep_ms_p50", "ms"), ("superstep_ms_max", "ms")]
SELF_LAYERS = ("sources", "graph", "operators", "spark", "bench")


def per_layer_catalog() -> list[tuple[str, str]]:
    out = []
    for op in SPARK_OPS:
        out += [(f"spark.{op}.{f}", u) for f, u in SPARK_FIELDS]
        if op in SPARK_ITERATIVE:
            out.append((f"spark.{op}.jobs_per_superstep", "ratio"))
    for op in PREGEL_OPS:
        out += [(f"plans.pregel.{op}.{f}", u) for f, u in PREGEL_FIELDS]
    out += [("plans.pregel.snapshot_bytes", "B"), ("plans.pregel.snapshots", "count"),
            ("plans.csr.pack_s", "s"), ("plans.csr.pass_ms", "ms"),
            ("sources.generate_s", "s"), ("sources.load_s", "s"),
            ("sources.nodes", "count"), ("sources.edges", "count"),
            ("sources.max_in_degree", "count"), ("sources.synthesize_s", "s"),
            ("sources.extract_s", "s"), ("sources.idmap_s", "s"), ("graph.persist_s", "s"),
            ("session.start_s", "s"), ("session.warmup_s", "s")]
    out += [(f"operators.{op}.edges_per_s_per_superstep", "1/s")
            for op in ("pagerank", "wcc")]
    out += [(f"operators.{op}.wall_s", "s") for op in TRACED_OPS]
    out += [("operators.triangle.triangles", "count")]
    out += [(f"self_s.{layer}", "s") for layer in SELF_LAYERS]
    out += [("spark.jobs_total", "count"), ("untagged.jobs", "count"),
            ("trace.group_mismatch_jobs", "count"), ("trace.overhead_frac", "ratio"),
            ("trace.overhead_base_runs", "count")]
    return out


def end_to_end_metrics(setup_s: float, med: dict, peak_rss_mb: float) -> dict:
    values = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
              **{f"{op}_s": med[op] for op in ROUND_OPS}}
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _in_round(op_id: str) -> bool:
    """Operation ids of the timed rounds look like ``pagerank#0.0``."""
    return op_id.split("#")[-1][:1].isdigit()


def _superstep_ms(records: list[dict]) -> list[float]:
    """Per-superstep wall of each Pregel block (a fused block of k
    supersteps counts k times its wall / k)."""
    out = []
    for r in records:
        k = max(1, int(r.get("fused", 1)))
        out += [r["wall_ms"] / k] * k
    return out


def per_layer_metrics(events, spans, m, traced_round_s: float, cores: int,
                      history_path: str) -> tuple[dict, bool]:
    """(metrics, complete): ``complete`` is the attribution invariant —
    per-span job counts plus untagged jobs equal the event log's total, and
    every started job ended."""
    attr = tr.attribute(events, spans)
    ended = sum(1 for e in events if e.get("Event") == "SparkListenerJobEnd")
    attributed = sum(b["jobs"] for b in attr["by_span"].values())
    complete = attributed == attr["jobs_total"] == ended

    by_op = tr.op_totals(attr, spans)
    wall = {}
    for s in spans:
        if s["parent"] is None and "#" in s["op"]:
            wall[s["op"]] = wall.get(s["op"], 0.0) + s["end"] - s["start"]
    v: dict[str, float] = {}
    by_id = {o.op_id: o for outs in m.outputs.values() for o in outs}

    for op in SPARK_OPS:
        # one sample per instance of the operation (``resume``: per pair)
        members = ("checkpoint", "resume") if op == "resume" else (op,)
        samples = []
        for inst in m.outputs[op]:
            key = inst.op_id.split("#")[1]
            acc: dict[str, float] = {}
            w = 0.0
            for name in members:
                for k, x in by_op.get(f"{name}#{key}", {}).items():
                    acc[k] = acc.get(k, 0) + x
                w += wall.get(f"{name}#{key}", 0.0)
            acc["busy_frac"] = acc.get("executor_run_s", 0.0) / (w * cores) if w else 0.0
            if op in SPARK_ITERATIVE:
                steps = sum(int(x.get("fused", 1))
                            for name in members if f"{name}#{key}" in by_id
                            for x in by_id[f"{name}#{key}"].pregel)
                acc["jobs_per_superstep"] = acc.get("jobs", 0) / steps if steps else 0.0
            samples.append(acc)
        for f, _ in SPARK_FIELDS + [("jobs_per_superstep", "")]:
            v[f"spark.{op}.{f}"] = _median(a.get(f, 0.0) for a in samples)

    edges = _median(o.extra["edges"] for o in m.outputs["project"])
    for op in PREGEL_OPS:
        recs = [o.pregel for o in m.outputs[op]]
        steps = [_superstep_ms(r) for r in recs]
        v[f"plans.pregel.{op}.supersteps"] = _median(len(s) for s in steps)
        v[f"plans.pregel.{op}.fused"] = _median(
            max((int(x.get("fused", 1)) for x in r), default=0) for r in recs)
        v[f"plans.pregel.{op}.superstep_ms_p50"] = _median(_median(s) for s in steps)
        v[f"plans.pregel.{op}.superstep_ms_max"] = _median(max(s, default=0.0) for s in steps)
        if op in ("pagerank", "wcc"):
            p50 = v[f"plans.pregel.{op}.superstep_ms_p50"]
            v[f"operators.{op}.edges_per_s_per_superstep"] = edges / (p50 / 1e3) if p50 else 0.0
    ck = m.outputs["checkpoint"]
    v["plans.pregel.snapshot_bytes"] = _median(o.extra["snapshot_bytes"] for o in ck)
    v["plans.pregel.snapshots"] = _median(o.extra["snapshots"] for o in ck)
    v["plans.csr.pack_s"] = m.profile.get("csr_pack_s", 0.0)
    v["plans.csr.pass_ms"] = m.profile.get("csr_pass_ms", 0.0)

    def span_s(name, round_only=True):
        return [s["end"] - s["start"] for s in spans if s["name"] == name
                and (not round_only or _in_round(s["op"]))]

    v["sources.generate_s"] = sum(span_s("sources.generate", round_only=False))
    v["sources.load_s"] = _median(span_s("sources.load"))
    v["sources.nodes"] = _median(o.extra["nodes"] for o in m.outputs["project"])
    v["sources.edges"] = edges
    v["sources.max_in_degree"] = m.profile.get("max_in_degree", 0.0)
    v["sources.synthesize_s"] = sum(span_s("sources.synthesize", round_only=False))
    v["sources.extract_s"] = m.profile.get("extract_s", 0.0)
    v["sources.idmap_s"] = m.profile.get("idmap_s", 0.0)
    v["graph.persist_s"] = _median(span_s("graph.persist"))
    v["session.start_s"] = sum(span_s("session.start", round_only=False))
    v["session.warmup_s"] = sum(span_s("session.warmup", round_only=False))
    for op in TRACED_OPS:
        v[f"operators.{op}.wall_s"] = _median(m.samples[op])
    v["operators.triangle.triangles"] = _median(
        o.extra["triangles"] for o in m.outputs["triangle"])

    round_spans = [s for s in spans if _in_round(s["op"])]
    own = tr.self_times(round_spans)
    for layer in SELF_LAYERS:
        v[f"self_s.{layer}"] = sum(
            t for name, t in own.items()
            if (name in OPS and layer == "bench")
            or name.split(".")[0] == layer) / max(1, m.rounds)

    v["spark.jobs_total"] = attr["jobs_total"]
    v["untagged.jobs"] = attr["untagged_jobs"]
    v["trace.group_mismatch_jobs"] = attr["group_mismatch"]
    base = []
    if os.path.exists(history_path):
        with open(history_path) as fh:
            base = [json.loads(line)["ops_s"] for line in fh if line.strip()]
    v["trace.overhead_frac"] = (traced_round_s / statistics.median(base) - 1.0
                                if base else 0.0)
    v["trace.overhead_base_runs"] = len(base)

    return {k: {"value": float(v[k]), "unit": u} for k, u in per_layer_catalog()}, complete

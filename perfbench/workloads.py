"""The benchmark's workloads: inputs, the operation sequence and its checks.

Every workload runs the same operations as one round: ``project`` (input
tables → persisted, counted ``Graph``, ``repeats`` times), ``pagerank`` and
``wcc``. A traced run then also runs ``triangle``, ``checkpoint`` (PageRank
with ``checkpoint_dir``, stopped after ``checkpoint_iters``) and ``resume``
(the same PageRank resumed from that checkpoint to the end) once each. An
operation's time runs from the call to its result collected on the driver as
Arrow; the output is then checked against an independent reference outside
the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.operators.triangle import triangle_count
from graph_data_science_spark.operators.wcc import wcc

import inputs
import reference as ref

OPS = ("project", "pagerank", "wcc", "triangle", "checkpoint", "resume")
#: the operations of a timed round; the others run once in a traced run
ROUND_OPS = ("project", "pagerank", "wcc")
TRACED_OPS = ("triangle", "checkpoint", "resume")


@dataclass
class OpOutput:
    op_id: str = ""
    table: object = None  # pyarrow.Table collected inside the timed region
    pregel: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def frame(self) -> pd.DataFrame:
        return self.table.to_pandas()


class Workload:
    """One input family plus the parameters of each operation on it."""

    name: str
    pagerank_kw: dict
    wcc_kw: dict
    #: max_iterations of the interrupted (checkpointed) PageRank half
    checkpoint_iters: int
    #: whether the pagerank and wcc operations write durable snapshots too
    checkpoint_all: bool = False
    #: samples of ``project`` per round
    repeats: int = 1
    #: whether an untimed projection warms the session before the rounds
    warm_up: bool = True

    def __init__(self, spark, tracer, work_dir: str, cache_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.graph: Graph | None = None
        self._persisted: list = []  # DataFrames the last projection persisted
        self._round_pagerank: pd.DataFrame | None = None

    # -- per-workload hooks ---------------------------------------------------
    def generate(self, seed: int, out_dir: str) -> None:
        raise NotImplementedError

    def load(self, in_dir: str) -> Graph:
        """Input tables → graph; called inside the timed ``project``."""
        raise NotImplementedError

    def prepare_checks(self, in_dir: str) -> dict:
        raise NotImplementedError

    def check(self, op: str, out: OpOutput, refs: dict) -> bool:
        raise NotImplementedError

    def profile_sources(self, in_dir: str) -> dict:
        """Traced-run split of the source layer's sub-steps."""
        return {}

    # -- operations -----------------------------------------------------------
    def round_sequence(self) -> list[str]:
        return ["project"] * self.repeats + ["pagerank", "wcc"]

    def run_op(self, op: str, in_dir: str, op_id: str) -> OpOutput:
        t = self.tracer
        rnd = op_id.split("#")[1]
        if op == "project":
            for df in self._persisted:
                df.unpersist()
            self._persisted = []
            with t.span("sources.load"):
                g = self.load(in_dir)
            with t.span("graph.persist"):
                g = Graph(nodes=g.nodes.persist(), edges=g.edges.persist(),
                          directed=g.directed, name=g.name)
                nodes, edges = g.node_count(), g.edge_count()
            self._persisted += [g.nodes, g.edges]
            self.graph = g
            return OpOutput(extra={"nodes": nodes, "edges": edges})
        g = self.graph
        own_ckpt = os.path.join(self.work_dir, "ckpt", f"{op}-{rnd}")
        ckpt = own_ckpt if self.checkpoint_all else None
        if op == "pagerank":
            with t.span("operators.pagerank"):
                res = pagerank(g, checkpoint_dir=ckpt, **self.pagerank_kw)
            return self._collect(res.scores, res.metrics, own_ckpt)
        if op == "wcc":
            with t.span("operators.wcc"):
                res = wcc(g, checkpoint_dir=ckpt, **self.wcc_kw)
            return self._collect(res.components, res.metrics, own_ckpt)
        if op == "triangle":
            with t.span("operators.triangle_count"):
                res = triangle_count(g)
            out = self._collect(res.per_node, [])
            out.extra["triangles"] = res.global_count
            return out
        pair_ckpt = os.path.join(self.work_dir, "ckpt", f"resume-{rnd}")
        if op == "checkpoint":
            kw = dict(self.pagerank_kw, max_iterations=self.checkpoint_iters)
            with t.span("operators.pagerank"):
                res = pagerank(g, checkpoint_dir=pair_ckpt, **kw)
            out = self._collect(res.scores, res.metrics)
            out.extra["snapshot_bytes"] = _dir_bytes(os.path.join(pair_ckpt, "state"))
            out.extra["snapshots"] = len(res.metrics)
            return out
        if op == "resume":
            with t.span("operators.pagerank"):
                res = pagerank(g, checkpoint_dir=pair_ckpt, resume=True,
                               **self.pagerank_kw)
            return self._collect(res.scores, res.metrics, pair_ckpt)
        raise ValueError(op)

    def _collect(self, df, pregel_metrics, ckpt_dir: str | None = None) -> OpOutput:
        with self.tracer.span("spark.collect"):
            table = df.toArrow()
        if ckpt_dir is not None:
            shutil.rmtree(ckpt_dir, ignore_errors=True)
        return OpOutput(table=table, pregel=list(pregel_metrics))

    def check_op(self, op: str, out: OpOutput, refs: dict) -> bool:
        """Reference check; ``resume`` must also be bit-identical to the
        uninterrupted ``pagerank`` of the same round."""
        if op == "pagerank":
            self._round_pagerank = out.frame
        if op == "resume":
            whole = self._round_pagerank
            if whole is None or not _bit_identical(out.frame, whole, "score"):
                return False
        return self.check(op, out, refs)

    def cached(self, key: dict, build) -> dict:
        """``build()``'s frames, cached as parquet under a digest of ``key``."""
        digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
        d = os.path.join(self.cache_dir, f"{self.name}-{digest}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            for k, v in build().items():
                v.to_parquet(os.path.join(d, f"{k}.parquet"))
            with open(os.path.join(d, "_DONE"), "w") as fh:
                json.dump(key, fh)
        return {f[:-8]: pd.read_parquet(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}


def _bit_identical(a: pd.DataFrame, b: pd.DataFrame, col: str) -> bool:
    if len(a) != len(b):
        return False
    a = a.sort_values("node_id", ignore_index=True)
    b = b.sort_values("node_id", ignore_index=True)
    return (np.array_equal(a["node_id"].to_numpy(), b["node_id"].to_numpy())
            and np.array_equal(a[col].to_numpy().view(np.int64),
                               b[col].to_numpy().view(np.int64)))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TpchSf01(Workload):
    """TPC-H-shaped link graph at sf0.1, far below the 1M-state-row posture
    gate and without checkpoints: per-job fixed cost dominates."""

    name = "tpch-sf0.1"
    # a fixed superstep count (tolerance 0) gives every run the same work and
    # leaves the resumed half 7 supersteps
    pagerank_kw = {"tolerance": 0.0, "max_iterations": 10}
    wcc_kw = {}
    checkpoint_iters = 3
    # project takes 2-3 s here; one sample spread 0.19-0.25 (quartile
    # distance / median) over ten runs
    repeats = 2

    def generate(self, seed, out_dir):
        # fixed input: the seed is not used (see inputs.TPCH_SEED)
        inputs.write_tpch_tables(out_dir)

    def load(self, in_dir):
        from graph_data_science_spark.sources.tpch_graph import build_graph
        return build_graph(self.spark, in_dir)

    def prepare_checks(self, in_dir):
        iters = {"pagerank_iters": self.pagerank_kw["max_iterations"] - 1,
                 "partial_pagerank_iters": self.checkpoint_iters - 1,
                 "tolerance": self.pagerank_kw["tolerance"]}
        tables = {t: ref.fingerprint(f"{in_dir}/{t}.parquet")
                  for t in ref.TPCH_TABLES}
        return self.cached({"tables": tables, **iters},
                           lambda: ref.tpch_references(in_dir, **iters))

    def check(self, op, out, refs):
        if op == "project":
            return (out.extra["nodes"] == len(refs["wcc"])
                    and out.extra["edges"] == int(refs["edges"]["n"][0]))
        if op == "triangle":
            return (ref.frames_match(out.frame, refs["triangle"])
                    and out.extra["triangles"] * 3 == int(refs["triangle"]["triangles"].sum()))
        if op in ("pagerank", "resume", "checkpoint"):
            want = refs["checkpoint" if op == "checkpoint" else "pagerank"]
            # the oracle is rounded to 6 decimals, the engine's score is not
            return ref.frames_match(out.frame, want, atol=0.5e-6 + 1e-9)
        return ref.frames_match(out.frame, refs[op])


class RepoCkpt(Workload):
    """Source-code table with planted imports from a power-law edge list: the
    production projection path, with durable PageRank/WCC snapshots."""

    name = "repo-ckpt"
    n_files = 10_000
    pagerank_kw = {"tolerance": 0.0, "max_iterations": 8}
    wcc_kw = {"max_iterations": 4}
    checkpoint_iters = 3
    checkpoint_all = True
    # generating the input already runs Spark jobs and starts the Python
    # workers; a warm-up projection on top cost 6-9 s of every run
    warm_up = False

    def generate(self, seed, out_dir):
        from graph_data_science_spark.sources.repo_source import synthesize_repo_table

        n = self.n_files
        edges_dir = os.path.join(out_dir, "edges")
        with self.tracer.span("sources.random_graph"):
            inputs.write_powerlaw_edges(self.spark, edges_dir, n, seed)
        with self.tracer.span("sources.synthesize"):
            edges = self.spark.read.parquet(edges_dir)
            (synthesize_repo_table(self.spark, edges, n, seed=seed)
             .write.mode("overwrite").parquet(os.path.join(out_dir, "repos")))
        with open(os.path.join(out_dir, "input.json"), "w") as fh:
            json.dump({"n_files": n, "seed": seed}, fh)

    def _repos(self, in_dir):
        return self.spark.read.parquet(os.path.join(in_dir, "repos"))

    def load(self, in_dir):
        from graph_data_science_spark.sources.edge_extraction import build_link_graph

        id_map, nodes, edges = build_link_graph(self._repos(in_dir).drop("content_sha256"))
        self._persisted.append(id_map)  # assign_dense_ids persists it
        return Graph(nodes=nodes, edges=edges, directed=True, name=self.name)

    def prepare_checks(self, in_dir):
        from graph_data_science_spark.sources.repo_source import verify_content_sha

        with open(os.path.join(in_dir, "input.json")) as fh:
            n = json.load(fh)["n_files"]
        # the synthesized table's per-row sha256 invariant, once per input
        repos = self._repos(in_dir)
        self.bad_sha_rows = verify_content_sha(repos.drop("content_sha256"), repos)

        def build():
            src, dst = inputs.read_edges(os.path.join(in_dir, "edges"))
            dense = ref.repo_dense_ids(n)
            s, d = dense[src], dense[dst]
            k = self.pagerank_kw["max_iterations"] - 1
            return {
                "edges": pd.DataFrame({"src": s, "dst": d}),
                "pagerank": pd.DataFrame({"v": ref.pagerank_np(s, d, n, k)}),
                "checkpoint": pd.DataFrame(
                    {"v": ref.pagerank_np(s, d, n, self.checkpoint_iters - 1)}),
                "wcc": pd.DataFrame({"v": ref.wcc_np(s, d, n, self.wcc_kw["max_iterations"])}),
                "triangle": pd.DataFrame({"v": ref.triangles_np(s, d, n)}),
            }
        edges = ref.fingerprint(os.path.join(in_dir, "edges", "*.parquet"))
        refs = self.cached({"edges": edges, "n_files": n, "pagerank": self.pagerank_kw,
                            "wcc": self.wcc_kw,
                            "checkpoint_iters": self.checkpoint_iters}, build)
        refs["n"] = n
        return refs

    def check(self, op, out, refs):
        n = refs["n"]
        if op == "project":
            if self.bad_sha_rows != 0 or out.extra["nodes"] != n:
                return False
            got = self.graph.edges.toArrow()  # outside the timed region
            want = refs["edges"]
            return (got.num_rows == len(want)
                    and np.array_equal(
                        np.sort(got["src"].to_numpy() * n + got["dst"].to_numpy()),
                        np.sort(want["src"].to_numpy() * n + want["dst"].to_numpy()))
                    and bool((got["weight"].to_numpy() == 1.0).all()))
        col = {"pagerank": "score", "checkpoint": "score", "resume": "score",
               "wcc": "component", "triangle": "triangles"}[op]
        got = ref.dense(out.frame, col, n)
        if got is None:
            return False
        want = refs["pagerank" if op == "resume" else op]["v"].to_numpy()
        if col == "score":
            return bool(np.allclose(got, want, rtol=1e-6, atol=0))
        ok = np.array_equal(got.astype(np.int64), want)
        if op == "triangle":
            ok = ok and out.extra["triangles"] * 3 == int(want.sum())
        return bool(ok)

    def profile_sources(self, in_dir):
        from graph_data_science_spark.sources.edge_extraction import extract_references
        from graph_data_science_spark.sources.idmap import assign_dense_ids

        repos = self._repos(in_dir)
        t0 = time.perf_counter()
        with self.tracer.span("sources.extract"):
            extract_references(repos).count()
        t1 = time.perf_counter()
        with self.tracer.span("sources.idmap"):
            keys = repos.select(F.concat_ws("::", "repo", "path").alias("orig_key"))
            assign_dense_ids(keys).unpersist()
        return {"extract_s": t1 - t0, "idmap_s": time.perf_counter() - t1}


WORKLOADS = {w.name: w for w in (TpchSf01, RepoCkpt)}

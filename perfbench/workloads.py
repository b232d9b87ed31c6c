"""The workloads: what one pass calls, in order, and how each call's result
is checked.

A workload is built on a live session over one input directory. ``load``
reads and caches its inputs, ``calls`` lists the calls of one pass (the
warm-up pass makes the same calls on the same inputs with one round per
iterative call), and ``extras`` returns the per-layer values that are not
span counters. Every call ends in a sink that materializes its whole
result (a write, a count of a cached frame, a collect to pandas); the
check that follows it is not timed.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import oracles
from inputs import CKPT_FIRST, CKPT_TOTAL, LPA_ROUNDS, PR_ROUNDS


@dataclass
class Call:
    name: str                           # span name: <module>.<function>[.<graph>]
    run: Callable[[], Any]              # the call and its sink
    check: Callable[[Any], str | None]  # untimed oracle comparison
    patches: list = field(default_factory=list)  # (owner, attr, span name)
    chain: int = 0    # the warm-up runs distinct chains concurrently


class Workload:
    """Shared plumbing: a session, an input directory, a scratch directory
    and the tracer (disabled on untraced passes)."""

    # seconds one pass takes on an idle 4-core box; ``--seconds`` divided
    # by it gives the number of timed passes
    PASS_S = 10.0

    def __init__(self, spark, data: str, scratch: str, tracer):
        self.spark = spark
        self.data = data
        self.scratch = scratch
        self.tracer = tracer
        with open(self.path("sizes.json")) as f:
            self.sizes = json.load(f)

    def path(self, name: str) -> str:
        return os.path.join(self.data, name)

    def read_cached(self, name: str):
        df = self.spark.read.parquet(self.path(name)).persist()
        df.count()
        return df

    def scratch_dir(self, name: str) -> str:
        p = os.path.join(self.scratch, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def load(self) -> None:
        """Read and cache the inputs (part of set-up)."""

    def end_pass(self) -> None:
        """Drop what one pass left behind (untimed)."""

    def breakdown(self, times: dict[str, float]) -> dict[str, tuple[float, str]]:
        """The workload's own end-to-end figures from one pass's call times:
        name -> (value, unit)."""
        return {}

    def extras(self, spans: dict[str, dict]) -> dict[str, float]:
        """Per-layer values that are not span counters, after a traced pass;
        ``spans`` is ``Tracer.by_name()``."""
        return {}


# -- crawl_structure, part 1: crawl ingest --------------------------------------

class CrawlIngest(Workload):
    """pages parquet -> extracted text parquet, then pages -> link edges ->
    degrees -> degree order -> relabelled edges parquet."""

    PASS_S = 4.0
    INGEST = ("extract.", "edges.", "relabel.", "graphio.")

    def load(self) -> None:
        truth = np.load(self.path("links.npz"))
        self.keys, self.n = truth["keys"], int(truth["n"])
        self.want_deg = np.sort(np.bincount(self.keys // self.n, minlength=self.n)
                                + np.bincount(self.keys % self.n, minlength=self.n))
        self.state: dict[str, Any] = {}

    def breakdown(self, times):
        return {"ingest_s": (sum(t for k, t in times.items() if k.startswith(self.INGEST)), "s")}

    def calls(self, warm: bool = False) -> list[Call]:
        from graphsetintersection_spark.operators.edges import degrees
        from graphsetintersection_spark.operators.relabel import apply_order, degree_order
        from graphsetintersection_spark.sources.extract import extract_text, link_edges
        from graphsetintersection_spark.sources.graphio import save_edges_parquet
        from graphsetintersection_spark.sources.pages import read_pages

        pages_dir = self.path("pages")
        text_out = self.scratch_dir("text")
        self.edges_out = edges_out = self.scratch_dir("edges")
        st = self.state

        def text():
            pages = read_pages(self.spark, pages_dir)
            extract_text(pages).write.mode("overwrite").parquet(text_out)

        def links():
            st["edges"] = link_edges(read_pages(self.spark, pages_dir)).persist()
            return st["edges"].count()

        def degs():
            st["deg"] = degrees(st["edges"]).persist()
            st["deg"].count()
            return st["deg"]

        def order():
            st["order"] = degree_order(st["edges"], deg=st["deg"]).persist()
            return st["order"].count()

        def save():
            save_edges_parquet(apply_order(st["edges"], st["order"]), edges_out)

        return [
            Call("extract.extract_text", text,
                 lambda _: oracles.check_text(text_out, pages_dir), chain=1),
            Call("extract.link_edges", links,
                 lambda got: oracles.check_count("link rows", got, len(self.keys))),
            Call("edges.degrees", degs,
                 lambda got: oracles.check_degrees(got, self.want_deg)),
            Call("relabel.degree_order", order,
                 lambda got: oracles.check_count("ordered vertices", got, self.n)),
            Call("graphio.save_edges_parquet", save,
                 lambda _: oracles.check_edges(edges_out, self.keys, self.n)),
        ]

    def end_pass(self) -> None:
        for k in ("edges", "deg", "order"):
            if k in self.state:
                self.state[k].unpersist(blocking=True)
        self.state.clear()

    def extras(self, spans: dict[str, dict]) -> dict[str, float]:
        from graphsetintersection_spark.operators.relabel import comp_ratio

        edges = self.spark.read.parquet(self.edges_out)
        return {"relabel.comp_ratio": float(comp_ratio(edges))}


# -- rank_iterations ------------------------------------------------------------

class RankIterations(Workload):
    """PageRank, personalized PageRank and HITS on their auto (broadcast)
    paths, the numpy-kernel PageRank, then checkpointed shuffle PageRank
    and its resume."""

    PASS_S = 23.0
    CHECKPOINTED = ("pagerank.checkpointed", "pagerank.resume")

    def load(self) -> None:
        self.truth = np.load(self.path("truth.npz"))
        self.web = self.read_cached("web")
        self.seeds = self.spark.createDataFrame(
            [(int(v),) for v in self.truth["seeds"]], "v long")
        self.checkpoint_mb = 0.0

    def breakdown(self, times):
        edges = self.sizes["web"]["edges"]
        return {
            "rank_s": (sum(t for k, t in times.items() if k not in self.CHECKPOINTED), "s"),
            "checkpointed_rank_s": (sum(times[k] for k in self.CHECKPOINTED), "s"),
            "pagerank_edges_per_iter_per_s":
                (edges * PR_ROUNDS / times["pagerank.pagerank"], "1/s"),
        }

    def calls(self, warm: bool = False) -> list[Call]:
        import graphsetintersection_spark.operators.pagerank as pr_mod
        from graphsetintersection_spark.operators.hits import hits
        from graphsetintersection_spark.plans.checkpoint import CheckpointManager

        e, t = self.web, self.truth
        self.ckpt = ckpt = self.scratch_dir("ckpt")
        rounds = 1 if warm else PR_ROUNDS

        def check(*pairs):
            return lambda pdf: oracles.check_scores(
                pdf, t["ids"], {col: t[key] for col, key in pairs})

        def checkpointed(max_iter):
            cm = CheckpointManager(ckpt, "pagerank", algorithm="pagerank")
            res = pr_mod.pagerank(e, max_iter=max_iter, tol=None,
                                  broadcast_ranks=False, checkpointer=cm)
            return res.ranks.toPandas(), len(cm.committed())

        def check_resume(got):
            pdf, commits = got
            if commits != CKPT_TOTAL:
                return f"{commits} committed iterations after resume, {CKPT_TOTAL} expected"
            return check(("rank", "ckpt_total"))(pdf)

        commit = (CheckpointManager, "commit", "checkpoint.commit")
        restore = (CheckpointManager, "restore", "checkpoint.restore")
        calls = [
            Call("pagerank.pagerank",
                 lambda: pr_mod.pagerank(e, max_iter=rounds, tol=None).ranks.toPandas(),
                 check(("rank", "pagerank")),
                 [(pr_mod, "pagerank_df_prepare", "pagerank.pagerank_df_prepare"),
                  (pr_mod, "pagerank_df_iterate", "pagerank.pagerank_df_iterate")], 0),
            Call("pagerank.personalized_pagerank",
                 lambda: pr_mod.personalized_pagerank(
                     e, self.seeds, max_iter=rounds, tol=None).ranks.toPandas(),
                 check(("rank", "ppr")), chain=1),
            Call("hits.hits",
                 lambda: hits(e, max_iter=rounds).scores.toPandas(),
                 check(("hub", "hub"), ("auth", "auth")), chain=2),
            Call("pagerank.pagerank_kernel",
                 lambda: pr_mod.pagerank_kernel(e, max_iter=rounds).ranks.toPandas(),
                 check(("rank", "pagerank")),
                 [(pr_mod, "pagerank_kernel_prepare", "pagerank.pagerank_kernel_prepare"),
                  (pr_mod, "pagerank_kernel_iterate", "pagerank.pagerank_kernel_iterate")], 3),
            Call("pagerank.checkpointed", lambda: checkpointed(CKPT_FIRST),
                 lambda got: check(("rank", "ckpt_first"))(got[0]), [commit], 4),
            Call("pagerank.resume", lambda: checkpointed(CKPT_TOTAL),
                 check_resume, [commit, restore], 4),
        ]
        # the warm-up's resume starts from nothing, which warms the same
        # shuffle rounds and commits as the checkpointed call; pagerank warms
        # the engine personalized_pagerank shares
        skip = ("pagerank.checkpointed", "pagerank.personalized_pagerank")
        return [c for c in calls if c.name not in skip] if warm else calls

    def end_pass(self) -> None:
        self.checkpoint_mb = _dir_mb(self.ckpt)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def extras(self, spans: dict[str, dict]) -> dict[str, float]:
        return {
            "checkpoint.bytes_written_mb": self.checkpoint_mb,
            "checkpoint.commits": spans["checkpoint.commit"]["calls"],
            "pagerank.jobs_per_round":
                spans["pagerank.pagerank_df_iterate"]["jobs"] / PR_ROUNDS,
            "pagerank.kernel_result_mb_per_round":
                spans["pagerank.pagerank_kernel_iterate"]["result_mb"] / PR_ROUNDS,
        }


# -- crawl_structure, part 2: graph structure -------------------------------------

class GraphStructure(Workload):
    """Triangle counts on the dense hub-core graph (broadcast bitset) and on
    the web graph (auto, then the join strategy), then connected components
    and label propagation on the web graph."""

    PASS_S = 9.5

    def load(self) -> None:
        self.truth = np.load(self.path("truth.npz"))
        with open(self.path("truth.json")) as f:
            self.counts = json.load(f)
        self.web = self.read_cached("web")
        self.dense = self.read_cached("dense")
        self.kernel_stats: dict[str, dict] = {}
        self.cc_rounds = 0

    def breakdown(self, times):
        edges = self.sizes["dense"]["edges"] + 2 * self.sizes["web"]["edges"]
        tc = sum(t for k, t in times.items() if k.startswith("triangle."))
        return {
            "tc_edges_per_s": (edges / tc, "1/s"),
            "components_s": (times["components.connected_components_auto"]
                             + times["labelprop.label_propagation"], "s"),
        }

    def calls(self, warm: bool = False) -> list[Call]:
        from graphsetintersection_spark.operators import iterative
        from graphsetintersection_spark.operators.components import connected_components_auto
        from graphsetintersection_spark.operators.labelprop import label_propagation
        from graphsetintersection_spark.operators.triangle import (
            triangle_count_kernel,
            triangle_count_kernel_with_stats,
        )

        def tc(graph, edges, **kw):
            # the traced pass reads the kernel counters through the
            # accumulator variant of the same planner
            def f():
                if not self.tracer.enabled:
                    return triangle_count_kernel(edges, **kw)
                tri, stats = triangle_count_kernel_with_stats(edges, **kw)
                self.kernel_stats[graph] = dict(stats, triangles=tri)
                return tri
            return f

        def tc_check(key):
            return lambda got: oracles.check_count(key, got, self.counts[key])

        def cc():
            res = connected_components_auto(self.web)
            self.cc_rounds = res.rounds
            return res.components.toPandas()

        def labels(col, key):
            return lambda pdf: oracles.check_labels(pdf, self.truth["ids"], col,
                                                    self.truth[key])

        prep = (iterative, "prepare_undirected", "iterative.prepare_undirected")
        return [
            Call("triangle.triangle_count_kernel.dense", tc("dense", self.dense),
                 tc_check("tc_dense"), chain=0),
            Call("triangle.triangle_count_kernel.web", tc("web", self.web),
                 tc_check("tc_web"), chain=1),
            Call("triangle.triangle_count_kernel.web_join",
                 tc("web_join", self.web, strategy="join"), tc_check("tc_web"), chain=2),
            Call("components.connected_components_auto", cc,
                 labels("component", "components"), [prep], 3),
            Call("labelprop.label_propagation",
                 lambda: label_propagation(self.web, max_rounds=1 if warm else LPA_ROUNDS,
                                           fixed_rounds=True).labels.toPandas(),
                 labels("label", "labels"), [prep], 4),
        ]

    def extras(self, spans: dict[str, dict]) -> dict[str, float]:
        out: dict[str, float] = {
            "components.rounds": float(self.cc_rounds),
            "labelprop.jobs_per_round":
                spans["labelprop.label_propagation"]["jobs"] / LPA_ROUNDS,
        }
        for graph, st in self.kernel_stats.items():
            out[f"kernels.{graph}.inter_cnt"] = float(st["inter_cnt"])
            out[f"kernels.{graph}.cmp_cnt"] = float(st["cmp_cnt"])
            out[f"kernels.{graph}.cmp_per_triangle"] = st["cmp_cnt"] / max(1, st["triangles"])
        return out


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


class CrawlStructure(Workload):
    """The crawl ingest calls, then the graph structure calls, in one pass
    (one JVM and one warm-up for both keeps a run within the time budget)."""

    PASS_S = CrawlIngest.PASS_S + GraphStructure.PASS_S

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [CrawlIngest(*args), GraphStructure(*args)]

    def load(self) -> None:
        for part in self.parts:
            part.load()

    def calls(self, warm: bool = False) -> list[Call]:
        out = []
        for i, part in enumerate(self.parts):
            for c in part.calls(warm):
                c.chain += 10 * i
                out.append(c)
        return out

    def end_pass(self) -> None:
        for part in self.parts:
            part.end_pass()

    def breakdown(self, times):
        return {k: v for part in self.parts for k, v in part.breakdown(times).items()}

    def extras(self, spans):
        return {k: v for part in self.parts for k, v in part.extras(spans).items()}


WORKLOADS = {
    "rank_iterations": RankIterations,
    "crawl_structure": CrawlStructure,
}

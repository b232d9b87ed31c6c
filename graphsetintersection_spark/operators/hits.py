"""HITS (hubs & authorities) — Kleinberg's link-analysis twin of PageRank.

Semantics (synchronous, L2-normalized — the classic formulation): per
iteration auth(v) = Σ_{u→v} hub(u) then L2-normalize over all vertices;
hub(u) = Σ_{u→v} auth(v) then L2-normalize. The reference engine has no
HITS (its query surface is TC / orderings / matching), but a link-graph
analytics engine is expected to carry it next to PageRank — same corpus,
same iterative-DataFrame machinery, and the web-spam / topical-ranking
use cases the north rule's Common-Crawl corpus exists for.

Execution runs on operators/pagerank.py's engine:

- below the ~10M-vertex cutover, the BROADCAST-STATE ENGINE: prepare is
  ONE exchange — one state cache holding the edges, their reversals and
  one synthetic self row per vertex (row kinds flagged by ``_k``),
  partitioned by the aggregation key — so both half-steps aggregate
  exchange-free on the same cache (the auth half-step skips the reversed
  rows, the hub half-step the forward ones). Each half-step is exactly
  TWO Spark jobs (the score broadcast build, one eager localCheckpoint of
  the raw total vector) and an ``Observation`` on the checkpoint returns
  that half-step's L2 norm, which the next broadcast build divides out:
  every half-step still normalizes, with the same float association, and
  no half-step runs a norm aggregate job. The hub half-step's self rows
  also carry each vertex's normalized auth, so the final scores are a
  projection — no finalize join;
- above it, the scores shuffle into a sort-merge join against two
  pre-sorted per-key caches and the aggregation is the one exchange per
  half-step, with the shared salted two-stage aggregation
  (plans/skew.two_stage_agg) engaged per aggregation key when that key's
  degree distribution is Zipf-skewed;
- every half-step's vector is materialized with lineage truncation
  (localCheckpoint) and the superseded snapshots released, so the
  logical plan stays O(1) across iterations and long runs do not
  accumulate cached score vectors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.iterative import (
    BROADCAST_STATE_MAX_VERTICES,
)
from graphsetintersection_spark.operators.pagerank import (
    EDGE,
    REV,
    SELF,
    broadcast_step,
    self_value,
    state_cache,
)


@dataclass
class HITSResult:
    scores: DataFrame  # (v: long, hub: double, auth: double)
    iterations: int
    converged: bool
    deltas: list = field(default_factory=list)


def _l2_normalized(raw: DataFrame, verts: DataFrame) -> DataFrame:
    """Full-vertex score vector from a sparse aggregation result,
    MATERIALIZED (eager localCheckpoint): missing vertices get 0, then the
    whole vector divides by its L2 norm (zeros contribute nothing, so the
    norm over the sparse frame equals the norm over the full vector — one
    small aggregate, broadcast as one row). ``raw`` is persisted
    transiently because the plan references it twice (the norm aggregate
    and the vector itself) and Spark does not dedupe common subtrees — an
    uncached half-step aggregation would execute twice; the cache is
    released once the checkpoint holds the result."""
    raw = raw.persist()
    try:
        nm = raw.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_nm"))
        return (
            verts.join(raw, "v", "left")
            .crossJoin(F.broadcast(nm))
            .select(
                "v",
                (F.coalesce(F.col("s"), F.lit(0.0)) / F.col("_nm")).alias(
                    "s"
                ),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        raw.unpersist()


def hits(
    edges: DataFrame,
    max_iter: int = 10,
    tol: float | None = None,
    dedup: bool = True,
    broadcast_scores: bool | None = None,
    salt_hubs: int | str | None = "auto",
) -> HITSResult:
    """Run HITS for ``max_iter`` iterations (or until the hub vector's max
    absolute change drops below ``tol``). Returns per-vertex (hub, auth)
    scores, both L2-normalized.

    ``broadcast_scores`` None picks by vertex count (the shared cutover);
    ``salt_hubs`` engages the salted two-stage aggregation on the shuffle
    path per aggregation key ("auto" probes each key's skew, an int forces
    that salt count, None disables).

    ``dedup=False`` keeps real self loops u→u as edges (u is then its own
    hub and authority); parallel edges collapse either way, inside the one
    prepare exchange."""
    if max_iter < 1:
        raise ValueError("hits: max_iter must be >= 1")
    spark = edges.sparkSession
    # the shuffle path needs no reversed rows; auto mode builds them, as
    # the vertex count that decides the path comes from this very cache
    cache = state_cache(edges, dedup=dedup, reverse=broadcast_scores is not False)
    try:
        obs = Observation()
        verts = (
            cache.where(F.col("_k") == SELF)
            .select(F.col("dst").alias("v"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n = int(obs.get["n"])
        if n == 0:
            empty = spark.createDataFrame([], "v long, hub double, auth double")
            return HITSResult(empty, 0, True)
        if broadcast_scores is None:
            broadcast_scores = n <= BROADCAST_STATE_MAX_VERTICES
        if broadcast_scores:
            return _hits_broadcast(cache, verts, max_iter, tol)
        return _hits_shuffle(cache, verts, max_iter, tol, salt_hubs)
    finally:
        cache.unpersist(blocking=True)


def _hub_delta(hub_new: DataFrame, hub: DataFrame) -> float:
    return float(
        hub_new.withColumnRenamed("s", "ns")
        .join(hub, "v")
        .agg(F.max(F.abs(F.col("ns") - F.col("s"))))
        .collect()[0][0]
    )


def _hits_broadcast(cache, verts, max_iter, tol) -> HITSResult:
    """The broadcast-state rounds: 4 jobs per iteration (module doc)."""
    total = F.sum(F.when(F.col("_k") != SELF, F.col("s"))).alias("s")
    norm = [F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nm")]

    def scaled(nm, name="s"):
        # the half-step's normalization, applied on the broadcast side:
        # vertices without incident rows hold a null total, i.e. score 0
        return (F.coalesce(F.col("s"), F.lit(0.0)) / F.lit(nm)).alias(name)

    hub = verts.select("v", F.lit(1.0).alias("s"))
    live: list[DataFrame] = []
    converged = False
    deltas: list[float] = []
    it = 0
    for it in range(max_iter):
        a_raw, m = broadcast_step(cache, hub, [total], ["v", "s"], norm, skip=REV)
        auth = a_raw.select("v", scaled(m["nm"]))
        h_raw, m = broadcast_step(
            cache, auth, [total, self_value("s", "auth")],
            ["v", "s", "auth"], norm, skip=EDGE,
        )
        hub_new = h_raw.select("v", scaled(m["nm"]))
        delta = None
        if tol is not None:
            delta = _hub_delta(hub_new, hub)
            deltas.append(delta)
        for leaf in live:
            leaf.unpersist()
        live = [a_raw, h_raw]
        hub = hub_new
        if tol is not None and delta < tol:
            converged = True
            it += 1
            break
    else:
        it = max_iter
    # the last hub half-step's self rows carried each vertex's normalized
    # auth: the scores are one projection over its leaf
    scores = h_raw.select("v", scaled(m["nm"], "hub"), "auth")
    return HITSResult(scores, it, converged, deltas)


def _hits_shuffle(cache, verts, max_iter, tol, salt_hubs) -> HITSResult:
    """The at-scale rounds: two stationary per-key caches, a sort-merge
    join and one (optionally salted) exchange per half-step."""
    from graphsetintersection_spark.plans.skew import (
        decide_hub_salting,
        mark_hubs,
        two_stage_agg,
    )

    e = cache.where(F.col("_k") == EDGE).select("src", "dst")

    def half_step(edge_cache, scores, join_key, agg_key, plan):
        """One aggregation half-step: Σ over incident edges of the other
        side's score, grouped on ``agg_key``."""
        sc = scores.withColumnRenamed("v", join_key)
        joined = edge_cache.join(sc, join_key)
        if plan is not None:
            return two_stage_agg(
                joined.withColumnRenamed(agg_key, "v"),
                ["v"],
                F.sum("s"),
                F.sum,
                salt_from=join_key,
                salts=plan.salts,
                out_col="s",
            )
        return joined.groupBy(F.col(agg_key).alias("v")).agg(
            F.sum(F.col("s")).alias("s")
        )

    # e_dst/e_src alias the setup cache until reassigned below, so the
    # finally at the bottom releases whatever exists at ANY failure point
    # (repeat unpersists are idempotent no-ops); blocking drops, because
    # a back-to-back rerun would otherwise build its caches while these
    # blocks are still being released
    e_dst = e_src = e
    try:
        # per-aggregation-key salting plans
        plan_dst = plan_src = None
        if salt_hubs:
            if salt_hubs == "auto":
                plan_dst = decide_hub_salting(e, "dst")
                plan_src = decide_hub_salting(e, "src")
            else:
                s = int(salt_hubs)
                plan_dst = decide_hub_salting(e, "dst", salts=s, force=True)
                plan_src = decide_hub_salting(e, "src", salts=s, force=True)

        # two stationary caches — one per aggregation key, each
        # sort-merge-joined on the OPPOSITE key, so pre-sorted
        if plan_dst is not None:
            e_dst = mark_hubs(e_dst, "dst", plan_dst)
        if plan_src is not None:
            e_src = mark_hubs(e_src, "src", plan_src)
        e_dst = e_dst.repartition("src").sortWithinPartitions("src").persist()
        e_src = e_src.repartition("dst").sortWithinPartitions("dst").persist()
        # materialize the two stationary caches CONCURRENTLY: the builds
        # are independent jobs over the same setup cache, and submitting
        # them from one thread would serialize two shuffle latencies
        # (Spark job submission is thread-safe; the cluster schedules
        # both at once)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(e_dst.count), pool.submit(e_src.count)]:
                f.result()
        cache.unpersist()  # the per-key caches are self-contained from here

        hub = verts.select("v", F.lit(1.0).alias("s")).localCheckpoint(
            eager=True
        )
        auth = None
        # leaves whose blocks the CURRENT hub/auth views still read; they
        # are released only after the next iteration's leaves (and the
        # delta aggregate) have consumed them
        live_leaves: list[DataFrame] = [hub]
        # NOTE (r6): deferring the per-half-step localCheckpoint to a
        # periodic barrier (lazy transient caches in between, checkpoint
        # every 4 iterations) was implemented and MEASURED MUCH SLOWER
        # (10 warm iterations 5.0 s → 19-25 s at sf0.1): the barrier has
        # to plan a 4-iteration-deep nest of broadcast joins + scalar
        # subqueries, and planning cost dominates the saved checkpoint
        # jobs — the same deep-lazy-plan failure mode as the BFS lazy
        # visited-union experiment (relabel.py). Checkpoint-per-half-step
        # stands. The depth-2 variant (auth half-step as a transient
        # persist, materialized inside the hub checkpoint that references
        # it twice) was ALSO measured slower (interleaved A/B at sf0.1:
        # warm 5.7 → 6.1 s, jobs 104 → 112): the broadcast build over an
        # unmaterialized cache with a nested norm-aggregate broadcast
        # spawns MORE AQE stage jobs than the checkpoint it replaces.
        converged = False
        deltas: list[float] = []
        it = 0
        for it in range(max_iter):
            auth_new = _l2_normalized(
                half_step(e_dst, hub, "src", "dst", plan_dst), verts
            )
            hub_new = _l2_normalized(
                half_step(e_src, auth_new, "dst", "src", plan_src), verts
            )
            delta = None
            if tol is not None:
                delta = _hub_delta(hub_new, hub)
                deltas.append(delta)
            for leaf in live_leaves:
                leaf.unpersist()
            live_leaves = [auth_new, hub_new]
            hub, auth = hub_new, auth_new
            if tol is not None and delta < tol:
                converged = True
                it += 1
                break
        else:
            it = max_iter

        scores = (
            verts.join(hub.withColumnRenamed("s", "hub"), "v")
            .join(auth.withColumnRenamed("s", "auth"), "v")
            .select("v", "hub", "auth")
            .localCheckpoint(eager=True)
        )
        for leaf in live_leaves:
            leaf.unpersist()
        return HITSResult(scores, it, converged, deltas)
    finally:
        e_dst.unpersist(blocking=True)
        e_src.unpersist(blocking=True)

"""PageRank as an iterative DataFrame job, on one power-iteration engine.

Semantics (textbook power iteration with damping + dangling-mass
redistribution, per the north rule; the reference repo supplies the graph
data model and the set-kernel substrate, not PageRank itself):

    r_{t+1}(v) = (1-α)/N + α · ( Σ_{u→v} r_t(u)/outdeg(u) + D_t/N )
    D_t        = Σ_{outdeg(u)=0} r_t(u)          (dangling mass)
    r_0(v)     = 1/N  over all N distinct vertices

Below ``BROADCAST_STATE_MAX_VERTICES`` the rounds run on the
BROADCAST-STATE ENGINE shared with operators/hits.py:

- prepare is ONE exchange (``state_cache``): the edges plus one synthetic
  self row per vertex, flagged by an explicit row-kind column ``_k``,
  hash-partitioned by dst and deduplicated in place; out-degree is one
  aggregate over that cache and rides ON the rank vector (no e ⋈ out_deg
  join, no per-vertex flag table);
- each round is exactly TWO Spark jobs (``broadcast_step``): the rank
  broadcast build, and one eager localCheckpoint of the exchange-free
  dst aggregation. The self rows make that aggregation total (one row per
  vertex, carrying the vertex's own out-degree and restart weight), and
  an ``Observation`` on the checkpoint job returns the scalar the NEXT
  round needs — the dangling mass D (and the l∞ delta when ``tol`` is
  set) — so no round runs an aggregate job of its own.

Above the cutover the at-scale shuffle+salt rounds run unchanged:
    shares   = ranks ⋈ edges on src          (sort-merge join against the
               src-partitioned, src-sorted degree-annotated edge cache)
    contribs = shares.groupBy(dst).sum       (two-stage salted for
               Zipf-hub dst keys, plans.skew)
    ranks    = vertices ⟕ contribs + closed-form dangling/teleport terms

Each iteration optionally commits a checkpoint snapshot (plans.checkpoint)
→ plan lineage stays O(1) and any run resumes from the last committed
iteration. Convergence: l∞(r_{t+1} - r_t) < tol. Scores are float64; the
north rule's allclose(1e-6) is exactly the tolerance class this
reproduces under varying partitioning (float sums reassociate).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.iterative import (
    BROADCAST_STATE_MAX_VERTICES,
)
from graphsetintersection_spark.plans.checkpoint import CheckpointManager

# row kinds of the state cache (column ``_k``): a real edge, a reversed
# edge (HITS' hub half-step), a synthetic per-vertex self row. The flag
# is explicit because a real self loop u→u (kept by ``dedup=False``) and
# the synthetic (u, u) row must never be told apart by src == dst alone.
EDGE, REV, SELF = 0, 1, 2


@dataclass
class PageRankResult:
    ranks: DataFrame  # (v: long, rank: double)
    iterations: int
    converged: bool
    deltas: list = field(default_factory=list)


def state_cache(
    edges: DataFrame, dedup: bool = True, reverse: bool = False
) -> DataFrame:
    """The broadcast-state engine's stationary edge side, built with ONE
    exchange: (src, dst, _k) rows — the edges (cast, null-free, real self
    loops dropped unless ``dedup=False``), their reversals when
    ``reverse``, and one synthetic (v, v, SELF) row per endpoint —
    repartitioned by dst and deduplicated in place (HashPartitioning(dst)
    already clusters equal rows, so ``dropDuplicates`` needs no second
    exchange, as in ``symmetrize_partitioned``; parallel edges collapse
    in every mode). Persisted, NOT materialized: the caller's first job
    over it fills it (and owns releasing it)."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if dedup:
        e = e.where(F.col("src") != F.col("dst"))
    kinds = [("src", "dst", EDGE), ("src", "src", SELF), ("dst", "dst", SELF)]
    if reverse:
        kinds.append(("dst", "src", REV))
    # one scan of the input emits every row kind (a union would scan an
    # uncached derived input once per kind)
    rows = e.select(F.inline(F.array(*[
        F.struct(
            F.col(s).alias("src"),
            F.col(d).alias("dst"),
            F.lit(k).cast("tinyint").alias("_k"),
        )
        for s, d, k in kinds
    ])))
    return rows.repartition("dst").dropDuplicates().persist()


def broadcast_step(cache, vec, aggs, cols, observe, skip=None, keep=None):
    """One round step of the broadcast-state engine — exactly two Spark
    jobs: ``vec`` (keyed ``v``) is broadcast onto the dst-partitioned
    ``cache`` by src (rows of kind ``skip`` filtered out), aggregated per
    dst with ``aggs`` (exchange-free: the cache is partitioned on the
    grouping key), projected to ``cols`` and materialized by one eager
    localCheckpoint while an Observation collects ``observe`` — the
    scalar(s) the next step needs, at no job of their own. ``keep``
    narrows the leaf after the observation (columns only the observed
    metrics read). Returns (leaf, observed metrics dict)."""
    rows = cache if skip is None else cache.where(F.col("_k") != skip)
    obs = Observation()
    out = (
        rows.join(F.broadcast(vec.withColumnRenamed("v", "src")), "src")
        .groupBy(F.col("dst").alias("v"))
        .agg(*aggs)
        .select(*cols)
        .observe(obs, *observe)
    )
    if keep is not None:
        out = out.select(*keep)
    return out.localCheckpoint(eager=True), obs.get


def self_value(col: str, alias: str | None = None):
    """Aggregate reading a vertex's OWN broadcast value off its single
    synthetic self row (real rows yield null, which max ignores)."""
    return F.max(F.when(F.col("_k") == SELF, F.col(col))).alias(alias or col)


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    dedup: bool = True,
    broadcast_ranks: bool | None = None,
    salt_hubs: int | str | None = "auto",
) -> PageRankResult:
    """Run PageRank to convergence (or ``max_iter``). ``tol=None`` runs a
    fixed iteration count (used for oracle parity). Resumes automatically
    from ``checkpointer``'s last committed iteration if present.

    ``dedup=False`` keeps real self loops u→u as edges (they count in
    out-degree and send rank(u)/outdeg(u) back to u); parallel edges are
    collapsed either way, inside the one prepare exchange.

    ``salt_hubs``: explicit two-stage salted aggregation of contributions
    for high-in-degree dst keys (the north rule's "salted hubs"). Only
    active on the SHUFFLE path — in broadcast mode the contribution
    aggregation is already exchange-free (edges stationary by dst), so
    salting would add cost for nothing. "auto" enables S=16 salts when the
    in-degree distribution is skewed; an int forces that salt count."""
    prep = pagerank_df_prepare(
        edges,
        dedup=dedup,
        broadcast_ranks=broadcast_ranks,
        salt_hubs=salt_hubs,
    )
    try:
        return pagerank_df_iterate(
            prep,
            alpha=alpha,
            max_iter=max_iter,
            tol=tol,
            checkpointer=checkpointer,
            checkpoint_every=checkpoint_every,
        )
    finally:
        prep.unpersist()


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    weight_col: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    dedup: bool = True,
    broadcast_ranks: bool | None = None,
    salt_hubs: int | str | None = "auto",
) -> PageRankResult:
    """Personalized PageRank: random walks restart at the SEED set instead
    of uniformly — the standard link-graph primitive for topical ranking,
    seed-based spam scoring, and related-page retrieval (r' = (1−α)·p +
    α·(Aᵀr/outdeg + D·p), p supported on the seeds).

    ``seeds``: a DataFrame with a ``v`` column (optionally ``weight_col``
    for a non-uniform restart). Duplicate seed rows sum their weight;
    seeds absent from the graph are dropped and the surviving weights
    renormalized to Σp = 1 (raises if none survive). Same engine as
    ``pagerank``: the broadcast-state rounds below the cutover (p rides on
    the rank vector) and the salted shuffle path above it; per-iteration
    lineage truncation; checkpoint/resume."""
    prep = pagerank_df_prepare(
        edges,
        dedup=dedup,
        broadcast_ranks=broadcast_ranks,
        salt_hubs=salt_hubs,
    )
    try:
        w = (
            F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        ).alias("w")
        # the surviving seeds are materialized once; their total and
        # minimum weight ride that job as an observation
        obs = Observation()
        s = (
            seeds.select(F.col("v").cast("long").alias("v"), w)
            .groupBy("v")
            .agg(F.sum("w").alias("w"))
            .join(prep.verts.select("v"), "v")  # seeds in the graph only
            .observe(obs, F.sum("w").alias("t"), F.min("w").alias("mn"))
            .localCheckpoint(eager=True)
        )
        row = obs.get
        tot = float(row["t"] or 0.0)
        # inverted comparisons so NaN weights fail too (NaN makes every
        # direct comparison False — a NaN total would otherwise slip past
        # `tot <= 0` and return a silently all-NaN rank vector)
        if row["mn"] is not None and not (float(row["mn"]) >= 0.0):
            raise ValueError(
                "personalized_pagerank: seed weights must be non-negative "
                "(and not NaN)"
            )
        if not (tot > 0.0):
            raise ValueError(
                "personalized_pagerank: no seed vertices present in the "
                "graph (or zero total seed weight)"
            )
        tp = s.select("v", (F.col("w") / F.lit(tot)).alias("p"))
        return pagerank_df_iterate(
            prep,
            alpha=alpha,
            max_iter=max_iter,
            tol=tol,
            checkpointer=checkpointer,
            checkpoint_every=checkpoint_every,
            teleport=tp,
        )
    finally:
        prep.unpersist()


@dataclass
class PreparedDFGraph:
    """Stationary state for the power iteration: the vertex set with its
    out-degree (``verts``: v, out_deg), its size ``n`` and dangling count
    ``n_dang``, and the round's edge side ``e_deg`` — the state cache
    itself on the broadcast path, the degree-annotated (src, dst, out_deg)
    cache partitioned and sorted by src on the shuffle path."""

    verts: DataFrame
    n: int
    n_dang: int
    e_deg: DataFrame
    broadcast_ranks: bool
    salt_s: int | None

    def unpersist(self) -> None:
        # blocking: the caches are multi-GB at bench scale — an async drop
        # races the next run's memory demand
        self.verts.unpersist(blocking=True)
        self.e_deg.unpersist(blocking=True)


def pagerank_df_prepare(
    edges: DataFrame,
    dedup: bool = True,
    broadcast_ranks: bool | None = None,
    salt_hubs: int | str | None = "auto",
) -> PreparedDFGraph:
    """One-time index build: the state cache (one exchange), then ONE
    aggregate over it yielding every vertex with its out-degree (each
    vertex owns a self row, so dst-only vertices fall out with out_deg 0),
    materialized by a localCheckpoint whose Observation returns n and the
    dangling count (no count pass). The shuffle path builds
    its src-partitioned degree-annotated cache from the state cache, which
    then serves only as the canonical setup input. Separated from the
    loop so repeated runs pay it once per graph — the analog of the
    reference's printed index-build phase (src/tc.cpp:28-29)."""
    cache = state_cache(edges, dedup=dedup)
    e_deg = cache
    try:
        obs = Observation()
        verts = (
            cache.groupBy(F.col("src").alias("v"))
            .agg(F.count(F.when(F.col("_k") == EDGE, 1)).alias("out_deg"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("out_deg") == 0, 1)).alias("dang"),
            )
            .localCheckpoint(eager=True)
        )
        n, n_dang = int(obs.get["n"]), int(obs.get["dang"])
        # ranks-side join strategy (the one cut-over rule,
        # operators.iterative): below it the rank vector is BROADCAST
        # each round onto the dst-partitioned state cache — zero
        # per-iteration shuffle, the edges stay stationary; beyond it,
        # edges partition by src, only ranks shuffle for the join, and the
        # dst aggregation is the one remaining exchange — the standard
        # ship-vertex-state iterative-graph strategy either way.
        if broadcast_ranks is None:
            broadcast_ranks = n <= BROADCAST_STATE_MAX_VERTICES
        salt_s: int | None = None
        if not broadcast_ranks:
            e_deg, salt_s = _shuffle_edges(cache, verts, n, salt_hubs)
            cache.unpersist()
        return PreparedDFGraph(verts, n, n_dang, e_deg, broadcast_ranks, salt_s)
    except BaseException:
        # the caches must not outlive this call on an error path
        cache.unpersist()
        e_deg.unpersist()
        raise


def _shuffle_edges(cache, verts, n, salt_hubs):
    """The shuffle path's edge side: degree-annotated edges cached
    hash(src)-partitioned AND src-sorted so the per-iteration sort-merge
    join sorts only the (small) rank side, hub-marked when salted."""
    # salted-hub decision: mark dst vertices whose in-degree dominates;
    # their contribution rows are pre-aggregated under S salts so no
    # single reducer sums a whole hub alone. Shared probe/marking with CC
    # and LPA: plans.skew.
    from graphsetintersection_spark.plans.skew import decide_hub_salting, mark_hubs

    e = cache.where(F.col("_k") == EDGE).select("src", "dst")
    plan = None
    if salt_hubs and n:
        if salt_hubs == "auto":
            plan = decide_hub_salting(e, "dst")
        else:
            plan = decide_hub_salting(e, "dst", salts=int(salt_hubs), force=True)
    out_deg = verts.where(F.col("out_deg") > 0)
    e_deg = e.join(out_deg.withColumnRenamed("v", "src"), "src")
    if plan is not None:
        e_deg = mark_hubs(e_deg, "dst", plan)
    e_deg = e_deg.repartition("src").sortWithinPartitions("src").persist()
    try:
        if n:
            e_deg.count()  # materialize once
    except BaseException:
        e_deg.unpersist()
        raise
    return e_deg, plan.salts if plan is not None else None


def pagerank_df_iterate(
    prep: PreparedDFGraph,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 1,
    teleport: DataFrame | None = None,
) -> PageRankResult:
    """The DataFrame power-iteration loop over a PreparedDFGraph.

    ``teleport`` (v, p) generalizes the restart distribution: with None
    (the default) every vertex teleports uniformly (classic PageRank);
    with a normalized vector (Σp = 1) the jump — and the dangling-mass
    redistribution — lands on p instead, i.e. personalized PageRank:
    r' = (1−α)·p + α·(Aᵀr/outdeg + D·p). Rank mass stays conserved
    (Σr' = (1−α) + α·(Σcontrib + D) = 1), so the shuffle path's
    D = 1 − Σcontrib dangling trick applies verbatim."""
    spark = prep.e_deg.sparkSession
    verts, n, e_deg = prep.verts, prep.n, prep.e_deg
    broadcast_ranks, salt_s = prep.broadcast_ranks, prep.salt_s
    if n == 0:
        empty = spark.createDataFrame([], "v long, rank double")
        return PageRankResult(empty, 0, True)

    vp = verts
    dm = prep.n_dang / n  # dangling mass of the uniform r_0
    if teleport is not None:
        # vertex-aligned restart vector, materialized ONCE (localCheckpoint
        # keeps the plans that read it leaves); its observation is r_0 = p's
        # dangling mass. Below the cutover the seed side is broadcast (at
        # most n rows): one build job instead of a two-sided shuffle join.
        obs = Observation()
        vp = (
            verts.join(F.broadcast(teleport) if broadcast_ranks else teleport,
                       "v", "left")
            .select("v", "out_deg", F.coalesce(F.col("p"), F.lit(0.0)).alias("p"))
            .observe(obs, _dangling_sum("p"))
            .localCheckpoint(eager=True)
        )
        dm = obs.get["dm"]

    # the broadcast rounds carry out_deg (and p) ON the rank vector: the
    # self rows surface them per dst through the aggregation
    carry = ["out_deg"] + (["p"] if teleport is not None else [])
    extra = carry if broadcast_ranks else []
    start_iter = 0
    if teleport is not None:
        ranks = vp.select("v", F.col("p").alias("rank"), *extra)
    else:
        ranks = verts.select("v", F.lit(1.0 / n).alias("rank"), *extra)
    if checkpointer is not None:
        restored = checkpointer.restore(spark)
        if restored is not None:
            start_iter, ranks = restored
            start_iter += 1
            if broadcast_ranks:
                # a snapshot may hold only (v, rank): attach the carried
                # columns once, and read the dangling mass off it once
                ranks = ranks.select("v", "rank").join(vp.select("v", *carry), "v")
                dm = ranks.agg(_dangling_sum("rank")).collect()[0][0]

    if broadcast_ranks:
        aggs = [
            F.sum(
                F.when(F.col("_k") != SELF, F.col("rank") / F.col("out_deg"))
            ).alias("contrib"),
            *[self_value(c) for c in carry],
        ]
        observe = [_dangling_sum("rank")]
        if tol is not None:
            # the self row also brings the vertex's previous rank, so the
            # l∞ delta is one more observed metric — no join, no job
            aggs.append(self_value("rank", "_prev"))
            observe.append(
                F.max(F.abs(F.col("rank") - F.col("_prev"))).alias("delta")
            )

    # Per round: the new rank vector is materialized WITH lineage
    # truncation (localCheckpoint / durable snapshot commit) so the
    # logical plan stays O(1) across iterations.
    converged = False
    deltas: list[float] = []
    it = start_iter
    prev_snapshot: DataFrame | None = None  # superseded localCheckpoint
    for it in range(start_iter, max_iter):
        commit = checkpointer is not None and (
            it % checkpoint_every == 0 or it == max_iter - 1
        )
        contribs_cache = None
        if broadcast_ranks:
            # BROADCAST-STATE ROUND: 2 jobs; D, observed on the previous
            # round's checkpoint, enters the closed-form terms as a literal
            contrib = F.coalesce(F.col("contrib"), F.lit(0.0))
            if teleport is not None:
                restart = F.lit(1.0 - alpha) * F.col("p") + F.lit(alpha) * (
                    contrib + F.lit(dm) * F.col("p")
                )
            else:
                restart = F.lit((1.0 - alpha) / n) + F.lit(alpha) * (
                    contrib + F.lit(dm) / F.lit(float(n))
                )
            prev = ["_prev"] if tol is not None else []
            new_ranks, m = broadcast_step(
                e_deg, ranks, aggs, ["v", restart.alias("rank"), *carry, *prev],
                observe, keep=["v", "rank", *carry] if prev else None,
            )
            dm = m["dm"]
            delta = m.get("delta")
            if delta is not None:
                deltas.append(float(delta))
            if commit:
                snap = new_ranks
                new_ranks = checkpointer.commit(
                    snap, it, metrics={"delta": delta, "n_vertices": n}
                )
                snap.unpersist()
        else:
            ranks_src = ranks.withColumnRenamed("v", "src")
            joined = e_deg.join(ranks_src, "src")
            term = F.col("rank") / F.col("out_deg")
            if salt_s:
                # two-stage salted aggregation (plans.skew.two_stage_agg):
                # hub dst rows split across salt_s sub-keys (deterministic
                # salt from src) so the first shuffle spreads each hub over
                # S reducers; the second stage sums at most S rows per hub.
                from graphsetintersection_spark.plans.skew import two_stage_agg

                contribs = two_stage_agg(
                    joined.withColumnRenamed("dst", "v"),
                    ["v"],
                    F.sum(term),
                    F.sum,
                    salt_from="src",
                    salts=salt_s,
                    out_col="contrib",
                ).persist()
            else:
                contribs = (
                    joined.groupBy(F.col("dst").alias("v"))
                    .agg(F.sum(term).alias("contrib"))
                    .persist()
                )
            contribs_cache = contribs
            # dangling mass D = 1 − Σcontribs folded into the plan as a
            # 1-row broadcast over the SAME transient cache — no extra
            # driver action; the single materialization below executes
            # contribs exactly once
            tot_df = contribs.agg(
                F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("_tot")
            )
            if teleport is not None:
                restart = (
                    F.lit(1.0 - alpha) * F.col("p")
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + (F.lit(1.0) - F.col("_tot")) * F.col("p")
                    )
                )
            else:
                # kept byte-for-byte as the uniform formula (not folded
                # into the teleport expression with p = 1/n): the gate
                # hashes rank_ppm against a DuckDB oracle, and a different
                # float association could flip a .5-boundary rounding
                restart = (
                    F.lit((1.0 - alpha) / n)
                    + F.lit(alpha)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + (F.lit(1.0) - F.col("_tot")) / F.lit(float(n))
                    )
                )
            new_ranks = (
                vp.join(contribs, "v", "left")
                .crossJoin(F.broadcast(tot_df))
                .select("v", restart.alias("rank"))
            )

            # materialize + TRUNCATE lineage every iteration:
            # localCheckpoint (or the durable snapshot commit) replaces
            # the logical plan with a leaf — without this, each round's
            # analyzed plan nests the whole history and the driver's
            # analyzer eventually exhausts the heap.
            if not commit:
                new_ranks = new_ranks.localCheckpoint(eager=True)
            delta = None
            if tol is not None:
                delta = (
                    new_ranks.withColumnRenamed("rank", "new_rank")
                    .join(ranks, "v")
                    .agg(F.max(F.abs(F.col("new_rank") - F.col("rank"))))
                    .collect()[0][0]
                )
                deltas.append(float(delta))
            if commit:
                new_ranks = checkpointer.commit(
                    new_ranks,
                    it,
                    metrics={"delta": float(delta) if delta is not None else None,
                             "n_vertices": n},
                )

        # new_ranks is now self-contained; the contribs cache can go, and
        # the PREVIOUS iteration's localCheckpoint blocks are superseded —
        # drop them so long runs don't accumulate cached rank snapshots.
        # Tracked for EVERY iteration (also the non-commit ones between
        # sparse checkpoints — checkpoint_every > 1 would otherwise leak a
        # localCheckpoint per skipped commit); unpersist on a durable
        # commit's read-back frame is a harmless no-op.
        if contribs_cache is not None:
            contribs_cache.unpersist()
        if prev_snapshot is not None:
            prev_snapshot.unpersist()
        prev_snapshot = new_ranks
        ranks = new_ranks
        if tol is not None and delta is not None and delta < tol:
            converged = True
            it += 1
            break
    else:
        it = max_iter

    # the broadcast rounds carry out_deg (and p) on the rank vector; the
    # public result is (v, rank)
    return PageRankResult(ranks.select("v", "rank"), it, converged, deltas)


def _dangling_sum(col: str):
    """D = Σ_{outdeg=0} ``col`` — the oracle's own form — as one
    (observable) aggregate over a vector carrying out_deg."""
    return F.coalesce(
        F.sum(F.when(F.col("out_deg") == 0, F.col(col))), F.lit(0.0)
    ).alias("dm")


# The numpy kernel (per round: a broadcast weight vector, one mapInArrow
# bincount job over cached dense-id edge blocks, a toPandas of the
# partials, driver-side assembly) is RETIRED. Measured on 4 cores with the
# 8k-vertex / 80k-edge Zipf web graph: an identity mapInArrow over the
# 8-partition graph alone took 0.7–1.0 s against 0.13–0.27 s for a JVM
# aggregate plus collect, so its rounds ran ~0.5 s each; the whole call
# (prepare with a dense relabel + 5 rounds, then toPandas) took 5.6 s and
# 27 Spark jobs against 1.8 s and 15 jobs for the same call on the
# broadcast-state engine (perfbench rank_iterations, seed 1, traced
# pass, one run each). The Python boundary per small batch loses (the
# CIDR 2022 vectorized-UDF finding); do not retry it without new
# evidence. The names stay: pagerank_kernel is the gate's entry point,
# and the prepare/iterate pair is what the benchmarks time.


def pagerank_kernel_prepare(edges: DataFrame) -> PreparedDFGraph:
    """The engine's prepare (``pagerank_df_prepare``); it needs no dense
    0..V-1 ids, so no relabel runs."""
    return pagerank_df_prepare(edges)


def pagerank_kernel_iterate(
    prep: PreparedDFGraph,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
) -> PageRankResult:
    """The engine's loop (``pagerank_df_iterate``) with the kernel's
    fixed-round default (``tol=None``)."""
    return pagerank_df_iterate(prep, alpha=alpha, max_iter=max_iter, tol=tol)


def pagerank_kernel(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
) -> PageRankResult:
    """Broadcast-vector power iteration over stationary cached edge
    partitions: a thin call into the broadcast-state engine (see the
    retirement note above), with the former kernel's signature and
    (v, rank) result. Equals ``pagerank`` with ``tol=None``."""
    prep = pagerank_kernel_prepare(edges)
    try:
        return pagerank_kernel_iterate(
            prep, alpha=alpha, max_iter=max_iter, tol=tol
        )
    finally:
        prep.unpersist()

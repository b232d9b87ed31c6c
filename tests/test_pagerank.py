"""PageRank vs dense numpy power-iteration oracle (allclose 1e-6 — the
north rule's parity criterion), plus checkpoint/resume equivalence."""

import numpy as np
import pytest

from tests.conftest import random_graph, undirected_simple

from graphsetintersection_spark.operators.pagerank import pagerank
from graphsetintersection_spark.plans.checkpoint import CheckpointManager


def numpy_pagerank(pairs, alpha=0.85, iters=40, self_loops=False):
    """Dense oracle with identical semantics: damping + dangling mass.
    ``self_loops=True`` keeps real u→u edges (the ``dedup=False`` input)."""
    edges = {(u, v) for u, v in pairs if self_loops or u != v}
    verts = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out_deg = np.zeros(n)
    for u, v in edges:
        out_deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        share = np.where(out_deg > 0, r / np.maximum(out_deg, 1), 0.0)
        for u, v in edges:
            contrib[idx[v]] += share[idx[u]]
        dangling = r[out_deg == 0].sum()
        r = (1 - alpha) / n + alpha * (contrib + dangling / n)
    return {v: r[idx[v]] for v in verts}


def _assert_allclose(result_df, oracle, atol=1e-6):
    got = {row["v"]: row["rank"] for row in result_df.collect()}
    assert set(got) == set(oracle)
    for v in oracle:
        assert got[v] == pytest.approx(oracle[v], abs=atol), f"vertex {v}"


def test_pagerank_allclose_tiny(spark, tiny_graph):
    pairs, df = tiny_graph
    oracle = numpy_pagerank(pairs, iters=40)
    res = pagerank(df, max_iter=40, tol=None)
    assert res.iterations == 40
    _assert_allclose(res.ranks, oracle)
    total = sum(r["rank"] for r in res.ranks.collect())
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_with_dangling_and_disconnected(spark):
    # 0→1→2 (2 dangling), isolated pair 5→6, 6 dangling
    pairs = [(0, 1), (1, 2), (5, 6)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = numpy_pagerank(pairs, iters=30)
    res = pagerank(df, max_iter=30, tol=None)
    _assert_allclose(res.ranks, oracle)


def test_pagerank_convergence_stop(spark, tiny_graph):
    _, df = tiny_graph
    res = pagerank(df, max_iter=100, tol=1e-10)
    assert res.converged
    assert res.iterations < 100
    assert res.deltas[-1] < 1e-10


def test_pagerank_resume_matches_uninterrupted(spark, tiny_graph, tmp_path):
    pairs, df = tiny_graph
    full = pagerank(df, max_iter=12, tol=None)
    full_ranks = {r["v"]: r["rank"] for r in full.ranks.collect()}

    # interrupted run: 5 iterations committed, then a fresh call resumes
    ck = CheckpointManager(str(tmp_path), "pr-run", "pagerank")
    pagerank(df, max_iter=5, tol=None, checkpointer=ck)
    assert ck.latest_iteration() == 4
    resumed = pagerank(df, max_iter=12, tol=None, checkpointer=ck)
    res_ranks = {r["v"]: r["rank"] for r in resumed.ranks.collect()}

    assert set(res_ranks) == set(full_ranks)
    for v in full_ranks:
        assert res_ranks[v] == pytest.approx(full_ranks[v], abs=1e-12)
    # manifest carries per-partition lineage + metrics for every iteration
    entries = ck.committed()
    assert [e["iteration"] for e in entries] == list(range(12))
    assert all(e["partitions"] for e in entries)
    assert all("n_vertices" in e["metrics"] for e in entries)

    # personalized PageRank on the broadcast path: the restart vector p
    # rides on the committed rank vector and must survive the resume
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    seeds = spark.createDataFrame([(v,) for v in sorted(full_ranks)[:3]], "v long")
    full = personalized_pagerank(df, seeds, max_iter=12, tol=None)
    full_ranks = {r["v"]: r["rank"] for r in full.ranks.collect()}
    ck = CheckpointManager(str(tmp_path), "ppr-run", "pagerank")
    personalized_pagerank(df, seeds, max_iter=5, tol=None, checkpointer=ck)
    resumed = personalized_pagerank(df, seeds, max_iter=12, tol=None, checkpointer=ck)
    res_ranks = {r["v"]: r["rank"] for r in resumed.ranks.collect()}
    assert set(res_ranks) == set(full_ranks)
    for v in full_ranks:
        assert res_ranks[v] == pytest.approx(full_ranks[v], abs=1e-12)
    assert [e["iteration"] for e in ck.committed()] == list(range(12))


@pytest.mark.parametrize("personalized", [False, True], ids=["pagerank", "ppr"])
def test_resume_from_rank_only_snapshot(spark, tiny_graph, tmp_path, personalized):
    """A snapshot holding only (v, rank) — e.g. written by the shuffle
    path or by an older run — resumes on the broadcast path: restore
    attaches out-degree (and p) once, and the result equals an
    uninterrupted run."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    seeds = spark.createDataFrame(
        [(v,) for v in sorted({x for e in pairs for x in e})[:3]], "v long"
    )

    def run(max_iter, ck=None):
        if personalized:
            return personalized_pagerank(df, seeds, max_iter=max_iter,
                                         tol=None, checkpointer=ck)
        return pagerank(df, max_iter=max_iter, tol=None, checkpointer=ck)

    full = {r["v"]: r["rank"] for r in run(12).ranks.collect()}
    ck = CheckpointManager(str(tmp_path), "rank-only", "pagerank")
    ck.commit(run(5).ranks.select("v", "rank"), 4)
    resumed = {r["v"]: r["rank"] for r in run(12, ck).ranks.collect()}
    assert set(resumed) == set(full)
    for v in full:
        assert resumed[v] == pytest.approx(full[v], abs=1e-12)


def test_pagerank_dedup_false_keeps_real_self_loop(spark):
    """With ``dedup=False`` a real self loop u→u is an edge: it counts in
    u's out-degree and sends rank(u)/outdeg(u) back to u. The synthetic
    per-vertex rows of the broadcast engine share its (u, u) endpoints,
    so only the explicit row-kind flag tells them apart."""
    pairs = [(0, 0), (0, 1), (1, 2), (2, 0), (2, 2), (3, 0), (1, 4)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    for kw in ({}, {"broadcast_ranks": False}):
        res = pagerank(df, max_iter=30, tol=None, dedup=False, **kw)
        _assert_allclose(res.ranks, numpy_pagerank(pairs, iters=30, self_loops=True))
    # and the default drops them, as the oracle without self loops does
    res = pagerank(df, max_iter=30, tol=None)
    _assert_allclose(res.ranks, numpy_pagerank(pairs, iters=30))


def _cache_rdd_ids(spark):
    """Non-checkpoint persistent RDDs (the engine-wide leak convention of
    tests/test_dedup.py: localCheckpoint snapshots are reference-tracked
    by the ContextCleaner and do not count)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        k for k in m.keySet().toArray()
        if not m.get(k).rdd().isLocallyCheckpointed()
    }


@pytest.mark.parametrize("op", ["pagerank", "personalized_pagerank", "pagerank_kernel"])
def test_pagerank_operators_release_caches(spark, tiny_graph, monkeypatch, op):
    """No cache of the prepare phase outlives the call, whether it
    returns or raises after prepare."""
    import graphsetintersection_spark.operators.pagerank as pr

    pairs, df = tiny_graph
    seeds = spark.createDataFrame(
        [(v,) for v in sorted({x for e in pairs for x in e})[:3]], "v long"
    )
    absent = spark.createDataFrame([(10**9,)], "v long")
    call = {
        "pagerank": lambda: pr.pagerank(df, max_iter=3, tol=None),
        "personalized_pagerank": lambda: pr.personalized_pagerank(
            df, seeds, max_iter=3, tol=None),
        "pagerank_kernel": lambda: pr.pagerank_kernel(df, max_iter=3),
    }[op]

    before = _cache_rdd_ids(spark)
    call().ranks.count()
    leaked = _cache_rdd_ids(spark) - before
    assert not leaked, f"leaked non-checkpoint caches: {leaked}"

    # raise after prepare: PPR with no seed in the graph raises by
    # itself; the other two fail inside their iterate phase
    if op == "personalized_pagerank":
        call = lambda: pr.personalized_pagerank(df, absent, max_iter=3)  # noqa: E731
    else:
        name = "pagerank_df_iterate" if op == "pagerank" else "pagerank_kernel_iterate"
        real = getattr(pr, name)

        def failing(*a, **kw):
            real(*a, **kw)
            raise RuntimeError("injected")

        monkeypatch.setattr(pr, name, failing)
    with pytest.raises((ValueError, RuntimeError)):
        call()
    leaked = _cache_rdd_ids(spark) - before
    assert not leaked, f"leaked non-checkpoint caches after a raise: {leaked}"


def _jobs_per_round(spark, run, k=2):
    """Spark jobs of ``run(k + 1)`` minus those of ``run(k)``, counted by
    job group."""
    import uuid

    sc = spark.sparkContext
    counts = []
    for rounds in (k, k + 1):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            run(rounds)
        finally:
            sc._jsc.clearJobGroup()
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    return counts[1] - counts[0]


def test_broadcast_rounds_job_counts(spark, tiny_graph):
    """The broadcast-state round is two jobs (rank broadcast build +
    checkpointed aggregation, the next round's scalar observed on it);
    HITS is two such half-steps. A per-round aggregate re-added later
    fails here, not only in the benchmark."""
    from graphsetintersection_spark.operators.hits import hits
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    df = df.localCheckpoint(eager=True)
    seeds = spark.createDataFrame(
        [(v,) for v in sorted({x for e in pairs for x in e})[:3]], "v long"
    )
    pr_run = lambda r: pagerank(df, max_iter=r, tol=None).ranks.count()  # noqa: E731
    assert _jobs_per_round(spark, pr_run) <= 2
    ppr_run = lambda r: personalized_pagerank(  # noqa: E731
        df, seeds, max_iter=r, tol=None).ranks.count()
    assert _jobs_per_round(spark, ppr_run) <= 2
    hits_run = lambda r: hits(df, max_iter=r, tol=None).scores.count()  # noqa: E731
    assert _jobs_per_round(spark, hits_run) <= 4


def test_pagerank_kernel_parity(spark, tiny_graph):
    """Broadcast-vector kernel path ≡ DataFrame path (allclose 1e-12) —
    including dangling vertices and non-dense ids."""
    from graphsetintersection_spark.operators.pagerank import pagerank_kernel

    pairs, df = tiny_graph
    # shift ids so they are NOT dense 0..V-1 (exercises the relabel)
    shifted = df.selectExpr("src * 7 + 100 as src", "dst * 7 + 100 as dst")
    r_df = pagerank(shifted, max_iter=8, tol=None)
    r_k = pagerank_kernel(shifted, max_iter=8)
    a = {r["v"]: r["rank"] for r in r_df.ranks.collect()}
    b = {r["v"]: r["rank"] for r in r_k.ranks.collect()}
    assert set(a) == set(b)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12


def test_pagerank_kernel_dangling_and_tol(spark):
    from graphsetintersection_spark.operators.pagerank import pagerank_kernel

    # 0→1→2, 2 dangling; plus isolated pair 3→4
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "src long, dst long"
    )
    r_df = pagerank(df, max_iter=30, tol=None)
    r_k = pagerank_kernel(df, max_iter=30, tol=1e-14)
    a = {r["v"]: r["rank"] for r in r_df.ranks.collect()}
    b = {r["v"]: r["rank"] for r in r_k.ranks.collect()}
    assert max(abs(a[v] - b[v]) for v in a) < 1e-9
    assert abs(sum(b.values()) - 1.0) < 1e-9


def numpy_ppr(pairs, seeds, alpha=0.85, iters=40, weights=None):
    """Dense personalized-PageRank oracle: restart and dangling mass land
    on the seed distribution p instead of uniformly."""
    edges = {(u, v) for u, v in pairs if u != v}
    verts = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    p = np.zeros(n)
    for j, s in enumerate(seeds):
        if s in idx:
            p[idx[s]] += (weights[j] if weights else 1.0)
    p /= p.sum()
    out_deg = np.zeros(n)
    for u, v in edges:
        out_deg[idx[u]] += 1
    r = p.copy()
    for _ in range(iters):
        contrib = np.zeros(n)
        share = np.where(out_deg > 0, r / np.maximum(out_deg, 1), 0.0)
        for u, v in edges:
            contrib[idx[v]] += share[idx[u]]
        dangling = r[out_deg == 0].sum()
        r = (1 - alpha) * p + alpha * (contrib + dangling * p)
    return {v: r[idx[v]] for v in verts}


def test_ppr_allclose_and_mass_conserved(spark, tiny_graph):
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    seeds_list = sorted({x for e in pairs for x in e})[:3]
    seeds = spark.createDataFrame([(s,) for s in seeds_list], "v long")
    res = personalized_pagerank(df, seeds, max_iter=40, tol=None)
    _assert_allclose(res.ranks, numpy_ppr(pairs, seeds_list))
    total = res.ranks.groupBy().sum("rank").collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_ppr_uniform_seeds_equals_pagerank(spark, tiny_graph):
    """Seeding EVERY vertex uniformly reduces personalized PageRank to
    classic PageRank — the two paths must agree to allclose 1e-9."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    verts = sorted({x for e in pairs for x in e})
    seeds = spark.createDataFrame([(v,) for v in verts], "v long")
    ppr = personalized_pagerank(df, seeds, max_iter=15, tol=None)
    pr = pagerank(df, max_iter=15, tol=None)
    got = {r["v"]: r["rank"] for r in ppr.ranks.collect()}
    exp = {r["v"]: r["rank"] for r in pr.ranks.collect()}
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-9)


def test_ppr_mass_localized_to_seed_component(spark):
    """On a disconnected graph, rank mass can only reach vertices the
    random walk can reach: seeding one component leaves the other at
    exactly zero."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "v long")
    res = personalized_pagerank(df, seeds, max_iter=30, tol=None)
    ranks = {r["v"]: r["rank"] for r in res.ranks.collect()}
    assert all(ranks[v] > 0 for v in (0, 1, 2))
    assert all(ranks[v] == 0.0 for v in (10, 11, 12))
    _assert_allclose(res.ranks, numpy_ppr(pairs, [0], iters=30))


def test_ppr_weighted_seeds_and_renormalization(spark, tiny_graph):
    """Weighted restart + seeds absent from the graph: missing seeds are
    dropped and the surviving weights renormalized; duplicate seed rows
    sum. Error cases raise instead of emitting a degenerate vector."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    verts = sorted({x for e in pairs for x in e})
    a, b = verts[0], verts[1]
    seeds = spark.createDataFrame(
        # (v, w): b carries 3x a's weight via a duplicate row; 10**9 is
        # absent from the graph and must be dropped+renormalized away
        [(a, 1.0), (b, 1.0), (b, 2.0), (10**9, 5.0)],
        "v long, w double",
    )
    res = personalized_pagerank(df, seeds, max_iter=40, tol=None,
                                weight_col="w")
    _assert_allclose(
        res.ranks, numpy_ppr(pairs, [a, b], weights=[1.0, 3.0])
    )
    with pytest.raises(ValueError, match="no seed vertices"):
        personalized_pagerank(
            df, spark.createDataFrame([(10**9,)], "v long"), max_iter=2
        )
    with pytest.raises(ValueError, match="non-negative"):
        personalized_pagerank(
            df,
            spark.createDataFrame([(a, -1.0)], "v long, w double"),
            max_iter=2,
            weight_col="w",
        )
    # NaN weight: every direct comparison is False, so only an inverted
    # guard catches it — must raise, not return an all-NaN rank vector
    with pytest.raises(ValueError, match="non-negative"):
        personalized_pagerank(
            df,
            spark.createDataFrame([(a, float("nan"))], "v long, w double"),
            max_iter=2,
            weight_col="w",
        )


def test_ppr_shuffle_salted_path_parity(spark, tiny_graph):
    """The teleport vector must behave identically on the shuffle+salt
    round shape (the at-scale path) as on the broadcast default."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    seeds_list = sorted({x for e in pairs for x in e})[:3]
    seeds = spark.createDataFrame([(s,) for s in seeds_list], "v long")
    res = personalized_pagerank(
        df, seeds, max_iter=20, tol=None,
        broadcast_ranks=False, salt_hubs=4,
    )
    _assert_allclose(res.ranks, numpy_ppr(pairs, seeds_list, iters=20))

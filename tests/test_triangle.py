"""Triangle count: three implementations vs brute-force oracle.

Mirrors the reference's cross-implementation parity testing — Org vs BP vs
Roaring triangle counters selected at src/tc.cpp:14-16 must print equal
triangle_num; here the join / array_intersect / Arrow-kernel forms must all
equal the brute-force count."""

from tests.conftest import brute_triangles, random_graph

from graphsetintersection_spark.operators.triangle import (
    triangle_count_arrays,
    triangle_count_join,
    triangle_count_kernel,
    triangles_per_edge,
)


def test_triangle_parity_tiny(spark, tiny_graph):
    pairs, df = tiny_graph
    expected = brute_triangles(pairs)
    assert expected > 0  # fixture sanity: dense enough to have triangles
    assert triangle_count_join(df) == expected
    assert triangle_count_arrays(df) == expected
    assert triangle_count_kernel(df) == expected


def test_triangle_sparse_and_empty(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_count_join(empty) == 0
    assert triangle_count_arrays(empty) == 0
    assert triangle_count_kernel(empty) == 0
    # a path graph has no triangles; include dup + self-loop noise
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 3), (1, 2), (2, 1)], "src long, dst long"
    )
    assert triangle_count_kernel(path) == 0
    k3 = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    assert triangle_count_kernel(k3) == 1
    assert triangle_count_join(k3) == 1


def test_triangle_parity_medium(spark):
    pairs = random_graph(120, 2500, seed=7)
    df = spark.createDataFrame(pairs, "src long, dst long")
    expected = brute_triangles(pairs)
    assert triangle_count_join(df) == expected
    assert triangle_count_kernel(df) == expected


def test_triangle_hub_split_parity(spark):
    """Broadcast-hub-adjacency split must not change the count (skew path
    vs plain path — another cross-implementation parity check). The split
    lives on the join strategy only; "auto" would pick the broadcast CSR
    on a graph this small and never read ``hub_deg_ratio``."""
    import numpy as np

    rng = np.random.default_rng(3)
    n = 300
    dst = (n * rng.random(3000) ** 3).astype(int)  # Zipf-ish hubs
    src = rng.integers(0, n, 3000)
    pairs = [(int(a), int(b)) for a, b in zip(src, dst) if a != b]
    df = spark.createDataFrame(pairs, "src long, dst long")
    assert triangle_count_kernel(
        df, hub_deg_ratio=0.3, strategy="join"
    ) == brute_triangles(pairs)


def test_triangle_bsr_kernel_parity(spark):
    """BSR bit-packed kernel ≡ uint kernel ≡ brute force (the reference's
    BP path, src/bitpack_triangle_count.cpp:43-103) — after a degree
    relabel, which is the reorder→densify→bit-pack pipeline."""
    from graphsetintersection_spark.operators.relabel import (
        apply_order,
        degree_order,
    )

    pairs = random_graph(100, 1800, seed=13)
    df = spark.createDataFrame(pairs, "src long, dst long")
    expected = brute_triangles(pairs)
    relabeled = apply_order(df, degree_order(df))
    assert triangle_count_kernel(relabeled, kernel="bsr") == expected
    assert triangle_count_kernel(df, kernel="bsr") == expected


def test_triangles_per_edge_sums_to_total(spark, tiny_graph):
    pairs, df = tiny_graph
    per_edge = triangles_per_edge(df)
    total = sum(r["common"] for r in per_edge.collect())
    assert total == brute_triangles(pairs)


def test_kernel_counters_match_known_workload(spark, tiny_graph):
    """Accumulator counters mirror the reference's inter_cnt / cmp_cnt
    (src/set_operation.cpp:903-905, printed at src/tc.cpp:46):
    inter_cnt = one intersection per oriented edge; cmp_cnt = elements
    scanned = Σ |N⁻(src)| + |N⁻(dst)| over oriented edges."""
    from collections import defaultdict

    from graphsetintersection_spark.operators.triangle import (
        triangle_count_kernel_with_stats,
    )

    pairs, df = tiny_graph
    # python oracle over the canonically oriented simple graph
    oriented = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    lower = defaultdict(set)
    for a, b in oriented:
        lower[b].add(a)  # N⁻(b) ∋ a (a < b)
    # the adjacency join is inner: an oriented edge whose src has no
    # smaller neighbor contributes no pair to the kernel (and no triangle)
    worked = [(a, b) for a, b in oriented if lower[a]]
    expect_inter = len(worked)
    expect_cmp = sum(len(lower[a]) + len(lower[b]) for a, b in worked)

    for kernel in ("uint", "bsr"):
        tri, stats = triangle_count_kernel_with_stats(
            df, kernel=kernel, strategy="join"
        )
        assert tri == brute_triangles(pairs)
        assert stats["inter_cnt"] == expect_inter
        assert stats["cmp_cnt"] == expect_cmp

    # broadcast strategy iterates EVERY oriented edge (the CSR gather has
    # no inner-join drop), so inter_cnt counts all of them and cmp_cnt
    # additionally scans |N⁻(dst)| for edges whose src has no smaller
    # neighbor (the join path never materializes those pairs)
    expect_cmp_bcast = sum(
        len(lower[a]) + len(lower[b]) for a, b in oriented
    )
    for kernel in ("uint", "bsr"):
        tri, stats = triangle_count_kernel_with_stats(
            df, kernel=kernel, strategy="broadcast"
        )
        assert tri == brute_triangles(pairs)
        assert stats["inter_cnt"] == len(oriented)
        assert stats["cmp_cnt"] == expect_cmp_bcast


def test_triangle_broadcast_and_bitset_parity(spark):
    """The broadcast-CSR and dense bit-matrix strategies must equal the
    join strategy and the brute-force count on a random graph, for every
    kernel; kernel='auto' resolves to the bit matrix on this dense compact
    id space and to 'bsr' on the join path."""
    import pytest

    pairs = random_graph(250, 2500, seed=11)
    df = spark.createDataFrame(pairs, "src long, dst long")
    expected = brute_triangles(pairs)
    assert expected > 0
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for strategy in ("broadcast", "join", "auto"):
        kernels = ("auto", "bsr", "uint")
        if strategy != "join":
            kernels += ("bitset",)
        for kernel in kernels:
            got = triangle_count_kernel(df, kernel=kernel, strategy=strategy)
            assert got == expected, (strategy, kernel)
    with pytest.raises(ValueError):
        triangle_count_kernel(df, kernel="bitset", strategy="join")
    # no route leaked a cache: the count must not GROW. (Not ==: other
    # suite fixtures hold caches, and unpersist() is asynchronous, so
    # earlier tests' caches can disappear mid-test; a leak here can only
    # push the count up.)
    sc = spark.sparkContext
    assert sc._jsc.sc().getPersistentRDDs().size() <= cached_before


def test_pick_broadcast_kernel_bounds():
    """kernel='auto' routing: dense compact ids → bitset; sparse, huge,
    or negative id spaces → bsr (matrix infeasible, per-edge AND loses,
    or bit-row indexing would wrap)."""
    import numpy as np

    from graphsetintersection_spark.operators.triangle import (
        BITSET_MAX_BYTES,
        _pick_broadcast_kernel,
    )

    dense_vs = np.arange(1, 1000, dtype=np.int64)
    flat = np.zeros(1000, dtype=np.int64)  # neighbor values, all ≥ 0
    # ~26%-dense graph: mean lower-degree 130 vs W=16 words → bitset
    assert _pick_broadcast_kernel("auto", dense_vs, flat, 130_000) == "bitset"
    # avg lower-degree ~1 on the same id space: W=16 > 8·1 → bsr
    assert _pick_broadcast_kernel("auto", dense_vs, flat, 1_000) == "bsr"
    # id space so large the matrix exceeds the broadcast budget → bsr
    huge = np.array([0, 10_000_000], dtype=np.int64)
    n = 10_000_001
    assert n * ((n + 63) // 64) * 8 > BITSET_MAX_BYTES
    assert _pick_broadcast_kernel("auto", huge, flat, 10**9) == "bsr"
    # negative id as a ROW id → bsr
    neg_vs = np.array([-5, 1, 2], dtype=np.int64)
    assert _pick_broadcast_kernel("auto", neg_vs, flat, 130_000) == "bsr"
    # negative id only as a neighbor VALUE (the global-min vertex never
    # appears as a lower-adjacency row — vs[0] ≥ 0 alone misses it) → bsr
    neg_flat = np.array([-5, 1], dtype=np.int64)
    assert _pick_broadcast_kernel("auto", dense_vs, neg_flat, 130_000) == "bsr"
    # explicit kernels pass through untouched
    assert _pick_broadcast_kernel("uint", dense_vs, flat, 130_000) == "uint"


def test_negative_ids_fail_loudly_never_silently(spark):
    """Un-relabeled id spaces (negative ids) must NEVER return a silently
    wrong count. The element kernels already refuse via the row-shift
    guard (kernels._check_row_shift, 'relabel first'); the dense bit
    matrix was the one hole — fancy indexing wrapped negative ids to the
    wrong rows and produced a plausible wrong answer. Now every kernel
    route raises, and the pure relational forms (no packed-id trick)
    count correctly. Note -5 appears only as a neighbor VALUE in the
    lower adjacency, never as a row id — a vs[0] ≥ 0 check alone would
    miss it."""
    import pytest

    pairs = [(-5, 1), (1, 2), (-5, 2), (2, 7)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    expected = brute_triangles(pairs)
    assert expected == 1
    # relational forms handle any id space
    assert triangle_count_join(df) == expected
    assert triangle_count_arrays(df) == expected
    # explicit bitset: refused up front (would otherwise wrap silently)
    with pytest.raises(ValueError, match="non-negative"):
        triangle_count_kernel(df, kernel="bitset", strategy="broadcast")
    # auto resolution routes away from the bit matrix, and the element
    # kernel it lands on raises the loud relabel-first error (surfaced
    # through Spark's executor-exception wrapper, hence match on str)
    for kwargs in (
        {},  # auto/auto
        {"strategy": "join"},
        {"strategy": "broadcast", "kernel": "uint"},
    ):
        with pytest.raises(Exception, match="relabel"):
            triangle_count_kernel(df, **kwargs)


def test_collect_csr_arrow_matches_rows(spark):
    """The Arrow CSR collection (one contiguous buffer, no per-row Python
    objects) must return exactly the CSR built from the collected rows —
    same sorted vertices, same indptr, same flattened neighbor order."""
    import numpy as np

    from graphsetintersection_spark.operators.adjacency import lower_adjacency
    from graphsetintersection_spark.operators.edges import orient
    from graphsetintersection_spark.operators.triangle import _collect_csr

    pairs = random_graph(120, 900, seed=23)
    df = spark.createDataFrame(pairs, "src long, dst long")
    adj = lower_adjacency(orient(df).select("src", "dst"))
    rows = sorted(adj.collect(), key=lambda r: r["v"])
    vs_a, ip_a, fl_a = _collect_csr(adj)
    np.testing.assert_array_equal(vs_a, [r["v"] for r in rows])
    np.testing.assert_array_equal(
        ip_a, np.cumsum([0] + [len(r["nbrs"]) for r in rows])
    )
    np.testing.assert_array_equal(fl_a, [u for r in rows for u in r["nbrs"]])
    # empty adjacency round-trips too
    empty = spark.createDataFrame([], "v long, nbrs array<long>")
    vs_e, ip_e, fl_e = _collect_csr(empty)
    assert len(vs_e) == 0 and len(fl_e) == 0 and ip_e[-1] == 0

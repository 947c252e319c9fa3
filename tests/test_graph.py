"""operators.graph — connected components / dedup clusters."""

from __future__ import annotations

from pyspark.sql import functions as F

from olympic_athletes_etl_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def test_connected_components_chain_and_clique(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["src", "dst"],
    )
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_path_converges(spark):
    # a 12-vertex path needs multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["src", "dst"]
    )
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 12


def test_dedup_clusters_includes_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["doc_a", "doc_b"])
    out = {r["doc_id"]: r["cluster"] for r in
           dedup_clusters(docs, pairs, id_col="doc_id").collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}


# ---------------------------------------------------------------------------
# triangle_stats — adversarial shapes for the degree-orientation logic
# ---------------------------------------------------------------------------


def _tri(spark, edges, **kw):
    from olympic_athletes_etl_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(edges, "src: long, dst: long")
    [row] = triangle_stats(df, **kw).collect()
    return row


def test_triangle_stats_complete_graph_k5(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    row = _tri(spark, edges)
    assert row["n_triangles"] == 10  # C(5,3)
    assert row["n_edges"] == 10 and row["n_nodes"] == 5
    assert row["global_clustering"] == 1.0


def test_triangle_stats_star_hub_has_none(spark):
    # hub 0 with 20 leaves: max wedges at the hub, zero triangles —
    # orientation must not blow up or miscount on the hub
    row = _tri(spark, [(0, i) for i in range(1, 21)])
    assert row["n_triangles"] == 0
    assert row["global_clustering"] == 0.0


def test_triangle_stats_degree_ties_and_reversed_dups(spark):
    # triangle 1-2-3 (all degree 2: orientation falls back to id order)
    # plus a reversed duplicate edge that normalization must collapse
    edges = [(1, 2), (2, 3), (1, 3), (3, 1)]
    row = _tri(spark, edges)
    assert row["n_edges"] == 3
    assert row["n_triangles"] == 1


def test_triangle_stats_two_sharing_an_edge(spark):
    # triangles 1-2-3 and 2-3-4 share edge (2,3)
    row = _tri(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    assert row["n_triangles"] == 2
    # wedges: degrees 2,3,3,2 -> 1+3+3+1 = 8; gcc = 3*2/8
    assert row["global_clustering"] == 0.75


def test_triangle_stats_normalized_fast_path_same_answer(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    assert _tri(spark, edges) == _tri(spark, edges, normalized=True)


def test_triangle_stats_empty_graph_is_all_zero(spark):
    row = _tri(spark, [])
    assert (
        row["n_nodes"],
        row["n_edges"],
        row["n_triangles"],
        row["global_clustering"],
    ) == (0, 0, 0, 0.0)  # coalesced — an empty sum must not NULL the gcc


# pagerank_fixed_point (integer; backs the oracle-gated g_pagerank)

def test_pagerank_fixed_point_uniform_on_cycle(spark):
    from olympic_athletes_etl_spark.operators.graph import pagerank_fixed_point

    # symmetric 4-cycle: every node identical by symmetry, and the value
    # is exactly the fixpoint scale (teleport + 0.85*scale == scale when
    # shares flow losslessly: deg=2, rank divisible by 2 each round).
    edges = spark.createDataFrame(
        [(a, b) for a, b in [(0, 1), (1, 2), (2, 3), (3, 0)]]
        + [(b, a) for a, b in [(0, 1), (1, 2), (2, 3), (3, 0)]],
        "src long, dst long",
    )
    rows = pagerank_fixed_point(edges).collect()
    ranks = {r["node"]: r["rank"] for r in rows}
    assert len(ranks) == 4
    assert len(set(ranks.values())) == 1
    assert ranks[0] == 1_000_000_000


def test_pagerank_fixed_point_star_hub_dominates(spark):
    from olympic_athletes_etl_spark.operators.graph import pagerank_fixed_point

    # undirected star: hub 0 with 5 leaves — hub must strictly outrank
    # every leaf, and all leaves are identical by symmetry.
    und = [(0, i) for i in range(1, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed_point(edges).collect()}
    leaf_ranks = {ranks[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1
    assert ranks[0] > max(leaf_ranks)


def test_pagerank_fixed_point_mass_bounded_and_deterministic(spark):
    from olympic_athletes_etl_spark.operators.graph import pagerank_fixed_point

    und = [(0, 1), (1, 2), (2, 3), (1, 3), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    r1 = sorted((r["node"], r["rank"]) for r in pagerank_fixed_point(edges).collect())
    r2 = sorted((r["node"], r["rank"]) for r in pagerank_fixed_point(edges).collect())
    assert r1 == r2
    total = sum(rank for _, rank in r1)
    n = len(r1)
    # contraction + floor truncation: total in (N*scale - iters*|E|, N*scale]
    assert total <= n * 1_000_000_000
    assert total > n * 1_000_000_000 - 3 * 4 * len(und)
    # every rank at least the teleport floor
    assert all(rank >= 150_000_000 for _, rank in r1)


def test_link_prediction_excludes_existing_edges(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.graph_q import (
        _edges,
        g_link_prediction,
    )

    rows = g_link_prediction(spark, sf_dir).collect()
    assert rows
    existing = {
        (r["pa"], r["pb"]) for r in _edges(spark, sf_dir).collect()
    }
    for r in rows:
        # predicted pairs are genuinely NEW links on the supported graph
        assert (r["part_a"], r["part_b"]) not in existing
        assert r["part_a"] < r["part_b"]
        assert r["common_n"] >= 1


# ---------------------------------------------------------------------------
# fixpoint library forms vs the oracle-bounded constant-round queries
# ---------------------------------------------------------------------------
def test_kcore_fixpoint_equals_unrolled_query(spark, sf_dir):
    """g_kcore pins _KCORE_ROUNDS so its oracle can unroll; the library
    kcore() iterates to the fixpoint. At test SF the constant reaches the
    fixpoint, so the two must agree exactly — this pin is what licenses
    the query's constant."""
    from olympic_athletes_etl_spark.operators.graph import kcore
    from olympic_athletes_etl_spark.plans.graph_q import (
        _KCORE_K,
        _edges,
        g_kcore,
    )

    lib = {
        (r["node"], r["core_deg"])
        for r in kcore(_edges(spark, sf_dir), k=_KCORE_K, src="pa", dst="pb").collect()
    }
    qry = {
        (r["part"], r["core_deg"]) for r in g_kcore(spark, sf_dir).collect()
    }
    assert lib == qry
    assert lib  # non-degenerate: the test graph has a 2-core


def test_kcore_fixpoint_peels_deeper_than_constant_rounds(spark):
    """A 10-node path with k=2 peels one layer per round from each end —
    needs 5 rounds to empty, more than the query's pinned 3. The fixpoint
    form must fully dissolve it (a path has no 2-core)."""
    from olympic_athletes_etl_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    assert kcore(edges, k=2).count() == 0


def test_kcore_fixpoint_keeps_clique_drops_tail(spark):
    from olympic_athletes_etl_spark.operators.graph import kcore

    # triangle {0,1,2} with a pendant path 2-3-4: core = the triangle
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out = {r["node"]: r["core_deg"] for r in kcore(edges, k=2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}


def test_bfs_fixpoint_equals_unrolled_query(spark, sf_dir):
    """g_bfs_depth pins _BFS_ROUNDS for the unrolled oracle; bfs_depths()
    iterates to the empty frontier. Equal at test SF means the constant
    covers the graph's eccentricity from the canonical seed — restricted
    to the pinned depth in case the full traversal goes deeper."""
    from olympic_athletes_etl_spark.operators.graph import bfs_depths
    from olympic_athletes_etl_spark.plans.graph_q import (
        _BFS_ROUNDS,
        _degrees,
        _edges,
        g_bfs_depth,
    )

    edges = _edges(spark, sf_dir)
    seed = _degrees(edges).agg(F.min("node").alias("node"))
    lib = {
        (r["node"], r["depth"])
        for r in bfs_depths(edges, seed, src="pa", dst="pb").collect()
        if r["depth"] <= _BFS_ROUNDS
    }
    qry = {
        (r["part"], r["depth"]) for r in g_bfs_depth(spark, sf_dir).collect()
    }
    assert lib == qry
    assert lib


def test_bfs_fixpoint_traverses_past_constant_rounds(spark):
    """An 8-node path from one end needs 7 rounds — past the query's
    pinned 3. The fixpoint form labels every node with its true depth."""
    from olympic_athletes_etl_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src long, dst long"
    )
    seed = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["depth"] for r in bfs_depths(edges, seed).collect()}
    assert out == {i: i for i in range(8)}


# ---------------------------------------------------------------------------
# randomized cross-checks vs pure-Python references (seeded, deterministic)
# ---------------------------------------------------------------------------
def _random_edges(seed, n_nodes=24, n_edges=40):
    import random
    from itertools import combinations

    rng = random.Random(seed)
    return rng.sample(list(combinations(range(n_nodes), 2)), n_edges)


def _ref_kcore(edges, k):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    while True:
        drop = {v for v in nodes if len(adj[v] & nodes) < k}
        if not drop:
            break
        nodes -= drop
    return {v: len(adj[v] & nodes) for v in nodes}


def _ref_bfs(edges, source):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    depth = {source: 0}
    frontier = [source]
    d = 0
    while frontier:
        d += 1
        frontier = [
            t for s in frontier for t in adj.get(s, ()) if t not in depth
        ]
        frontier = list(dict.fromkeys(frontier))
        for t in frontier:
            depth[t] = d
    return depth


def test_kcore_fixpoint_matches_reference_on_random_graphs(spark):
    from olympic_athletes_etl_spark.operators.graph import kcore

    for seed, k in [(7, 2), (11, 3)]:
        edges = _random_edges(seed)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["core_deg"] for r in kcore(df, k=k).collect()}
        assert got == _ref_kcore(edges, k), f"seed={seed} k={k}"


def test_bfs_fixpoint_matches_reference_on_random_graphs(spark):
    from olympic_athletes_etl_spark.operators.graph import bfs_depths

    for seed in (7, 11):
        # sparser than the kcore graphs so some nodes are unreachable —
        # exercises the "visited only covers the component" contract
        edges = _random_edges(seed, n_nodes=30, n_edges=25)
        df = spark.createDataFrame(edges, "src long, dst long")
        seed_df = spark.createDataFrame([(0,)], "node long")
        got = {
            r["node"]: r["depth"]
            for r in bfs_depths(df, seed_df).collect()
        }
        assert got == _ref_bfs(edges, 0), f"seed={seed}"


def test_kcore_converging_on_last_allowed_iteration_returns(spark):
    """Peel that finishes on EXACTLY the max_iter-th round must return,
    not raise: convergence used to be observed only at the top of the
    NEXT pass, so a graph emptying on the final allowed iteration hit
    the for-else backstop despite being fully (and correctly) peeled."""
    from olympic_athletes_etl_spark.operators.graph import kcore

    # 6-node path with k=2: peels one node from each end per round,
    # emptying on round 3 exactly.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    assert kcore(edges, k=2, max_iter=3).count() == 0
    # triangle+tail converges (non-empty fixpoint) on round 2 exactly:
    # round 1 drops the pendant edge, round 2 removes nothing.
    tri_tail = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    out = {
        r["node"]: r["core_deg"]
        for r in kcore(tri_tail, k=2, max_iter=2).collect()
    }
    assert out == {0: 2, 1: 2, 2: 2}


def test_kcore_empty_and_fully_peeled_inputs(spark):
    from olympic_athletes_etl_spark.operators.graph import kcore

    empty = spark.createDataFrame([], "src long, dst long")
    assert kcore(empty, k=2).count() == 0
    # k above max degree: everything peels in one round
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    assert kcore(tri, k=3).count() == 0


def test_bfs_isolated_seed_gets_depth_zero(spark):
    from olympic_athletes_etl_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seed = spark.createDataFrame([(99,)], "node long")  # not in the graph
    out = {(r["node"], r["depth"]) for r in bfs_depths(edges, seed).collect()}
    assert out == {(99, 0)}


def test_pagerank_converged_matches_fixed_point_round_for_round(spark):
    """The convergence wrapper must add a stopping rule, never different
    arithmetic: pagerank_fixed_point run for exactly the rounds
    pagerank_converged reports must reproduce its ranks bit-for-bit."""
    from olympic_athletes_etl_spark.operators.graph import (
        pagerank_converged,
        pagerank_fixed_point,
    )

    # star + tail, symmetrized: hub/leaf asymmetry keeps deltas moving
    # for several rounds before the contraction settles.
    base = [(0, i) for i in range(1, 6)] + [(5, 6), (6, 7)]
    sym = base + [(b, a) for a, b in base]
    edges = spark.createDataFrame(sym, "src long, dst long")
    # 1e-2 mean drift (~28 rounds at d=0.85) keeps the test quick while
    # still exercising a multi-round convergence path.
    eps = 8 * 10_000_000
    ranks, rounds = pagerank_converged(edges, eps_units=eps, max_iter=100)
    assert rounds >= 2  # non-trivial: converged after more than one round
    got = {(r["node"], r["rank"]) for r in ranks.collect()}
    want = {
        (r["node"], r["rank"])
        for r in pagerank_fixed_point(edges, n_iter=rounds).collect()
    }
    assert got == want


def test_pagerank_converged_on_gated_query_graph(spark, sf_dir):
    """On the same co-purchase edge graph the gated g_pagerank uses
    (symmetrized, same scale/damping), the fixpoint form converges and
    round-for-round matches the gated query's library
    (pagerank_fixed_point) — linking the convergence form to the
    oracle-pinned arithmetic at test SF."""
    from olympic_athletes_etl_spark.operators.graph import (
        pagerank_converged,
        pagerank_fixed_point,
    )
    from olympic_athletes_etl_spark.plans.graph_q import _edges

    edges = _edges(spark, sf_dir)
    sym = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    n_nodes = sym.select("src").distinct().count()
    ranks, rounds = pagerank_converged(
        sym, eps_units=n_nodes * 10_000_000, max_iter=100
    )
    got = {(r["node"], r["rank"]) for r in ranks.collect()}
    want = {
        (r["node"], r["rank"])
        for r in pagerank_fixed_point(sym, n_iter=rounds).collect()
    }
    assert got == want


def test_pagerank_converged_delta_at_stop_is_small(spark):
    """At the reported stopping round the L1 movement of one FURTHER
    fixed-point round is <= the default epsilon (one unit per node) —
    the stopping rule measured what it claims to measure."""
    from olympic_athletes_etl_spark.operators.graph import (
        pagerank_converged,
        pagerank_fixed_point,
    )

    base = [(i, (i + 1) % 8) for i in range(8)] + [(0, 4)]
    sym = base + [(b, a) for a, b in base]
    edges = spark.createDataFrame(sym, "src long, dst long")
    eps = 8 * 10_000_000
    ranks, rounds = pagerank_converged(edges, eps_units=eps, max_iter=100)
    at_stop = {r["node"]: r["rank"] for r in ranks.collect()}
    prev = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, n_iter=rounds - 1).collect()
    } if rounds > 1 else {n: 1_000_000_000 for n in at_stop}
    delta = sum(abs(at_stop[n] - prev[n]) for n in at_stop)
    assert delta <= eps


def test_pagerank_converged_raises_on_max_iter(spark):
    from olympic_athletes_etl_spark.operators.graph import pagerank_converged

    base = [(0, i) for i in range(1, 6)]
    sym = base + [(b, a) for a, b in base]
    edges = spark.createDataFrame(sym, "src long, dst long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="pagerank_converged"):
        pagerank_converged(edges, max_iter=1, eps_units=0)


def test_pagerank_converged_empty_graph_returns_empty(spark):
    """Empty edge list: already at the fixpoint — must return an empty
    (node, rank) frame and 0 rounds, not TypeError on a NULL delta sum."""
    from olympic_athletes_etl_spark.operators.graph import pagerank_converged

    empty = spark.createDataFrame([], "src long, dst long")
    ranks, rounds = pagerank_converged(empty)
    assert rounds == 0
    assert ranks.count() == 0
    assert ranks.columns == ["node", "rank"]


def test_connected_components_deep_path_beyond_old_default(spark):
    """A 60-vertex path has diameter 59 > the pre-round-6 max_iter of
    20, under which min-label propagation silently returned the path
    SPLIT into wrong sub-components. The fixpoint form must label every
    vertex with component 0."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["src", "dst"]
    )
    comp = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert len(comp) == 60
    assert set(comp.values()) == {0}


def test_connected_components_raises_instead_of_partial_labels(spark):
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="connected_components"):
        connected_components(edges, max_iter=3)


# ---------------------------------------------------------------------------
# connected_components_star — log-round CC (Kiveris large-star/small-star)
# ---------------------------------------------------------------------------


def _cc_star_labels(spark, edges):
    from olympic_athletes_etl_spark.operators.graph import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["vertex"]: r["component"]
        for r in connected_components_star(df).collect()
    }


def test_cc_star_matches_simple_on_shapes(spark):
    cases = [
        [(1, 2)],
        [(1, 2), (2, 3)],
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(5, 5), (5, 6)],  # self-loop dropped, pair kept
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, ["src", "dst"])
        simple = {
            r["vertex"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert _cc_star_labels(spark, edges) == simple, edges


def test_cc_star_deep_path_converges_in_log_rounds(spark):
    """A 64-vertex path (diameter 63): min-label needs 63 rounds; the
    star form must finish inside its default 60-round-PAIR backstop —
    which it could not do at one hop per round — and label everything 0."""
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_star_labels(spark, edges)
    assert len(got) == 64
    assert set(got.values()) == {0}


def test_cc_star_matches_reference_on_random_graphs(spark):
    import random

    for seed in (7, 41):
        rng = random.Random(seed)
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        # python reference: union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {v: find(v) for v in sorted(touched)}
        # canonical min-member labels
        from collections import defaultdict

        groups = defaultdict(list)
        for v, r in want.items():
            groups[find(r)].append(v)
        want = {v: min(g) for g in groups.values() for v in g}
        assert _cc_star_labels(spark, edges) == want, seed


def test_cc_star_empty_graph(spark):
    from olympic_athletes_etl_spark.operators.graph import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components_star(empty).count() == 0


def test_dedup_clusters_star_method_matches_default(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 7), (2, 6), (6, 4)], ["doc_a", "doc_b"]
    )
    want = {
        r["doc_id"]: r["cluster"]
        for r in dedup_clusters(docs, pairs, id_col="doc_id").collect()
    }
    got = {
        r["doc_id"]: r["cluster"]
        for r in dedup_clusters(
            docs, pairs, id_col="doc_id", method="star"
        ).collect()
    }
    assert got == want


def test_dedup_clusters_unknown_method_is_a_value_error(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(0,)], ["doc_id"])
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    with _pytest.raises(ValueError, match="'label' or 'star'"):
        dedup_clusters(docs, pairs, id_col="doc_id", method="labels")


def test_cc_star_clusters_the_knn_graph(spark, sf_dir):
    """The advertised scale use case end-to-end at test SF: cluster the
    corpus kNN graph (s_knn_graph's top-k cosine neighbor pairs) with
    the star form and check the labels against the simple min-label
    form — the integration the method='star' switch exists for."""
    from olympic_athletes_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )
    from olympic_athletes_etl_spark.plans.similarity_q import s_knn_graph

    pairs = s_knn_graph(spark, sf_dir).select("src", "dst")
    want = {
        r["vertex"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    got = {
        r["vertex"]: r["component"]
        for r in connected_components_star(pairs).collect()
    }
    assert got == want
    assert len(got) > 0


# --------------------------------------------------------------------------
# localCheckpoint storage discipline
# --------------------------------------------------------------------------
def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_checkpoint_frees_blocks_where_unpersist_does_not(spark):
    """DataFrame.unpersist() only clears CacheManager entries; a local
    checkpoint persists its RDD directly, so unpersist() is a silent
    no-op on it — the motivating fact for _release_checkpoint."""
    from olympic_athletes_etl_spark.operators.graph import _release_checkpoint

    before = _n_persistent(spark)
    df = spark.range(100).localCheckpoint(eager=True)
    assert _n_persistent(spark) == before + 1
    df.unpersist()  # the documented no-op
    assert _n_persistent(spark) == before + 1
    _release_checkpoint(df)
    assert _n_persistent(spark) == before


def test_release_checkpoint_noops_on_unmaterialized_frames(spark):
    from olympic_athletes_etl_spark.operators.graph import _release_checkpoint

    before = _n_persistent(spark)
    _release_checkpoint(spark.range(10).selectExpr("id * 2 AS x"))
    assert _n_persistent(spark) == before


def test_iterative_operators_do_not_accumulate_checkpoints(spark):
    """A deep peel/propagation must hold O(1) checkpointed frames, not
    one per round — superseded rounds are released deterministically."""
    from olympic_athletes_etl_spark.operators.graph import (
        bfs_depths,
        connected_components,
        kcore,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["src", "dst"])

    before = _n_persistent(spark)
    labels = connected_components(edges)  # ~30 propagation rounds
    assert labels.count() == 31
    # only the returned labels checkpoint may remain live
    assert _n_persistent(spark) - before <= 1

    before = _n_persistent(spark)
    sources = spark.createDataFrame([(0,)], ["node"])
    depths = bfs_depths(edges, sources)  # 30 frontier rounds
    assert depths.count() == 31
    # final visited + final (empty) frontier + the edge list may remain
    assert _n_persistent(spark) - before <= 3

    before = _n_persistent(spark)
    core = kcore(edges, k=2)  # a path has no 2-core: full 30-round peel
    assert core.count() == 0
    assert _n_persistent(spark) - before <= 2

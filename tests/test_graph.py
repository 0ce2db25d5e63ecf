"""Graph operators on a hand-built edge set with known answers
(undirected semantics — the top correctness risk, SURVEY.md §7.3)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from neo4j_dynagraph_spark.operators import graph
from neo4j_dynagraph_spark.operators.hub import (
    checkpoint_hub,
    counted_barrier,
    materialize,
)

# canonical edges of: triangle 1-2-3, plus path 3-4, 4-5, and edge 1-5
EDGES = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (1, 5)]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "actor1 long, actor2 long")


def test_symmetrize_doubles_rows(edges):
    sym = graph.symmetrize(edges)
    assert sym.count() == 2 * len(EDGES)
    assert set(sym.columns) == {"src", "dst"}


def test_neighbors_undirected(edges):
    # neighbors(3) must include both orientations: 1,2 (as actor2) and 4
    got = sorted(r.actor for r in graph.neighbors(edges, 3).collect())
    assert got == [1, 2, 4]


def test_common_neighbors(edges):
    got = sorted(r.actor for r in graph.common_neighbors(edges, 1, 3).collect())
    assert got == [2]  # 1's neighbors {2,3,5}; 3's {1,2,4}
    got2 = sorted(r.actor for r in graph.common_neighbors(edges, 2, 5).collect())
    assert got2 == [1]  # 2's {1,3}; 5's {1,4}


def test_degree(edges):
    got = {r.actor: r.degree for r in graph.degree(edges).collect()}
    assert got == {1: 3, 2: 2, 3: 3, 4: 2, 5: 2}


def test_triangles_exactly_once(edges):
    got = [(r.a, r.b, r.c) for r in graph.triangles(edges).collect()]
    assert got == [(1, 2, 3)]


def test_triangles_dedups_multiedges(spark):
    # duplicated edge rows (multiple frames) must not multiply triangles
    dup = spark.createDataFrame(EDGES + EDGES, "actor1 long, actor2 long")
    got = [(r.a, r.b, r.c) for r in graph.triangles(dup).collect()]
    assert got == [(1, 2, 3)]


def test_connected_components_two_islands(spark):
    # islands: {1,2,3}, {7,8}, singleton-free (isolated nodes never
    # appear in an edge table)
    e = spark.createDataFrame([(2, 3), (1, 2), (7, 8)], "actor1 long, actor2 long")
    got = {r.actor: r.component for r in graph.connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_connected_components_chain_converges(spark):
    # a long path needs multiple propagation rounds; label must reach the end
    n = 40
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "actor1 long, actor2 long"
    )
    got = {r.actor: r.component for r in graph.connected_components(e).collect()}
    assert set(got.values()) == {1} and len(got) == n


def test_pagerank_matches_numpy(edges):
    import numpy as np

    rows = [(r.actor, r.rank) for r in graph.pagerank(edges, iterations=10).collect()]
    # replicate: undirected graph on EDGES, same fixed-iteration formula
    nodes = sorted({a for e in EDGES for a in e})
    idx = {a: i for i, a in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, b in EDGES:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        nxt = np.full(n, 0.15 / n)
        for a, b in EDGES:
            nxt[idx[b]] += 0.85 * r[idx[a]] / deg[idx[a]]
            nxt[idx[a]] += 0.85 * r[idx[b]] / deg[idx[b]]
        r = nxt
    want = {a: r[idx[a]] for a in nodes}
    assert len(rows) == n
    for actor, rank in rows:
        assert abs(rank - want[actor]) < 1e-6
    # ranks sum to ~1 (no dangling mass; each rank rounded to 1e-6)
    assert abs(sum(rk for _, rk in rows) - 1.0) < 1e-6 * len(rows)


def test_pagerank_spill_dir_bit_identical(edges, reliable_mode):
    # reliable checkpoints (a checkpoint dir) replaced the spill_dir
    # parquet staging: the ranks must not depend on the mode
    a = [tuple(r) for r in graph.pagerank(edges, iterations=6).collect()]
    with reliable_mode():
        b = [tuple(r) for r in graph.pagerank(edges, iterations=6).collect()]
    assert a == b and len(a) == 5


def test_temporal_reachability_respects_time(spark):
    """A-B@1, B-C@2: A reaches C (1 then 2, non-decreasing) but C does
    NOT reach A (would need B-A at frame >= 2; the edge is at 1) — the
    asymmetry that distinguishes temporal from static reachability."""
    e = spark.createDataFrame(
        [(1, 10, 20), (2, 20, 30)], "frame_id long, actor1 long, actor2 long"
    )
    from_a = {r.actor: r.arrival_frame for r in graph.temporal_reachability(e, 10).collect()}
    assert from_a == {10: -1, 20: 1, 30: 2}
    from_c = {r.actor: r.arrival_frame for r in graph.temporal_reachability(e, 30).collect()}
    assert from_c == {30: -1, 20: 2}  # A (10) unreachable backwards in time


def test_temporal_reachability_same_frame_chain(spark):
    # equal frames chain freely (>= not >): A-B@5, B-C@5 reaches C@5
    e = spark.createDataFrame(
        [(5, 1, 2), (5, 2, 3)], "frame_id long, actor1 long, actor2 long"
    )
    got = {r.actor: r.arrival_frame for r in graph.temporal_reachability(e, 1).collect()}
    assert got == {1: -1, 2: 5, 3: 5}


def test_temporal_reach_subset_of_component(spark):
    """Time-respecting reachability can only shrink static reachability:
    every temporally-reached actor must lie in the source's connected
    component (and the source's own component always contains it)."""
    from neo4j_dynagraph_spark.operators import ingest
    from neo4j_dynagraph_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    edges = ingest.presence_to_frame_interactions(
        ingest.events_to_presence(load_table(spark, SF_SMALL, "events"))
    )
    reach = {r.actor for r in graph.temporal_reachability(edges, 1).collect()}
    comp = {r.actor: r.component for r in graph.connected_components(edges).collect()}
    src_comp = comp[1]
    assert reach, "source must at least reach itself"
    assert all(comp[a] == src_comp for a in reach)


def test_k_core_peels_cascade(spark):
    """Clique of 4 (a 3-core) with a pendant path: the path must peel
    away ENTIRELY under k=3 — including node 5, whose degree only drops
    below k after its neighbor 6 is removed (the cascade case)."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(4, 5), (5, 6)]
    e = spark.createDataFrame(clique + path, "actor1 long, actor2 long")
    core3 = {r.actor: r.core_degree for r in graph.k_core(e, k=3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    core2 = {r.actor: r.core_degree for r in graph.k_core(e, k=2).collect()}
    # k=2: path nodes 5,6 still peel (degree 1 at the tail cascades)
    assert set(core2) == {1, 2, 3, 4}
    core1 = {r.actor for r in graph.k_core(e, k=1).collect()}
    assert core1 == {1, 2, 3, 4, 5, 6}


def test_k_core_rounds_matches_fixpoint_when_converged(spark):
    """Bounded peel vs fixpoint: on the clique+pendant-path graph the
    k=2 cascade needs exactly 2 rounds (leaf 6 peels in round 1; node
    5's degree only then drops below 2 — the cascade case), so
    k_core_rounds(rounds=2) must equal k_core's fixpoint (modulo the
    degree-vs-core_degree column name), while rounds=1 must still hold
    the mid-cascade node 5."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(4, 5), (5, 6)]
    e = spark.createDataFrame(clique + path, "actor1 long, actor2 long")
    fix = {r.actor: r.core_degree for r in graph.k_core(e, k=2).collect()}
    r2 = {r.actor: r.degree for r in graph.k_core_rounds(e, k=2, rounds=2).collect()}
    assert r2 == fix == {1: 3, 2: 3, 3: 3, 4: 3}
    r1 = {r.actor: r.degree for r in graph.k_core_rounds(e, k=2, rounds=1).collect()}
    # after one round only leaf 6 is gone; 5 survives with degree 1
    assert r1 == {1: 3, 2: 3, 3: 3, 4: 4, 5: 1}


def test_k_core_rounds_spill_dir_bit_identical(spark, reliable_mode, monkeypatch):
    """Reliable checkpoints (the successor of the spill_dir parquet
    path) give the default mode's survivors, and both modes stop at the
    first round that removes nothing."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(4, 5), (5, 6)]
    e = spark.createDataFrame(clique + path, "actor1 long, actor2 long")
    for rounds in (1, 4):
        a = [tuple(r) for r in graph.k_core_rounds(e, k=2, rounds=rounds).collect()]
        with reliable_mode():
            b = [
                tuple(r)
                for r in graph.k_core_rounds(e, k=2, rounds=rounds).collect()
            ]
        assert a == b and len(a) >= 4
    calls = {"checkpoint": 0, "localCheckpoint": 0}
    for name in calls:
        orig = getattr(ClassicDataFrame, name)

        def counting(self, *args, _orig=orig, _name=name, **kwargs):
            calls[_name] += 1
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(ClassicDataFrame, name, counting)
    with reliable_mode():
        graph.k_core_rounds(e, k=2, rounds=10)
    # the input, then rounds 1-3 (round 3 removes nothing), each one
    # reliable checkpoint; no local checkpoint in this mode
    assert calls == {"checkpoint": 4, "localCheckpoint": 0}


def test_spill_dir_calls_do_not_share_files(spark, reliable_mode):
    """Two calls with one checkpoint dir (the spill_dir's successor) on
    different graphs: the second call must not overwrite files the
    first call's frame still reads."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(4, 5), (5, 6)]
    e1 = spark.createDataFrame(clique + path, "actor1 long, actor2 long")
    e2 = spark.createDataFrame(
        [(10 + a, 10 + b) for a, b in clique], "actor1 long, actor2 long"
    )
    with reliable_mode():
        first = graph.k_core_rounds(e1, k=2, rounds=2)
        second = graph.k_core_rounds(e2, k=2, rounds=2)
    want = [tuple(r) for r in graph.k_core_rounds(e1, k=2, rounds=2).collect()]
    assert [tuple(r) for r in first.collect()] == want
    assert second.count() == 4


# frame-edges for temporal-pair stats: pair (1,2) present in frames
# 0,1,2, 5, 9 -> gaps 1,1,3,4; runs [3,1,1]. pair (3,4) in frames 7,8
# -> gap 1; runs [2]. pair (5,6) only frame 4 -> no gaps; runs [1].
FRAME_EDGES = [
    (0, 1, 2), (1, 1, 2), (2, 1, 2), (5, 1, 2), (9, 1, 2),
    (7, 3, 4), (8, 3, 4),
    (4, 5, 6),
]


@pytest.fixture(scope="module")
def frame_edges(spark):
    return spark.createDataFrame(
        FRAME_EDGES, "frame_id long, actor1 long, actor2 long"
    )


def test_intercontact_gaps(frame_edges):
    got = {
        (r.actor1, r.actor2): (r.n_gaps, r.min_gap, r.max_gap, r.sum_gap, r.avg_gap)
        for r in graph.intercontact_gaps(frame_edges).collect()
    }
    # pair (5,6) has a single contact -> no gap rows at all
    assert got == {
        (1, 2): (4, 1, 4, 9, 2.25),
        (3, 4): (1, 1, 1, 1, 1.0),
    }


def test_intercontact_dedups_frame_duplicates(spark, frame_edges):
    dup = frame_edges.unionByName(frame_edges)  # same frames twice
    base = graph.intercontact_gaps(frame_edges).collect()
    got = graph.intercontact_gaps(dup).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))


def test_edge_lifetime_histogram(frame_edges):
    got = {
        r.run_len: r.n_runs
        for r in graph.edge_lifetime_histogram(frame_edges).collect()
    }
    # runs: (1,2)->[0..2],[5],[9]; (3,4)->[7,8]; (5,6)->[4]
    assert got == {1: 3, 2: 1, 3: 1}


def test_assortativity_star_is_negative(spark):
    # star graph 0-{1,2,3,4}: hub degree 4, leaves degree 1 -> perfectly
    # disassortative, r = -1
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "actor1 long, actor2 long"
    )
    row = graph.assortativity(star).collect()[0]
    assert row.n_directed_edges == 8
    assert row.assortativity == -1.0


def test_assortativity_regular_graph_undefined(spark, edges):
    # on the triangle 1-2-3 alone every degree is 2 -> zero variance,
    # corr undefined -> null, and 6 directed edge instances
    tri = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "actor1 long, actor2 long"
    )
    row = graph.assortativity(tri).collect()[0]
    assert row.n_directed_edges == 6
    assert row.assortativity is None


def test_burstiness_closed_form(spark):
    import math

    # pair (1,2): contacts at frames 0,1,2,3 -> gaps 1,1,1 (periodic,
    # sigma=0 -> B=-1); pair (3,4): frames 0,1,10 -> gaps 1,9
    # (mu=5, sigma=4 -> B=(4-5)/(4+5)); pair (5,6): single gap, dropped
    rows = [(f, 1, 2) for f in (0, 1, 2, 3)]
    rows += [(f, 3, 4) for f in (0, 1, 10)]
    rows += [(f, 5, 6) for f in (0, 7)]
    fe = spark.createDataFrame(rows, "frame_id long, actor1 long, actor2 long")
    got = {(r.actor1, r.actor2): r for r in graph.burstiness(fe).collect()}
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)].n_gaps == 3
    assert got[(1, 2)].burstiness == -1.0
    assert got[(3, 4)].burstiness == round((4 - 5) / (4 + 5), 6)
    assert math.isclose(got[(3, 4)].burstiness, -0.111111, abs_tol=1e-6)


def test_label_propagation_two_cliques(spark):
    # two triangles joined by a single bridge edge: LPA must settle
    # each triangle on its own min label, and the bridge must not
    # merge them (each node has 2 in-clique neighbors vs 1 across)
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(7, 8), (7, 9), (8, 9)]
    bridge = [(3, 7)]
    e = spark.createDataFrame(tri1 + tri2 + bridge, "actor1 long, actor2 long")
    got = {r.actor: r.community for r in graph.label_propagation(e, n_iter=4).collect()}
    assert len({got[1], got[2], got[3]}) == 1, "triangle 1 must agree"
    assert len({got[7], got[8], got[9]}) == 1, "triangle 2 must agree"
    assert got[1] != got[7], "bridge must not merge the cliques"


def test_label_propagation_zero_rounds_is_identity(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], "actor1 long, actor2 long")
    got = {r.actor: r.community for r in graph.label_propagation(e, n_iter=0).collect()}
    assert got == {1: 1, 2: 2, 3: 3}
    with pytest.raises(ValueError):
        graph.label_propagation(e, n_iter=-1)


def test_label_propagation_matches_python_reference(spark):
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=1,
            max_size=15,
        ),
        st.integers(0, 3),
    )
    def check(pairs, n_iter):
        edges = sorted({(min(a, b), max(a, b)) for a, b in pairs})
        df = spark.createDataFrame(edges, "actor1 long, actor2 long")
        got = {
            r.actor: r.community
            for r in graph.label_propagation(df, n_iter=n_iter).collect()
        }
        # pure-Python synchronous LPA, min-label tie-break
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        lab = {v: v for v in adj}
        for _ in range(n_iter):
            new = {}
            for v, nbrs in adj.items():
                c = Counter(lab[u] for u in nbrs)
                best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
                new[v] = best[0]
            lab = new
        assert got == lab

    check()


def _py_truss(edges, k):
    es = {tuple(sorted(e)) for e in edges}
    while True:
        sup = {e: 0 for e in es}
        nodes = {v for e in es for v in e}
        adj = {v: set() for v in nodes}
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        for a, b in es:
            for c in adj[a] & adj[b]:
                sup[(a, b)] += 1
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return es
        es -= drop


def test_k_truss_matches_python_reference(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 9), st.integers(1, 9)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=1,
            max_size=20,
        ),
        st.integers(3, 5),
    )
    def check(pairs, k):
        edges = sorted({(min(a, b), max(a, b)) for a, b in pairs})
        df = spark.createDataFrame(edges, "actor1 long, actor2 long")
        got = {(r.actor1, r.actor2) for r in graph.k_truss(df, k=k).collect()}
        assert got == _py_truss(edges, k)

    check()


def test_k_truss_two_keeps_everything(edges):
    got = {(r.actor1, r.actor2) for r in graph.k_truss(edges, k=2).collect()}
    assert got == set(EDGES)
    with pytest.raises(ValueError):
        graph.k_truss(edges, k=1)


def test_k_truss_cascade(spark):
    # two triangles sharing node 3: every edge has support exactly 1,
    # so k=3 (support >= 1) keeps both triangles intact while k=4
    # (support >= 2) peels the whole graph
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)],
        "actor1 long, actor2 long",
    )
    k3 = {(r.actor1, r.actor2) for r in graph.k_truss(e, k=3).collect()}
    assert k3 == {(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)}
    assert graph.k_truss(e, k=4).count() == 0


def test_k_truss_rounds_matches_fixpoint_when_converged(spark):
    """Bounded support-peel vs fixpoint (the q_ktruss / q_ktruss_bounded
    pair): K4 plus a two-layer pendant whose 4-truss cascade needs
    exactly 2 rounds — round 1 peels (3,5), (4,6), (5,6) (support 1),
    which only THEN drops (4,5) to support 0 for round 2. So
    k_truss_rounds(rounds=2) must equal k_truss's fixpoint edge set,
    while rounds=1 must still hold the mid-cascade edge (4,5) — i.e.
    the bounded form is the documented superset until convergence."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(3, 5), (4, 5), (4, 6), (5, 6)]
    e = spark.createDataFrame(k4 + pendant, "actor1 long, actor2 long")
    fix = {(r.actor1, r.actor2) for r in graph.k_truss(e, k=4).collect()}
    r2 = {
        (r.actor1, r.actor2)
        for r in graph.k_truss_rounds(e, k=4, rounds=2).collect()
    }
    assert r2 == fix == set(k4)
    r1 = {
        (r.actor1, r.actor2)
        for r in graph.k_truss_rounds(e, k=4, rounds=1).collect()
    }
    assert r1 == set(k4) | {(4, 5)}


def test_k_truss_max_iterations_boundary(spark):
    """On the K4 + two-layer pendant graph the 4-truss peel removes
    edges in two rounds and a third round finds nothing to remove:
    two iterations cannot tell the peel has converged (RuntimeError),
    three return the K4."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(3, 5), (4, 5), (4, 6), (5, 6)]
    e = spark.createDataFrame(k4 + pendant, "actor1 long, actor2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.k_truss(e, k=4, max_iterations=2)
    got = {
        (r.actor1, r.actor2)
        for r in graph.k_truss(e, k=4, max_iterations=3).collect()
    }
    assert got == set(k4)


def test_peel_rounds_stop_when_a_round_removes_nothing(spark, monkeypatch):
    # the bounded form runs at most `rounds` peels but stops at the
    # first round whose counted barrier sees no edge removed
    rows = []
    barrier = graph.counted_barrier

    def counting(df):
        out = barrier(df)
        rows.append(out[1])
        return out

    monkeypatch.setattr(graph, "counted_barrier", counting)
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(3, 5), (4, 5), (4, 6), (5, 6)]
    e = spark.createDataFrame(k4 + pendant, "actor1 long, actor2 long")
    got = {
        (r.actor1, r.actor2)
        for r in graph.k_truss_rounds(e, k=4, rounds=10).collect()
    }
    assert got == set(k4)
    # barriers: the input, then rounds 1-3; round 3 removes nothing
    assert rows == [10, 7, 6, 6]


def test_temporal_path_counts_hand_graph(spark):
    # frame edges: (frame, a1, a2). Paths constrained to f2 in
    # (f1, f1+2]; both orientations of every contact count.
    e = spark.createDataFrame(
        [
            (0, 1, 2),  # 1-2 at frame 0
            (1, 2, 3),  # 2-3 at frame 1: path 1->2->3 (gap 1)
            (2, 2, 3),  # 2-3 at frame 2: path 1->2->3 (gap 2)
            (3, 2, 3),  # 2-3 at frame 3: gap 3 > 2, NOT a path
            (0, 1, 2),  # duplicate contact in frame 0: distinct-ed away
        ],
        "frame_id long, actor1 long, actor2 long",
    )
    got = {
        (r.src, r.dst): (r.n_paths, r.earliest_arrival)
        for r in graph.temporal_path_counts(e, max_gap_frames=2).collect()
    }
    # 1->2->3 via frames (0,1) and (0,2)
    assert got[(1, 3)] == (2, 1)
    # 3->2->1 never: the 1-2 contact (frame 0) precedes every 2-3 one
    assert (3, 1) not in got
    # every 2-hop continuation out of actor 3 returns to 3 (src==dst,
    # excluded), so no (3, x) rows at all
    assert not any(s == 3 for (s, _d) in got)


def test_temporal_path_counts_strictly_later(spark):
    # same-frame second hop must NOT count (strictly later semantics)
    e = spark.createDataFrame(
        [(5, 1, 2), (5, 2, 3)], "frame_id long, actor1 long, actor2 long"
    )
    assert graph.temporal_path_counts(e, max_gap_frames=2).count() == 0


def test_widest_paths_two_hop_beats_direct(spark):
    import pyspark.sql.functions as F  # noqa: F401

    from neo4j_dynagraph_spark.operators import graph

    edges = spark.createDataFrame(
        # direct 1-3 edge is narrow (1); the 1-2-3 corridor bottlenecks at 8
        [(1, 2, 10), (2, 3, 8), (1, 3, 1), (3, 4, 5)],
        "actor1 long, actor2 long, weight long",
    )
    out = {r.actor: r.width for r in graph.widest_paths(edges, anchor=1, hops=3).collect()}
    assert out == {2: 10, 3: 8, 4: 5}
    # one hop: only direct neighbors, direct widths
    out1 = {r.actor: r.width for r in graph.widest_paths(edges, anchor=1, hops=1).collect()}
    assert out1 == {2: 10, 3: 1}
    # anchor never appears in its own result
    assert 1 not in out and 1 not in out1


def test_broker_counts_identifies_the_intermediary(spark):
    from neo4j_dynagraph_spark.operators import graph

    # 1-2 at frame 0, 2-3 at frame 1: actor 2 brokers 1->3 (and 3->1
    # needs 3-2 then 2-1 in order: 2-3@1 then 1-2@? no later frame, so
    # only the forward route exists)
    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 3)], "frame_id long, actor1 long, actor2 long"
    )
    out = {r.actor: r for r in graph.broker_counts(edges, max_gap_frames=2).collect()}
    assert 2 in out
    assert out[2].n_paths == 1 and out[2].n_routes == 1
    # endpoints broker nothing
    assert 1 not in out and 3 not in out


def test_triadic_closure_counts(spark):
    from neo4j_dynagraph_spark.operators import graph

    # snapshot 1: path 1-2-3 plus edge 3-4 -> wedges (1,3),(2,4); (1,3)
    # and (2,4) are open (no direct edge). snapshot 2 closes (1,3) only.
    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "actor1 int, actor2 int"
    )
    e2 = spark.createDataFrame([(1, 3), (9, 10)], "actor1 int, actor2 int")
    out = graph.triadic_closure(e1, e2).collect()[0]
    assert out.n_open_wedges == 2
    assert out.n_closed == 1
    assert abs(out.closure_rate - 0.5) < 1e-9


def test_triadic_closure_excludes_existing_edges(spark):
    from neo4j_dynagraph_spark.operators import graph

    # triangle 1-2-3: every wedge is already closed in snapshot 1 ->
    # zero open wedges, rate 0 (guarded division)
    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "actor1 int, actor2 int"
    )
    e2 = spark.createDataFrame([(1, 2)], "actor1 int, actor2 int")
    out = graph.triadic_closure(e1, e2).collect()[0]
    assert out.n_open_wedges == 0
    assert out.n_closed == 0
    assert out.closure_rate == 0.0


def test_negative_edges_excludes_real_edges(spark):
    from neo4j_dynagraph_spark.operators import graph

    # near-complete graph on 5 nodes missing only (1,5),(2,4): every
    # sampled negative must be one of the two true non-edges
    all_pairs = [
        (a, b) for a in range(1, 6) for b in range(a + 1, 6)
    ]
    missing = {(1, 5), (2, 4)}
    e = spark.createDataFrame(
        [p for p in all_pairs if p not in missing], "actor1 int, actor2 int"
    )
    out = {
        (r.actor1, r.actor2)
        for r in graph.negative_edges(e, n_seeds=4, k=100).collect()
    }
    assert out <= missing
    # deterministic across runs
    out2 = {
        (r.actor1, r.actor2)
        for r in graph.negative_edges(e, n_seeds=4, k=100).collect()
    }
    assert out == out2


def test_negative_edges_no_self_pairs(spark):
    from neo4j_dynagraph_spark.operators import graph

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "actor1 int, actor2 int"
    )
    for r in graph.negative_edges(e, n_seeds=8, k=1000).collect():
        assert r.actor1 < r.actor2


def test_adamic_adar_scores_and_excludes_edges(spark):
    from neo4j_dynagraph_spark.operators import graph
    import math

    # path 1-2-3 plus 2-4: non-edges through center 2 (deg 3):
    # (1,3),(1,4),(3,4) each score 1/ln(3); 1-3 ALSO wedge via... no
    # other centers. Edge (1,2) etc. must not appear.
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], "actor1 int, actor2 int"
    )
    out = {(r.actor1, r.actor2): r for r in graph.adamic_adar(e, k=10).collect()}
    assert set(out) == {(1, 3), (1, 4), (3, 4)}
    for r in out.values():
        assert r.n_common == 1
        assert abs(r.aa_score - 1 / math.log(3)) < 1e-6


def test_neighbor_jaccard_arithmetic(spark):
    from neo4j_dynagraph_spark.operators import graph

    # N(1)={2,3}, N(4)={2,3}: J(1,4) = 2/(2+2-2) = 1.0
    # N(2)={1,4}, N(3)={1,4}: J(2,3) = 1.0 as well
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "actor1 int, actor2 int"
    )
    out = {
        (r.actor1, r.actor2): r
        for r in graph.neighbor_jaccard(e, k=10, min_common=2).collect()
    }
    assert set(out) == {(1, 4), (2, 3)}
    for r in out.values():
        assert r.n_common == 2 and abs(r.jaccard - 1.0) < 1e-9


def test_triadic_closure_single_frame_clique_degenerate(spark):
    """The case that forced the re-scope: a clique (one frame's
    co-presence graph) has zero open wedges by construction."""
    from neo4j_dynagraph_spark.operators import graph

    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    e1 = spark.createDataFrame(clique, "actor1 int, actor2 int")
    e2 = spark.createDataFrame([(1, 2)], "actor1 int, actor2 int")
    out = graph.triadic_closure(e1, e2).collect()[0]
    assert out.n_open_wedges == 0


def test_random_walks_valid_and_deterministic(spark):
    from neo4j_dynagraph_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "actor1 long, actor2 long"
    )
    walks = random_walks(edges, n_steps=3)
    rows = walks.collect()
    # one walk per node, each with steps 0..3
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r.walk_id, {})[r.step] = r.node
    assert set(by_walk) == {1, 2, 3, 4}
    adj = {(1, 2), (1, 3), (2, 3), (3, 4)}
    adj |= {(b, a) for a, b in adj}
    for wid, steps in by_walk.items():
        assert set(steps) == {0, 1, 2, 3}
        assert steps[0] == wid
        for i in range(3):
            assert (steps[i], steps[i + 1]) in adj, (wid, steps)
    # deterministic: identical corpus on re-run
    again = {(r.walk_id, r.step, r.node) for r in random_walks(edges, n_steps=3).collect()}
    assert again == {(r.walk_id, r.step, r.node) for r in rows}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        random_walks(edges, n_steps=0)


def test_skipgram_pairs_window_semantics(spark):
    """Window-2 pairs over a known walk: pair counts follow directly
    from step distances; symmetric (center, context) totals."""
    from neo4j_dynagraph_spark.operators.graph import random_walks

    import pyspark.sql.functions as F

    # path graph 1-2-3: walks are forced (each node has <= 2 neighbors)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "actor1 long, actor2 long")
    walks = random_walks(edges, n_steps=2)
    rows = {(r.walk_id, r.step): r.node for r in walks.collect()}
    # replicate the window-2 pair extraction in python
    from collections import Counter

    want = Counter()
    by_walk = {}
    for (w, s), n in rows.items():
        by_walk.setdefault(w, {})[s] = n
    for steps in by_walk.values():
        for sa, ca in steps.items():
            for sb, cb in steps.items():
                if sb != sa and abs(sb - sa) <= 2:
                    want[(ca, cb)] += 1
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("s_a"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("s_b"), F.col("node").alias("context")
    )
    got = {
        (r.center, r.context): r.n_pairs
        for r in a.join(
            b,
            (a.walk_id == b.walk_id)
            & (F.col("s_b") >= F.col("s_a") - 2)
            & (F.col("s_b") <= F.col("s_a") + 2)
            & (F.col("s_b") != F.col("s_a")),
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .collect()
    }
    assert got == dict(want) and got
    # total pair mass is symmetric: (x,y) and (y,x) appear equally often
    assert all(got[(y, x)] == c for (x, y), c in got.items())


def test_sgns_negatives_exactly_one_match_and_biased(spark):
    """Every (pair, j) draw resolves to EXACTLY one node (the CDF
    intervals partition [0,1) and the bucket grid is a superset cover),
    re-runs are identical, and the degree^0.75 noise bias shows: the
    hub of a star graph is drawn far more often than any leaf."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators.graph import sgns_negatives

    # star: hub 1 with 8 leaves -> deg(hub)=8, deg(leaf)=1
    edges = spark.createDataFrame(
        [(1, i) for i in range(2, 10)], "actor1 long, actor2 long"
    )
    pairs = spark.createDataFrame(
        [(c, x) for c in range(2, 10) for x in (1, c % 8 + 2) if x != c],
        "center long, context long",
    ).distinct()
    n_pairs = pairs.count()
    neg = sgns_negatives(edges, pairs, k=4)
    rows = neg.collect()
    # exactly one neg per (center, context, j)
    assert len(rows) == n_pairs * 4
    assert len({(r.center, r.context, r.j) for r in rows}) == len(rows)
    again = sgns_negatives(edges, pairs, k=4).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}
    # hub mass: w(hub)=8^0.75 ~ 4.76 vs 8 leaves at 1.0 -> hub ~ 37%
    hub = sum(1 for r in rows if r.neg == 1)
    assert 0.15 * len(rows) < hub < 0.65 * len(rows)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sgns_negatives(edges, pairs, k=0)


def test_modularity_planted_two_cliques(spark):
    """Two disjoint triangles: LPA converges to the two cliques and
    modularity hits the closed form Q = 2*(3/6 - (9/12)^2/... ) —
    computed here from first principles: m=6, each community has e_c=3,
    d_c=6 -> Q = 2*(3/6 - (6/12)^2) = 0.5."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators.graph import (
        degree,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)],
        "actor1 long, actor2 long",
    )
    cm = label_propagation(edges, n_iter=2)
    comm = {r.actor: r.community for r in cm.collect()}
    assert len({comm[1], comm[2], comm[3]}) == 1
    assert len({comm[4], comm[5], comm[6]}) == 1
    assert comm[1] != comm[4]
    m = 6.0
    dg = {r.actor: r.degree for r in degree(edges).collect()}
    by_c = {}
    for a, c in comm.items():
        by_c.setdefault(c, []).append(a)
    intra = {comm[1]: 3, comm[4]: 3}
    q = sum(
        intra[c] / m - (sum(dg[a] for a in mem) / (2 * m)) ** 2
        for c, mem in by_c.items()
    )
    assert abs(q - 0.5) < 1e-9


def test_temporal_walks_respect_time_and_terminate(spark):
    """Hops only traverse strictly-later frames; a node whose only
    edges are in the final frame yields a length-1 walk (early
    termination); re-runs are identical."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators.graph import temporal_walks

    fe = spark.createDataFrame(
        [(1, 1, 2), (2, 2, 3), (3, 3, 4), (3, 1, 4)],
        "frame_id long, actor1 long, actor2 long",
    )
    walks = temporal_walks(fe, n_steps=3)
    rows = walks.collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r.walk_id, {})[r.step] = (r.node, r.t)
    adj = {(1, 1, 2), (2, 2, 3), (3, 3, 4), (3, 1, 4)}
    adj |= {(f, b, a) for f, a, b in adj}
    for wid, steps in by_walk.items():
        assert steps[0] == (wid, -1)
        prev_t = -1
        for s in range(1, max(steps) + 1):
            assert s in steps, "no gaps: early termination only at the tail"
            node, t = steps[s]
            assert t > prev_t, "time-respecting: strictly later frame"
            assert (t, steps[s - 1][0], node) in adj
            prev_t = t
    # node 4's edges are all in frame 3 -> its walk can take exactly
    # one hop (to 1 or 3, both of whose remaining edges are <= 3)
    assert max(by_walk[4]) <= 2
    again = {(r.walk_id, r.step, r.node, r.t) for r in temporal_walks(fe, n_steps=3).collect()}
    assert again == {(r.walk_id, r.step, r.node, r.t) for r in rows}


def test_sgns_negatives_integer_cdf_property(spark):
    """Property (random graphs): the INTEGER fixed-point CDF partitions
    [0, total) exactly, so every (pair, j) draw matches EXACTLY one
    node — no FP boundary gap/overlap can drop or double a draw, for
    any degree profile (ADVICE r9: the double-CDF form could not
    guarantee this at interval boundaries)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from neo4j_dynagraph_spark.operators.graph import sgns_negatives

    edge_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(edge_strategy)
    def check(raw):
        canon = sorted({(min(a, b), max(a, b)) for a, b in raw})
        edges = spark.createDataFrame(canon, "actor1 long, actor2 long")
        # pairs: every edge as (center, context) both ways
        pairs = spark.createDataFrame(
            sorted({(a, b) for a, b in canon} | {(b, a) for a, b in canon}),
            "center long, context long",
        )
        n_pairs = pairs.count()
        rows = sgns_negatives(edges, pairs, k=3).collect()
        assert len(rows) == n_pairs * 3
        assert len({(r.center, r.context, r.j) for r in rows}) == len(rows)
        nodes = {a for e in canon for a in e}
        assert all(r.neg in nodes for r in rows)

    check()


def test_wedge_cap_semantics_planted_hub(spark):
    """max_center_degree is a semantic cap: with cap >= max degree the
    wedge stream is unchanged; with a cap below the hub's degree,
    exactly the hub-centered wedges disappear (the clique wedges
    survive untouched)."""
    from neo4j_dynagraph_spark.operators.graph import _wedge_pairs

    # one 4-clique (node degrees 3) + hub 100 with 6 leaves (degree 6)
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    star = [(100, 200 + i) for i in range(6)]
    edges = spark.createDataFrame(
        clique + star, "actor1 long, actor2 long"
    )
    full = {tuple(r) for r in _wedge_pairs(edges).collect()}
    same = {
        tuple(r)
        for r in _wedge_pairs(edges, max_center_degree=6).collect()
    }
    assert same == full
    capped = {
        tuple(r)
        for r in _wedge_pairs(edges, max_center_degree=3).collect()
    }
    assert capped == {t for t in full if t[0] != 100}
    # the clique contributes 4 centers x C(3,2)=3 wedges; hub C(6,2)=15
    assert len(full) - len(capped) == 15


def test_triangle_degree_cap_semantics_planted_hub(spark):
    """triangles(max_degree=...) / degree_cap_subgraph: with the cap at
    or above the max degree nothing changes; below the hub's degree,
    exactly the hub's edges and the triangles it closes disappear
    while every clique triangle survives (the node-level twin of the
    wedge-stream cap, round-11 capped-enumeration trio)."""
    from neo4j_dynagraph_spark.operators.graph import (
        degree_cap_subgraph,
        triangles,
    )

    # K4 on 1..4 (each degree 3+1=4 after the hub attaches) + hub 10
    # adjacent to 1..8 (degree 8): the hub closes one triangle per K4
    # edge (6) on top of the K4's own 4
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    spokes = [(i, 10) for i in range(1, 9)]
    edges = spark.createDataFrame(k4 + spokes, "actor1 long, actor2 long")

    full = {tuple(r) for r in triangles(edges).collect()}
    assert len(full) == 4 + 6
    same = {tuple(r) for r in triangles(edges, max_degree=8).collect()}
    assert same == full
    capped = {tuple(r) for r in triangles(edges, max_degree=5).collect()}
    assert capped == {t for t in full if 10 not in t} and len(capped) == 4

    sub = {tuple(r) for r in degree_cap_subgraph(edges, 5).collect()}
    assert sub == set(k4)
    # orientation-agnostic like the operators it feeds: flipped input
    # yields the same induced subgraph edge SET (canonicalized by the
    # caller's own orientation, endpoints checked symmetrically)
    flipped = spark.createDataFrame(
        [(b, a) for a, b in k4 + spokes], "actor1 long, actor2 long"
    )
    sub_f = {tuple(r) for r in degree_cap_subgraph(flipped, 5).collect()}
    assert sub_f == {(b, a) for a, b in k4}


def test_node2vec_walks_valid_deterministic_and_biased(spark):
    """node2vec walks: every hop traverses a real edge, every walk has
    all n_steps+1 rows, re-runs are identical, the forced-backtrack
    case works (a degree-1 neighbor's only candidate is prev), and
    the second-order bias shows: with explore-weight >> stay/return,
    a wedge walker leaves the triangle more often than it stays."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators.graph import node2vec_walks

    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4), (5, 1)]
    df = spark.createDataFrame(edges, "actor1 long, actor2 long")
    rows = sorted(map(tuple, node2vec_walks(df, n_steps=3).collect()))
    by_walk = {}
    for wid, st, nd in rows:
        by_walk.setdefault(wid, {})[st] = nd
    assert all(set(d) == {0, 1, 2, 3} for d in by_walk.values())
    es = {(min(a, b), max(a, b)) for a, b in edges}
    assert all(
        (min(d[i], d[i + 1]), max(d[i], d[i + 1])) in es
        for d in by_walk.values()
        for i in range(3)
    )
    again = sorted(map(tuple, node2vec_walks(df, n_steps=3).collect()))
    assert again == rows
    # forced backtrack: node 5's only neighbor is 1, so any walk
    # standing at 5 must return to 1 (weight class 'back' with w=1
    # still wins when it is the whole distribution)
    for d in by_walk.values():
        for i in range(1, 3):
            if d[i] == 5:
                assert d[i + 1] == 1
    # degenerate weights rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        node2vec_walks(df, n_steps=0)
    with _pytest.raises(ValueError):
        node2vec_walks(df, w_back=0, w_same=0, w_fwd=0)
    # w_back=0 alone is rejected too: at a degree-1 node the only
    # candidate is prev, so a zero return-weight would zero the CDF
    # total and silently truncate the walk (ADVICE r10)
    with _pytest.raises(ValueError):
        node2vec_walks(df, w_back=0)
    # orientation-agnostic adjacency (ADVICE r10): flipping every edge
    # to (b, a) with b > a must not change a single hop — the 'stay'
    # test reads prev's symmetrized neighbor array, which holds both
    # orientations however the caller oriented the input
    flipped = spark.createDataFrame(
        [(b, a) for a, b in edges], "actor1 long, actor2 long"
    )
    assert sorted(map(tuple, node2vec_walks(flipped, n_steps=3).collect())) == rows


def test_per_frame_components_match_single_frame_cc(spark):
    """Per-frame CC must equal plain CC run on each frame's own edges:
    frame 7 is the module graph, frame 9 a differently shaped one
    sharing actors with it (a 12-node path, which needs several
    pointer-jump rounds, plus a separate pair)."""
    frame9 = [(i, i + 1) for i in range(3, 14)] + [(1, 2)]
    fe = spark.createDataFrame(
        [(7, a, b) for a, b in EDGES] + [(9, a, b) for a, b in frame9],
        "frame_id long, actor1 long, actor2 long",
    )
    got = {
        (r.frame_id, r.actor): r.component
        for r in graph.connected_components_per_frame(fe).collect()
    }
    want = {}
    for f in (7, 9):
        for r in graph.connected_components(
            fe.where(fe.frame_id == f).select("actor1", "actor2")
        ).collect():
            want[(f, r.actor)] = r.component
    assert got == want
    assert {c for (f, _), c in want.items() if f == 9} == {1, 3}


def test_per_frame_components_are_frame_local(spark):
    # frame 0: 1-2 and 3-4 (two components); frame 1: 2-3 bridges — but
    # only within frame 1, where 1 and 4 are absent
    fe = spark.createDataFrame(
        [(0, 1, 2), (0, 3, 4), (1, 2, 3)],
        "frame_id long, actor1 long, actor2 long",
    )
    got = {
        (r.frame_id, r.actor): r.component
        for r in graph.connected_components_per_frame(fe).collect()
    }
    assert got == {
        (0, 1): 1, (0, 2): 1, (0, 3): 3, (0, 4): 3,
        (1, 2): 2, (1, 3): 2,
    }


def test_component_lifecycle_taxonomy(spark):
    """Planted merge / split / birth / dissolve / persist fixture.

    frame 0: {1,2} and {3,4}        frame 1: {1,2,3,4} (merge)
    frame 2: {1,2} and {3,4} again  (split fate at f1; continues at f2)
    frame 2 also births {8,9}, which dissolves after (no frame 3).
    """
    fe = spark.createDataFrame(
        [(0, 1, 2), (0, 3, 4),
         (1, 1, 2), (1, 2, 3), (1, 3, 4),
         (2, 1, 2), (2, 3, 4), (2, 8, 9)],
        "frame_id long, actor1 long, actor2 long",
    )
    lab = graph.connected_components_per_frame(fe)
    rows = {
        (r.frame_id, r.component): (r.n_members, r.n_pred, r.n_succ, r.event, r.fate)
        for r in graph.component_lifecycle(lab).collect()
    }
    assert rows[(0, 1)] == (2, 0, 1, "birth", "persist")
    assert rows[(0, 3)] == (2, 0, 1, "birth", "persist")
    # the merged component descends from TWO and splits into TWO
    assert rows[(1, 1)] == (4, 2, 2, "merge", "split")
    assert rows[(2, 1)] == (2, 1, 0, "continue", "dissolve")
    assert rows[(2, 3)] == (2, 1, 0, "continue", "dissolve")
    assert rows[(2, 8)] == (2, 0, 0, "birth", "dissolve")


def test_temporal_motifs_span_census_and_delta(spark):
    # triangle {1,2,3}: (1,2)@f0, (2,3)@f1, (1,3)@f3 -> span 3;
    # (1,2) also @f2 -> combo with span 2; delta=2 keeps only span 2
    fe = spark.createDataFrame(
        [(0, 1, 2), (2, 1, 2), (1, 2, 3), (3, 1, 3)],
        "frame_id long, actor1 long, actor2 long",
    )
    all_spans = {
        r.span: r.n_motifs for r in graph.temporal_motifs(fe, delta=10).collect()
    }
    assert all_spans == {2: 1, 3: 1}
    tight = {
        r.span: r.n_motifs for r in graph.temporal_motifs(fe, delta=2).collect()
    }
    assert tight == {2: 1}


def test_burst_windows_z_and_min_obs(spark):
    # actor 1: frames 1..10 at 1 event, frame 11 spikes to 9.
    # trailing window (<= 10 back): n=10, mu=1, sigma=0... sigma 0 is
    # filtered; mix in one 2 so sigma > 0: frames 1..9 at 1, frame 10
    # at 2, frame 11 at 9 -> trailing n=10 mu=1.1 var=0.09 sig=0.3
    # z=(9-1.1)/0.3 = 26.333333
    rows = [(f, 1, 1) for f in range(1, 10)] + [(10, 1, 2), (11, 1, 9)]
    # actor 2: too few observations (3 frames) -> no verdict ever
    rows += [(1, 2, 1), (2, 2, 1), (3, 2, 50)]
    p = spark.createDataFrame(rows, "frame_id long, actor long, n_events long")
    got = [
        (r.frame_id, r.actor, r.n_events, r.n_obs, r.z)
        for r in graph.burst_windows(p, window=10, min_obs=10, z_thresh=3.0).collect()
    ]
    assert got == [(11, 1, 9, 10, pytest.approx(26.333333))]


def test_temporal_motifs_structure_decoupling(spark):
    # structure anchored on frame 0's graph only: triangle {1,2,3}
    # exists at f0; triad {4,5,6} only forms later -> not counted even
    # though its day frame-edges would close it
    fe = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 3), (0, 1, 3),
         (1, 4, 5), (1, 5, 6), (2, 4, 6)],
        "frame_id long, actor1 long, actor2 long",
    )
    anchor = fe.where("frame_id = 0").select("actor1", "actor2")
    got = {
        r.span: r.n_motifs
        for r in graph.temporal_motifs(fe, delta=5, structure_edges=anchor).collect()
    }
    assert got == {0: 1}


def test_personalized_pagerank_numpy_differential(spark, edges):
    """Independent numpy replay of the seeded power method on the
    5-node fixture, plus the structural properties: seed-proximal
    nodes outrank distant ones and total mass stays <= 1."""
    import numpy as np

    got = {
        r.actor: r.rank
        for r in graph.personalized_pagerank(edges, [1], iterations=10).collect()
    }
    nodes = sorted({a for e in EDGES for a in e})
    idx = {a: i for i, a in enumerate(nodes)}
    A = np.zeros((5, 5))
    for a, b in EDGES:
        A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1
    deg = A.sum(1)
    tele = np.array([1.0 if a == 1 else 0.0 for a in nodes])
    r = tele.copy()
    for _ in range(10):
        r = (1.0 - 0.85) * tele + 0.85 * (A.T @ (r / deg))
    want = {a: round(float(r[idx[a]]), 6) for a in nodes}
    assert got == pytest.approx(want)
    # seed holds the most mass; its direct neighbors beat the far node 4
    assert got[1] == max(got.values())
    assert min(got[2], got[3], got[5]) > got[4]


def test_eigenvector_centrality_numpy_differential(spark, edges):
    import numpy as np

    got = {
        r.actor: r.score
        for r in graph.eigenvector_centrality(edges, iterations=10).collect()
    }
    nodes = sorted({a for e in EDGES for a in e})
    idx = {a: i for i, a in enumerate(nodes)}
    A = np.zeros((5, 5))
    for a, b in EDGES:
        A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1
    v = np.full(5, 1.0 / 5)
    for _ in range(10):
        v = A @ v
        v = v / v.sum()
    want = {a: round(float(v[idx[a]]), 6) for a in nodes}
    assert got == pytest.approx(want)
    # degree-3 nodes 1 and 3 dominate the degree-2 nodes
    assert min(got[1], got[3]) > max(got[2], got[4], got[5])


def test_eigenvector_centrality_zero_iterations_is_uniform(edges):
    got = {
        r.actor: r.score
        for r in graph.eigenvector_centrality(edges, iterations=0).collect()
    }
    assert got == {a: 0.2 for a in range(1, 6)}


def test_harmonic_centrality_closed_form(spark, edges):
    """Hand-computed distances on the 5-node fixture: every node
    reaches all 4 others within 2 hops; 1 and 3 (degree 3) score
    3 + 1/2, the rest 2 + 2/2."""
    got = {
        r.actor: (r.n_reached, r.harmonic)
        for r in graph.harmonic_centrality(edges, max_dist=4).collect()
    }
    assert got == {
        1: (4, 3.5), 3: (4, 3.5),
        2: (4, 3.0), 4: (4, 3.0), 5: (4, 3.0),
    }
    # radius bound respected: max_dist=1 counts direct neighbors only
    r1 = {
        r.actor: (r.n_reached, r.harmonic)
        for r in graph.harmonic_centrality(edges, max_dist=1).collect()
    }
    assert r1[1] == (3, 3.0) and r1[4] == (2, 2.0)


def test_temporal_walks_spill_dir_bit_identical(spark, reliable_mode):
    fe = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 3), (2, 1, 3), (3, 3, 4), (5, 4, 5)],
        "frame_id long, actor1 long, actor2 long",
    )
    a = sorted(
        tuple(r)
        for r in graph.temporal_walks(fe, n_steps=3, max_gap=2).collect()
    )
    # reliable checkpoints replaced the spill_dir parquet staging
    with reliable_mode():
        b = sorted(
            tuple(r)
            for r in graph.temporal_walks(fe, n_steps=3, max_gap=2).collect()
        )
    assert a == b and len(a) > 0


def test_frame_density_closed_form(spark):
    """Planted: frame 0 is a triangle (density 1), frame 1 a 4-path
    (density 3/6 = 0.5)."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.queries import REGISTRY

    fe = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 3), (0, 1, 3), (1, 1, 2), (1, 2, 3), (1, 3, 4)],
        "frame_id long, actor1 long, actor2 long",
    )
    ec = fe.groupBy("frame_id").agg(F.count(F.lit(1)).alias("n_edges"))
    ac = (
        fe.select("frame_id", F.explode(F.array("actor1", "actor2")).alias("a"))
        .groupBy("frame_id")
        .agg(F.countDistinct("a").alias("n_actors"))
    )
    got = {
        r.frame_id: (r.n_actors, r.n_edges, round(
            2.0 * r.n_edges / (r.n_actors * (r.n_actors - 1)), 6))
        for r in ec.join(ac, "frame_id").collect()
    }
    assert got == {0: (3, 3, 1.0), 1: (4, 3, 0.5)}
    assert "q_frame_density" in REGISTRY


# ---------------------------------------------------------------------------
# round-11 centrality completion: closeness / distance distribution /
# betweenness / rich club


def _py_bfs_all(adj):
    """Exact all-pairs hop distances by brute-force Python BFS."""
    import collections

    dist = {}
    for s in adj:
        dist[s] = {s: 0}
        q = collections.deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist[s]:
                    dist[s][w] = dist[s][u] + 1
                    q.append(w)
    return dist


def _py_brandes(adj, max_dist=None):
    """Reference Brandes betweenness (Brandes 2001, verbatim); a
    ``max_dist`` stops the BFS at that radius, the bound
    betweenness_centrality applies."""
    import collections

    bc = {v: 0.0 for v in adj}
    for s in adj:
        stack, pred = [], {v: [] for v in adj}
        sigma = {v: 0 for v in adj}
        sigma[s] = 1
        dist = {v: -1 for v in adj}
        dist[s] = 0
        q = collections.deque([s])
        while q:
            u = q.popleft()
            stack.append(u)
            if dist[u] == max_dist:
                continue
            for w in adj[u]:
                if dist[w] < 0:
                    dist[w] = dist[u] + 1
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
                    pred[w].append(u)
        delta = {v: 0.0 for v in adj}
        while stack:
            w = stack.pop()
            for u in pred[w]:
                delta[u] += sigma[u] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {v: b / 2 for v, b in bc.items()}


def _adj(edge_list):
    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def test_betweenness_differential(spark, edges):
    want = _py_brandes(_adj(EDGES))
    got = {
        r.actor: r.betweenness
        for r in graph.betweenness_centrality(edges, max_dist=4).collect()
    }
    assert set(got) == set(want)
    for v, b in want.items():
        assert got[v] == pytest.approx(round(b, 6), abs=1e-6), v


def test_betweenness_star_closed_form(spark):
    # K1,4: center 0 carries all C(4,2)=6 leaf pairs; leaves carry 0
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    got = {
        r.actor: r.betweenness
        for r in graph.betweenness_centrality(star, max_dist=4).collect()
    }
    assert got == {0: 6.0, 1: 0.0, 2: 0.0, 3: 0.0, 4: 0.0}


def test_closeness_differential(spark, edges):
    dist = _py_bfs_all(_adj(EDGES))
    n = len(dist)
    got = {
        r.actor: r
        for r in graph.closeness_centrality(edges, max_dist=4).collect()
    }
    for s, ds in dist.items():
        tot = sum(d for d in ds.values() if d > 0)
        reached = len(ds) - 1
        assert got[s].n_reached == reached
        assert got[s].total_dist == tot
        assert got[s].closeness == pytest.approx(
            round(reached / tot, 6), abs=1e-6
        )
        assert got[s].wf_closeness == pytest.approx(
            round(reached / tot * reached / (n - 1), 6), abs=1e-6
        )


def test_distance_distribution_closed_form(spark, edges):
    # d=1: 6 edges -> 12 ordered pairs; d=2: {1-4, 2-4, 2-5, 3-5} -> 8;
    # all 20 ordered pairs reached
    rows = {
        r.d: r for r in graph.distance_distribution(edges, max_dist=4).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].n_pairs == 12 and rows[2].n_pairs == 8
    assert rows[1].cum_frac == pytest.approx(0.6, abs=1e-6)
    assert rows[2].cum_frac == pytest.approx(1.0, abs=1e-6)


def test_rich_club_closed_form(spark, edges):
    # degrees {1:3, 2:2, 3:3, 4:2, 5:2}; k=1: all 5 nodes, all 6 edges;
    # k=2: nodes {1,3}, edge (1,3) -> phi=1.0; k=5: empty club, NULL phi
    rows = {r.k: r for r in graph.rich_club(edges, [1, 2, 5]).collect()}
    assert rows[1].n_nodes == 5 and rows[1].n_edges == 6
    assert rows[1].phi == pytest.approx(0.6, abs=1e-6)
    assert rows[2].n_nodes == 2 and rows[2].n_edges == 1
    assert rows[2].phi == pytest.approx(1.0, abs=1e-6)
    assert rows[5].n_nodes == 0 and rows[5].n_edges == 0
    assert rows[5].phi is None


def test_bounded_distances_radius_truncates(spark):
    # path 1-2-3-4-5 with max_dist=2: node 1 reaches only {2,3}
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    reach = {
        (r.s, r.v): r.d
        for r in graph.bounded_distances(path, max_dist=2).collect()
    }
    assert reach[(1, 3)] == 2
    assert (1, 4) not in reach and (1, 5) not in reach


def test_kmv_neighborhood_exact_when_sketch_not_full(spark):
    # K1,4 with k=16 > 5 nodes: sketches never fill, estimates exact:
    # d=1 -> 4*2 (center<->leaf) = 8 ordered pairs; d>=2 -> all 20
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    rows = {
        r.d: r.est_pairs
        for r in graph.kmv_neighborhood(star, k=16, max_dist=3).collect()
    }
    assert rows == {1: 8.0, 2: 20.0, 3: 20.0}
    # no sketch changes in round 3, so the loop stops there and every
    # later radius repeats the last estimate
    rows = {
        r.d: r.est_pairs
        for r in graph.kmv_neighborhood(star, k=16, max_dist=5).collect()
    }
    assert rows == {1: 8.0, 2: 20.0, 3: 20.0, 4: 20.0, 5: 20.0}


def test_kmv_neighborhood_small_k_monotone(spark, edges):
    # undersized sketch (k=2): estimates are noisy but deterministic,
    # cumulative by construction, and cover every d
    rows = [
        r.est_pairs
        for r in graph.kmv_neighborhood(edges, k=2, max_dist=3)
        .orderBy("d")
        .collect()
    ]
    assert len(rows) == 3
    assert all(b >= a for a, b in zip(rows, rows[1:]))
    again = [
        r.est_pairs
        for r in graph.kmv_neighborhood(edges, k=2, max_dist=3)
        .orderBy("d")
        .collect()
    ]
    assert rows == again


def test_shortest_paths_weighted_relaxes_through_cheaper_path(spark):
    # direct 1-3 costs 3; 1-2-3 costs 2 -> Bellman-Ford must relax
    ew = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 3)],
        "actor1 long, actor2 long, cost long",
    )
    got = {
        r.actor: r.cost
        for r in graph.shortest_paths_weighted(ew, 1, max_hops=4).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def test_shortest_paths_weighted_hop_bound(spark):
    # path 1-2-3-4-5, unit costs, max_hops=2: nodes 4,5 out of scope
    ew = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(1, 5)],
        "actor1 long, actor2 long, cost long",
    )
    got = {
        r.actor: r.cost
        for r in graph.shortest_paths_weighted(ew, 1, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def _py_bounded_bf(edges, source, hops, init, ext, pick):
    """Plain hop-bounded Bellman-Ford over undirected (a, b, w) edges:
    every round extends EVERY reached node's value over every edge."""
    best = {source: init}
    for _ in range(hops):
        nxt = dict(best)
        for a, b, w in edges:
            for u, v in ((a, b), (b, a)):
                if u in best:
                    c = ext(best[u], w)
                    nxt[v] = pick(nxt[v], c) if v in nxt else c
        best = nxt
    return best


def test_weighted_paths_match_python_bellman_ford(spark):
    """shortest_paths_weighted (min-plus) and widest_paths (max-min)
    against the full-state reference on random integer-weight graphs,
    plus a path whose cheaper / wider route needs one hop more than
    the bound allows."""
    import random

    rng = random.Random(7)
    graphs = []
    for _ in range(3):
        pairs = sorted(
            {tuple(sorted(rng.sample(range(8), 2))) for _ in range(12)}
        )
        graphs.append([(a, b, rng.randint(1, 9)) for a, b in pairs])
    # 0-1-2-3 costs 3 and bottlenecks at 9; the direct 0-3 edge costs
    # 10 and is 1 wide, the only route to 3 within 2 hops
    trunc = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10)]
    wide = [(0, 1, 9), (1, 2, 9), (2, 3, 9), (0, 3, 1)]
    cases = [(g, 0, h) for g in graphs for h in (1, 2, 4)]
    cases += [(trunc, 0, 2), (trunc, 0, 3), (wide, 0, 2), (wide, 0, 3)]
    for g, src, hops in cases:
        ew = spark.createDataFrame(g, "actor1 long, actor2 long, cost long")
        got = {
            r.actor: r.cost
            for r in graph.shortest_paths_weighted(ew, src, max_hops=hops).collect()
        }
        assert got == _py_bounded_bf(g, src, hops, 0, lambda d, w: d + w, min)
        ww = ew.withColumnRenamed("cost", "weight")
        got = {
            r.actor: r.width
            for r in graph.widest_paths(ww, anchor=src, hops=hops).collect()
        }
        want = _py_bounded_bf(g, src, hops, float("inf"), min, max)
        want.pop(src)
        assert got == want
    assert _py_bounded_bf(trunc, 0, 2, 0, lambda d, w: d + w, min)[3] == 10
    assert _py_bounded_bf(wide, 0, 2, float("inf"), min, max)[3] == 1


def test_neighbor_sampling_fanout_bound_and_determinism(spark):
    # K1,5: center seed samples exactly 2 of its 5 neighbors; each
    # leaf samples its only neighbor (the center)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "actor1 long, actor2 long"
    )
    out = graph.neighbor_sampling(star, [2]).collect()
    by_seed = {}
    for r in out:
        assert r.hop == 1 and r.src == r.seed
        by_seed.setdefault(r.seed, []).append(r.dst)
    assert len(by_seed[0]) == 2 and set(by_seed[0]) <= set(range(1, 6))
    for leaf in range(1, 6):
        assert by_seed[leaf] == [0]
    again = graph.neighbor_sampling(star, [2]).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_neighbor_sampling_hop2_expands_hop1_frontier(spark):
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    out = graph.neighbor_sampling(path, [1, 1]).collect()
    h1 = {(r.seed, r.dst) for r in out if r.hop == 1}
    h2 = {(r.seed, r.src) for r in out if r.hop == 2}
    # every hop-2 expansion starts at a hop-1 sampled dst
    assert h2 <= h1
    # fanout 1 per frontier node
    from collections import Counter

    c1 = Counter((r.seed, r.src) for r in out if r.hop == 1)
    assert all(v == 1 for v in c1.values())


def test_betweenness_sampled_all_sources_equals_exact(spark, edges):
    import pyspark.sql.functions as F

    exact = {
        r.actor: r.betweenness
        for r in graph.betweenness_centrality(edges, max_dist=4).collect()
    }
    all_nodes = (
        graph.symmetrize(edges)
        .select(F.col("src").alias("s"))
        .distinct()
    )
    est = {
        r.actor: r.betweenness
        for r in graph.betweenness_centrality(
            edges, max_dist=4, sources=all_nodes
        ).collect()
    }
    # V/|S| = 1: the estimator degenerates to the exact value
    assert est == pytest.approx(exact, abs=1e-6)


def test_betweenness_sampled_single_source_scaling(spark):
    # K1,4 from source leaf 1 only: delta(center) = 3, scaled by
    # V/|S| = 5 and halved -> 7.5 (unbiased across source draws: 6)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    seeds = spark.createDataFrame([(1,)], "s long")
    got = {
        r.actor: r.betweenness
        for r in graph.betweenness_centrality(
            star, max_dist=4, sources=seeds
        ).collect()
    }
    assert got[0] == pytest.approx(7.5, abs=1e-6)
    for leaf in (2, 3, 4):
        assert got[leaf] == pytest.approx(0.0, abs=1e-6)


def test_betweenness_stops_at_first_empty_layer(spark, monkeypatch):
    # K5, max_dist=4: every node is one hop from every source, so the
    # forward pass materializes layer 1 (5 sources x 4 nodes) and the
    # empty layer 2, then stops instead of running layers 3 and 4
    rows = []
    barrier = graph.counted_barrier

    def counting(df):
        out = barrier(df)
        rows.append(out[1])
        return out

    monkeypatch.setattr(graph, "counted_barrier", counting)
    k5 = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        "actor1 long, actor2 long",
    )
    got = graph.betweenness_centrality(k5, max_dist=4).collect()
    # barriers: symmetrized edges, the sources (layer 0), layers 1-2;
    # no backward barrier, since layer 1 is the deepest non-empty one
    assert rows == [20, 5, 20, 0]
    assert {r.actor: r.betweenness for r in got} == {v: 0.0 for v in range(5)}


def test_relax_rounds_stop_at_first_empty_frontier(spark, monkeypatch):
    # K4, every contact in frame 0: round 1 reaches every node from
    # every source, round 2 improves nothing, and the loop stops there
    # instead of running the remaining rounds
    rows = []
    barrier = graph.counted_barrier

    def counting(df):
        out = barrier(df)
        rows.append(out[1])
        return out

    monkeypatch.setattr(graph, "counted_barrier", counting)
    k4 = [(0, a, b) for a in range(4) for b in range(a + 1, 4)]
    fe = spark.createDataFrame(k4, "frame_id long, actor1 long, actor2 long")
    got = {r.actor: r.n_reached for r in graph.temporal_closeness(fe).collect()}
    assert got == {v: 3 for v in range(4)}
    # frontier barriers: 4 sources x 3 first arrivals, then empty
    assert rows == [12, 0]
    rows.clear()
    reach = graph.bounded_distances(fe.drop("frame_id"), max_dist=4).collect()
    assert sorted(r.d for r in reach) == [0] * 4 + [1] * 12
    assert rows == [12, 0]


def test_checkpoint_hub_narrow_frame_roundtrips(spark):
    df = spark.range(100).select(
        F.col("id").alias("actor"), (F.col("id") % 7).alias("degree")
    )
    out = checkpoint_hub(df)
    assert out.columns == ["actor", "degree"]
    assert out.count() == 100
    # the barrier is real: the plan is an RDD scan, not the range
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()


def test_checkpoint_hub_rejects_wide_frames(spark):
    wide = spark.range(5).select(
        *[(F.col("id") + i).alias(f"c{i}") for i in range(9)]
    )
    with pytest.raises(ValueError, match="wider than the hub bound"):
        checkpoint_hub(wide)
    # the explicit override at the call site is the sanctioned escape
    assert checkpoint_hub(wide, max_width=9).count() == 5


def test_counted_barrier_reliable_mode_same_jobs(spark, reliable_mode, tmp_path):
    """A counted barrier of a 1-shuffle aggregate: a reliable checkpoint
    takes the count from its own write job, so it runs the jobs and
    stages of the default mode's lazy local checkpoint plus count — its
    input computed once (a lazy reliable checkpoint would recompute it
    in a second write job)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def traced(group, n):
        sc.setJobGroup(group, group)
        try:
            df = spark.range(0, n, numPartitions=4).groupBy(
                (F.col("id") % 97).alias("k")
            ).agg(F.count(F.lit(1)).alias("c"))
            ck, rows = counted_barrier(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ids = tracker.getJobIdsForGroup(group)
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in ids)
        return ck, rows, len(ids), stages

    _, rows_a, jobs_a, stages_a = traced("barrier-default", 1000)
    with reliable_mode():
        ck, rows_b, jobs_b, stages_b = traced("barrier-reliable", 1001)
    assert rows_a == rows_b == 97
    assert jobs_b <= jobs_a and stages_b <= stages_a
    assert ck.count() == 97
    assert any(tmp_path.rglob("part-*"))


def test_reliable_checkpoint_files_freed_after_drop(spark, reliable_mode, tmp_path):
    """get_spark turns on Spark's checkpoint cleaner: once a reliable
    barrier's frame is dropped and the JVM collects it, its RDD dir
    under the checkpoint dir goes away (bounded poll)."""
    import gc
    import time

    def rdd_dirs():
        return list((tmp_path / "checkpoints").rglob("rdd-*"))

    with reliable_mode():
        df = materialize(spark.range(100).select((F.col("id") * 2).alias("x")))
        assert df.count() == 100 and rdd_dirs()
        del df
        deadline = time.time() + 60
        while rdd_dirs() and time.time() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
        assert rdd_dirs() == []


def test_barriers_stay_in_hub():
    """Every lineage barrier goes through hub.materialize: no module
    of the package but operators/hub.py calls localCheckpoint or
    checkpoint."""
    import ast
    from pathlib import Path

    pkg = Path(graph.__file__).resolve().parent.parent
    hub_py = pkg / "operators" / "hub.py"
    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != hub_py
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert offenders == []


def test_wedge_pairs_contract_checked_under_flag(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CHECK_INVARIANTS", "1")
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], ["actor1", "actor2"]
    )
    with pytest.raises(AssertionError, match="input contract violated"):
        graph._wedge_pairs(dup)
    ok = dup.distinct()
    # distinct input passes the check and produces the 1-wedge stream
    rows = graph._wedge_pairs(ok).collect()
    assert [(r["center"], r["actor1"], r["actor2"]) for r in rows] == [
        (2, 1, 3)
    ]


def test_wedge_pairs_contract_unchecked_by_default(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECK_INVARIANTS", raising=False)
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], ["actor1", "actor2"]
    )
    # no action, no raise: the default path stays lazy and un-gated
    graph._wedge_pairs(dup)


def test_betweenness_empty_inputs(spark):
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    no_edges = spark.createDataFrame([], "actor1 long, actor2 long")
    exact = graph.betweenness_centrality(no_edges, max_dist=4)
    assert exact.collect() == []
    assert exact.dtypes == graph.betweenness_centrality(star).dtypes
    # a source sample that selects no node of the graph
    none = spark.createDataFrame([(99,)], "s long")
    sampled = graph.betweenness_centrality(star, max_dist=4, sources=none)
    assert sampled.collect() == []
    some = spark.createDataFrame([(1,)], "s long")
    assert (
        sampled.dtypes
        == graph.betweenness_centrality(star, sources=some).dtypes
    )


def test_temporal_closeness_asymmetry_and_latency(spark):
    # (1,2)@10 then (2,3)@11: from 1 -> 2 at 10 (1/1), 3 at 11 (1/2);
    # from 3 only 2 is reachable (the 10-frame edge precedes arrival)
    fe = spark.createDataFrame(
        [(10, 1, 2), (11, 2, 3)], "frame_id long, actor1 long, actor2 long"
    )
    got = {r.actor: r for r in graph.temporal_closeness(fe).collect()}
    assert got[1].n_reached == 2
    assert got[1].t_closeness == pytest.approx(1.5, abs=1e-6)
    assert got[2].n_reached == 2
    assert got[2].t_closeness == pytest.approx(1.5, abs=1e-6)
    assert got[3].n_reached == 1
    assert got[3].t_closeness == pytest.approx(0.5, abs=1e-6)


def test_node_minhash_finds_identical_neighbor_sets(spark):
    # 10 and 11 share the exact neighbor set {1,2,3}: every band
    # collides -> candidate with jaccard 1.0; 1,2,3 pairwise share
    # {10,11} -> jaccard 1.0 too
    ed = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (1, 11), (2, 11), (3, 11)],
        "actor1 long, actor2 long",
    )
    got = {
        (r.actor1, r.actor2): r
        for r in graph.node_minhash_similarity(ed).collect()
    }
    assert got[(10, 11)].n_common == 3
    assert got[(10, 11)].jaccard == pytest.approx(1.0, abs=1e-6)
    for pair in [(1, 2), (1, 3), (2, 3)]:
        assert got[pair].n_common == 2
        assert got[pair].jaccard == pytest.approx(1.0, abs=1e-6)


def test_node_minhash_jaccard_matches_exact(spark, edges):
    # every emitted candidate's jaccard must equal the brute-force
    # neighbor-set value (LSH affects candidate RECALL, never values)
    adj = _adj(EDGES)
    got = graph.node_minhash_similarity(edges).collect()
    assert got, "fixture graph should yield at least one candidate"
    for r in got:
        a, b = adj[r.actor1], adj[r.actor2]
        want = len(a & b) / len(a | b)
        assert r.n_common == len(a & b)
        assert r.jaccard == pytest.approx(round(want, 6), abs=1e-6)


def test_luby_mis_independence_maximality(spark, edges):
    rows = graph.luby_mis(edges, rounds=6).collect()
    status = {r.actor: r.status for r in rows}
    assert set(status.values()) <= {"mis", "dominated"}  # converged
    adj = _adj(EDGES)
    mis = {v for v, s in status.items() if s == "mis"}
    # independence: no two MIS nodes adjacent
    for v in mis:
        assert not (adj[v] & mis), v
    # maximality: every dominated node has an MIS neighbor
    for v, s in status.items():
        if s == "dominated":
            assert adj[v] & mis, v
    # deterministic
    again = {r.actor: r.status for r in graph.luby_mis(edges, rounds=6).collect()}
    assert again == status


def test_densest_subgraph_finds_planted_clique(spark):
    # K5 (density 2.0) + pendant chain 5-6-7-8: round 1 peels the
    # chain (deg*8 <= 2*13), round 2 is the bare clique at 2.0
    rows_ = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    rows_ += [(5, 6), (6, 7), (7, 8)]
    ed = spark.createDataFrame(rows_, "actor1 long, actor2 long")
    out = {r.round: r for r in graph.densest_subgraph(ed, rounds=4).collect()}
    assert out[1].n_nodes == 8 and out[1].n_edges == 13
    assert not out[1].is_best
    assert out[2].n_nodes == 5 and out[2].n_edges == 10
    assert out[2].density == pytest.approx(2.0, abs=1e-6)
    assert out[2].is_best
    # the clique self-destructs at its own threshold: no round 3 rows
    assert 3 not in out


def test_link_prediction_eval_closed_form(spark):
    # train: path 1-2-3 (one candidate wedge pair (1,3), plus star
    # 4-5,4-6 giving candidate (5,6)); test: edge (1,3) appears ->
    # (1,3) positive score 1, (5,6) negative score 1 -> tied midrank
    # 1.5 -> AUC = (1.5 - 1)/1 = 0.5; a second test edge makes it 1.0
    train = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (4, 6)], "actor1 long, actor2 long"
    )
    test1 = spark.createDataFrame([(1, 3)], "actor1 long, actor2 long")
    r = graph.link_prediction_eval(train, test1).collect()[0]
    assert (r.n_cand, r.n_pos, r.n_neg) == (2, 1, 1)
    assert r.auc == pytest.approx(0.5, abs=1e-6)
    assert r.hits_at_k == 1
    # score separation: (1,3) gets two common neighbors via 1-7, 7-3,
    # which also creates candidate (2,7) at score 2 (tie with the
    # positive) and (5,6) at score 1 below it:
    # midranks asc = {1: 1.0, 2: 2.5}; AUC = (2.5 - 1) / (1*2) = 0.75
    train2 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 7), (7, 3), (4, 5), (4, 6)],
        "actor1 long, actor2 long",
    )
    r2 = graph.link_prediction_eval(train2, test1).collect()[0]
    assert (r2.n_cand, r2.n_pos, r2.n_neg) == (3, 1, 2)
    assert r2.auc == pytest.approx(0.75, abs=1e-6)


def test_link_prediction_eval_empty_class_null_auc(spark):
    train = spark.createDataFrame([(1, 2), (2, 3)], "actor1 long, actor2 long")
    test = spark.createDataFrame(
        [(8, 9)], "actor1 long, actor2 long"
    )  # no candidate links
    r = graph.link_prediction_eval(train, test).collect()[0]
    assert r.n_pos == 0 and r.auc is None


def test_betweenness_matches_python_brandes_random_graphs(spark):
    """Property test: radius-8 bounded Brandes on random <=8-node
    graphs (diameter < 8, so the bound is inactive) must equal the
    reference Python Brandes exactly. Two fixed cases pin the ends of
    the forward pass: a 6-clique, whose BFS finds an empty layer 2 and
    stops there, and a 12-node path, whose geodesics of length 9-11
    the radius cuts off (checked against the radius-bounded
    reference)."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    clique = [(a, b) for a in range(1, 7) for b in range(a + 1, 7)]
    path = [(a, a + 1) for a in range(1, 12)]

    @settings(max_examples=8, deadline=None)
    @example(clique)
    @example(path)
    @given(
        st.lists(
            st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=1,
            max_size=14,
        )
    )
    def check(pairs):
        edge_list = sorted({(min(a, b), max(a, b)) for a, b in pairs})
        df = spark.createDataFrame(edge_list, "actor1 long, actor2 long")
        want = _py_brandes(_adj(edge_list), max_dist=8)
        got = {
            r.actor: r.betweenness
            for r in graph.betweenness_centrality(df, max_dist=8).collect()
        }
        assert set(got) == set(want)
        for v, b in want.items():
            assert got[v] == pytest.approx(round(b, 6), abs=1e-6), (
                v,
                edge_list,
            )

    check()


def test_minklattice_merge_chop_invariant(spark, tmp_path):
    """Property test: the streaming sampler's min-k lattice must give
    the same pruned state for ANY chop of the row stream (merge is
    associative/commutative/idempotent)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neo4j_dynagraph_spark.streaming.neighbor_sampling import (
        MinKLattice,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(1, 4), st.integers(1, 9)),
            min_size=1,
            max_size=20,
        ),
        st.integers(1, 19),
        st.booleans(),
    )
    def check(pairs, cut_raw, dup_first_chunk):
        # h is a deterministic function of (src, dst) — the drain's
        # contract (hash-keyed), so replayed rows are identical
        rows = [(s, d, (s * 31 + d * 17) % 50) for s, d in pairs]
        cut = min(cut_raw, len(rows))
        chunks = [rows[:cut], rows[cut:]]
        if dup_first_chunk and rows[:cut]:
            chunks.append(rows[:cut])  # replay must be a no-op
        import uuid

        def drain(chunks_):
            lat = MinKLattice(
                spark, str(tmp_path / f"lat_{uuid.uuid4().hex}"), k=2
            )
            for ch in chunks_:
                if ch:
                    lat.merge(
                        spark.createDataFrame(
                            ch, "src long, dst long, h long"
                        )
                    )
            st_ = lat.read()
            return sorted(map(tuple, st_.collect())) if st_ is not None else []

        assert drain(chunks) == drain([rows])

    check()


def test_pagerank_weighted_uniform_equals_unweighted(spark, edges):
    import pyspark.sql.functions as F

    pr = [tuple(r) for r in graph.pagerank(edges, iterations=6).collect()]
    uw = dict(pr)
    # unit weights: rank * 1 / W is rank / deg, bit for bit
    unit = graph.pagerank_weighted(edges.withColumn("w", F.lit(1)), iterations=6)
    assert [tuple(r) for r in unit.collect()] == pr
    ew = edges.withColumn("w", F.lit(7))  # any constant weight
    ww = {
        r.actor: r.rank
        for r in graph.pagerank_weighted(ew, iterations=6).collect()
    }
    assert ww == pytest.approx(uw, abs=1e-6)


def test_pagerank_weighted_numpy_differential(spark):
    import numpy as np

    rows_ = [(1, 2, 10), (2, 3, 1), (1, 3, 1)]
    df = spark.createDataFrame(rows_, "actor1 long, actor2 long, w long")
    got = {
        r.actor: r.rank
        for r in graph.pagerank_weighted(df, iterations=10).collect()
    }
    nodes = sorted({a for r in rows_ for a in r[:2]})
    idx = {v: i for i, v in enumerate(nodes)}
    W = np.zeros((3, 3))
    for a, b, w in rows_:
        W[idx[a], idx[b]] = W[idx[b], idx[a]] = w
    P = W / W.sum(axis=1, keepdims=True)
    r = np.full(3, 1 / 3)
    for _ in range(10):
        r = (1 - 0.85) / 3 + 0.85 * (P.T @ r)
    for v in nodes:
        assert got[v] == pytest.approx(round(float(r[idx[v]]), 6), abs=2e-6)


def test_hits_bipartite_rejects_zero_iterations(spark):
    df = spark.createDataFrame([(100, 1)], "frame_id long, actor long")
    with pytest.raises(ValueError, match="iterations >= 1"):
        graph.hits_bipartite(df, iterations=0)


def test_hits_bipartite_numpy_differential(spark):
    import numpy as np

    pres = [(100, 1), (100, 2), (101, 2), (101, 3), (102, 3)]
    df = spark.createDataFrame(pres, "frame_id long, actor long")
    out = graph.hits_bipartite(df, iterations=8).collect()
    h = {r.id: r.score for r in out if r.kind == "actor"}
    a = {r.id: r.score for r in out if r.kind == "frame"}
    actors, frames = [1, 2, 3], [100, 101, 102]
    M = np.zeros((3, 3))  # frames x actors
    for f, u in pres:
        M[frames.index(f), actors.index(u)] = 1
    hv = np.full(3, 1 / 3)
    for _ in range(8):
        av = M @ hv
        av /= av.sum()
        hv = M.T @ av
        hv /= hv.sum()
    for i, u in enumerate(actors):
        assert h[u] == pytest.approx(round(float(hv[i]), 6), abs=2e-6)
    for i, f in enumerate(frames):
        assert a[f] == pytest.approx(round(float(av[i]), 6), abs=2e-6)
    assert sum(h.values()) == pytest.approx(1.0, abs=1e-4)
    assert sum(a.values()) == pytest.approx(1.0, abs=1e-4)


def test_effective_diameter_interpolation(spark):
    # path 1-2-3-4-5: ordered pairs by distance: d1=8, d2=6, d3=4,
    # d4=2 (total 20); 0.9*20=18 falls in d3 (cum 14->18 exactly):
    # eff = 2 + (18-14)/4 = 3.0
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "actor1 long, actor2 long"
    )
    r = graph.effective_diameter(path, max_dist=4, q=0.9).collect()[0]
    assert r.n_pairs == 20 and r.d_lo == 3
    assert r.eff_diameter == pytest.approx(3.0, abs=1e-6)


def test_percolation_criterion_closed_form(spark, edges):
    # degrees {3,2,3,2,2}: sum k=12, sum k^2=30, kappa=2.5 > 2,
    # f_c = 1 - 1/1.5 = 1/3
    r = graph.percolation_criterion(edges).collect()[0]
    assert (r.n_nodes, r.n_edges) == (5, 6)
    assert r.kappa == pytest.approx(2.5, abs=1e-6)
    assert r.criterion is True
    assert r.f_c == pytest.approx(1 / 3, abs=1e-6)


def test_percolation_subcritical_star_chain(spark):
    # a 2-chain (single edge): kappa = 1 -> criterion False, f_c NULL
    one = spark.createDataFrame([(1, 2)], "actor1 long, actor2 long")
    r = graph.percolation_criterion(one).collect()[0]
    assert r.kappa == pytest.approx(1.0, abs=1e-6)
    assert r.criterion is False and r.f_c is None


def test_sage_aggregate_closed_form(spark):
    # star 0-(1,2,3) with fanout (2,1): center samples 2 leaves;
    # leaves sample the center, then hop-2 re-samples one of the
    # center's neighbors. Features: f(v) = v (identity), so means
    # are directly readable.
    star = spark.createDataFrame(
        [(0, i) for i in (1, 2, 3)], "actor1 long, actor2 long"
    )
    feats = spark.createDataFrame(
        [(v, v) for v in range(4)], "actor long, f long"
    )
    blocks = graph.neighbor_sampling(star, [2, 1])
    out = {
        r.seed: r
        for r in graph.sage_aggregate(blocks, feats, ["f"], n_hops=2).collect()
    }
    b = [(r.seed, r.hop, r.src, r.dst) for r in blocks.collect()]
    # center: exactly 2 hop-1 samples, mean = mean of those leaf ids
    h1_center = [d for s, h, _, d in b if s == 0 and h == 1]
    assert out[0].h1_n == 2
    assert out[0].h1_mean_f == pytest.approx(
        round(sum(h1_center) / 2, 6), abs=1e-6
    )
    # each leaf: hop-1 is the center (mean 0), hop-2 one center-neighbor
    for leaf in (1, 2, 3):
        assert out[leaf].h1_n == 1
        assert out[leaf].h1_mean_f == pytest.approx(0.0, abs=1e-6)
        h2 = [d for s, h, _, d in b if s == leaf and h == 2]
        assert out[leaf].h2_n == len(h2) == 1
        assert out[leaf].h2_mean_f == pytest.approx(float(h2[0]), abs=1e-6)
    # own features pass through
    assert out[3].f == 3


# ------------------------------------------------- walk corpus replay


def _h64(s: str) -> int:
    """Pure-Python twin of functions.hash64 (first 15 md5 hex chars)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_walks(nbrs, n_steps, seed, bias=None, max_gap=None):
    """Reference walk corpus: replays every hop's draw
    hash64('{seed}:' walk ':' i) over ``nbrs`` (node -> sorted
    candidates). Plain dst ids give random_walks, or node2vec_walks
    with ``bias`` = (w_back, w_same, w_fwd): hop 1 uniform, later hops
    take the first candidate whose integer prefix weight exceeds
    draw mod total. (frame, dst) pairs give temporal_walks: candidates
    in a later frame, within ``max_gap`` when given; a walk with none
    ends. Rows: (walk_id, step, node[, t])."""
    temporal = isinstance(next(iter(nbrs.values()))[0], tuple)
    rows = []
    for w in sorted(nbrs):
        node, prev = w, None
        t = -1 if max_gap is None else nbrs[w][0][0] - 1
        rows.append((w, 0, node, t) if temporal else (w, 0, node))
        for i in range(1, n_steps + 1):
            h = _h64(f"{seed}:{w}:{i}")
            cands = nbrs[node]
            if temporal:
                cands = [
                    c for c in cands
                    if c[0] > t and (max_gap is None or c[0] <= t + max_gap)
                ]
                if not cands:
                    break
            if bias is None or prev is None:
                nxt = cands[h % len(cands)]
            else:
                wb, ws, wf = bias
                wts = [
                    wb if d == prev else ws if d in nbrs[prev] else wf
                    for d in cands
                ]
                draw, cum = h % sum(wts), 0
                for d, x in zip(cands, wts):
                    cum += x
                    if cum > draw:
                        nxt = d
                        break
            prev = node
            if temporal:
                t, node = nxt
                rows.append((w, i, node, t))
            else:
                node = nxt
                rows.append((w, i, node))
    return sorted(rows)


# two triangles joined by a path, pendant leaves and a 4-clique: every
# node2vec weight class (back, stay, explore) occurs at many hops
WALK_EDGES = [
    (1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 7),
    (7, 8), (8, 9), (9, 10), (7, 9), (8, 10), (7, 10), (2, 11),
    (11, 12), (12, 13), (13, 1), (5, 14), (10, 15), (15, 16), (16, 3),
]
# a contact stream over those edges, some pairs repeating in later
# frames so walks can continue or stall
WALK_CONTACTS = [(f, a, b) for f, (a, b) in enumerate(WALK_EDGES)] + [
    (f + 3, a, b) for f, (a, b) in enumerate(WALK_EDGES[::2])
]


def test_walk_corpora_match_python_replay(spark):
    """Row-for-row corpus check of random_walks, node2vec_walks
    (default weights, w_same=0, w_fwd=0) and temporal_walks (unbounded
    and max_gap=2) against the pure-Python replay of the same hash
    draws — the drawn walks themselves, not only their validity."""
    und: dict = {}
    for a, b in WALK_EDGES:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    nbrs = {v: sorted(ns) for v, ns in und.items()}
    df = spark.createDataFrame(WALK_EDGES, "actor1 long, actor2 long")

    def rows(walks):
        return sorted(map(tuple, walks.collect()))

    assert rows(graph.random_walks(df, n_steps=4)) == _py_walks(nbrs, 4, "walk")
    for ws, wf in ((4, 16), (0, 16), (4, 0)):
        assert rows(
            graph.node2vec_walks(df, n_steps=4, w_same=ws, w_fwd=wf)
        ) == _py_walks(nbrs, 4, "n2v", bias=(1, ws, wf)), (ws, wf)

    tadj: dict = {}
    for f, a, b in WALK_CONTACTS:
        tadj.setdefault(a, set()).add((f, b))
        tadj.setdefault(b, set()).add((f, a))
    tnbrs = {v: sorted(cs) for v, cs in tadj.items()}
    fe = spark.createDataFrame(
        WALK_CONTACTS, "frame_id long, actor1 long, actor2 long"
    )
    for gap in (None, 2):
        want = _py_walks(tnbrs, 3, "twalk", max_gap=gap)
        assert rows(graph.temporal_walks(fe, n_steps=3, max_gap=gap)) == want
        # some walks end early, some run all three hops
        steps = {}
        for w, s, _, _ in want:
            steps[w] = max(steps.get(w, 0), s)
        assert 3 in steps.values() and min(steps.values()) < 3, gap


# ------------------------------------------------- SI epidemic family


def _py_si(contacts, seed_mod, p10, max_hops):
    """Reference SI: BFS over time-respecting coin-passing contacts.
    contacts: list of (frame, a, b) undirected."""
    nodes = {a for _, a, _ in contacts} | {b for _, _, b in contacts}
    inf = {v: -1 for v in nodes if _h64(f"si:{v}") % seed_mod == 0}
    directed = [(f, a, b) for f, a, b in contacts] + [
        (f, b, a) for f, a, b in contacts
    ]
    passing = [
        (f, u, v)
        for f, u, v in directed
        if _h64(f"sc:{f}:{u}:{v}") % 10 < p10
    ]
    for _ in range(max_hops):
        new = {}
        for f, u, v in passing:
            if u in inf and f >= inf[u]:
                t = min(new.get(v, f), f)
                if v not in inf or t < inf[v]:
                    new[v] = t
        changed = False
        for v, t in new.items():
            if v not in inf or t < inf[v]:
                inf[v] = t
                changed = True
        if not changed:
            break
    return inf


CONTACTS = [
    # a little temporal graph: chain 1-2-3-4 with time-increasing
    # frames, a shortcut, and a late isolated pair
    (100, 1, 2),
    (101, 2, 3),
    (102, 3, 4),
    (100, 1, 5),
    (105, 5, 6),
    (99, 7, 8),
    (103, 4, 7),
    (104, 6, 2),
]


def _si_df(spark):
    return spark.createDataFrame(
        CONTACTS, "frame_id long, actor1 long, actor2 long"
    )


def test_si_spread_differential(spark):
    """Spark SI curve == pure-Python replay of the same hash coins,
    across several (seed_mod, beta) operating points."""
    for seed_mod, p10 in ((1, 10), (2, 10), (2, 5), (3, 3), (1, 0)):
        inf = _py_si(CONTACTS, seed_mod, p10, max_hops=6)
        want = {}
        for v, t in inf.items():
            b = -1 if t < 0 else t // 4
            want[b] = want.get(b, 0) + 1
        got = {
            r.bucket: r.n_infected
            for r in graph.si_spread(
                _si_df(spark),
                seed_mod=seed_mod,
                p10=p10,
                max_hops=6,
                bucket_frames=4,
            ).collect()
        }
        assert got == want, (seed_mod, p10, got, want)


def test_si_spread_beta1_is_temporal_reach(spark):
    """beta = 1 (p10=10): the infected set must equal time-respecting
    reachability from the seed set, and the cumulative column must be
    a running sum."""
    rows = graph.si_spread(
        _si_df(spark), seed_mod=2, p10=10, max_hops=6, bucket_frames=4
    ).collect()
    cum = 0
    for r in rows:
        cum += r.n_infected
        assert r.cum_infected == cum
    inf = _py_si(CONTACTS, 2, 10, 6)
    assert cum == len(inf)
    # monotone in beta: lower transmissibility infects a subset
    low = _py_si(CONTACTS, 2, 3, 6)
    assert set(low) <= set(inf)


def test_si_attack_rates_differential(spark):
    """Every beta lane of the sweep == an independent pure-Python SI
    replay at that beta; attack rate monotone non-decreasing in
    beta; the p10=3 lane's infected count == si_spread's."""
    grid = (1, 3, 5, 10)
    rows = {
        r.p10: r
        for r in graph.si_attack_rates(
            _si_df(spark), seed_mod=2, p10_grid=grid, max_hops=6
        ).collect()
    }
    assert set(rows) == set(grid)
    prev = -1.0
    for p10 in grid:
        inf = _py_si(CONTACTS, 2, p10, 6)
        n_seeds = sum(1 for t in inf.values() if t < 0)
        n_inf = sum(1 for t in inf.values() if t >= 0)
        assert rows[p10].n_seeds == n_seeds
        assert rows[p10].n_infected == n_inf
        assert rows[p10].attack_rate >= prev
        prev = rows[p10].attack_rate
    spread = graph.si_spread(
        _si_df(spark), seed_mod=2, p10=3, max_hops=6, bucket_frames=4
    ).collect()
    assert sum(r.n_infected for r in spread if r.bucket >= 0) == (
        rows[3].n_infected
    )


def _py_offspring(contacts, seed_mod, p10, max_hops):
    """Reference attribution: parent = min-id strictly-earlier
    infected coin-passing contact at the victim's infection frame."""
    inf = _py_si(contacts, seed_mod, p10, max_hops)
    directed = [(f, a, b) for f, a, b in contacts] + [
        (f, b, a) for f, a, b in contacts
    ]
    passing = {
        (f, u, v)
        for f, u, v in directed
        if _h64(f"sc:{f}:{u}:{v}") % 10 < p10
    }
    noff = {v: 0 for v in inf}
    for v, t in inf.items():
        if t < 0:
            continue
        cands = [
            u
            for f, u, vv in passing
            if vv == v and f == t and u in inf and inf[u] < t
        ]
        if cands:
            noff[min(cands)] += 1
    hist = {}
    for k in noff.values():
        hist[k] = hist.get(k, 0) + 1
    return hist


def test_si_offspring_differential(spark):
    """Offspring histogram == pure-Python attribution replay; total
    attributed offspring <= non-seed infections (same-frame chains
    unattributed, never double-counted)."""
    for seed_mod, p10 in ((1, 10), (2, 10), (2, 5), (3, 3)):
        want = _py_offspring(CONTACTS, seed_mod, p10, 6)
        got = {
            r.n_offspring: r.n_actors
            for r in graph.si_offspring(
                _si_df(spark), seed_mod=seed_mod, p10=p10, max_hops=6
            ).collect()
        }
        assert got == want, (seed_mod, p10, got, want)
        inf = _py_si(CONTACTS, seed_mod, p10, 6)
        n_nonseed = sum(1 for t in inf.values() if t >= 0)
        attributed = sum(k * n for k, n in got.items())
        assert attributed <= n_nonseed


# ---------------------------------------------------- degree-discount


def _py_degree_discount(pairs, k, p10):
    """Reference greedy (Chen et al. 2009), integer dd10 scores."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    chosen, out = set(), []
    for r in range(1, k + 1):
        best = None
        for v in sorted(adj):
            if v in chosen:
                continue
            d = len(adj[v])
            t = len(adj[v] & chosen)
            dd10 = 10 * d - 20 * t - (d - t) * t * p10
            if best is None or dd10 > best[0] or (
                dd10 == best[0] and v < best[1]
            ):
                best = (dd10, v, d)
        if best is None:
            break
        chosen.add(best[1])
        out.append((r, best[1], best[2], best[0]))
    return out


def test_influence_seeds_avoids_hub_neighborhood(spark):
    """The degree-discount signature move: after picking hub 1, its
    degree-4 NEIGHBOR (node 2) is discounted below the independent
    degree-4 hub (node 10), so round 2 jumps to the other community —
    plain greedy-by-degree would not."""
    pairs = (
        [(1, v) for v in (2, 3, 4, 5, 6)]
        + [(2, v) for v in (7, 8, 9)]
        + [(10, v) for v in (11, 12, 13, 14)]
    )
    e = spark.createDataFrame(pairs, "actor1 long, actor2 long")
    rows = graph.influence_seeds(e, k=4, p10=3).collect()
    assert (rows[0].round, rows[0].actor) == (1, 1)
    assert (rows[1].round, rows[1].actor) == (2, 10)
    got = [(r.round, r.actor, r.degree, r.dd10) for r in rows]
    assert got == _py_degree_discount(pairs, 4, 3)


def test_influence_seeds_k_exceeds_nodes(spark):
    """k larger than V: selection stops at V rows (both engines'
    LIMIT-of-empty semantics), every node selected exactly once."""
    pairs = [(1, 2), (2, 3)]
    e = spark.createDataFrame(pairs, "actor1 long, actor2 long")
    rows = graph.influence_seeds(e, k=8, p10=3).collect()
    assert len(rows) == 3
    assert {r.actor for r in rows} == {1, 2, 3}
    assert [r.round for r in rows] == [1, 2, 3]


def _py_si_removed(contacts, seed_mod, p10, max_hops, removed):
    """SI over the contact set with `removed` actors deleted."""
    kept = [
        (f, a, b)
        for f, a, b in contacts
        if a not in removed and b not in removed
    ]
    inf = _py_si(kept, seed_mod, p10, max_hops)
    return {v: t for v, t in inf.items() if v not in removed}


def test_si_immunized_differential(spark):
    """All three policy lanes == pure-Python replays: the greedy
    degree-discount picks, the hash-smallest random draw, and the SI
    under each removal; a removed lane can never infect MORE than
    baseline (path-subset argument)."""
    pairs = sorted({(min(a, b), max(a, b)) for _, a, b in CONTACTS})
    k = 2
    targeted = {a for _, a, _, _ in _py_degree_discount(pairs, k, 3)}
    nodes = {a for _, a, _ in CONTACTS} | {b for _, _, b in CONTACTS}
    rand = set(sorted(nodes, key=lambda v: (_h64(f"rv:{v}"), v))[:k])
    rows = {
        r.policy: r
        for r in graph.si_immunized(
            _si_df(spark), k=k, seed_mod=2, p10=5, max_hops=6
        ).collect()
    }
    base = _py_si(CONTACTS, 2, 5, 6)
    expect = {
        "baseline": (set(), base),
        "random": (rand, _py_si_removed(CONTACTS, 2, 5, 6, rand)),
        "targeted": (targeted, _py_si_removed(CONTACTS, 2, 5, 6, targeted)),
    }
    for pol, (rm, inf) in expect.items():
        r = rows[pol]
        assert r.n_removed == len(rm), pol
        assert r.n_seeds == sum(1 for t in inf.values() if t < 0), pol
        assert r.n_infected == sum(1 for t in inf.values() if t >= 0), pol
        assert r.n_infected <= rows["baseline"].n_infected


# ----------------------------------------------------------------- WL


def test_wl_c6_vs_two_triangles_indistinguishable(spark):
    """The classic 1-WL counterexample: C6 and 2xC3 are both
    2-regular, so every node keeps the same color forever — one color
    class of size 12 (the invariance that makes WL a sound, not
    complete, isomorphism test)."""
    c6 = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6)]
    tri2 = [(11, 12), (12, 13), (11, 13), (14, 15), (15, 16), (14, 16)]
    e = spark.createDataFrame(c6 + tri2, "actor1 long, actor2 long")
    rows = graph.wl_refinement(e, rounds=3).collect()
    assert len(rows) == 12
    assert len({r.wl_color for r in rows}) == 1
    assert all(r.class_size == 12 for r in rows)


def test_wl_path_splits_by_role(spark):
    """P4 (a-b-c-d): ends {a,d} and middles {b,c} are the two orbits;
    WL must find exactly those classes and be deterministic."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "actor1 long, actor2 long"
    )
    rows = {r.actor: (r.wl_color, r.class_size) for r in
            graph.wl_refinement(e, rounds=3).collect()}
    assert rows[1] == rows[4] and rows[2] == rows[3]
    assert rows[1][0] != rows[2][0]
    assert rows[1][1] == 2 and rows[2][1] == 2
    again = {r.actor: (r.wl_color, r.class_size) for r in
             graph.wl_refinement(e, rounds=3).collect()}
    assert rows == again


def test_wl_star_refines_past_degree(spark):
    """Star + pendant chain: node 5 and the leaves share degree 1 at
    round 0 only if symmetric — here leaf-of-hub vs leaf-of-path
    split once neighbor colors flow (round >= 2). Fixture: hub 1 with
    leaves 2,3,4 and a path 4-5."""
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (4, 5)], "actor1 long, actor2 long"
    )
    rows = {r.actor: r.wl_color for r in
            graph.wl_refinement(e, rounds=3).collect()}
    # leaves of the hub (2,3) identical; 5 (leaf of a degree-2 node)
    # must differ from them even though all three have degree 1
    assert rows[2] == rows[3]
    assert rows[5] != rows[2]
    assert len({rows[1], rows[4]}) == 2  # hub vs bridge distinct


def test_wl_day_similarity_structural_twins(spark):
    """Two days with the SAME contact shape on disjoint actor sets
    must score wl_jaccard 1.0 (structural, not identity); a clique
    day vs a path day must score < 1; output covers every day pair
    including zero-overlap ones."""
    tri_day0 = [(1, 11, 12), (1, 12, 13), (1, 11, 13)]
    tri_day1 = [(30, 21, 22), (30, 22, 23), (30, 21, 23)]
    path_day2 = [(55, 31, 32), (55, 32, 33), (56, 33, 34)]
    e = spark.createDataFrame(
        tri_day0 + tri_day1 + path_day2,
        "frame_id long, actor1 long, actor2 long",
    )
    rows = {
        (r.day_a, r.day_b): r
        for r in graph.wl_day_similarity(e, rounds=2).collect()
    }
    assert len(rows) == 3  # all 3 day pairs present
    d0, d1, d2 = 0, 1, 2
    assert rows[(d0, d1)].wl_jaccard == 1.0
    assert rows[(d0, d2)].wl_jaccard < 1.0
    assert rows[(d0, d2)].n_a == 3 and rows[(d0, d2)].n_b == 4


def test_wl_day_keyed_colors_match_per_day_refinement(spark):
    """The day-keyed rounds behind wl_day_similarity color every day
    exactly as wl_refinement colors that day's edges alone. Day 0 is a
    star with a pendant chain, day 1 a 5-cycle sharing actors with it."""
    day0 = [(1, 2), (1, 3), (1, 4), (4, 5)]
    day1 = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)]
    rows = [("d0", a, b) for a, b in day0] + [("d1", a, b) for a, b in day1]
    e = spark.createDataFrame(rows, "day string, actor1 long, actor2 long")
    sym = graph.symmetrize(e).select("day", "src", "dst")
    got = {
        (r.day, r.actor): r.color
        for r in graph._wl_rounds(sym, ["day"], 3).collect()
    }
    want = {}
    for day in ("d0", "d1"):
        for r in graph.wl_refinement(
            e.where(e.day == day).select("actor1", "actor2"), rounds=3
        ).collect():
            want[(day, r.actor)] = r.wl_color
    assert got == want
    # the two shapes refine differently although they share actors
    assert got[("d0", 2)] != got[("d1", 2)]


def _tpr(spark, rows, frames, beta=0.85):
    e = spark.createDataFrame(
        rows, "frame_id long, actor1 long, actor2 long"
    )
    return {
        r.actor: r.tpr
        for r in graph.temporal_pagerank(e, frames, beta=beta).collect()
    }


def test_temporal_pagerank_respects_time_order(spark):
    """The defining property: rank depends on the ORDER frames occur,
    which a static PageRank (same edge multiset either way) cannot
    see. A star at node 1 drains its leaves (deg-2 hub sends two
    half-shares but receives two full shares); node 4 contacts leaf
    3 either BEFORE the drain (symmetric equal swap — node 4
    unchanged) or AFTER (it meets a drained node 3 and swaps its
    full share for a depleted one). So node 4 ends strictly poorer
    when its contact comes second, and the hub strictly richer."""
    star_then_edge = [(0, 1, 2), (0, 1, 3), (1, 3, 4)]
    edge_then_star = [(0, 3, 4), (1, 1, 2), (1, 1, 3)]
    fwd = _tpr(spark, star_then_edge, [0, 1])
    rev = _tpr(spark, edge_then_star, [0, 1])
    assert set(fwd) == set(rev) == {1, 2, 3, 4}
    # node 4 swaps its full share for a drained one only in fwd
    assert fwd[4] < rev[4]
    # node 3 recovers mass from 4 after the drain only in fwd
    assert fwd[3] > rev[3]


def test_temporal_pagerank_python_differential(spark):
    """Pure-Python replay of the integer recursion (the house
    differential for every iterative operator): same 1e-9 grid, same
    round-half-away share, same keep/receive bookkeeping — the Spark
    output must match the replay bit-for-bit, and the replay's
    integer state proves conservation is EXACT (sum invariant)."""
    rows = [
        (0, 1, 2), (0, 1, 3), (1, 3, 4), (1, 2, 4),
        (2, 1, 4), (3, 2, 3), (3, 1, 2), (5, 4, 2),
    ]
    frames = list(range(6))
    out = _tpr(spark, rows, frames)

    import collections
    from decimal import ROUND_HALF_UP, Decimal

    def rnd(x: float) -> int:
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    actors = sorted({a for _, a, b in rows} | {b for _, a, b in rows})
    r = {a: rnd(1e9 / len(actors)) for a in actors}
    total0 = sum(r.values())
    for f in frames:
        adj = collections.defaultdict(list)
        for fr, a, b in rows:
            if fr == f:
                adj[a].append(b)
                adj[b].append(a)
        # receivers accumulate on top of their own send-adjusted value
        r2 = dict(r)
        for u, nbrs in adj.items():
            s = rnd(0.85 * r[u] / len(nbrs))
            r2[u] -= len(nbrs) * s
        for u, nbrs in adj.items():
            s = rnd(0.85 * r[u] / len(nbrs))
            for v in nbrs:
                r2[v] += s
        r = r2
        assert sum(r.values()) == total0  # EXACT integer conservation
    expect = {
        a: float(
            Decimal(r[a] / 1e9).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        for a in actors
    }
    assert out == expect


def test_temporal_pagerank_inactive_frames_are_identity(spark):
    """Frame slots with no edges must be exact no-ops: running with
    the tight slot list equals running with trailing/leading empty
    slots added."""
    rows = [(5, 1, 2), (7, 2, 3)]
    a = _tpr(spark, rows, [5, 7])
    b = _tpr(spark, rows, [3, 4, 5, 6, 7, 8, 9])
    assert a == b


def test_temporal_pagerank_bit_stable_under_partitioning(spark):
    """House convention: integer sums make the recursion bit-identical
    whatever the input partitioning / shuffle-partition count."""
    rows = [
        (f, a, b)
        for f in range(4)
        for (a, b) in [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)]
    ]
    e = spark.createDataFrame(rows, "frame_id long, actor1 long, actor2 long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = []
        for nshuf, npart in [(1, 1), (7, 5), (8, 3)]:
            spark.conf.set("spark.sql.shuffle.partitions", str(nshuf))
            outs.append(
                sorted(
                    tuple(r)
                    for r in graph.temporal_pagerank(
                        e.repartition(npart), list(range(4))
                    ).collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert outs[0] == outs[1] == outs[2]


def test_persistent_degree_core_planted(spark):
    """Planted persistence: a star hub with degree 2 in frames 0-2
    qualifies for both 2-frame windows at k=2; a hub equally dense in
    aggregate but active only in frame 1 (the rotating-actor case)
    qualifies for none; leaves never qualify. min_deg reports the
    weakest frame in the window."""
    rows = (
        # hub 1: deg 2 in frames 0,1; deg 3 in frame 2
        [(0, 1, 2), (0, 1, 3), (1, 1, 2), (1, 1, 4),
         (2, 1, 2), (2, 1, 3), (2, 1, 5)]
        # hub 9: deg 3 but only in frame 1
        + [(1, 9, 6), (1, 9, 7), (1, 9, 8)]
    )
    e = spark.createDataFrame(rows, "frame_id long, actor1 long, actor2 long")
    out = {
        (r.window_start, r.actor): r.min_deg
        for r in graph.persistent_degree_core(
            e, [0, 1, 2], k=2, delta=2
        ).collect()
    }
    assert out == {(0, 1): 2, (1, 1): 2}

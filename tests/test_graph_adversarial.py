"""Adversarial sparse-fixture property tests for the sampled-graph keys
(r9 verdict item 6). The round-9 betweenness rewrite fixed a LATENT
Brandes divergence (zero-successor level nodes dropped from the
backward pass) that the dense bipartite fixture could never exercise —
twin tests on a single fixture shape can certify a wrong algorithm.
These tests drive the REAL distributed cores (extracted r10:
_brandes_batched / _bfs_multi / _k_core_peel) on a hand-built graph
engineered for the shapes the fixture lacks:

  component A: chain 0-1-2-3-4-5-6   (zero-successor BFS leaves at
               every level; length 6 > hop cap 4 -> truncation)
  component B: star 10-(11..14)      (leaf level, hub)
  component C: triangle 20-21-22 with pendant 23 (cycle + leaf)
  component D: K4 40..43 with pendant 44 (k-core survivor + peel-away)

plus exact pure-Python twins on the identical adjacency.
"""
from __future__ import annotations

from collections import defaultdict, deque

import pytest

UNDIRECTED = [
    (0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
    (10, 11), (10, 12), (10, 13), (10, 14),
    (20, 21), (21, 22), (20, 22), (22, 23),
    (40, 41), (40, 42), (40, 43), (41, 42), (41, 43), (42, 43), (43, 44),
]
MAX_HOPS = 4


def _adj():
    adj = defaultdict(list)
    for a, b in UNDIRECTED:
        adj[a].append(b)
        adj[b].append(a)
    return adj


def _edges_df(spark):
    sym = [(a, b) for a, b in UNDIRECTED] + [(b, a) for a, b in UNDIRECTED]
    return spark.createDataFrame(sym, "src long, dst long")


def _twin_brandes(adj, sources, max_hops):
    """Exact Brandes restricted to the given pivots and hop cap — the
    same twin the dense-fixture test uses, on the adversarial graph."""
    bc = defaultdict(float)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    sigma[v] = 0.0
                    order.append(v)
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {n: b for n, b in bc.items() if b > 0}


def _twin_bfs(adj, source, max_hops):
    dist = {source: 0}
    q = deque([source])
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


@pytest.mark.parametrize(
    "sources",
    [
        [0, 10, 20, 40],  # one pivot per component
        [0, 1],           # both pivots inside the chain
        [6],              # chain END: forward BFS is a single path
        [23, 44],         # pendant leaves as pivots
    ],
)
def test_brandes_batched_matches_twin_on_adversarial_graph(spark, sources):
    from go_batch_processor_spark.operators.graph import _brandes_batched

    got = {
        r.node: r.b
        for r in _brandes_batched(
            spark, _edges_df(spark), sources, MAX_HOPS
        ).collect()
    }
    want = _twin_brandes(_adj(), sources, MAX_HOPS)
    assert set(got) == set(want), (sorted(got), sorted(want))
    for n, b in want.items():
        assert got[n] == pytest.approx(b, abs=1e-9), (n, got[n], b)


def test_brandes_chain_interior_dependencies_exact(spark):
    """Chain pivoted at one end: every interior node within the hop cap
    carries delta = (#reachable strictly beyond it), the textbook
    closed form — including the zero-successor node at the cap
    boundary, the exact shape behind the r9 latent bug."""
    from go_batch_processor_spark.operators.graph import _brandes_batched

    got = {
        r.node: r.b
        for r in _brandes_batched(spark, _edges_df(spark), [0], MAX_HOPS).collect()
    }
    # BFS from 0 caps at node 4 (d=4): interior nodes 1,2,3 sit on the
    # shortest paths to {2,3,4},{3,4},{4} respectively; node 4 is a
    # zero-successor level node with delta 0 (not reported: b>0 only).
    assert got == {
        1: pytest.approx(3.0),
        2: pytest.approx(2.0),
        3: pytest.approx(1.0),
    }


def test_bfs_multi_matches_twin_and_respects_cap(spark):
    from go_batch_processor_spark.operators.graph import _bfs_multi

    sources = [0, 10, 20, 40, 6]
    rows = _bfs_multi(spark, _edges_df(spark), sources, MAX_HOPS).collect()
    adj = _adj()
    want = {(s, n): d for s in sources for n, d in _twin_bfs(adj, s, MAX_HOPS).items()}
    got = {(r.p, r.node): r.d for r in rows}
    assert got == want
    # cap bites: node 5 and 6 are 5 and 6 hops from 0 — absent
    assert (0, 5) not in got and (0, 6) not in got
    # disconnection bites: nothing from component B is reachable from 0
    assert not any(p == 0 and n >= 10 for (p, n) in got)


def test_closeness_semantics_on_disconnected_pivots(spark):
    """Reached-by-ALL-pivots on a graph where the pivots sit in four
    disjoint components -> the estimator's domain is EMPTY, and the
    distributed aggregate must agree (no accidental partial-coverage
    rows)."""
    from go_batch_processor_spark.operators.graph import _bfs_multi
    from pyspark.sql import functions as F

    sources = [0, 10, 20, 40]
    all_d = _bfs_multi(spark, _edges_df(spark), sources, MAX_HOPS)
    k = len(sources)
    full = (
        all_d.groupBy("node")
        .agg(F.count(F.lit(1)).alias("np"), F.sum("d").alias("sum_d"))
        .filter((F.col("np") == k) & (F.col("sum_d") > 0))
        .collect()
    )
    assert full == []


def test_k_core_peel_matches_python_twin(spark):
    """k=3 peeling: the chain, star, and triangle components peel away
    ENTIRELY (everything there has degree <= 2 eventually), the K4
    survives exactly after its pendant 44 peels off — and the pendant's
    removal must not drag 43 (degree drops 4 -> 3, still >= k) with it.
    Every surviving node's core degree equals the twin's."""
    from go_batch_processor_spark.operators.graph import _k_core_peel

    core = _k_core_peel(spark, _edges_df(spark), 3, 30)
    got = {r.node: (r.kind, r.core_degree) for r in core.collect()}

    # python twin: iterative peeling on the adjacency
    adj = {n: set(vs) for n, vs in _adj().items()}
    changed = True
    while changed:
        changed = False
        for n in [n for n, vs in adj.items() if len(vs) < 3]:
            for v in adj.pop(n):
                adj[v].discard(n)
            changed = True
    want = {n: ("user" if n % 2 == 0 else "item", len(vs)) for n, vs in adj.items()}
    assert got == want
    assert set(got) == {40, 41, 42, 43}
    assert all(d == 3 for _, d in got.values())


def test_k_core_noncovergence_past_cap_fails_loud(spark):
    """VERDICT r11 item 6: a pathological graph that has NOT reached the
    peeling fixpoint inside the iteration cap must raise the loud
    RuntimeError — never return the truncated superset silently. A long
    path with k=2 peels exactly one node from each end per round, so a
    20-edge path needs ~10 rounds; cap it at 3."""
    from pyspark.sql import functions as F  # noqa: F401

    from go_batch_processor_spark.operators.graph import _k_core_peel

    path = [(i, i + 1) for i in range(20)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in path] + [(b, a) for a, b in path],
        "src long, dst long",
    )
    with pytest.raises(RuntimeError, match="no fixpoint after 3"):
        _k_core_peel(spark, edges, 2, 3)
    # ...and a cap past the fixpoint converges: the path fully dissolves
    assert _k_core_peel(spark, edges, 2, 30).count() == 0


def test_k_core_peel_releases_its_checkpoints(spark):
    """The 20-edge path with k=2 peels for ~10 rounds, so the loop takes
    lineage checkpoints after rounds 4 and 8. Once the result is
    materialised, the only persistent RDD the peel leaves behind is the
    result's own checkpoint: no edge-list copy, no round aggregate."""
    from go_batch_processor_spark.operators.graph import _k_core_peel

    path = [(i, i + 1) for i in range(20)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in path] + [(b, a) for a, b in path],
        "src long, dst long",
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    core = _k_core_peel(spark, edges, 2, 30)
    left = set(jsc.getPersistentRDDs().keySet()) - before
    assert left == {core._jdf.queryExecution().analyzed().rdd().id()}
    assert core.count() == 0


def test_k_core_oracle_truncates_identically_below_cap(
    spark, tmp_path, monkeypatch
):
    """...and BELOW the cap the unrolled oracle replays the identical
    peeling: a bipartite 4-cycle with a pendant 2-chain (k=2, three
    peel rounds) must yield the same survivor set from the Spark loop
    and the (patched small-cap) DuckDB unroll — including the no-op
    rounds between fixpoint and cap."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_batch_processor_spark.operators import graph as graph_mod

    # bipartite edges as (user_id, item k) pairs: 4-cycle u1-i1-u2-i2-u1
    # survives k=2; pendant chain i2-u3-i3 peels over two rounds
    pairs = [(1, 1), (2, 1), (2, 2), (1, 2), (3, 2), (3, 3)]
    d = str(tmp_path / "fix")
    import os

    os.makedirs(f"{d}/events.parquet", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(pairs)), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(len(pairs))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _ in pairs], pa.int64()),
                "event_type": pa.array(["view"] * len(pairs)),
                "value": pa.array([1.0] * len(pairs), pa.float64()),
                "props": pa.array(['{"k": %d}' % k for _, k in pairs]),
            }
        ),
        f"{d}/events.parquet/part-0.parquet",
    )
    monkeypatch.setattr(graph_mod, "K_CORE", 2)
    monkeypatch.setattr(graph_mod, "K_CORE_MAX_ITERS", 6)
    got = sorted(
        (r.node, r.kind, r.core_degree)
        for r in graph_mod.graph_k_core(spark, d).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(graph_mod._k_core_oracle()).fetchall())
    assert got == want
    # the 4-cycle survives with degree 2 each: users 2,4; items 3,5
    assert got == [
        (2, "user", 2), (3, "item", 2), (4, "user", 2), (5, "item", 2),
    ]

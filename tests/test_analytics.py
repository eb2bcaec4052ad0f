"""Whole-graph analytics (ops/analytics.py) vs networkx ground truth.

The reference delegates these to networkx over its in-memory BELGraph, so
networkx on the collected edge list IS the parity oracle here.
"""
import pytest
from pyspark.sql import functions as F

from pybel_spark.corpus import generate_documents
from pybel_spark.ops import KG, analytics, components
from pybel_spark.ops.paths import bfs_distances
from pybel_spark.pipeline import build_graph

N_DOCS = 120


@pytest.fixture(scope='module')
def kg(spark):
    docs = generate_documents(spark, N_DOCS, partitions=4)
    result = build_graph(docs)
    graph = KG(result.nodes, result.edges).persist()
    graph.count()
    yield graph


def _nx_undirected(kg_):
    import networkx as nx
    g = nx.Graph()
    g.add_nodes_from(r['node_id'] for r in kg_.nodes.select('node_id').collect())
    g.add_edges_from(
        (r['source_id'], r['target_id'])
        for r in kg_.edges.select('source_id', 'target_id').collect()
        if r['source_id'] != r['target_id'])
    return g


def test_degrees_networkx_parity(kg):
    nxg = _nx_undirected(kg)
    expected = dict(nxg.degree())
    got = {r['node_id']: r['degree'] for r in analytics.degrees(kg).collect()}
    assert got == expected


def test_degree_histogram(kg):
    nxg = _nx_undirected(kg)
    hist = {}
    for _, d in nxg.degree():
        hist[d] = hist.get(d, 0) + 1
    got = {r['degree']: r['n_nodes']
           for r in analytics.degree_histogram(kg).collect()}
    assert got == hist


def test_triangles_networkx_parity(kg):
    import networkx as nx
    nxg = _nx_undirected(kg)
    # nx.triangles counts per-node participation (each triangle 3x)
    expected = {n: c for n, c in nx.triangles(nxg).items() if c > 0}
    assert expected, 'corpus graph must contain triangles for this test'
    got = {r['node_id']: r['n_triangles']
           for r in analytics.triangle_participation(kg).collect()}
    assert got == expected

    tri_rows = analytics.triangles(kg).collect()
    seen = {(r['x'], r['y'], r['z']) for r in tri_rows}
    assert len(seen) == len(tri_rows), 'each triangle emitted exactly once'
    assert all(x < y < z for x, y, z in seen)
    assert 3 * len(seen) == sum(
        nx.triangles(nxg).values()), 'global count consistent'


def test_clustering_networkx_parity(kg):
    import networkx as nx
    nxg = _nx_undirected(kg)
    expected = nx.clustering(nxg)
    got = {r['node_id']: r['clustering']
           for r in analytics.clustering_coefficients(kg).collect()}
    assert set(got) == set(expected)
    assert all(abs(got[v] - expected[v]) < 1e-12 for v in expected)


def _reference_pagerank(nxg_directed, damping, n_iterations):
    """Hand-rolled power iteration with dangling redistribution — the exact
    update analytics.pagerank documents (nx.pagerank semantics at a fixed
    iteration count over the DISTINCT directed edge set)."""
    nodes = sorted(nxg_directed.nodes())
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    out = {v: list(nxg_directed.successors(v)) for v in nodes}
    for _ in range(n_iterations):
        dangling = sum(rank[v] for v in nodes if not out[v])
        contrib = {v: 0.0 for v in nodes}
        for u in nodes:
            if out[u]:
                share = rank[u] / len(out[u])
                for v in out[u]:
                    contrib[v] += share
        rank = {v: (1 - damping) / n
                + damping * (contrib[v] + dangling / n) for v in nodes}
    return rank


def test_pagerank_parity(kg):
    import networkx as nx
    nxg = nx.DiGraph()
    nxg.add_nodes_from(r['node_id'] for r in kg.nodes.select('node_id').collect())
    nxg.add_edges_from((r['source_id'], r['target_id'])
                       for r in kg.edges.select('source_id', 'target_id')
                       .distinct().collect())
    expected = _reference_pagerank(nxg, 0.85, 10)
    got = {r['node_id']: r['rank']
           for r in analytics.pagerank(kg, 0.85, 10).collect()}
    assert set(got) == set(expected)
    assert all(abs(got[v] - expected[v]) < 1e-12 for v in expected)
    # total rank conserved
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _reference_personalized(nxg_directed, seeds, damping, n_iterations):
    nodes = sorted(nxg_directed.nodes())
    p = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    rank = dict(p)
    out = {v: list(nxg_directed.successors(v)) for v in nodes}
    for _ in range(n_iterations):
        dangling = sum(rank[v] for v in nodes if not out[v])
        contrib = {v: 0.0 for v in nodes}
        for u in nodes:
            if out[u]:
                share = rank[u] / len(out[u])
                for v in out[u]:
                    contrib[v] += share
        rank = {v: (1 - damping) * p[v]
                + damping * (contrib[v] + dangling * p[v]) for v in nodes}
    return rank


def test_personalized_pagerank_parity(kg, spark):
    import networkx as nx
    nxg = nx.DiGraph()
    nxg.add_nodes_from(r['node_id'] for r in kg.nodes.select('node_id').collect())
    nxg.add_edges_from((r['source_id'], r['target_id'])
                       for r in kg.edges.select('source_id', 'target_id')
                       .distinct().collect())
    seed_ids = sorted(nxg.nodes())[:5]
    seeds = spark.createDataFrame([(s,) for s in seed_ids], ['node_id'])
    expected = _reference_personalized(nxg, set(seed_ids), 0.85, 10)
    got = {r['node_id']: r['rank']
           for r in analytics.personalized_pagerank(
               kg, seeds, 0.85, 10).collect()}
    assert set(got) == set(expected)
    assert all(abs(got[v] - expected[v]) < 1e-12 for v in expected)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # non-seed-reachable mass decays toward seeds: a seed outranks the
    # global-uniform value for at least one seed
    n = len(expected)
    assert any(got[s] > 1.0 / n for s in seed_ids)


def test_personalized_pagerank_requires_seeds(kg, spark):
    empty = spark.createDataFrame([], 'node_id string')
    with pytest.raises(ValueError):
        analytics.personalized_pagerank(kg, empty)


def test_pagerank_empty_graph(spark):
    empty = KG(
        spark.createDataFrame([], 'node_id string'),
        spark.createDataFrame([], 'source_id string, target_id string'))
    assert analytics.pagerank(empty).count() == 0


def test_k_core_networkx_parity(kg):
    import networkx as nx
    nxg = _nx_undirected(kg)
    for k in (2, 3):
        expected = set(nx.k_core(nxg, k).nodes())
        # nx.k_core keeps isolated nodes for k=0 only; for k>=1 parity is
        # over nodes that survive the peel with at least one edge
        expected = {n for n in expected
                    if nx.k_core(nxg, k).degree(n) >= k}
        got = {r['node_id']
               for r in analytics.k_core(kg, k=k).collect()}
        assert got == expected, k


def test_k_core_skewed_graph_parity(spark):
    import networkx as nx
    nodes, edges = analytics.synthetic_skewed_graph(spark, 300, 5, seed=11)
    g = KG(nodes, edges)
    nxg = _nx_undirected(g)
    core = nx.k_core(nxg, 3)
    expected = {n for n in core.nodes() if core.degree(n) >= 3}
    got = {r['node_id'] for r in analytics.k_core(g, k=3).collect()}
    assert got == expected


def test_synthetic_graph_deterministic_and_skewed(spark):
    nodes, edges = analytics.synthetic_skewed_graph(spark, 2000, 4, seed=7)
    nodes2, edges2 = analytics.synthetic_skewed_graph(spark, 2000, 4, seed=7)
    assert nodes.count() == 2000
    assert edges.collect() == edges2.collect(), 'generator is deterministic'
    indeg = (edges.groupBy('target_id').count()
             .orderBy(F.desc('count')).limit(1).collect()[0])
    # hub skew: node 0 is every source's possible target -> in-degree ~ d*ln n
    assert indeg['target_id'] == 0
    assert indeg['count'] > 4 * 5


def test_triangles_on_skewed_graph_networkx_parity(spark):
    import networkx as nx
    nodes, edges = analytics.synthetic_skewed_graph(spark, 400, 6, seed=3)
    g = KG(nodes, edges)
    nxg = _nx_undirected(g)
    expected_total = sum(nx.triangles(nxg).values())
    got = analytics.triangles(g).count()
    assert 3 * got == expected_total


def test_degree_isolated_node(spark):
    g = KG(
        spark.createDataFrame([('a',), ('b',), ('c',)], ['node_id']),
        spark.createDataFrame([('a', 'b')], ['source_id', 'target_id']))
    got = {r['node_id']: r['degree'] for r in analytics.degrees(g).collect()}
    assert got == {'a': 1, 'b': 1, 'c': 0}


def test_synthetic_graph_sqlmirror_structure(spark):
    """The SQL-mirrorable generator: pure bigint algebra, targets always
    below the source (hub skew), block restriction partitions the id
    space, the circulant core keeps uniform degree >= 2*width."""
    nodes, edges = analytics.synthetic_graph_sqlmirror(spark, 2000, 8)
    assert nodes.count() == 2000
    assert edges.where(F.col('target_id') > F.col('source_id')).count() == 0

    _, blocked = analytics.synthetic_graph_sqlmirror(
        spark, 2000, 6, block_size=100)
    crossing = blocked.where(
        (F.col('source_id') / 100).cast('long')
        != (F.col('target_id') / 100).cast('long')).count()
    assert crossing == 0, 'block restriction must hold'

    _, cored = analytics.synthetic_graph_sqlmirror(
        spark, 2000, 8, core_size=300, core_width=5)
    pairs = analytics.undirected_pairs(cored)
    core_deg = (
        analytics._pair_degrees(pairs)
        .where(F.col('node_id') < 300)
        .agg(F.min('degree').alias('mn')).collect()[0]['mn'])
    assert core_deg >= 10, core_deg


def test_kcore_multi_round_cascade_on_sqlmirror(spark):
    """k=10 on bulk+circulant-core: the tree-ish bulk must peel away over
    many rounds leaving exactly the 500-node circulant core."""
    nodes, edges = analytics.synthetic_graph_sqlmirror(
        spark, 10_000, 8, core_size=500, core_width=6)
    core = analytics.k_core(KG(nodes, edges), k=10)
    ids = [r['node_id'] for r in core.collect()]
    assert sorted(ids) == list(range(500))


def test_label_propagation_communities(spark):
    """Two dense cliques joined by a single bridge edge: each clique
    converges to its own min label; an isolated node keeps its own."""
    from pybel_spark.ops import KG, analytics

    clique_a = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique_b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = clique_a + clique_b + [(3, 10)]  # bridge
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(4)) + list(range(10, 14)) + [99]],
        'node_id long')
    edges_df = spark.createDataFrame(
        edges, 'source_id long, target_id long')
    comm = {r['node_id']: r['community']
            for r in analytics.label_propagation_communities(
                KG(nodes, edges_df), n_iterations=6).collect()}
    assert all(comm[i] == 0 for i in range(4))
    assert all(comm[i] == 10 for i in range(10, 14))
    assert comm[99] == 99  # isolated node keeps its own label

    sizes = {r['community']: r['n_nodes']
             for r in analytics.community_sizes(
                 KG(nodes, edges_df), n_iterations=6).collect()}
    assert sizes == {0: 4, 10: 4, 99: 1}


def _reference_hits(nxg_directed, n_iterations):
    """Pure-python mirror of analytics.hits: UNNORMALIZED fixed rounds,
    one L1 normalization at the end."""
    nodes = sorted(nxg_directed.nodes())
    n = len(nodes)
    hub = {v: 1.0 / n for v in nodes}
    auth = {v: 0.0 for v in nodes}
    for _ in range(n_iterations):
        auth = {v: sum(hub[u] for u in nxg_directed.predecessors(v))
                for v in nodes}
        hub = {v: sum(auth[w] for w in nxg_directed.successors(v))
               for v in nodes}
    s = sum(auth.values())
    auth = {v: (a / s if s else 0.0) for v, a in auth.items()}
    s = sum(hub.values())
    hub = {v: (h / s if s else 0.0) for v, h in hub.items()}
    return auth, hub


def test_hits_parity(kg):
    import networkx as nx
    nxg = nx.DiGraph()
    nxg.add_nodes_from(r['node_id'] for r in kg.nodes.select('node_id').collect())
    nxg.add_edges_from((r['source_id'], r['target_id'])
                       for r in kg.edges.select('source_id', 'target_id')
                       .distinct().collect())
    exp_auth, exp_hub = _reference_hits(nxg, 8)
    got = {r['node_id']: (r['auth'], r['hub'])
           for r in analytics.hits(kg, n_iterations=8).collect()}
    assert set(got) == set(exp_auth)
    assert all(abs(got[v][0] - exp_auth[v]) < 1e-12 for v in exp_auth)
    assert all(abs(got[v][1] - exp_hub[v]) < 1e-12 for v in exp_hub)
    # both score vectors are L1-normalized
    assert abs(sum(a for a, _ in got.values()) - 1.0) < 1e-9
    assert abs(sum(h for _, h in got.values()) - 1.0) < 1e-9


def test_hits_hub_authority_split(spark):
    # star: h -> a1, a2, a3; pure hub h has auth 0, pure sinks have hub 0
    nodes = spark.createDataFrame(
        [('h',), ('a1',), ('a2',), ('a3',)], 'node_id string')
    edges = spark.createDataFrame(
        [('h', 'a1'), ('h', 'a2'), ('h', 'a3')],
        'source_id string, target_id string')
    out = {r['node_id']: r for r in analytics.hits(
        KG(nodes, edges), n_iterations=4).collect()}
    assert out['h']['auth'] == 0.0 and out['h']['hub'] == pytest.approx(1.0)
    for a in ('a1', 'a2', 'a3'):
        assert out[a]['hub'] == 0.0
        assert out[a]['auth'] == pytest.approx(1.0 / 3)


def test_hits_edgeless_graph(spark):
    nodes = spark.createDataFrame([('x',), ('y',)], 'node_id string')
    edges = spark.createDataFrame(
        [], 'source_id string, target_id string')
    out = analytics.hits(KG(nodes, edges), n_iterations=3).collect()
    assert {(r['auth'], r['hub']) for r in out} == {(0.0, 0.0)}


def test_random_walks_are_valid_paths(kg):
    out = analytics.random_walks(kg, walk_length=3, walks_per_node=2)
    rows = out.collect()
    edges = {(r['source_id'], r['target_id'])
             for r in kg.edges.select('source_id', 'target_id').collect()}
    n_nodes = kg.nodes.count()
    walks = {}
    for r in rows:
        walks.setdefault(r['walk_id'], {})[r['step']] = r['node']
    assert len(walks) == 2 * n_nodes
    for wid, steps in walks.items():
        # contiguous steps starting at 0; start node is the walk_id prefix
        ks = sorted(steps)
        assert ks == list(range(len(ks)))
        assert wid.rsplit('#', 1)[0] == steps[0]
        for t in range(1, len(ks)):
            assert (steps[t - 1], steps[t]) in edges


def test_random_walks_deterministic_and_seeded(kg):
    a = sorted(map(tuple, analytics.random_walks(
        kg, walk_length=2, walks_per_node=1, seed=7).collect()))
    b = sorted(map(tuple, analytics.random_walks(
        kg, walk_length=2, walks_per_node=1, seed=7).collect()))
    c = sorted(map(tuple, analytics.random_walks(
        kg, walk_length=2, walks_per_node=1, seed=8).collect()))
    assert a == b
    assert a != c  # a different seed must change some neighbor choices


def test_random_walks_stop_at_sinks(spark):
    # a -> b, b has no out-edges: every walk is exactly [a, b] or [b]
    nodes = spark.createDataFrame([('a',), ('b',)], 'node_id string')
    edges = spark.createDataFrame(
        [('a', 'b')], 'source_id string, target_id string')
    rows = analytics.random_walks(
        KG(nodes, edges), walk_length=5, walks_per_node=1).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r['walk_id'], []).append((r['step'], r['node']))
    assert sorted(by_walk['a#0']) == [(0, 'a'), (1, 'b')]
    assert sorted(by_walk['b#0']) == [(0, 'b')]


def _py_node2vec(nodes, edges, walk_length, walks_per_node, p, q, seed=0):
    """Independent pure-Python mirror of the documented node2vec draw —
    the same logic the DuckDB oracle unrolls, implemented from the
    docstring contract (not the Spark code)."""
    import hashlib
    adj = {}
    for s, t in sorted(set(edges)):
        adj.setdefault(s, []).append(t)
    rows = []
    for n in nodes:
        for i in range(walks_per_node):
            wid = '{}#{}'.format(n, i)
            cur, prev = n, None
            rows.append((wid, n, 0))
            for t in range(1, walk_length + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                h = int(hashlib.md5('{}:{}:{}:{}'.format(
                    seed, wid, t, cur).encode()).hexdigest()[:8], 16)
                if prev is None:
                    nxt = nbrs[h % len(nbrs)]
                else:
                    pn = set(adj.get(prev, []))
                    ws = [1.0 / p if x == prev
                          else (1.0 if x in pn else 1.0 / q) for x in nbrs]
                    tot = 0.0
                    for w in ws:
                        tot += w
                    thresh = (h / 2 ** 32) * tot
                    cum, pick = 0.0, None
                    for j, w in enumerate(ws):
                        cum += w
                        if cum >= thresh:
                            pick = j
                            break
                    if pick is None:
                        pick = len(ws) - 1
                    nxt = nbrs[pick]
                rows.append((wid, nxt, t))
                prev, cur = cur, nxt
    return sorted(rows)


def test_node2vec_walks_python_mirror_parity(kg):
    got = sorted(
        (r['walk_id'], r['node'], r['step'])
        for r in analytics.node2vec_walks(
            kg, walk_length=3, walks_per_node=2, p=2.0, q=0.5).collect())
    nodes = [r['node_id'] for r in kg.nodes.select('node_id').collect()]
    edges = [(r['source_id'], r['target_id'])
             for r in kg.edges.select('source_id', 'target_id').collect()]
    assert got == _py_node2vec(nodes, edges, 3, 2, 2.0, 0.5)


def test_node2vec_extreme_p_never_returns(spark):
    # a->b, b->a, b->c, c->a: after a->b the return edge b->a carries
    # weight 1/p ~ 0 vs c's 1/q = 2, so step 2 must pick c for any draw
    nodes = spark.createDataFrame(
        [('a',), ('b',), ('c',)], 'node_id string')
    edges = spark.createDataFrame(
        [('a', 'b'), ('b', 'a'), ('b', 'c'), ('c', 'a')],
        'source_id string, target_id string')
    rows = analytics.node2vec_walks(
        KG(nodes, edges), walk_length=2, walks_per_node=4,
        p=float(2 ** 20), q=0.5).collect()
    step2 = {(r['walk_id'], r['node']) for r in rows
             if r['step'] == 2 and r['walk_id'].startswith('a#')}
    assert step2 == {('a#{}'.format(i), 'c') for i in range(4)}


def test_node2vec_uniform_pq_matches_random_walks_distributional(kg):
    # p=q=1 makes every weight 1.0 — step 1 must equal random_walks
    # exactly (identical uniform draw); later steps remain valid walks
    n2v = analytics.node2vec_walks(kg, walk_length=1, walks_per_node=1,
                                   p=1.0, q=1.0)
    rw = analytics.random_walks(kg, walk_length=1, walks_per_node=1)
    assert (sorted(map(tuple, n2v.collect()))
            == sorted(map(tuple, rw.collect())))


def test_scc_parity_networkx(kg):
    import networkx as nx
    nxg = nx.DiGraph()
    nxg.add_nodes_from(r['node_id'] for r in kg.nodes.select('node_id').collect())
    nxg.add_edges_from((r['source_id'], r['target_id'])
                       for r in kg.edges.select('source_id', 'target_id')
                       .distinct().collect())
    expected = {}
    for comp in nx.strongly_connected_components(nxg):
        m = min(comp)
        for v in comp:
            expected[v] = m
    got = {r['node_id']: r['scc_id']
           for r in analytics.strongly_connected_components(kg).collect()}
    assert got == expected


def test_scc_multiple_cycles_and_bridges(spark):
    # two 3-cycles joined by a one-way bridge + a tail node
    edges = [('a', 'b'), ('b', 'c'), ('c', 'a'),
             ('c', 'x'),
             ('x', 'y'), ('y', 'z'), ('z', 'x'),
             ('z', 't')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = {r['node_id']: r['scc_id']
           for r in analytics.strongly_connected_components(g).collect()}
    assert got == {'a': 'a', 'b': 'a', 'c': 'a',
                   'x': 'x', 'y': 'x', 'z': 'x', 't': 't'}


def test_scc_converges_on_final_permitted_round(spark):
    """A peel that completes exactly on round max_rounds must be accepted,
    not raise (r5 ADVICE: the guard used to check termination only at the
    top of the NEXT iteration)."""
    # chain a -> b: two singleton SCCs peeled over exactly two rounds
    g = KG(spark.createDataFrame([('a',), ('b',)], 'node_id string'),
           spark.createDataFrame([('a', 'b')],
                                 'source_id string, target_id string'))
    got = {r['node_id']: r['scc_id']
           for r in analytics.strongly_connected_components(
               g, max_rounds=2).collect()}
    assert got == {'a': 'a', 'b': 'b'}


def test_ktruss_empty_on_final_permitted_round(spark):
    """k-truss that empties the edge set on the last permitted round is a
    valid fixpoint (r5 ADVICE)."""
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c')]
    g = KG(spark.createDataFrame([('a',), ('b',), ('c',)], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    assert analytics.k_truss(g, k=10, max_rounds=1).count() == 0


def test_scc_acyclic_is_all_singletons(spark):
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c')]
    g = KG(spark.createDataFrame([('a',), ('b',), ('c',)], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = {r['node_id']: r['scc_id']
           for r in analytics.strongly_connected_components(g).collect()}
    assert got == {'a': 'a', 'b': 'b', 'c': 'c'}


def test_pagerank_weighted_parity(spark):
    # weighted rank distribution: b gets 3/4 of a's rank share, c gets 1/4
    edges = [('a', 'b', 3), ('a', 'c', 1), ('b', 'c', 2), ('c', 'a', 5)]
    nodes = [('a',), ('b',), ('c',)]
    g = KG(spark.createDataFrame(nodes, 'node_id string'),
           spark.createDataFrame(
               edges, 'source_id string, target_id string, n_links int'))
    got = {r['node_id']: r['rank'] for r in analytics.pagerank_weighted(
        g, 'n_links', damping=0.85, n_iterations=10).collect()}

    # pure-python mirror
    w = {('a', 'b'): 3.0, ('a', 'c'): 1.0, ('b', 'c'): 2.0, ('c', 'a'): 5.0}
    wsum = {'a': 4.0, 'b': 2.0, 'c': 5.0}
    ns = ['a', 'b', 'c']
    p = {v: 1 / 3 for v in ns}
    rank = dict(p)
    for _ in range(10):
        contrib = {v: 0.0 for v in ns}
        for (u, v), wt in w.items():
            contrib[v] += rank[u] * wt / wsum[u]
        dangling = 0.0  # every node has out-edges here
        rank = {v: 0.15 * p[v] + 0.85 * (contrib[v] + dangling * p[v])
                for v in ns}
    for v in ns:
        assert got[v] == pytest.approx(rank[v], abs=1e-12)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_weighted_uniform_weights_match_unweighted(kg):
    g = KG(kg.nodes, kg.edges.select('source_id', 'target_id')
           .distinct().withColumn('w', F.lit(1)))
    a = {r['node_id']: r['rank']
         for r in analytics.pagerank_weighted(g, 'w', n_iterations=5)
         .collect()}
    b = {r['node_id']: r['rank']
         for r in analytics.pagerank(kg, n_iterations=5).collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


def test_bowtie_classic_shape(spark):
    # in1 -> core cycle (c1,c2,c3) -> out1; t is disconnected;
    # in2 -> in1 (deep IN); out2 reached via out1 (deep OUT)
    edges = [('in2', 'in1'), ('in1', 'c1'),
             ('c1', 'c2'), ('c2', 'c3'), ('c3', 'c1'),
             ('c3', 'out1'), ('out1', 'out2')]
    nodes = sorted({u for e in edges for u in e} | {'t'})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = {r['node_id']: r['component']
           for r in analytics.bowtie_decomposition(g).collect()}
    assert got == {'c1': 'CORE', 'c2': 'CORE', 'c3': 'CORE',
                   'in1': 'IN', 'in2': 'IN',
                   'out1': 'OUT', 'out2': 'OUT',
                   't': 'OTHER'}


def test_bowtie_partition_is_total(kg):
    out = analytics.bowtie_decomposition(kg)
    n_nodes = kg.nodes.select('node_id').distinct().count()
    assert out.count() == n_nodes
    comps = {r['component'] for r in
             out.select('component').distinct().collect()}
    assert comps <= {'CORE', 'IN', 'OUT', 'OTHER'}


def test_assortativity_parity_networkx(kg):
    import networkx as nx
    got = analytics.degree_assortativity(kg).collect()[0]['assortativity']
    nxg = _nx_undirected(kg)
    # nx computes over the same undirected simple graph, both orientations
    expected = nx.degree_assortativity_coefficient(nxg)
    assert got == pytest.approx(expected, abs=1e-9)


def test_assortativity_star_is_minus_one(spark):
    edges = [('h', 'a'), ('h', 'b'), ('h', 'c'), ('h', 'd')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = analytics.degree_assortativity(g).collect()[0]['assortativity']
    assert got == pytest.approx(-1.0)


def test_assortativity_regular_graph_is_null(spark):
    # 4-cycle: every degree 2, zero variance -> undefined (NULL)
    edges = [('a', 'b'), ('b', 'c'), ('c', 'd'), ('d', 'a')]
    g = KG(spark.createDataFrame([(n,) for n in 'abcd'], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = analytics.degree_assortativity(g).collect()[0]['assortativity']
    assert got is None


def test_ktruss_parity_networkx(kg):
    import networkx as nx
    nxg = _nx_undirected(kg)
    expected = {tuple(sorted(e)) for e in nx.k_truss(nxg, 4).edges()}
    got = {(r['a'], r['b'])
           for r in analytics.k_truss(kg, k=4).collect()}
    assert got == expected


def test_ktruss_k3_keeps_triangle_drops_tail(spark):
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c'), ('c', 'd')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = {(r['a'], r['b']) for r in analytics.k_truss(g, k=3).collect()}
    assert got == {('a', 'b'), ('a', 'c'), ('b', 'c')}
    # k=4 needs every edge in >=2 triangles: the lone triangle dies
    assert analytics.k_truss(g, k=4).count() == 0


def test_ktruss_cascading_peel(spark):
    # two triangles sharing edge (b,c): removing nothing at k=3, but at
    # k=4 the shared edge has support 2 while others have 1 -> everything
    # unravels in CASCADING rounds (exercises the fixpoint loop)
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c'),
             ('b', 'd'), ('c', 'd')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    assert analytics.k_truss(g, k=3).count() == 5
    assert analytics.k_truss(g, k=4).count() == 0


def test_betweenness_parity_networkx(spark):
    import networkx as nx
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c'), ('c', 'd'), ('d', 'e'),
             ('b', 'd'), ('e', 'a'), ('x', 'a')]
    nodes = sorted({u for e in edges for u in e} | {'iso'})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    got = {r['node_id']: r['betweenness']
           for r in analytics.betweenness_centrality(g).collect()}
    nxg = nx.DiGraph(edges)
    nxg.add_nodes_from(nodes)
    expected = nx.betweenness_centrality(nxg, normalized=False)
    assert set(got) == set(expected)
    for v in expected:
        assert got[v] == pytest.approx(expected[v], abs=1e-9)


def test_betweenness_parity_on_compiled_kg(kg):
    import networkx as nx
    nxg = nx.DiGraph()
    nxg.add_nodes_from(r['node_id'] for r in kg.nodes.select('node_id').collect())
    nxg.add_edges_from((r['source_id'], r['target_id'])
                       for r in kg.edges.select('source_id', 'target_id')
                       .distinct().collect())
    expected = nx.betweenness_centrality(nxg, normalized=False)
    got = {r['node_id']: r['betweenness']
           for r in analytics.betweenness_centrality(kg, max_hops=20)
           .collect()}
    for v in expected:
        assert got[v] == pytest.approx(expected[v], abs=1e-6)


def test_betweenness_sampled_subset_of_exact(spark):
    """Sampled-source Brandes: deterministic, fewer origins, and full
    sampling (fraction=1.0) equals the exact run."""
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c'), ('c', 'd'), ('d', 'e'),
             ('b', 'd'), ('e', 'a')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    exact = {r['node_id']: r['betweenness']
             for r in analytics.betweenness_centrality(g).collect()}
    full = {r['node_id']: r['betweenness']
            for r in analytics.betweenness_centrality(
                g, source_fraction=1.0).collect()}
    assert full == exact
    a = {r['node_id']: r['betweenness']
         for r in analytics.betweenness_centrality(
             g, source_fraction=0.5, seed=3).collect()}
    b = {r['node_id']: r['betweenness']
         for r in analytics.betweenness_centrality(
             g, source_fraction=0.5, seed=3).collect()}
    assert a == b  # deterministic
    # partial sums are bounded by the exact values
    assert all(a[v] <= exact[v] + 1e-9 for v in a)


def test_betweenness_origin_batches_equivalent(spark):
    """origin_batches only bounds in-flight state: batched and unbatched
    runs agree (betweenness is additive over origins), for both exact
    and sampled-source modes."""
    edges = [('a', 'b'), ('b', 'c'), ('a', 'c'), ('c', 'd'), ('d', 'e'),
             ('b', 'd'), ('e', 'a'), ('x', 'a'), ('d', 'x')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    one = {r['node_id']: r['betweenness']
           for r in analytics.betweenness_centrality(g).collect()}
    batched = {r['node_id']: r['betweenness']
               for r in analytics.betweenness_centrality(
                   g, origin_batches=3).collect()}
    assert set(one) == set(batched)
    for v in one:
        assert batched[v] == pytest.approx(one[v], abs=1e-9)
    s_one = {r['node_id']: r['betweenness']
             for r in analytics.betweenness_centrality(
                 g, source_fraction=0.6, seed=1).collect()}
    s_batched = {r['node_id']: r['betweenness']
                 for r in analytics.betweenness_centrality(
                     g, source_fraction=0.6, seed=1,
                     origin_batches=2).collect()}
    for v in s_one:
        assert s_batched[v] == pytest.approx(s_one[v], abs=1e-9)


def test_sample_neighbors_caps_and_is_deterministic(spark):
    edges = [('h', 't{}'.format(i)) for i in range(20)] + [('a', 'b')]
    nodes = sorted({u for e in edges for u in e})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(edges,
                                 'source_id string, target_id string'))
    out = analytics.sample_neighbors(g, fanout=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r['source_id'], []).append(
            (r['rank'], r['target_id']))
    assert len(by_src['h']) == 5          # hub capped at fanout
    assert len(by_src['a']) == 1          # below-fanout kept whole
    assert sorted(r for r, _ in by_src['h']) == [1, 2, 3, 4, 5]
    again = {(r['source_id'], r['target_id'], r['rank'])
             for r in analytics.sample_neighbors(g, fanout=5).collect()}
    assert again == {(r['source_id'], r['target_id'], r['rank'])
                     for r in out}
    other_seed = {(r['source_id'], r['target_id'], r['rank'])
                  for r in analytics.sample_neighbors(
                      g, fanout=5, seed=9).collect()}
    assert other_seed != again  # seed changes the chosen sample


def test_structure_summary_parity_networkx(kg):
    import networkx as nx
    out = analytics.graph_structure_summary(kg).collect()[0]
    nxg = nx.DiGraph()
    nxg.add_nodes_from(r['node_id'] for r in kg.nodes.select('node_id').collect())
    nxg.add_edges_from((r['source_id'], r['target_id'])
                       for r in kg.edges.select('source_id', 'target_id')
                       .distinct().collect()
                       if r['source_id'] != r['target_id'])
    assert out['n_nodes'] == nxg.number_of_nodes()
    assert out['n_edges'] == nxg.number_of_edges()
    assert out['density'] == pytest.approx(nx.density(nxg), abs=1e-12)
    assert out['reciprocity'] == pytest.approx(
        nx.reciprocity(nxg), abs=1e-12)
    assert out['transitivity'] == pytest.approx(
        nx.transitivity(nxg.to_undirected()), abs=1e-12)


def test_weighted_shortest_paths_hand_computed(spark):
    # a -2-> b -1-> c; a -5-> c: cheapest a->c is 3 via b
    edges = [('a', 'b', 2.0), ('b', 'c', 1.0), ('a', 'c', 5.0),
             ('c', 'd', 1.0)]
    nodes = sorted({u for e in edges for u in e[:2]})
    g = KG(spark.createDataFrame([(n,) for n in nodes], 'node_id string'),
           spark.createDataFrame(
               edges, 'source_id string, target_id string, cost double'))
    seeds = spark.createDataFrame([('a',)], 'node_id string')
    got = {(r['origin'], r['node_id']): r['dist']
           for r in analytics.weighted_shortest_paths(
               g, 'cost', seeds).collect()}
    assert got == {('a', 'a'): 0.0, ('a', 'b'): 2.0,
                   ('a', 'c'): 3.0, ('a', 'd'): 4.0}


def test_weighted_paths_parallel_edges_take_cheapest(spark):
    edges = [('a', 'b', 9.0), ('a', 'b', 1.0)]
    g = KG(spark.createDataFrame([('a',), ('b',)], 'node_id string'),
           spark.createDataFrame(
               edges, 'source_id string, target_id string, cost double'))
    seeds = spark.createDataFrame([('a',)], 'node_id string')
    got = {r['node_id']: r['dist']
           for r in analytics.weighted_shortest_paths(
               g, 'cost', seeds).collect()}
    assert got['b'] == 1.0


def test_weighted_paths_networkx_parity(kg):
    import networkx as nx
    edges = [(r['source_id'], r['target_id'])
             for r in kg.edges.select('source_id', 'target_id')
             .distinct().collect()]
    nxg = nx.DiGraph()
    # deterministic pseudo-costs from the edge strings
    import hashlib
    for u, v in edges:
        c = 1 + int(hashlib.md5(f'{u}|{v}'.encode()).hexdigest()[:4],
                    16) % 7
        nxg.add_edge(u, v, weight=float(c))
    session = kg.nodes.sparkSession
    w = session.createDataFrame(
        [(u, v, float(d['weight'])) for u, v, d in nxg.edges(data=True)],
        'source_id string, target_id string, cost double')
    g = KG(kg.nodes, w)
    seed_ids = sorted(nxg.nodes())[:3]
    seeds = session.createDataFrame([(s,) for s in seed_ids],
                                    'node_id string')
    got = {(r['origin'], r['node_id']): r['dist']
           for r in analytics.weighted_shortest_paths(
               g, 'cost', seeds).collect()}
    for s in seed_ids:
        expected = nx.single_source_dijkstra_path_length(nxg, s)
        mine = {n: d for (o, n), d in got.items() if o == s}
        assert set(mine) == set(expected)
        for n in expected:
            assert mine[n] == pytest.approx(expected[n], abs=1e-9)


def test_distance_distribution_networkx_parity(kg):
    import collections

    import networkx as nx
    g = nx.DiGraph()
    g.add_nodes_from(
        r['node_id'] for r in kg.nodes.select('node_id').collect())
    g.add_edges_from(
        (r['source_id'], r['target_id'])
        for r in kg.edges.select('source_id', 'target_id').collect())
    want = collections.Counter()
    for _, dists in nx.all_pairs_shortest_path_length(g):
        for d in dists.values():
            if d > 0:
                want[d] += 1
    got = analytics.distance_distribution(kg, max_hops=30).collect()
    assert {r['distance']: r['n_pairs'] for r in got} == dict(want)
    total = sum(want.values())
    run = 0
    for r in got:
        run += r['n_pairs']
        assert r['cum_frac'] == pytest.approx(run / total)
    assert got[-1]['cum_frac'] == pytest.approx(1.0)


def test_effective_diameter_chain(spark):
    # directed 5-chain: distances 1..4 with counts 4,3,2,1 (10 finite
    # pairs); cum_frac(3) = 0.9 exactly -> effective diameter 3
    nodes = spark.createDataFrame(
        [(str(i),) for i in range(5)], 'node_id string')
    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(4)],
        'source_id string, target_id string')
    g = KG(nodes, edges)
    assert analytics.effective_diameter(g, quantile=0.9) == 3
    assert analytics.effective_diameter(g, quantile=1.0) == 4
    assert analytics.effective_diameter(g, quantile=0.4) == 1


def test_distance_distribution_sampled_subset(kg):
    # sampled origins: histogram totals can only shrink, distances stay
    # a subset of the full histogram's support
    full = {r['distance']: r['n_pairs'] for r in
            analytics.distance_distribution(kg, max_hops=30).collect()}
    samp = {r['distance']: r['n_pairs'] for r in
            analytics.distance_distribution(
                kg, max_hops=30, source_fraction=0.5).collect()}
    assert set(samp) <= set(full)
    assert all(samp[d] <= full[d] for d in samp)
    assert samp  # the md5 threshold at 0.5 keeps some origins


# --- the round driver (ops/graph.Rounds): cache release and plan capture.
# These clear the session cache, so they sit at the end of the module.

@pytest.fixture(scope='module')
def bowtie_graph(spark):
    """SCC {a, b, c} (a triangle) with tail c -> d -> e, f -> a into the
    core, and g -> h apart: every peel and reach loop needs >= 2 rounds."""
    edges = [('a', 'b', 1.0), ('b', 'c', 2.0), ('c', 'a', 1.0),
             ('c', 'd', 3.0), ('d', 'e', 1.0), ('f', 'a', 2.0),
             ('g', 'h', 1.0)]
    return KG(spark.createDataFrame([(n,) for n in 'abcdefgh'],
                                    'node_id string'),
              spark.createDataFrame(
                  edges, 'source_id string, target_id string, w double'))


def _cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _seeds(spark):
    return spark.createDataFrame([('a',)], 'node_id string')


_LOOP_CALLS = {
    'pagerank': lambda g, s: analytics.pagerank(g, n_iterations=3),
    'personalized_pagerank': lambda g, s: analytics.personalized_pagerank(
        g, _seeds(s), n_iterations=3),
    'pagerank_weighted': lambda g, s: analytics.pagerank_weighted(
        g, 'w', n_iterations=3),
    'hits': lambda g, s: analytics.hits(g, n_iterations=3),
    'weighted_shortest_paths': lambda g, s:
        analytics.weighted_shortest_paths(g, 'w', _seeds(s)),
    'random_walks': lambda g, s: analytics.random_walks(g, 3),
    'node2vec_walks': lambda g, s: analytics.node2vec_walks(g, 3),
    'strongly_connected_components': lambda g, s:
        analytics.strongly_connected_components(g),
    'betweenness_centrality': lambda g, s:
        analytics.betweenness_centrality(g, origin_batches=2),
    'k_core': lambda g, s: analytics.k_core(g, 2),
    'k_truss': lambda g, s: analytics.k_truss(g, 3),
    'bowtie_decomposition': lambda g, s: analytics.bowtie_decomposition(g),
    'label_propagation_communities': lambda g, s:
        analytics.label_propagation_communities(g),
    'hyperball_harmonic': lambda g, s: analytics.hyperball_harmonic(
        g, p=16, t_max=3),
    'bfs_distances': lambda g, s: bfs_distances(g, ['a', 'f'], max_hops=3),
    'min_label_propagation': lambda g, s: components.connected_components(g),
}


@pytest.mark.parametrize('name', sorted(_LOOP_CALLS))
def test_loop_releases_cached_tables(spark, bowtie_graph, name):
    """Every iterative operator leaves the session cache as it found it."""
    spark.catalog.clearCache()
    _LOOP_CALLS[name](bowtie_graph, spark).collect()
    assert _cache_is_empty(spark), name


def test_hits_empty_graph_releases_cached_tables(spark):
    empty = KG(spark.createDataFrame([], 'node_id string'),
               spark.createDataFrame([], 'source_id string, target_id string'))
    spark.catalog.clearCache()
    assert analytics.hits(empty).count() == 0
    assert _cache_is_empty(spark)


_UNCONVERGED_CALLS = {
    'weighted_shortest_paths': lambda g, s:
        analytics.weighted_shortest_paths(g, 'w', _seeds(s), max_rounds=1),
    'bowtie': lambda g, s: analytics.bowtie_decomposition(g, max_rounds=1),
    'k_core': lambda g, s: analytics.k_core(g, 2, max_rounds=1),
    'k_truss': lambda g, s: analytics.k_truss(g, 3, max_rounds=1),
    'scc': lambda g, s: analytics.strongly_connected_components(
        g, max_rounds=1),
    'min_label_propagation': lambda g, s: components.connected_components(
        g, max_iterations=1),
}


@pytest.mark.parametrize('name', sorted(_UNCONVERGED_CALLS))
def test_unconverged_loop_raises_and_releases(spark, bowtie_graph, name):
    """A loop cut at its round cap raises a RuntimeError naming the loop
    and still releases every cached side table."""
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match=name + r'\w* did not converge'):
        _UNCONVERGED_CALLS[name](bowtie_graph, spark)
    assert _cache_is_empty(spark), name


def test_round_plan_captured_at_round_two(spark, bowtie_graph, tmp_path,
                                          monkeypatch):
    """With PYBEL_EXPLAIN_DIR set, a loop writes its steady-state round-2
    plan once; a one-round loop has no round 2 and writes none."""
    monkeypatch.setenv('PYBEL_EXPLAIN_DIR', str(tmp_path))
    analytics.pagerank(bowtie_graph, n_iterations=1)
    assert not list(tmp_path.glob('round_pagerank_*.txt'))
    analytics.pagerank(bowtie_graph, n_iterations=3)
    assert len(list(tmp_path.glob('round_pagerank_*.txt'))) == 1

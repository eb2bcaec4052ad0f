"""Whole-graph analytics: degree histogram, triangle counting, PageRank.

The reference ships only ``get_top_hubs`` (struct/summary/node_summary.py:
209-215) as a degree analytic and delegates everything heavier to networkx
on the in-memory ``BELGraph`` (its docs recommend ``nx.pagerank`` /
``nx.triangles`` over the compiled graph). At web scale the graph no longer
fits one machine, so these are re-expressed as distributed DataFrame
algebra:

- :func:`degree_histogram` — one explode + two hash aggregates; a single
  shuffle on the (uniform, md5) node id, then a tiny shuffle on the degree.
- :func:`triangles` — degree-ordered orientation (each undirected edge
  points from the lower-(degree, id) endpoint to the higher one), so every
  node's oriented out-degree is O(sqrt(m)) and the wedge self-join is
  skew-resistant even on power-law web graphs; the heavy hitters that blow
  up the naive node-iterator join never become join keys.
- :func:`pagerank` — the classic iterative formulation with dangling-mass
  redistribution (same semantics as ``networkx.pagerank`` with a fixed
  iteration count). Each round is one equi-join + hash aggregate on the
  uniform node id; the dangling mass is a 1-row aggregate cross-joined
  back (never collected to the driver).

Every iterative operator here runs its rounds through
:class:`~pybel_spark.ops.graph.Rounds`, which owns checkpointing, the
round cap, plan capture and the release of cached side tables.
"""
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .graph import (KG, Rounds, adjacency_table, checkpoint, count_settled,
                    is_empty, none_changed, union_layers)


def synthetic_skewed_graph(spark, n_nodes: int, avg_out_degree: int = 8,
                           seed: int = 42):
    """Deterministic hub-skewed random graph for scale-testing analytics.

    Edge k (k in [0, n_nodes*avg_out_degree)) leaves source k // d toward
    target xxhash64(k, seed) % (source+1) — uniform over the ids BELOW the
    source, so in-degree(j) ~ d * ln(n/j): node 0 is a hot hub with
    in-degree ~ d*ln(n), the web-graph shape that breaks naive
    node-iterator triangle joins. Pure column algebra, no driver data.

    Returns (nodes, edges) DataFrames shaped like KG members
    (node_id / source_id, target_id — long ids).
    """
    d = avg_out_degree
    src = (F.col('id') / d).cast('long')
    tgt = F.abs(F.xxhash64(F.col('id'), F.lit(seed))) % (src + 1)
    edges = (
        spark.range(0, n_nodes * d)
        .select(src.alias('source_id'), tgt.alias('target_id'))
        .where(F.col('source_id') != F.col('target_id'))
    )
    nodes = spark.range(n_nodes).select(F.col('id').alias('node_id'))
    return nodes, edges


def synthetic_graph_sqlmirror(spark, n_nodes: int, avg_out_degree: int = 8,
                              multiplier: int = 2654435761,
                              block_size: int = None,
                              core_size: int = None, core_width: int = 6):
    """Deterministic skewed graph in pure bigint algebra that ANY SQL
    engine reproduces bit-for-bit — the mid-size oracle companion to
    :func:`synthetic_skewed_graph` (which uses xxhash64, Spark-only).

    Edge k (k in [0, n_nodes*avg_out_degree)) leaves source k // d toward
    target (k * multiplier) % (source + 1) — the Knuth multiplicative
    constant spreads targets near-uniformly over the ids below the
    source, so node 0 is a hot hub (in-degree ~ d·ln n, the web-graph
    shape). With ``block_size`` B, targets stay inside the source's
    id-block [B*(s//B), s], giving ~n/B separate components for
    component-labelling oracles. With ``core_size`` C and ``core_width``
    t, a circulant graph (i, (i+j) % C for j in 1..t) over the first C
    nodes is unioned in: its uniform degree 2t survives a k<=2t core
    peel while the tree-ish bulk cascades away over many rounds — the
    multi-round k-core oracle shape. The intermediate ``edge_id ×
    multiplier`` product must stay < 2^52 for engines that evaluate the
    modulo in doubles to agree bit-for-bit with bigint engines — enforced
    below (≈ 212k nodes at d=8 with the default multiplier); larger
    oracle graphs need a smaller multiplier.

    Returns (nodes, edges) DataFrames shaped like KG members.
    """
    d = avg_out_degree
    if (n_nodes * d - 1) * multiplier >= 2 ** 52:
        raise ValueError(
            'edge_id*multiplier reaches {:.2e} >= 2^52: a double-precision '
            'oracle engine would round the product and diverge from '
            'bigint arithmetic — lower n_nodes or the multiplier'.format(
                float((n_nodes * d - 1) * multiplier)))
    src = F.expr('id div {}'.format(d))
    if block_size is None:
        tgt = (F.col('id') * F.lit(multiplier)) % (src + F.lit(1))
    else:
        base = src - src % F.lit(block_size)
        tgt = base + (F.col('id') * F.lit(multiplier)) \
            % (src - base + F.lit(1))
    edges = (
        spark.range(0, n_nodes * d)
        .select(src.alias('source_id'), tgt.alias('target_id'))
        .where(F.col('source_id') != F.col('target_id'))
    )
    if core_size is not None:
        c_src = F.expr('id div {}'.format(core_width))
        c_tgt = (c_src + F.col('id') % F.lit(core_width) + F.lit(1)) \
            % F.lit(core_size)
        core = (
            spark.range(0, core_size * core_width)
            .select(c_src.alias('source_id'), c_tgt.alias('target_id'))
        )
        edges = edges.unionByName(core)
    nodes = spark.range(n_nodes).select(F.col('id').alias('node_id'))
    return nodes, edges


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: distinct (a, b) with a < b, self-loops
    dropped. One distinct-shuffle on uniformly distributed ids."""
    return (
        edges
        .where(F.col('source_id') != F.col('target_id'))
        .select(
            F.least('source_id', 'target_id').alias('a'),
            F.greatest('source_id', 'target_id').alias('b'))
        .distinct()
    )


def _pair_degrees(pairs: DataFrame) -> DataFrame:
    """(node_id, degree) over a canonical (a, b) pair set — nodes with at
    least one neighbor only (the single formulation degrees() and
    triangles() both build on)."""
    ends = pairs.select(F.col('a').alias('node_id')).unionByName(
        pairs.select(F.col('b').alias('node_id')))
    return ends.groupBy('node_id').agg(F.count(F.lit(1)).alias('degree'))


def degrees(graph: KG) -> DataFrame:
    """(node_id, degree): distinct-neighbor undirected degree; isolated
    nodes appear with degree 0."""
    counted = _pair_degrees(undirected_pairs(graph.edges))
    return (
        graph.nodes.select('node_id')
        .join(counted, on='node_id', how='left')
        .select('node_id',
                F.coalesce('degree', F.lit(0).cast('long')).alias('degree'))
    )


def degree_histogram(graph: KG) -> DataFrame:
    """(degree, n_nodes) histogram over the undirected distinct-neighbor
    degree — the scale-friendly summary of the web graph's shape (the
    per-node table itself is too big to eyeball at 10^12 docs)."""
    return (
        degrees(graph)
        .groupBy('degree').agg(F.count(F.lit(1)).alias('n_nodes'))
        .orderBy('degree')
    )


def triangles(graph: KG) -> DataFrame:
    """One row per triangle: (x, y, z) node ids with x < y < z.

    Degree-ordered orientation: undirected edge {u, v} becomes u→v iff
    (degree(u), u) < (degree(v), v). Every wedge u→v, u→w (v before w in
    the same order) is closed by probing the oriented edge v→w, so each
    triangle is found exactly once and the wedge join fans out from the
    LOW-degree endpoint — max oriented out-degree is O(sqrt(m)) regardless
    of skew.
    """
    pairs = undirected_pairs(graph.edges)
    deg = _pair_degrees(pairs).withColumnRenamed('degree', 'deg')
    # oriented edge list (u, v) with (deg_u, u) < (deg_v, v), degrees kept
    # on both endpoints so the wedge join can order v, w without a lookup
    with_deg = (
        pairs
        .join(deg.select(F.col('node_id').alias('a'),
                         F.col('deg').alias('deg_a')), on='a')
        .join(deg.select(F.col('node_id').alias('b'),
                         F.col('deg').alias('deg_b')), on='b')
    )
    fwd = (F.col('deg_a') < F.col('deg_b')) | (
        (F.col('deg_a') == F.col('deg_b')) & (F.col('a') < F.col('b')))
    # NOT persisted: the three self-join aliases compile to identical
    # exchange subtrees that Spark dedups at runtime (ReusedExchange);
    # forcing an InMemoryTableScan here blocked that reuse and codegen —
    # measured 3.7x SLOWER at 4M edges, plus a leaked cache entry
    oriented = with_deg.select(
        F.when(fwd, F.col('a')).otherwise(F.col('b')).alias('u'),
        F.when(fwd, F.col('b')).otherwise(F.col('a')).alias('v'),
        F.when(fwd, F.col('deg_a')).otherwise(F.col('deg_b')).alias('deg_u'),
        F.when(fwd, F.col('deg_b')).otherwise(F.col('deg_a')).alias('deg_v'),
    )

    e1, e2, e3 = oriented.alias('e1'), oriented.alias('e2'), oriented.alias('e3')
    wedge_order = (F.col('e1.deg_v') < F.col('e2.deg_v')) | (
        (F.col('e1.deg_v') == F.col('e2.deg_v'))
        & (F.col('e1.v') < F.col('e2.v')))
    wedges = (
        e1.join(e2, (F.col('e1.u') == F.col('e2.u')) & wedge_order)
        .select(F.col('e1.u').alias('u'),
                F.col('e1.v').alias('v'),
                F.col('e2.v').alias('w'))
    )
    tri = (
        wedges.alias('wd').join(
            e3,
            (F.col('wd.v') == F.col('e3.u')) & (F.col('wd.w') == F.col('e3.v')),
            how='leftsemi')
        .select(
            F.array_sort(F.array('u', 'v', 'w')).alias('t'))
        .select(F.col('t')[0].alias('x'), F.col('t')[1].alias('y'),
                F.col('t')[2].alias('z'))
    )
    return tri


def triangle_participation(graph: KG) -> DataFrame:
    """(node_id, n_triangles) for every node in at least one triangle —
    the per-node clustering signal (nx.triangles shape)."""
    tri = triangles(graph)
    members = (
        tri.select(F.col('x').alias('node_id'))
        .unionByName(tri.select(F.col('y').alias('node_id')))
        .unionByName(tri.select(F.col('z').alias('node_id')))
    )
    return members.groupBy('node_id').agg(
        F.count(F.lit(1)).alias('n_triangles'))


def k_core(graph: KG, k: int = 2, max_rounds: int = 50) -> DataFrame:
    """(node_id,) — nodes of the k-core: the maximal subgraph where every
    node has undirected distinct-neighbor degree >= k (nx.k_core node set;
    a standard web-graph spam/quality signal).

    Iterative peel: drop nodes below k, recompute degrees on the surviving
    edge set, repeat to fixpoint. Each round is one degree aggregate + two
    semi-joins on the uniform node id. Converges in <= initial-max-degree
    rounds; in practice a handful — raises if ``max_rounds`` is exhausted
    before the fixpoint (silent non-convergence would be silently-wrong
    results, the ops/components.py lesson).
    """
    def peel(pairs, _):
        keep = (_pair_degrees(pairs).where(F.col('degree') >= k)
                .select('node_id'))
        # merge-pinned per-round semi-joins (same rationale as the
        # PageRank rank table: 'keep' is O(n) and fresh each peel round)
        return (
            pairs
            .hint('merge')
            .join(keep.select(F.col('node_id').alias('a')),
                  on='a', how='leftsemi')
            .hint('merge')
            .join(keep.select(F.col('node_id').alias('b')),
                  on='b', how='leftsemi')
        )

    pairs = Rounds.run('k_core', undirected_pairs(graph.edges), peel,
                       max_rounds, until=count_settled())
    return (
        pairs.select(F.col('a').alias('node_id'))
        .unionByName(pairs.select(F.col('b').alias('node_id')))
        .distinct()
    )


def clustering_coefficients(graph: KG) -> DataFrame:
    """(node_id, clustering) — local clustering coefficient
    2*T(v) / (deg(v) * (deg(v) - 1)) over the undirected distinct-neighbor
    graph (nx.clustering semantics); nodes with degree < 2 get 0.0.
    Pure composition of :func:`degrees` and :func:`triangle_participation`
    — inherits the skew-resistant oriented wedge join."""
    deg = degrees(graph)
    tri = triangle_participation(graph)
    d = F.col('degree')
    return (
        deg.join(tri, on='node_id', how='left')
        .select(
            'node_id',
            F.when(d >= 2,
                   2.0 * F.coalesce('n_triangles', F.lit(0).cast('long'))
                   / (d * (d - 1)))
            .otherwise(F.lit(0.0)).alias('clustering'))
    )


def pagerank(graph: KG, damping: float = 0.85,
             n_iterations: int = 10) -> DataFrame:
    """(node_id, rank) after a fixed number of power-iteration rounds.

    Semantics of one round (networkx.pagerank's update, fixed iterations
    instead of an epsilon stop so the result is deterministic and
    SQL-mirrorable):

        rank'(v) = (1-d)/N + d * (sum over u→v of rank(u)/outdeg(u)
                                  + dangling_mass / N)

    where edges are the DISTINCT directed (source, target) pairs and
    dangling_mass is the total rank sitting on nodes with no out-edges.
    Total rank is conserved at exactly 1 per round. The dangling mass is a
    one-row aggregate cross-joined into the update (broadcast by AQE) —
    nothing is collected to the driver, so the whole loop is shippable
    plans.
    """
    nodes = graph.nodes.select('node_id')
    n = nodes.count()
    if n == 0:
        return nodes.select('node_id', F.lit(0.0).alias('rank'))
    teleport = nodes.select('node_id', F.lit(1.0 / n).alias('p'))
    return _power_iteration(graph, teleport, damping, n_iterations)


def personalized_pagerank(graph: KG, seeds: DataFrame,
                          damping: float = 0.85,
                          n_iterations: int = 10) -> DataFrame:
    """PageRank with the teleport (and dangling-mass) distribution uniform
    over ``seeds`` (a DataFrame with a ``node_id`` column) instead of all
    nodes — relevance of every node to the seed set (the KG
    heat-diffusion / neighborhood-scoring workflow). Rank starts at the
    teleport vector; same fixed-iteration, SQL-mirrorable update as
    :func:`pagerank`.
    """
    seed_set = seeds.select('node_id').distinct()
    s = seed_set.count()
    if s == 0:
        raise ValueError('personalized_pagerank requires >= 1 seed node')
    teleport = (
        graph.nodes.select('node_id')
        .join(seed_set.select('node_id', F.lit(1.0 / s).alias('p')),
              on='node_id', how='left')
        .select('node_id', F.coalesce('p', F.lit(0.0)).alias('p'))
    )
    return _power_iteration(graph, teleport, damping, n_iterations)


def pagerank_weighted(graph: KG, weight_col: str, damping: float = 0.85,
                      n_iterations: int = 10) -> DataFrame:
    """PageRank where a node distributes its rank to out-neighbors in
    proportion to the edge weight (e.g. the host link graph's ``n_links``
    multiplicity) instead of uniformly — the standard weighted host-rank.
    Update per round (same dangling/teleport handling as :func:`pagerank`):

        rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u) * w(u,v)/W(u)
                                  + dangling_mass / N)

    with W(u) = Σ_w over u's out-edges. Distinct (source, target) pairs
    with their weight summed; same plan shape as the unweighted loop."""
    nodes = graph.nodes.select('node_id')
    n = nodes.count()
    if n == 0:
        return nodes.select('node_id', F.lit(0.0).alias('rank'))
    teleport = nodes.select('node_id', F.lit(1.0 / n).alias('p'))
    return _power_iteration(graph, teleport, damping, n_iterations,
                            weight_col=weight_col)


def _power_iteration(graph: KG, teleport: DataFrame, damping: float,
                     n_iterations: int, weight_col: str = None) -> DataFrame:
    """Shared PageRank loop: teleport is (node_id, p) summing to 1; rank
    starts at p and each round applies
    rank' = (1-d)*p + d*(in-contributions + dangling_mass*p).
    With ``weight_col``, contributions are rank(u) * w/W(u) instead of
    rank(u)/outdeg(u).

    Out-edges are materialized ONCE as a per-source adjacency array
    (same rewrite as :func:`random_walks`): each round then joins the
    O(nodes) rank table to the O(sources) adjacency table and explodes,
    instead of sort-merge-joining the O(edges) link table — on the
    4M-edge bench graph that sorts 4× fewer rows per round for the same
    exchanged bytes (the explode feeds the map-side partial agg
    directly, so the groupBy shuffle is unchanged). Per-edge arithmetic
    is bit-identical (rank/outdeg resp. rank*w/W), so the DuckDB oracle
    mirrors are untouched. Hub skew note as in random_walks: a 10^6
    out-degree node is ONE wide adjacency row, never a shuffle hot key.
    """
    n_part = int(graph.edges.sparkSession.conf.get(
        'spark.sql.shuffle.partitions'))
    with Rounds() as rounds:
        if weight_col is None:
            adj = rounds.cache(
                adjacency_table(graph.edges, key_col='source_id')
                .withColumn('outdeg', F.size('nbrs')))
        else:
            adj = rounds.cache(
                graph.edges
                .groupBy('source_id', 'target_id')
                .agg(F.sum(F.col(weight_col)).cast('double').alias('_w'))
                .groupBy('source_id')
                .agg(F.collect_list(F.struct('target_id', '_w'))
                     .alias('nbrs'),
                     F.sum('_w').alias('outdeg'))
                .repartition(n_part, 'source_id')
                .sortWithinPartitions('source_id'))
        # teleport joins ranks EVERY round — cache it pre-partitioned+sorted
        # on the join key so its side of the merge join is exchange- and
        # sort-free (same contract as the adjacency table; guide §2.4
        # "share one exchange"). The values are unchanged, only the cached
        # layout.
        teleport = rounds.cache(teleport.repartition(n_part, 'node_id')
                                .sortWithinPartitions('node_id'))
        # the dangling node SET is static across rounds — only its rank mass
        # changes; one anti-join here replaces a ranks-vs-outdeg anti-join
        # shuffle inside every iteration
        dangling_ids = rounds.cache(
            teleport.select('node_id')
            .join(adj.select(F.col('source_id').alias('node_id')),
                  on='node_id', how='leftanti')
            .repartition(n_part, 'node_id').sortWithinPartitions('node_id'))

        def step(ranks, _):
            # rank/adjacency joins are pinned to SORT-MERGE: at web scale
            # both sides are corpus-sized, and re-broadcasting a fresh O(n)
            # rank table EVERY round (what a size-threshold decision picks
            # once n×16B fits the limit) pays driver collect + fan-out per
            # iteration — measured +50% on the 4M-edge bench graph
            joined = adj.hint('merge').join(
                ranks.withColumnRenamed('node_id', 'source_id'),
                on='source_id')
            if weight_col is None:
                exploded = joined.select(
                    F.explode('nbrs').alias('node_id'),
                    (F.col('rank') / F.col('outdeg')).alias('_share'))
            else:
                exploded = (
                    joined.select('rank', 'outdeg',
                                  F.explode('nbrs').alias('_nb'))
                    .select(F.col('_nb.target_id').alias('node_id'),
                            (F.col('rank') * F.col('_nb._w')
                             / F.col('outdeg')).alias('_share')))
            contribs = exploded.groupBy('node_id').agg(
                F.sum('_share').alias('contrib'))
            dangling = (
                ranks.hint('merge').join(dangling_ids, on='node_id',
                                         how='leftsemi')
                .agg(F.coalesce(F.sum('rank'), F.lit(0.0))
                     .alias('dangling_mass'))
            )
            return (
                teleport.hint('merge').join(contribs, on='node_id',
                                            how='left')
                .crossJoin(F.broadcast(dangling))
                .select(
                    'node_id',
                    (F.lit(1.0 - damping) * F.col('p')
                     + F.lit(damping)
                     * (F.coalesce('contrib', F.lit(0.0))
                        + F.col('dangling_mass') * F.col('p')))
                    .alias('rank'))
            )

        return rounds.run('pagerank',
                          teleport.select('node_id',
                                          F.col('p').alias('rank')),
                          step, n_iterations)


def hits(graph: KG, n_iterations: int = 10) -> DataFrame:
    """(node_id, auth, hub) after a fixed number of HITS rounds
    (Kleinberg 1999) with ONE final L1 normalization — the hub/authority
    decomposition of a directed graph, the classic web-graph companion to
    PageRank.

    One round over the DISTINCT directed edge set:

        auth'(v) = Σ_{u→v} hub(u),   hub'(v) = Σ_{v→w} auth'(w)

    Scores stay UNNORMALIZED through the loop (L1 normalization is one
    scalar per vector, so normalizing once at the end yields the same
    final auth/hub up to float rounding — and the DuckDB oracle mirrors
    exactly this single-normalization arithmetic). That halves the work
    per round: the previous per-round normalizer re-evaluated each
    half-round's join+aggregate a second time just to compute the scalar
    (measured 21-32 s → see bench for the 4M-edge graph). Magnitudes grow
    ~ (largest singular value)² per round — doubles hold that to
    hundreds of rounds on any real graph.

    Scale: per round, two equi-join + partial-agg exchanges keyed by
    node; sparse state (nodes with zero score carry no rows — absent and
    0 contribute identically to the sums). Nodes without
    in-(out-)edges surface with auth (hub) 0 in the final left join; a
    graph with no edges yields all-zero scores (NULL normalizer caught by
    the outer coalesce). As in :func:`_power_iteration`, each direction's
    edge set is materialized ONCE as a per-node adjacency array (out-
    neighbors for the auth push, in-sources for the hub pull) so every
    half-round sort-merge-joins O(nodes) rows instead of O(edges), with
    the explode feeding the map-side partial agg — identical sums, 4×
    fewer sorted rows per half-round on the 4M-edge bench graph.
    """
    with Rounds() as rounds:
        nodes = rounds.cache(graph.nodes.select('node_id').distinct())
        # one cached distinct pass feeds BOTH adjacency builds — without
        # it the O(edges) dedup shuffle runs twice
        edges = rounds.cache(
            graph.edges.select('source_id', 'target_id').distinct())
        out_adj = rounds.cache(adjacency_table(edges, key_col='source_id',
                                               dedup=False))
        in_adj = rounds.cache(adjacency_table(
            edges, src='target_id', dst='source_id', key_col='target_id',
            out_col='srcs', dedup=False))
        n = nodes.count()
        if n == 0:
            return nodes.select(
                'node_id', F.lit(0.0).alias('auth'), F.lit(0.0).alias('hub'))
        auths = nodes.select('node_id', F.lit(0.0).alias('auth'))

        def step(hubs, r):
            nonlocal auths
            # merge-pinned like _power_iteration: never re-broadcast an
            # O(n) score table per half-round
            auths = (
                out_adj.hint('merge')
                .join(hubs.withColumnRenamed('node_id', 'source_id'),
                      on='source_id')
                .select(F.explode('nbrs').alias('node_id'), 'hub')
                .groupBy('node_id')
                .agg(F.sum('hub').alias('auth'))
            )
            # checkpoint only on the final round (auths otherwise feeds
            # exactly one consumer — the hub update — whose own checkpoint
            # materializes it)
            if r == n_iterations:
                auths = checkpoint(auths)
            return (
                in_adj.hint('merge')
                .join(auths.withColumnRenamed('node_id', 'target_id'),
                      on='target_id')
                .select(F.explode('srcs').alias('node_id'), 'auth')
                .groupBy('node_id')
                .agg(F.sum('auth').alias('hub'))
            )

        hubs = rounds.run('hits', nodes.select(
            'node_id', F.lit(1.0 / n).alias('hub')), step, n_iterations)
        asum = auths.agg(F.sum('auth').alias('s'))
        hsum = hubs.agg(F.sum('hub').alias('s'))
        auths_n = (
            auths.crossJoin(F.broadcast(asum))
            .select('node_id',
                    F.coalesce(F.col('auth') / F.col('s'), F.lit(0.0))
                    .alias('auth'))
        )
        hubs_n = (
            hubs.crossJoin(F.broadcast(hsum))
            .select('node_id',
                    F.coalesce(F.col('hub') / F.col('s'), F.lit(0.0))
                    .alias('hub'))
        )
        return (
            nodes.join(auths_n, on='node_id', how='left')
            .join(hubs_n, on='node_id', how='left')
            .select('node_id',
                    F.coalesce('auth', F.lit(0.0)).alias('auth'),
                    F.coalesce('hub', F.lit(0.0)).alias('hub'))
        )


def sample_neighbors(graph: KG, fanout: int = 10,
                     seed: int = 0) -> DataFrame:
    """Deterministic fixed-fanout neighbor sampling (the GraphSAGE
    minibatch primitive): per source node keep at most ``fanout``
    out-neighbors, chosen by ranking on ``md5(seed:src:dst)`` — a uniform
    sample that is reproducible across runs/engines/batches (no RNG), so
    GNN training data is stable and the SQL oracle mirrors it exactly.

    One per-source window (partitioned, no global sort); hub skew is
    bounded because output fan-out is capped at ``fanout`` regardless of
    a hub's true degree. Returns (source_id, target_id, rank).
    """
    edges = graph.edges.select('source_id', 'target_id').distinct()
    key = F.md5(F.concat_ws(':', F.lit(str(seed)),
                            F.col('source_id'), F.col('target_id')))
    w = Window.partitionBy('source_id').orderBy(key)
    return (
        edges.withColumn('rank', F.row_number().over(w))
        .where(F.col('rank') <= fanout)
    )


def weighted_shortest_paths(graph: KG, cost_col: str, sources,
                            max_rounds: int = 30) -> DataFrame:
    """(origin, node_id, dist) — cheapest-path costs from each source over
    non-negative edge costs (distributed Bellman-Ford relaxation): the
    weighted companion to the BFS distances (e.g. cost = 1/n_links makes
    strongly-linked hosts "close").

    Each round relaxes every edge once (equi-join keyed by the current
    node + min-aggregate keyed by (origin, node)) and stops at the first
    round with no improvement — at most (longest cheapest path's hop
    count) rounds, guarded. Parallel edges collapse to their cheapest
    cost up front. Costs must be non-negative (Bellman-Ford without
    negative-cycle detection); sums accumulate left-to-right along each
    path so the DuckDB mirror reproduces them bit-for-bit.
    """
    def relax(dist, _):
        cand = (
            dist.hint('merge')
            .join(edges.withColumnRenamed('source_id', 'node_id'),
                  on='node_id')
            .select('origin', F.col('target_id').alias('node_id'),
                    (F.col('dist') + F.col('cost')).alias('dist'))
        )
        return (dist.unionByName(cand)
                .groupBy('origin', 'node_id')
                .agg(F.min('dist').alias('dist')))

    def none_improved(dist, new_dist):
        return (
            new_dist.hint('merge').join(
                dist.select('origin', 'node_id',
                            F.col('dist').alias('old')),
                on=['origin', 'node_id'], how='left')
            .where(F.col('old').isNull() | (F.col('dist') < F.col('old')))
            .count() == 0)

    with Rounds() as rounds:
        edges = rounds.cache(
            graph.edges
            .select('source_id', 'target_id',
                    F.col(cost_col).cast('double').alias('cost'))
            .groupBy('source_id', 'target_id')
            .agg(F.min('cost').alias('cost')))
        return rounds.run(
            'weighted_shortest_paths',
            sources.select(F.col(sources.columns[0]).alias('origin'))
            .distinct().select('origin', F.col('origin').alias('node_id'),
                               F.lit(0.0).alias('dist')),
            relax, max_rounds, until=none_improved)


def _walk_starts(nodes: DataFrame, walks_per_node: int) -> DataFrame:
    """(walk_id, node) start rows: walk_id = '<node>#<i>' — the id format
    BOTH walk oracles mirror (change here == change the SQL mirrors)."""
    return (nodes.select('node_id')
            .select('node_id',
                    F.explode(F.array(
                        *[F.lit(i) for i in range(walks_per_node)]))
                    .alias('w_i'))
            .select(F.concat_ws('#', 'node_id', 'w_i').alias('walk_id'),
                    F.col('node_id').alias('node')))


def _walk_draw_key(seed: int, t: int):
    """The per-step draw key 'seed:walk_id:t:node' — the md5 input both
    walk operators and their SQL mirrors share."""
    return F.concat_ws(
        ':', F.lit(str(seed)), F.col('walk_id'), F.lit(str(t)),
        F.col('node'))


def _uniform_pick(key):
    """Uniform neighbor choice from a sorted 'nbrs' array:
    md5(key)[:8] mod outdeg, 1-indexed for element_at."""
    idx = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast('long')
    return F.element_at(
        F.col('nbrs'), (F.pmod(idx, F.size('nbrs')) + 1).cast('int'))


def random_walks(graph: KG, walk_length: int = 5, walks_per_node: int = 1,
                 seed: int = 0) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus: (walk_id, step,
    node) rows for ``walks_per_node`` walks of up to ``walk_length`` steps
    from every node — the corpus a skip-gram graph-embedding trainer
    (DeepWalk / node2vec with p=q=1) consumes.

    The neighbor choice is a HASH, not an RNG: at step t the walk picks
    out-neighbor index ``md5(seed:walk_id:t:node) mod outdeg(node)``, with
    neighbors ranked by target id. That makes the walks reproducible across
    runs/retries/engines (the DuckDB oracle mirrors them exactly) while
    remaining uniform per step — the same md5-threshold determinism contract
    as textops.mixture.sampling_hash. Walks stop early at nodes with no
    out-edges (the inner join drops them).

    Scale: out-neighbors are materialized ONCE as a per-node sorted
    adjacency array (one groupBy over the edge set — same rank order as
    the previous per-source row_number window, so walk values are
    unchanged), and each step is then ONE merge-pinned equi-join keyed
    by the current node plus an element_at — half the exchanges of the
    earlier (outdeg, then (source, rank)) two-join round. Shuffle size
    stays O(active walks), never O(edges). Hub skew is bounded: a walk
    visits ONE neighbor
    regardless of outdeg (the adjacency row of a 10^6-out-link
    directory page is megabytes — large but a single row, and only
    walk-visited nodes' rows are ever shuffled).
    """
    with Rounds() as rounds:
        adj = rounds.cache(adjacency_table(graph.edges, key_col='node',
                                           sort=True))

        def step(levels, t):
            # merge-pinned: the walk frontier is O(walks) and fresh per
            # step — a size-threshold broadcast would re-ship it every step
            return (
                levels[-1].hint('merge')
                .join(adj, on='node')
                .select('walk_id',
                        _uniform_pick(_walk_draw_key(seed, t)).alias('node'),
                        F.lit(t).alias('step'))
            )

        return union_layers(rounds.run(
            'walks', _walk_starts(graph.nodes, walks_per_node).select(
                'walk_id', 'node', F.lit(0).alias('step')),
            step, walk_length, layers=True))


def node2vec_walks(graph: KG, walk_length: int = 5, walks_per_node: int = 1,
                   p: float = 2.0, q: float = 0.5,
                   seed: int = 0) -> DataFrame:
    """Deterministic node2vec-biased walk corpus (Grover & Leskovec 2016):
    (walk_id, step, node) rows like :func:`random_walks`, but from step 2
    on the neighbor choice is SECOND-ORDER — having stepped u→v, candidate
    x among v's out-neighbors is weighted 1/p if x == u (return), 1 if the
    edge u→x exists (stay near u), else 1/q (explore). p>1,q<1 biases
    outward (DFS-like, structural-equivalence corpora); the reverse biases
    BFS-like (homophily corpora). The reference delegates graph embedding
    corpora to in-memory networkx walks; this is the distributed
    re-expression.

    Determinism/oracle contract: the "random" draw at step t is
    u = ('0x'||md5(seed:walk_id:t:v)[:8]) / 2^32 ∈ [0,1); the chosen
    neighbor is the FIRST (by ascending target id) whose cumulative weight
    reaches u * total_weight. With dyadic p and q (defaults 2.0 / 0.5 —
    any power of two works) every weight, cumulative sum, and the
    threshold product are dyadic rationals representable exactly in IEEE
    doubles (numerators stay < 2^53 for out-degrees < 2^20), so the
    unrolled DuckDB window-sum oracle matches bit-for-bit — the same
    md5-threshold determinism contract as ``random_walks``.

    Scale shape: one adjacency-array materialization, then per step ONE
    merge-pinned adjacency lookup keyed by the current node v. The
    previous node's neighbor set (the u→x existence probe) is CARRIED
    FORWARD from the previous step's join output — having stepped u→v,
    step t+1 needs u's sorted out-array, which is exactly the ``nbrs``
    array the step-t join already had in hand — so the second per-step
    adjacency join (and its exchange+sort of the whole frontier by
    ``prev``) is gone; the checkpointed frontier carries the array
    instead (O(walks × avg-outdeg) values, the same bytes that join
    produced). Values are bit-identical: the carried array IS u's
    adjacency row. Shuffle stays O(active walks); the per-row cost is
    O(outdeg(v) · outdeg(u)) worst-case on hub→hub transitions (flagged
    here: at true web scale a bloom/sorted-probe per candidate would cap
    the inner scan; out-deg 8-ish corpora never see it).
    """
    inv_p, inv_q = 1.0 / p, 1.0 / q

    def step(levels, t):
        key = _walk_draw_key(seed, t)
        with_nbrs = levels[-1].hint('merge').join(adj, on='node')
        if t == 1:
            # first step has no previous node: uniform over out-neighbors,
            # the exact random_walks draw (md5 mod outdeg)
            return with_nbrs.select(
                'walk_id',
                _uniform_pick(key).alias('node'),
                F.col('node').alias('prev'),
                F.col('nbrs').alias('prev_nbrs'),
                F.lit(t).alias('step'))
        u01 = (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast('double')
               / F.lit(float(2 ** 32)))
        w_of = lambda x: (
            F.when(x == F.col('prev'), F.lit(inv_p))
            .when(F.array_contains('prev_nbrs', x), F.lit(1.0))
            .otherwise(F.lit(inv_q)))
        weights = F.transform('nbrs', w_of)
        total = F.aggregate(
            weights, F.lit(0.0), lambda acc, w: acc + w)
        # first index (1-based) whose running weight sum reaches the
        # threshold: a single left-to-right fold — bit-identical to
        # the oracle's ORDER BY-target window sum
        thresh = (u01 * total).alias('thresh')
        pick = F.aggregate(
            weights,
            F.struct(F.lit(0.0).alias('cum'),
                     F.lit(0).alias('idx'),
                     F.lit(0).alias('i'),
                     thresh),
            lambda acc, w: F.struct(
                (acc['cum'] + w).alias('cum'),
                F.when((acc['idx'] == 0)
                       & (acc['cum'] + w >= acc['thresh']),
                       acc['i'] + 1)
                .otherwise(acc['idx']).alias('idx'),
                (acc['i'] + 1).alias('i'),
                acc['thresh'].alias('thresh')),
            # u01*total can equal total only at u01's dyadic
            # boundaries; clamp to the last neighbor then
            lambda acc: F.when(acc['idx'] == 0, acc['i'])
                         .otherwise(acc['idx']))
        return with_nbrs.select(
            'walk_id',
            F.element_at('nbrs', pick.cast('int')).alias('node'),
            F.col('node').alias('prev'),
            F.col('nbrs').alias('prev_nbrs'),
            F.lit(t).alias('step'))

    with Rounds() as rounds:
        adj = rounds.cache(adjacency_table(graph.edges, key_col='node',
                                           sort=True))
        levels = rounds.run(
            'node2vec', _walk_starts(graph.nodes, walks_per_node).select(
                'walk_id', 'node', F.lit(0).alias('step')),
            step, walk_length, layers=True)
    return union_layers(levels, 'walk_id', 'node', 'step')


def strongly_connected_components(graph: KG, max_rounds: int = 30,
                                  max_prop_rounds: int = 64) -> DataFrame:
    """(node_id, scc_id) with ``scc_id`` = the minimum member id of the
    node's strongly connected component — the directed-graph companion to
    connected_components, and the web-graph link-farm / bowtie-structure
    primitive.

    Orzan-style coloring, the standard distributed SCC algorithm:

    1. FORWARD min-label fixpoint over the active subgraph:
       color(v) = min node id that can reach v (including itself).
    2. Roots are nodes with color(v) == v. A root is provably the minimum
       member of its SCC (a smaller mutual-reachable id would have lowered
       its color).
    3. BACKWARD marking within each color class from its root: marked
       nodes both reach the root (backward walk) and are reached by it
       (same color) — exactly the root's SCC. Assign scc_id = color.
    4. Peel the marked nodes and repeat on the remainder.

    Determinism: min-label fixpoints only — no RNG, so the DuckDB
    recursive-closure oracle (scc_id = min mutually-reachable id) matches
    exactly. Each propagation step is one equi-join + min-aggregate keyed
    by node; the peel loop runs once per "layer" of the SCC condensation
    touched by surviving roots (typically a handful of rounds on web
    graphs, where one giant SCC dominates).
    Raises instead of returning silently-wrong labels if either loop
    exhausts its guard — the ops/components.py convergence lesson.
    """
    act_edges = checkpoint(
        graph.edges.select('source_id', 'target_id').distinct())
    n_part = int(graph.edges.sparkSession.conf.get(
        'spark.sql.shuffle.partitions'))
    assigned = []

    def peel(act_nodes, r):
        nonlocal act_edges
        if r > 1:
            act_edges = checkpoint(
                act_edges
                .join(act_nodes.withColumnRenamed('node_id', 'source_id'),
                      on='source_id', how='leftsemi')
                .join(act_nodes.withColumnRenamed('node_id', 'target_id'),
                      on='target_id', how='leftsemi'))
        with Rounds() as rounds:
            # both fixpoints run MANY rounds against this peel round's
            # (static) edge set, so the adjacency arrays (PLANS.md §31)
            # amortize: colors push along out-edges, marks pull along
            # in-edges
            out_adj = rounds.cache(adjacency_table(
                act_edges, out_col='targets', dedup=False))
            in_adj = rounds.cache(adjacency_table(
                act_edges, src='target_id', dst='source_id',
                out_col='sources', dedup=False))

            # 1. forward min-label fixpoint
            def forward(colors, _):
                colors = colors.select('node_id', 'color')
                incoming = (
                    out_adj.hint('merge').join(colors, on='node_id')
                    .select(F.explode('targets').alias('node_id'), 'color')
                    .groupBy('node_id')
                    .agg(F.min('color').alias('in_color'))
                )
                return (
                    colors.hint('merge').join(incoming, on='node_id',
                                              how='left')
                    .select('node_id',
                            F.least('color', F.coalesce('in_color', 'color'))
                            .alias('color'),
                            F.when(F.col('in_color') < F.col('color'),
                                   F.lit(1)).otherwise(F.lit(0))
                            .alias('_chg'))
                )

            colors = rounds.run(
                'scc_forward',
                act_nodes.select('node_id', F.col('node_id').alias('color')),
                forward, max_prop_rounds, until=none_changed)
            colors_p = rounds.cache(
                colors.select('node_id', 'color')
                .repartition(n_part, 'node_id')
                .sortWithinPartitions('node_id'))

            # 2+3. backward marking from each color root within its
            # class, FRONTIER propagation: explode only the nodes marked
            # LAST round (their in-neighborhoods are the only new reach);
            # new marks are disjoint from earlier layers (the anti-join)
            def backward(marked, _):
                reach_back = (
                    in_adj.hint('merge').join(marked[-1], on='node_id')
                    .select(F.explode('sources').alias('node_id'),
                            F.col('color').alias('mark_color'))
                    .distinct()
                )
                return (
                    reach_back
                    .hint('merge').join(colors_p, on='node_id')
                    .where(F.col('color') == F.col('mark_color'))
                    .select('node_id', 'color')
                    .join(union_layers(marked, 'node_id'), on='node_id',
                          how='leftanti')
                )

            marked = union_layers(rounds.run(
                'scc_backward',
                colors_p.where(F.col('node_id') == F.col('color')),
                backward, max_prop_rounds, until=is_empty, layers=True))
        assigned.append(marked.select('node_id',
                                      F.col('color').alias('scc_id')))
        # 4. peel
        return act_nodes.join(marked.select('node_id'), on='node_id',
                              how='leftanti')

    Rounds.run('scc_peel', graph.nodes.select('node_id').distinct(), peel,
               max_rounds, until=lambda _, left: left.count() == 0)
    return union_layers(assigned)


def distance_distribution(graph: KG, max_hops: int = 20,
                          source_fraction: float = None,
                          seed: int = 0) -> DataFrame:
    """(distance, n_pairs, cum_frac): the histogram of finite directed
    shortest-path distances 1..max_hops from the origin set — the
    neighborhood function N(t) of web-graph analysis; the EFFECTIVE
    DIAMETER is the smallest distance whose cum_frac reaches 0.9
    (Broder et al.'s "six degrees" observable). The reference graphs are
    in-memory (networkx ``nx.diameter``-style calls); this is the
    distributed re-expression over the layered BFS.

    ``source_fraction`` samples origins by the repo md5-threshold
    contract (``md5(seed:'dd':node) < threshold`` — deterministic, so
    the DuckDB recursive-closure oracle reproduces the exact histogram);
    None runs every node as an origin (the small-graph exact path —
    at web scale the sampled estimator is the standard
    ANF/HyperANF-style surrogate, and :func:`hyperball_harmonic` is the
    sketch-based alternative when even sampled exact BFS is too wide).
    Costs one bfs_distances state of O(origins × reached) rows plus two
    tiny aggregates; cum_frac divides by the total FINITE pair count
    (unreachable pairs are not modeled, matching the oracle)."""
    from ..textops.mixture import fraction_to_hex_threshold
    from .paths import bfs_distances

    nodes = graph.nodes.select('node_id')
    if source_fraction is not None:
        thr = fraction_to_hex_threshold(source_fraction)
        origins = nodes.where(
            F.substring(F.md5(F.concat_ws(
                ':', F.lit(str(seed)), F.lit('dd'), F.col('node_id'))),
                1, 8) < thr)
    else:
        origins = nodes
    d = bfs_distances(graph, origins, max_hops=max_hops)
    hist = (d.where(F.col('distance') > 0)
            .groupBy('distance')
            .agg(F.count(F.lit(1)).alias('n_pairs')))
    win = Window.orderBy('distance') \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = Window.orderBy('distance') \
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (hist
            .select('distance', 'n_pairs',
                    (F.sum('n_pairs').over(win).cast('double')
                     / F.sum('n_pairs').over(total)).alias('cum_frac'))
            .orderBy('distance'))


def effective_diameter(graph: KG, quantile: float = 0.9,
                       max_hops: int = 20, source_fraction: float = None,
                       seed: int = 0) -> int:
    """Smallest distance d with cum_frac(d) >= quantile over the finite
    pairs — the integer effective diameter (no interpolation, so the
    value is exact given the histogram). Returns max observed distance
    if the quantile is never reached within max_hops."""
    rows = (distance_distribution(graph, max_hops, source_fraction, seed)
            .collect())
    if not rows:
        return 0
    for r in rows:
        if r['cum_frac'] >= quantile:
            return r['distance']
    return rows[-1]['distance']


def betweenness_centrality(graph: KG, max_hops: int = 12,
                           source_fraction: float = None,
                           seed: int = 0,
                           origin_batches: int = 1) -> DataFrame:
    """(node_id, betweenness) — EXACT Brandes betweenness on the directed
    graph (nx.betweenness_centrality(DiGraph, normalized=False,
    endpoints=False) semantics): for every source s, shortest-path counts
    σ flow forward through the BFS DAG and dependencies δ accumulate
    backward; betweenness(v) = Σ_{s≠v} δ_s(v).

    All sources run SIMULTANEOUSLY as an (origin, node) keyed state —
    quadratic like :func:`harmonic_centrality`, the documented small-graph
    exact baseline. Every step is an equi-join + partial-agg keyed by
    (origin, node); σ counts stay exact int64; the forward and backward
    sweeps each run ``max_hops`` bounded layers.

    ``source_fraction`` is the SCALE path (Brandes-Pich sampled-source
    approximation): origins are the deterministic md5-hash sample
    ``md5(seed:'btw':node) < threshold`` — state drops from n² to
    n·(f·n), the estimator is the standard unscaled partial sum, and the
    hash choice reproduces bit-for-bit in the SQL oracle (no RNG).

    ``origin_batches`` bounds the in-flight (origin × node) state on
    graphs ≫4M edges: sampled origins are split into deterministic hash
    groups (pmod(xxhash64(node), origin_batches)) processed SEQUENTIALLY,
    each group's partial sums checkpointed before the next starts —
    betweenness is additive over origins, so the result is unchanged
    (up to float summation order) while peak state drops ~linearly.
    Brandes–Pich error bound (Pich 2007 / Riondato–Kornaropoulos): with
    k uniformly sampled origins the per-node estimator n/k·Σδ has
    additive error O(n·sqrt(ln(n)/k)) w.h.p.; this implementation
    returns the UNSCALED partial sum Σδ (scale by n/k for the absolute
    estimate) — see PLANS.md §26.
    """
    from ..textops.mixture import fraction_to_hex_threshold

    nodes = graph.nodes.select('node_id')
    if source_fraction is not None:
        thr = fraction_to_hex_threshold(source_fraction)
        sources = nodes.where(
            F.substring(F.md5(F.concat_ws(
                ':', F.lit(str(seed)), F.lit('btw'), F.col('node_id'))),
                1, 8) < thr)
    else:
        sources = nodes
    # both adjacency directions are built ONCE from one cached distinct
    # pass and shared across origin batches (the edge set never changes
    # between batches)
    with Rounds() as rounds:
        edges = rounds.cache(
            graph.edges.select('source_id', 'target_id').distinct())
        adj = rounds.cache(adjacency_table(edges, key_col='node',
                                           dedup=False))
        in_adj = rounds.cache(adjacency_table(
            edges, src='target_id', dst='source_id', key_col='node',
            out_col='srcs', dedup=False))
        parts = []
        for b in range(origin_batches):
            batch = (sources if origin_batches == 1 else sources.where(
                F.pmod(F.xxhash64('node_id'), F.lit(origin_batches)) == b))
            part = _brandes_partial(adj, in_adj, batch, max_hops)
            if part is not None:
                parts.append(checkpoint(part))
    if not parts:
        return nodes.select('node_id', F.lit(0.0).alias('betweenness'))
    got = (union_layers(parts).groupBy('node_id')
           .agg(F.sum('partial').alias('betweenness')))
    return (nodes.join(got, on='node_id', how='left')
            .select('node_id',
                    F.coalesce('betweenness', F.lit(0.0))
                    .alias('betweenness')))


def _brandes_partial(adj: DataFrame, in_adj: DataFrame, sources: DataFrame,
                     max_hops: int):
    """One Brandes forward+backward pass over a source group (``adj`` /
    ``in_adj`` are the caller's persisted out-/in-adjacency arrays);
    returns (node_id, partial) dependency sums, or None if no source
    reaches anything.

    The forward BFS and the σ path-count sweep are FUSED: expanding
    layer t-1's frontier already sums σ over same-layer predecessors
    (an edge u→v with u first reached at t-1 contributes σ(u) iff v is
    first reached at t, which the visited anti-join decides), so σ
    falls out of the same frontier shuffle that discovers the layer —
    the frontier expansion rides the per-node adjacency array
    (bfs_distances rewrite) instead of the O(edges) pair table. Counts
    are identical exact int64.

    The backward δ sweep is LAYERED over the in-adjacency arrays: for
    layer t+1's nodes v (carrying σ(v) and δ(v)), exploding in(v) and
    inner-joining layer t yields exactly the DAG predecessors u with
    d(u) = d(v) − 1, so δ(u) = Σ σ(u)/σ(v)·(1+δ(v)) falls out of one
    explode + join + partial agg per layer. This replaces the previous
    GLOBAL DAG materialization — a persisted O(origins×edges) triple
    join (the 120M-row sort against the full distance table was the
    dominant Brandes stage at 4M edges) — with per-layer work that
    in total touches each reached in-edge once per origin and never
    sorts more than a layer. Identical dependency terms, exact σ.

    The visited set for the anti-join is the LAZY union of the
    checkpointed layers (disjoint by construction).

    Join strategies are left to AQE (no merge pins): every per-layer
    table here is fresh state whose size swings over four orders of
    magnitude between hop 1 and the peak layer, and AQE's RUNTIME size
    (not a static estimate) picks broadcast for the small hops and
    sort-merge for the big ones — measured 40 → 30 s over the pinned
    plan at 4M edges / 31 origins, with the pinned strategy returning
    exactly at the scale where broadcast would hurt."""
    def forward(layers, _):
        cand = (
            layers[-1].join(adj, on='node')
            .select('origin', F.explode('nbrs').alias('node'), 'sigma')
            .groupBy('origin', 'node')
            .agg(F.sum('sigma').alias('sigma'))
        )
        return cand.join(union_layers(layers, 'origin', 'node'),
                         on=['origin', 'node'], how='leftanti')

    layers = Rounds.run(
        'brandes_forward',
        sources.select(F.col(sources.columns[0]).alias('origin'))
        .select('origin', F.col('origin').alias('node'),
                F.lit(1).cast('long').alias('sigma')),
        forward, max_hops, until=is_empty, strict=False, layers=True)
    maxd = len(layers) - 1

    # backward sweep: δ(u) = Σ_{u→v in DAG} σ(u)/σ(v) · (1 + δ(v)), from
    # the deepest layer up; round r handles layer t = maxd - r
    def backward(deltas, r):
        t = maxd - r
        vstate = layers[t + 1]
        if deltas:
            vstate = vstate.join(deltas[-1], on=['origin', 'node'],
                                 how='left')
        else:
            vstate = vstate.withColumn('delta', F.lit(None).cast('double'))
        preds = (
            vstate.join(in_adj, on='node')
            .select('origin',
                    F.col('sigma').alias('sig_v'),
                    F.col('delta').alias('delta_w'),
                    F.explode('srcs').alias('node'))
        )
        return (
            preds
            .join(layers[t].withColumnRenamed('sigma', 'sig_u'),
                  on=['origin', 'node'])
            .groupBy('origin', 'node')
            .agg(F.sum(
                (F.col('sig_u').cast('double')
                 / F.col('sig_v').cast('double'))
                * (F.lit(1.0) + F.coalesce('delta_w', F.lit(0.0))))
                .alias('delta'))
        )

    deltas = Rounds.run('brandes_backward', None, backward, maxd,
                        layers=True)
    if not deltas:
        return None
    return (union_layers([d.where(F.col('origin') != F.col('node'))
                          for d in deltas])
            .groupBy(F.col('node').alias('node_id'))
            .agg(F.sum('delta').alias('partial')))


def k_truss(graph: KG, k: int = 4, max_rounds: int = 50) -> DataFrame:
    """Canonical (a, b) edges of the k-truss: the maximal subgraph where
    every edge participates in ≥ k-2 triangles — the community-core /
    spam-cluster detector one level stronger than k-core.

    Iterative peel: enumerate id-ordered triangles (a<b<c) over the
    surviving canonical edge set, explode each into its three edges, count
    per-edge support, drop light edges, repeat to fixpoint (guarded).
    Each round: one self-join pair + one partial-aggregated count + one
    semi-join; the edge set only shrinks, so round
    cost is monotone non-increasing and AQE re-plans the joins as the
    truss tightens. (Unlike triangles(), the join is id- not
    degree-ordered — per-edge support needs the concrete edge identities,
    and the iterative shrink bounds the wedge blow-up in practice.)
    """
    def peel(pairs, _):
        e1 = pairs.select(F.col('a').alias('a'), F.col('b').alias('x'))
        e2 = pairs.select(F.col('a').alias('x'), F.col('b').alias('c'))
        e3 = pairs.select(F.col('a').alias('a'), F.col('b').alias('c'))
        tri = (
            e1.hint('merge').join(e2, on='x')
            .hint('merge').join(e3, on=['a', 'c'])
            .select('a', F.col('x').alias('b'), 'c')
        )
        sup = (
            tri.select(F.col('a').alias('x'), F.col('b').alias('y'))
            .unionByName(tri.select(F.col('b').alias('x'),
                                    F.col('c').alias('y')))
            .unionByName(tri.select(F.col('a').alias('x'),
                                    F.col('c').alias('y')))
            .groupBy('x', 'y').agg(F.count(F.lit(1)).alias('support'))
        )
        return pairs.hint('merge').join(
            sup.where(F.col('support') >= k - 2)
            .select(F.col('x').alias('a'), F.col('y').alias('b')),
            on=['a', 'b'], how='leftsemi')

    return Rounds.run('k_truss', undirected_pairs(graph.edges), peel,
                      max_rounds, until=count_settled())


def graph_structure_summary(graph: KG) -> DataFrame:
    """1-row structural fingerprint of a directed graph:
    (n_nodes, n_edges, density, reciprocity, transitivity) —
    the macro numbers a crawl report leads with.

    - density      = m / (n·(n−1)) over distinct directed non-loop edges
    - reciprocity  = fraction of directed edges whose reverse also exists
    - transitivity = 3·triangles / wedges over the undirected simple graph
      (global clustering coefficient)

    Scale: distinct edge set + one self-join for reciprocity (equi-join on
    the swapped key), the skew-resistant oriented triangle count, and a
    degree aggregate for the wedge total — all partially aggregated; the
    five scalars meet in 1-row cross joins.
    """
    edges = (
        graph.edges.select('source_id', 'target_id')
        .where(F.col('source_id') != F.col('target_id'))
        .distinct().persist())
    n_nodes = graph.nodes.select('node_id').distinct() \
        .agg(F.count(F.lit(1)).alias('n_nodes'))
    m = edges.agg(F.count(F.lit(1)).alias('n_edges'))
    recip = (
        edges.join(
            edges.select(F.col('target_id').alias('source_id'),
                         F.col('source_id').alias('target_id')),
            on=['source_id', 'target_id'], how='leftsemi')
        .agg(F.count(F.lit(1)).alias('n_recip'))
    )
    pairs = undirected_pairs(graph.edges)
    n_tri = triangles(graph).agg(F.count(F.lit(1)).alias('n_tri'))
    wedges = _pair_degrees(pairs).agg(
        F.sum(F.col('degree') * (F.col('degree') - 1) / 2)
        .alias('n_wedges'))
    out = (
        n_nodes.crossJoin(m).crossJoin(recip)
        .crossJoin(n_tri).crossJoin(wedges)
        .select(
            'n_nodes', 'n_edges',
            F.when(F.col('n_nodes') > 1,
                   F.col('n_edges').cast('double')
                   / (F.col('n_nodes') * (F.col('n_nodes') - 1)))
            .otherwise(F.lit(0.0)).alias('density'),
            F.when(F.col('n_edges') > 0,
                   F.col('n_recip').cast('double') / F.col('n_edges'))
            .otherwise(F.lit(0.0)).alias('reciprocity'),
            F.when(F.col('n_wedges') > 0,
                   F.lit(3.0) * F.col('n_tri') / F.col('n_wedges'))
            .otherwise(F.lit(0.0)).alias('transitivity'))
    )
    edges.unpersist()
    return out


def degree_assortativity(graph: KG) -> DataFrame:
    """1-row (assortativity,) — Pearson correlation of endpoint degrees
    over the undirected distinct-pair graph (nx.degree_assortativity_
    coefficient semantics: every undirected edge contributes both
    orientations). Negative on web/biology graphs (hubs attach to leaves).

    r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))

    Scale: one distinct-pair exchange + one degree aggregate, two
    equi-joins to attach endpoint degrees, then a single global aggregate
    of five sums — no window, no collect. NULL assortativity on a graph
    where every degree is equal (zero variance), matching the undefined
    0/0 case.
    """
    pairs = undirected_pairs(graph.edges)
    deg = _pair_degrees(pairs)
    both = pairs.unionByName(
        pairs.select(F.col('b').alias('a'), F.col('a').alias('b')))
    xy = (
        both
        .join(deg.select(F.col('node_id').alias('a'),
                         F.col('degree').alias('x')), on='a')
        .join(deg.select(F.col('node_id').alias('b'),
                         F.col('degree').alias('y')), on='b')
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast('double').alias('n'),
        F.sum(F.col('x') * F.col('y')).cast('double').alias('sxy'),
        F.sum('x').cast('double').alias('sx'),
        F.sum('y').cast('double').alias('sy'),
        F.sum(F.col('x') * F.col('x')).cast('double').alias('sxx'),
        F.sum(F.col('y') * F.col('y')).cast('double').alias('syy'),
    )
    num = F.col('n') * F.col('sxy') - F.col('sx') * F.col('sy')
    den = F.sqrt((F.col('n') * F.col('sxx') - F.col('sx') * F.col('sx'))
                 * (F.col('n') * F.col('syy') - F.col('sy') * F.col('sy')))
    return sums.select(
        F.when(den != 0, num / den).alias('assortativity'))


def _reachable_fixpoint(op: str, seeds: DataFrame, edges: DataFrame,
                        forward: bool, max_rounds: int) -> DataFrame:
    """All nodes reachable from ``seeds`` (seeds included) following edges
    forward or backward — frontier-free set-growth fixpoint: each round one
    equi-join + union-distinct."""
    src, dst = ('source_id', 'target_id') if forward \
        else ('target_id', 'source_id')

    def grow(reached, _):
        return reached.unionByName(
            edges.join(reached.withColumnRenamed('node_id', src), on=src)
            .select(F.col(dst).alias('node_id'))).distinct()

    return Rounds.run(op, seeds.select('node_id').distinct(), grow,
                      max_rounds, until=count_settled())


def bowtie_decomposition(graph: KG, max_rounds: int = 64) -> DataFrame:
    """(node_id, component) with component ∈ CORE | IN | OUT | OTHER —
    the Broder et al. (2000) bowtie structure of the web graph, the
    canonical Common-Crawl macro-structure report.

    CORE is the largest SCC (ties broken on min scc_id); IN reaches the
    core without belonging to it; OUT is reached from the core; OTHER
    collects tendrils/tubes/disconnected mass. Built from
    :func:`strongly_connected_components` plus two reachability fixpoints
    seeded at the core — each round one equi-join + union-distinct keyed
    by node. The core choice is a 1-row broadcast semi-join, not a driver
    collect."""
    with Rounds() as rounds:
        scc = rounds.cache(strongly_connected_components(graph))
        sizes = scc.groupBy('scc_id').agg(F.count(F.lit(1)).alias('n'))
        core_id = sizes.orderBy(F.col('n').desc(), 'scc_id') \
            .limit(1).select('scc_id')
        core = checkpoint(
            scc.join(F.broadcast(core_id), on='scc_id', how='leftsemi')
            .select('node_id'))
        edges = rounds.cache(
            graph.edges.select('source_id', 'target_id').distinct())
        fwd = _reachable_fixpoint('bowtie_out', core, edges, True,
                                  max_rounds)
        bwd = _reachable_fixpoint('bowtie_in', core, edges, False,
                                  max_rounds)
        return (
            graph.nodes.select('node_id').distinct()
            .join(core.select('node_id', F.lit(True).alias('_core')),
                  on='node_id', how='left')
            .join(fwd.select('node_id', F.lit(True).alias('_fwd')),
                  on='node_id', how='left')
            .join(bwd.select('node_id', F.lit(True).alias('_bwd')),
                  on='node_id', how='left')
            .select(
                'node_id',
                F.when(F.col('_core'), 'CORE')
                .when(F.col('_bwd'), 'IN')
                .when(F.col('_fwd'), 'OUT')
                .otherwise('OTHER').alias('component'))
        )


def label_propagation_communities(graph: KG,
                                  n_iterations: int = 5) -> DataFrame:
    """(node_id, community) via SYNCHRONOUS label propagation, fixed
    iteration count — deterministic and SQL-mirrorable, unlike the
    classic async/random-order LPA.

    Per round every node adopts the most frequent label among its
    (undirected, distinct) neighbors, ties broken by the smallest label;
    isolated nodes keep their own id. The argmax is a two-phase
    aggregation over a min(struct(-count, label)) — partial aggregation
    keeps a 10^6-degree hub's update at one state row per (node, label)
    per map task, no per-node window sort anywhere.
    """
    def step(labels, _):
        counts = (
            adj.hint('merge')
            .join(labels.select(F.col('node_id').alias('nb'),
                                'community'), on='nb')
            .groupBy('node_id', 'community')
            .agg(F.count(F.lit(1)).alias('cnt'))
        )
        best = (
            counts.groupBy('node_id')
            .agg(F.min(F.struct((-F.col('cnt')).alias('neg'),
                                F.col('community').alias('community')))
                 .alias('s'))
            .select('node_id', F.col('s.community').alias('new_community'))
        )
        return (
            labels.hint('merge').join(best, on='node_id', how='left')
            .select('node_id',
                    F.coalesce('new_community', 'community')
                    .alias('community'))
        )

    pairs = undirected_pairs(graph.edges)
    with Rounds() as rounds:
        adj = rounds.cache(
            pairs.select(F.col('a').alias('node_id'), F.col('b').alias('nb'))
            .unionByName(
                pairs.select(F.col('b').alias('node_id'),
                             F.col('a').alias('nb'))))
        nodes = rounds.cache(graph.nodes.select('node_id'))
        return rounds.run(
            'label_propagation',
            nodes.select('node_id', F.col('node_id').alias('community')),
            step, n_iterations)


def community_sizes(graph: KG, n_iterations: int = 5) -> DataFrame:
    """(community, n_nodes) rollup of :func:`label_propagation_communities`
    — the scale-friendly summary (the per-node table is the detail
    view)."""
    return (
        label_propagation_communities(graph, n_iterations)
        .groupBy('community').agg(F.count(F.lit(1)).alias('n_nodes'))
    )


def harmonic_centrality(graph: KG, max_hops: int = 20) -> DataFrame:
    """(node_id, harmonic) — EXACT harmonic centrality
    H(v) = sum over u != v reaching v of 1 / d(u, v), the metric Common
    Crawl ranks hosts by.

    Brute-force all-sources BFS (quadratic (origin, node) state) — the
    documented small-graph baseline, same role exact cosine top-k plays
    for ANN. Use :func:`hyperball_harmonic` at web scale.
    """
    from .paths import bfs_distances

    d = bfs_distances(graph, graph.nodes.select('node_id'),
                      max_hops=max_hops)
    got = (d.where(F.col('distance') > 0)
           .groupBy('node_id')
           .agg(F.sum(1.0 / F.col('distance')).alias('harmonic')))
    return (graph.nodes.select('node_id')
            .join(got, on='node_id', how='left')
            .select('node_id',
                    F.coalesce('harmonic', F.lit(0.0)).alias('harmonic')))


def closeness_centrality(graph: KG, max_hops: int = 20) -> DataFrame:
    """(node_id, closeness) — EXACT Wasserman-Faust closeness
    C(v) = (r/(n-1)) * (r/S) where r nodes reach v with total incoming
    distance S (nx.closeness_centrality(wf_improved=True) semantics,
    incoming distances on directed graphs). Nodes nothing reaches get 0.

    Same brute-force all-sources BFS baseline as
    :func:`harmonic_centrality` — quadratic (origin, node) state, the
    documented small-graph exact path (HyperBall is the web-scale one).
    """
    from .paths import bfs_distances

    nodes = graph.nodes.select('node_id')
    n = nodes.count()
    if n <= 1:
        return nodes.select('node_id', F.lit(0.0).alias('closeness'))
    d = bfs_distances(graph, nodes, max_hops=max_hops)
    got = (
        d.where(F.col('distance') > 0)
        .groupBy('node_id')
        .agg(F.count(F.lit(1)).cast('double').alias('r'),
             F.sum('distance').cast('double').alias('s'))
        .select('node_id',
                ((F.col('r') / F.lit(float(n - 1)))
                 * (F.col('r') / F.col('s'))).alias('closeness'))
    )
    return (nodes.join(got, on='node_id', how='left')
            .select('node_id',
                    F.coalesce('closeness', F.lit(0.0)).alias('closeness')))


def _msb_pos(col):
    """floor(log2(col)) for col > 0 via an unrolled binary search —
    integer-exact (no float log on 58-bit values)."""
    pos = F.lit(0)
    cur = col
    for s in (32, 16, 8, 4, 2, 1):
        gt = F.shiftrightunsigned(cur, s) > 0
        pos = F.when(gt, pos + s).otherwise(pos)
        cur = F.when(gt, F.shiftrightunsigned(cur, s)).otherwise(cur)
    return pos


def _hll_estimate(regs, p: int):
    """HyperLogLog cardinality estimate from a register array, with the
    standard small-range linear-counting correction."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        p, 0.7213 / (1 + 1.079 / p))
    s = F.aggregate(
        regs, F.lit(0.0),
        lambda acc, x: acc + F.pow(F.lit(2.0), -x.cast('double')))
    raw = F.lit(alpha * p * p) / s
    v = F.size(F.filter(regs, lambda x: x == 0))
    return F.when((raw <= 2.5 * p) & (v > 0),
                  p * F.log(F.lit(float(p)) / v.cast('double'))) \
        .otherwise(raw)


def hyperball_harmonic(graph: KG, p: int = 64,
                       t_max: int = 10) -> DataFrame:
    """(node_id, harmonic_est) — HyperBall (Boldi & Vigna 2013):
    harmonic centrality approximated with one HyperLogLog counter per
    node, B_in(v, t+1) = {v} ∪ ⋃_{w→v} B_in(w, t), and
    H(v) ≈ Σ_t (|B(v,t)| − |B(v,t−1)|) / t.

    This is THE web-scale path: exact harmonic centrality is all-pairs
    BFS (infeasible at 10^9 hosts), while HyperBall keeps ``p`` small
    registers per node (p=64 → ~13% per-counter standard error) and
    each round is ONE equi-join + ONE register-wise max aggregation —
    the same shuffle shape as a PageRank round. Registers ride the
    shuffle as ``p`` int columns (map-side partial max), so hub nodes
    with huge in-degree arrive at the reducer pre-combined.

    Deterministic: xxhash64 node hashing, fixed iteration count, and
    per-row arithmetic only — two runs return identical estimates.
    """
    assert p & (p - 1) == 0, 'p must be a power of two'
    b = p.bit_length() - 1
    width = 64 - b

    h = F.xxhash64(F.col('node_id').cast('string'))
    j = h.bitwiseAND(F.lit(p - 1))
    w = F.shiftrightunsigned(h, b)
    rho = F.when(w == 0, F.lit(width + 1)) \
        .otherwise(F.lit(width) - _msb_pos(w))
    # materialize j/rho as plain columns FIRST: inlining rho (a 6-level
    # shift cascade) into all p array slots blows the expression tree up
    # p-fold and with it the serialized task binary
    seeded = graph.nodes.select('node_id', j.alias('_j'),
                                rho.cast('int').alias('_rho'))
    init_regs = F.array(*[
        F.when(F.col('_j') == i, F.col('_rho'))
        .otherwise(F.lit(0)).cast('int')
        for i in range(p)])
    state = (seeded
             .select('node_id', init_regs.alias('regs'))
             .select('node_id', 'regs',
                     _hll_estimate(F.col('regs'), p).alias('est'),
                     F.lit(0.0).alias('harmonic')))

    reg_cols = ['_r{}'.format(i) for i in range(p)]

    def step(state, t):
        # merge-pinned: the register table is O(n·p) and fresh each
        # round — re-broadcasting it under a size-threshold decision
        # pays per-round driver fan-out (same rationale as PageRank)
        nbr_regs = (push_adj.hint('merge')
                    .join(state.select(F.col('node_id').alias('nbr'),
                                       'regs'), on='nbr')
                    .select(F.explode('targets').alias('node_id'), 'regs',
                            F.lit(None).cast('double').alias('prev_est'),
                            F.lit(None).cast('double').alias('harmonic')))
        # prev_est/harmonic RIDE the register-max aggregate: exactly one
        # state row exists per node (the union's other rows carry NULLs,
        # which max() ignores), so max(prev_est)/max(harmonic) ARE the
        # node's scalars — this folds the whole round into the ONE
        # register exchange and removes the previous per-round
        # state ⋈ merged equi-join (and its two O(n) exchanges)
        both = state.select('node_id', 'regs',
                            F.col('est').alias('prev_est'), 'harmonic') \
            .unionByName(nbr_regs)
        merged = (both
                  .select('node_id', 'prev_est', 'harmonic',
                          *[F.col('regs')[i].alias(c)
                            for i, c in enumerate(reg_cols)])
                  .groupBy('node_id')
                  .agg(*([F.max(c).alias(c) for c in reg_cols]
                         + [F.max('prev_est').alias('prev_est'),
                            F.max('harmonic').alias('harmonic')]))
                  .select('node_id', F.array(*reg_cols).alias('regs'),
                          'prev_est', 'harmonic'))
        return (merged
                .select('node_id', 'regs', 'prev_est', 'harmonic',
                        _hll_estimate(F.col('regs'), p).alias('est'))
                .select('node_id', 'regs', 'est',
                        (F.col('harmonic')
                         + F.greatest(F.lit(0.0),
                                      F.col('est') - F.col('prev_est'))
                         / t).alias('harmonic')))

    with Rounds() as rounds:
        # ball of v absorbs the balls of its IN-neighbors: edge w→v flows w's
        # counter to v. The push side is materialized ONCE as a per-source
        # out-adjacency array (same rewrite as _power_iteration/hits): each
        # round then sort-merge-joins O(sources) adjacency rows against the
        # O(n) register table instead of O(edges) pair rows, and the explode
        # feeds the register-wise partial max directly — identical merged
        # registers, 4× fewer sorted rows per round on the 4M-edge graph.
        push_adj = rounds.cache(adjacency_table(graph.edges, key_col='nbr',
                                                out_col='targets'))
        state = rounds.run('hyperball', state, step, t_max)
    return state.select('node_id', F.col('harmonic').alias('harmonic_est'))

"""Weakly connected components and component-aware graph joins.

Reference: ``struct/operations.py:74-96`` (left_outer_join: keep only the
components of ``h`` that touch ``g``) and ``struct/graph.py:770-796``
(``Number of Components`` in the graph summary). The reference delegates to
``networkx.weakly_connected_components``; here it is the distributed
hash-min label propagation: every node starts labeled with its own id and
repeatedly takes the minimum label over itself, its (undirected) neighbors,
AND its current label's label (pointer doubling / path shortcutting, as in
Pegasus-style HCC): labels chase min-pointers two hops per round, so
convergence is O(log diameter) rounds rather than O(diameter) — a
10^6-hop chain (pathological web-graph shape) converges in ~20 rounds.
Each round is an equi-join + min-aggregate plus one self-join, all on
uniformly-distributed md5 node ids (skew-free by construction). If the
iteration budget is ever exhausted before the fixed point, the function
RAISES instead of returning silently wrong labels (downstream
count_components / left_outer_join / component-size rollups would all be
corrupted).
"""
from pyspark.sql import DataFrame, functions as F

from .graph import KG, Rounds, induce_by_nodes, left_full_join, none_changed


def connected_components(graph: KG, max_iterations: int = 50) -> DataFrame:
    """(node_id, component) labeling of weakly connected components.

    The component label is the lexicographic minimum node_id in the
    component — deterministic and engine-independent (no hashing of ids,
    so no collision risk at any scale).
    """
    edges = (
        graph.edges
        .select('source_id', 'target_id')
        .where(F.col('source_id') != F.col('target_id'))
        .distinct()
    )
    return min_label_propagation(graph.nodes.select('node_id'), edges,
                                 max_iterations)


def min_label_propagation(nodes: DataFrame, edges: DataFrame,
                          max_iterations: int = 50) -> DataFrame:
    """Generic distributed min-label propagation: (node_id) nodes +
    (source_id, target_id) edges of ANY orderable id type →
    (node_id, component) where component = min id in the weakly connected
    component. The engine behind :func:`connected_components` and the
    near-duplicate clustering in textops.dedup."""
    if max_iterations < 1:
        raise ValueError('max_iterations must be >= 1 (got {}) — zero '
                         'rounds would return unconverged singleton labels'
                         .format(max_iterations))
    # join strategies are left to AQE (runtime sizes pick broadcast for
    # small label tables, sort-merge at scale — the _brandes_partial A/B);
    # convergence rides a change flag computed INSIDE the update join
    # (:func:`none_changed`), not a per-round full-table equi-join + count
    def step(labels, r):
        labels = labels.select('node_id', 'component')
        neighbor_min = (
            sym
            .join(labels.withColumnRenamed('node_id', 'source_id'),
                  on='source_id')
            .groupBy(F.col('target_id').alias('node_id'))
            .agg(F.min('component').alias('neighbor_component'))
        )
        new_labels = labels.join(neighbor_min, on='node_id', how='left')
        if r == 1:
            # round 1: every label is its own id, so label(label(u)) == u
            # — the pointer-doubling self-join is a provable no-op
            new_labels = new_labels.withColumn(
                'grand_component', F.lit(None).cast(
                    labels.schema['component'].dataType))
        else:
            # pointer doubling: label(label(u)) — labels are themselves
            # node ids, so one self-join compresses min-pointer paths by
            # half per round (O(log diameter) total rounds)
            shortcut = (
                labels.alias('a')
                .join(labels.alias('b'),
                      F.col('a.component') == F.col('b.node_id'))
                .select(F.col('a.node_id').alias('node_id'),
                        F.col('b.component').alias('grand_component'))
            )
            new_labels = new_labels.join(shortcut, on='node_id',
                                         how='left')
        best = F.least(
            F.col('component'),
            F.coalesce('neighbor_component', F.col('component')),
            F.coalesce('grand_component', F.col('component')),
        )
        return new_labels.select(
            'node_id', best.alias('component'),
            F.when(best < F.col('component'), F.lit(1)).otherwise(F.lit(0))
            .alias('_chg'))

    with Rounds() as rounds:
        # symmetrize: weakly connected ignores direction
        sym = rounds.cache(edges.unionByName(
            edges.select(F.col('target_id').alias('source_id'),
                         F.col('source_id').alias('target_id'))
        ).distinct())
        labels = rounds.run(
            'min_label_propagation',
            nodes.select('node_id', F.col('node_id').alias('component')),
            step, max_iterations, until=none_changed)
    return labels.select('node_id', 'component')


def count_components(graph: KG) -> int:
    """Number of weakly connected components (graph.py:780 summary row).
    Isolated nodes each count as their own component."""
    return connected_components(graph).select('component').distinct().count()


def get_largest_component(graph: KG) -> KG:
    """Induced subgraph over the biggest weakly connected component."""
    labels = connected_components(graph).persist()
    top = (
        labels.groupBy('component').agg(F.count(F.lit(1)).alias('n'))
        .orderBy(F.desc('n'), 'component').limit(1)
        .select('component')
    )
    ids = labels.join(F.broadcast(top), on='component', how='leftsemi') \
        .select('node_id')
    out = induce_by_nodes(graph, ids)
    labels.unpersist()
    return out


def left_outer_join(g: KG, h: KG) -> KG:
    """g ∪ (components of h that touch g) — reference operations.py:74-96.

    1. Label h's weakly connected components.
    2. Keep the components whose node set intersects g (semi-join).
    3. left_full_join g with the induced h-subgraph (edges never cross
       components, so induction over the kept nodes keeps exactly the
       kept components' edges).
    """
    comp = connected_components(h).persist()
    touching = (
        comp.join(g.nodes.select('node_id'), on='node_id', how='leftsemi')
        .select('component').distinct()
    )
    keep_ids = comp.join(touching, on='component', how='leftsemi') \
        .select('node_id')
    h_sub = induce_by_nodes(h, keep_ids)
    out = left_full_join(g, h_sub)
    comp.unpersist()
    return out


def expand_by_touching_components(universe: KG, graph: KG) -> KG:
    """Universe-transform shape of left_outer_join for the Pipeline
    registry: pull in the universe components that touch the subgraph."""
    return left_outer_join(graph, universe)

"""The KG container and set-operations over graphs.

Reference: struct/operations.py:23-216 (left_full_join/union/subgraph/
node_intersection). A graph is two DataFrames; union is unionByName +
content-hash dedup (the reference's insert-if-absent over a dict becomes a
hash-aggregate that Catalyst plans for free).
"""
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, functions as F


def dump_plan(df: DataFrame, tag: str) -> None:
    """Debug-only: write ``df.explain('formatted')`` to
    ``$PYBEL_EXPLAIN_DIR/<tag>_$PYBEL_EXPLAIN_SUFFIX.txt`` (first call per
    tag wins). The iterative operators checkpoint each round, so their
    RETURNED DataFrame's plan is a bare ``Scan ExistingRDD``;
    :meth:`Rounds.run` calls this hook on a live round plan instead. No-op
    unless the env var is set — zero cost on normal runs."""
    out_dir = os.environ.get('PYBEL_EXPLAIN_DIR')
    if not out_dir:
        return
    suffix = os.environ.get('PYBEL_EXPLAIN_SUFFIX', 'now')
    path = os.path.join(out_dir, '{}_{}.txt'.format(tag, suffix))
    if os.path.exists(path):
        return
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), 'formatted')
    with open(path, 'w') as f:
        f.write(plan)


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage (eager local checkpoint)
    — how the iterative operators materialize a table."""
    return df.localCheckpoint(eager=True)


def union_layers(layers, *cols) -> DataFrame:
    """Lazy union of a layer-growing loop's checkpointed layers, each
    projected onto ``cols`` when given. Every layer is a plain scan, so the
    union plan stays flat however many layers there are."""
    if cols:
        layers = [lyr.select(*cols) for lyr in layers]
    return reduce(lambda a, b: a.unionByName(b), layers)


def is_empty(prev: DataFrame, new: DataFrame) -> bool:
    """``until`` predicate: the round added no row."""
    return new.isEmpty()


def none_changed(prev: DataFrame, new: DataFrame) -> bool:
    """``until`` predicate for steps that flag each row whose value dropped
    in an int ``_chg`` column: no row is flagged. The flag comes out of the
    update join, so convergence costs one scan of the fresh checkpoint,
    not a join against the previous round's table."""
    # coalesce: sum() over an empty table is NULL, which reads as converged
    return new.agg(F.coalesce(F.sum('_chg'), F.lit(0)).alias('n')) \
        .collect()[0]['n'] == 0


def count_settled():
    """A fresh ``until`` predicate for peel and reach fixpoints: the
    state's row count stopped changing or reached 0. It keeps the last
    count, so each state is counted once."""
    counts = []

    def settled(prev, new):
        if not counts:
            counts.append(prev.count())
        counts.append(new.count())
        return counts[-1] in (counts[-2], 0)
    return settled


class Rounds:
    """The round driver of every iterative graph operator (PageRank, HITS,
    HyperBall, BFS, Bellman-Ford, SCC, Brandes, walks, label propagation,
    the k-core / k-truss peels and the reach fixpoints).

    Used as a context manager, it releases every table registered with
    :meth:`cache` when the block exits, on return and on raise. :meth:`run`
    owns the round policy:

    - the initial state and each round's new state are eagerly local-
      checkpointed (:func:`checkpoint`), which truncates the lineage so
      round N's plan equals round 1's however many rounds run;
    - round 2's live plan, the steady state, goes to :func:`dump_plan` as
      ``round_<op>`` (round 1 is planned before the cached side tables
      exist, so its plan re-exchanges them);
    - a loop with an ``until`` predicate that reaches ``max_rounds``
      before it holds raises a ``RuntimeError`` naming ``op`` instead of
      returning unconverged, silently wrong state.

    A step that must materialize a second table mid-round (the last HITS
    authority vector, the SCC peel's surviving edges) calls
    :func:`checkpoint` itself."""

    def __init__(self):
        self._cached = []

    def __enter__(self):
        return self

    def __exit__(self, *exc_info):
        for df in self._cached:
            df.unpersist()

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist a side table the rounds read, until the block exits."""
        df = df.persist()
        self._cached.append(df)
        return df

    @staticmethod
    def run(op: str, state, step, max_rounds: int, until=None,
            strict: bool = True, layers: bool = False):
        """Run ``new = step(state, r)`` for r = 1 .. ``max_rounds`` and
        return the last state.

        ``until(prev, new)`` is asked after each round, on checkpointed
        states, and the loop stops at the first round where it holds.
        Without it exactly ``max_rounds`` rounds run. ``strict=False``
        makes the cap a bound (hop-bounded BFS) rather than a failure.

        ``layers=True`` is for layer-growing loops: ``step`` gets the list
        of every checkpointed layer so far and returns the next one, a
        layer for which ``until`` holds is dropped, and the list is
        returned. ``state=None`` starts with no table."""
        if state is not None:
            state = checkpoint(state)
        trail = [state] if layers and state is not None else []
        for r in range(1, max_rounds + 1):
            new = step(trail if layers else state, r)
            if r == 2:
                dump_plan(new, 'round_' + op)
            new = checkpoint(new)
            done = until is not None and until(state, new)
            if layers and not done:
                trail.append(new)
            state = new
            if done:
                break
        else:
            if until is not None and strict:
                raise RuntimeError('{} did not converge within {} rounds'
                                   .format(op, max_rounds))
        return trail if layers else state


@dataclass
class KG:
    """A BEL knowledge graph: nodes + edges DataFrames."""

    nodes: DataFrame
    edges: DataFrame

    def count(self):
        return {'nodes': self.nodes.count(), 'edges': self.edges.count()}

    def persist(self):
        return KG(self.nodes.persist(), self.edges.persist())

    def node_ids(self) -> DataFrame:
        return self.nodes.select('node_id')


def induce_by_nodes(graph: KG, node_ids: DataFrame) -> KG:
    """Induced subgraph over a node-id set: edges with BOTH endpoints in the
    set (double semi-join), nodes restricted to the set
    (reference struct/mutation/induction/utils.py:34-46)."""
    ids = node_ids.select(F.col(node_ids.columns[0]).alias('node_id')).distinct()
    # no forced broadcast: the id set can be ~the whole graph (e.g.
    # get_largest_component feeds the giant component here) — a forced
    # hint ignores autoBroadcastJoinThreshold and OOMs the driver; Spark
    # still auto-broadcasts small sets under the threshold / via AQE
    edges = (
        graph.edges
        .join(ids.withColumnRenamed('node_id', 'source_id'),
              on='source_id', how='leftsemi')
        .join(ids.withColumnRenamed('node_id', 'target_id'),
              on='target_id', how='leftsemi')
    )
    nodes = graph.nodes.join(ids, on='node_id', how='leftsemi')
    return KG(nodes, edges)


def induce_by_edges(graph: KG, edges: DataFrame) -> KG:
    """Subgraph from an edge subset: nodes = all endpoints (plus nothing else)."""
    endpoint_ids = (
        edges.select(F.col('source_id').alias('node_id'))
        .unionByName(edges.select(F.col('target_id').alias('node_id')))
        .distinct()
    )
    nodes = graph.nodes.join(endpoint_ids, on='node_id', how='leftsemi')
    return KG(nodes, edges)


def left_full_join(g: KG, h: KG) -> KG:
    """g ∪ h by content hash (reference operations.py:45-71)."""
    return KG(
        g.nodes.unionByName(h.nodes).dropDuplicates(['node_id']),
        g.edges.unionByName(h.edges, allowMissingColumns=True)
        .dropDuplicates(['edge_id']),
    )


def union(graphs) -> KG:
    """n-ary union (reference operations.py:113-152)."""
    graphs = list(graphs)
    if not graphs:
        raise ValueError('no graphs to union')
    nodes = reduce(lambda a, b: a.unionByName(b), (g.nodes for g in graphs))
    edges = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        (g.edges for g in graphs))
    return KG(nodes.dropDuplicates(['node_id']), edges.dropDuplicates(['edge_id']))


def node_intersection(g: KG, h: KG) -> KG:
    """Union of the subgraphs induced over the shared node set
    (reference operations.py:155-216)."""
    shared = g.node_ids().intersect(h.node_ids())
    return left_full_join(induce_by_nodes(g, shared), induce_by_nodes(h, shared))


def adjacency_table(edges: DataFrame, src: str = 'source_id',
                    dst: str = 'target_id', key_col: str = 'node_id',
                    out_col: str = 'nbrs', sort: bool = False,
                    dedup: bool = True,
                    partitioned: bool = True) -> DataFrame:
    """Per-node adjacency-ARRAY table — the ONE definition of the
    PLANS.md §31 iteration contract: ``(key_col, out_col array<dst>)``
    with one row per distinct ``src``. Every fixpoint/frontier operator
    (PageRank, HITS, HyperBall, SCC, BFS, Brandes, walks) joins its
    O(state) table against this instead of the O(edges) pair table and
    explodes into the partial aggregate. ``sort=True`` orders neighbors
    by ascending value — the rank order the walk oracles mirror.
    Callers cache the result around their rounds (:meth:`Rounds.cache`).

    ``partitioned=True`` (default) hash-repartitions the table on
    ``key_col`` to the session's ``spark.sql.shuffle.partitions`` and
    sorts rows within partitions by the key BEFORE the caller caches it:
    the cached InMemoryRelation then reports that partitioning AND
    ordering, so every per-round sort-merge join against the state table
    plans as InMemoryTableScan with NO Exchange and NO Sort on the
    adjacency side — the per-round re-sort of the (wide, array-carrying)
    adjacency rows was about half the round wall at 4M edges (measured
    guide-§2.4 A/B). The explicit partition count pins the join layout
    across rounds (AQE cannot coalesce one side of a co-partitioned
    join), and it is the same scale knob a cluster deployment tunes.
    Array CONTENTS are unchanged, so walk/oracle values are identical."""
    pairs = edges.select(F.col(src).alias('_s'), F.col(dst).alias('_d'))
    if dedup:
        pairs = pairs.distinct()
    collected = F.collect_list('_d')
    if sort:
        collected = F.array_sort(collected)
    out = (pairs.groupBy(F.col('_s').alias(key_col))
           .agg(collected.alias(out_col)))
    if partitioned:
        n = int(edges.sparkSession.conf.get('spark.sql.shuffle.partitions'))
        out = out.repartition(n, key_col).sortWithinPartitions(key_col)
    return out

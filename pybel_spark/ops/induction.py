"""Subgraph induction and expansion.

Reference: struct/mutation/induction/* (annotations.py:20-52,
citation.py:20-40, neighborhood.py:18-47, upstream.py:22-40, utils.py:34-46)
and struct/mutation/expansion/*. Seed sets are broadcast; everything else is
semi-joins and filters that Catalyst pushes down.
"""
from pyspark.sql import DataFrame, functions as F

from ..bel.constants import CAUSAL_RELATIONS
from . import filters
from .graph import KG, induce_by_edges, induce_by_nodes, left_full_join


def get_subgraph_by_induction(graph: KG, node_ids) -> KG:
    """Edges with both endpoints in the node set (induction/utils.py:34-46)."""
    return induce_by_nodes(graph, _as_id_df(graph, node_ids))


def get_subgraph_by_annotation_value(graph: KG, key, *values) -> KG:
    """Edges whose annotation map matches (induction/annotations.py:20-52)."""
    edges = graph.edges.where(filters.annotation_value_match(key, *values))
    return induce_by_edges(graph, edges)


def get_subgraph_by_annotations(graph: KG, key) -> KG:
    edges = graph.edges.where(filters.edge_has_annotation(key))
    return induce_by_edges(graph, edges)


def get_subgraph_by_pubmed(graph: KG, *pmids) -> KG:
    """Provenance-filtered subgraph (induction/citation.py:20-40)."""
    edges = graph.edges.where(filters.pmid_inclusion(*pmids))
    return induce_by_edges(graph, edges)


def get_subgraph_by_neighborhood(graph: KG, node_ids) -> KG:
    """Edges incident to the seed set (induction/neighborhood.py:18-47)."""
    ids = _as_id_df(graph, node_ids)
    edges = (
        graph.edges.alias('e')
        .join(F.broadcast(ids.withColumnRenamed('node_id', 'seed_id')),
              on=(F.col('e.source_id') == F.col('seed_id'))
              | (F.col('e.target_id') == F.col('seed_id')),
              how='leftsemi')
    )
    return induce_by_edges(graph, edges)


def get_upstream_causal_subgraph(graph: KG, node_ids) -> KG:
    """Causal edges INTO the node set (induction/upstream.py:22-40)."""
    ids = _as_id_df(graph, node_ids).withColumnRenamed('node_id', 'target_id')
    edges = (
        graph.edges
        .where(filters.relation_inclusion(*sorted(CAUSAL_RELATIONS)))
        .join(F.broadcast(ids), on='target_id', how='leftsemi')
    )
    return induce_by_edges(graph, edges)


def get_downstream_causal_subgraph(graph: KG, node_ids) -> KG:
    ids = _as_id_df(graph, node_ids).withColumnRenamed('node_id', 'source_id')
    edges = (
        graph.edges
        .where(filters.relation_inclusion(*sorted(CAUSAL_RELATIONS)))
        .join(F.broadcast(ids), on='source_id', how='leftsemi')
    )
    return induce_by_edges(graph, edges)


def expand_node_neighborhood(universe: KG, graph: KG, node_ids) -> KG:
    """Add all universe edges incident to the given nodes
    (expansion/neighborhood.py:22-121)."""
    return left_full_join(graph, get_subgraph_by_neighborhood(universe, node_ids))


def expand_all_node_neighborhoods(universe: KG, graph: KG) -> KG:
    return expand_node_neighborhood(universe, graph, graph.node_ids())


def expand_upstream_causal(universe: KG, graph: KG) -> KG:
    """expansion/upstream.py:16-35."""
    return left_full_join(
        graph, get_upstream_causal_subgraph(universe, graph.node_ids()))


def expand_downstream_causal(universe: KG, graph: KG) -> KG:
    return left_full_join(
        graph, get_downstream_causal_subgraph(universe, graph.node_ids()))


def _as_id_df(graph: KG, node_ids) -> DataFrame:
    if isinstance(node_ids, DataFrame):
        return node_ids.select(F.col(node_ids.columns[0]).alias('node_id'))
    spark = graph.nodes.sparkSession
    return spark.createDataFrame([(i,) for i in node_ids], ['node_id'])

"""Skew-handling utilities: salted two-phase aggregation.

The north rule calls for explicit hot-key handling: a handful of namespaces
(HGNC, GO, CHEBI) dominate mentions, and popular nodes dominate degree
counts. AQE's skew-join splitting covers joins; for aggregations over hot
keys these helpers implement the classic salt → partial-agg → unsalt →
final-agg pattern so no single reducer owns a hot key.
"""
from pyspark.sql import DataFrame, functions as F


def salted_count(df: DataFrame, key_col: str, salt_buckets: int = 32,
                 count_alias: str = 'n') -> DataFrame:
    """Two-phase count-by-key that survives arbitrarily hot keys:

    phase 1 groups by (key, salt) — the hot key's rows split across
    salt_buckets reducers; phase 2 sums the (small) partials by key.

    The salt is derived from the physical row position, so the phase-1
    partial counts depend on partition layout; the FINAL counts are exact
    regardless (partials sum commutatively). A content-derived salt would
    NOT work here: duplicate rows of a hot key would hash to one salt
    bucket and re-create the skew this exists to remove.
    """
    salted = df.withColumn(
        '_salt', F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                        F.lit(salt_buckets)))
    partial = salted.groupBy(key_col, '_salt') \
        .agg(F.count(F.lit(1)).alias('_partial'))
    return partial.groupBy(key_col) \
        .agg(F.sum('_partial').cast('long').alias(count_alias))


def salted_degree(edges: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Node degree over the edge multiset with salting — hub nodes (the
    archetypal skewed key in a knowledge graph) can't bottleneck a reducer."""
    endpoints = (
        edges.select(F.col('source_id').alias('node_id'))
        .unionByName(edges.select(F.col('target_id').alias('node_id')))
    )
    return salted_count(endpoints, 'node_id', salt_buckets, count_alias='degree')

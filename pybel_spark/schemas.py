"""Explicit Spark schemas for every table the engine reads or writes.

Nothing is schema-inferred; recursive node structure is carried as canonical
JSON alongside flat identity/metadata columns (Spark structs cannot recurse).
"""
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, IntegerType, LongType, MapType,
    StringType, StructField, StructType, TimestampType,
)

#: pipeline input (BASELINE.json input_hint shape)
DOCUMENTS_SCHEMA = StructType([
    StructField('url', StringType(), False),
    StructField('warc_ts', TimestampType(), True),
    StructField('html', BinaryType(), True),
    StructField('text', StringType(), True),
    StructField('lang', StringType(), True),
])

NODE_STRUCT = StructType([
    StructField('node_id', StringType(), False),
    StructField('node_bel', StringType(), False),
    StructField('function', StringType(), False),
    StructField('namespace', StringType(), True),
    StructField('name', StringType(), True),
    StructField('identifier', StringType(), True),
    StructField('variant_kinds', ArrayType(StringType()), True),
    StructField('n_members', IntegerType(), True),
    StructField('n_reactants', IntegerType(), True),
    StructField('n_products', IntegerType(), True),
    StructField('has_fusion', BooleanType(), True),
    StructField('node_json', StringType(), False),
])

EDGE_STRUCT = StructType([
    StructField('edge_id', StringType(), False),
    StructField('source_id', StringType(), False),
    StructField('source_bel', StringType(), False),
    StructField('target_id', StringType(), False),
    StructField('target_bel', StringType(), False),
    StructField('relation', StringType(), False),
    StructField('citation_db', StringType(), True),
    StructField('citation_id', StringType(), True),
    StructField('evidence', StringType(), True),
    StructField('annotations', MapType(StringType(), ArrayType(StringType())), True),
    StructField('subject_modifier', StringType(), True),
    StructField('object_modifier', StringType(), True),
    StructField('subject_modifier_kind', StringType(), True),
    StructField('object_modifier_kind', StringType(), True),
    StructField('line', IntegerType(), True),
    StructField('triple_subject', StringType(), True),
    StructField('triple_predicate', StringType(), True),
    StructField('triple_object', StringType(), True),
    StructField('citation_authors', ArrayType(StringType()), True),
])

WARNING_STRUCT = StructType([
    StructField('line_number', IntegerType(), True),
    StructField('line', StringType(), True),
    StructField('position', IntegerType(), True),
    StructField('error_class', StringType(), False),
    StructField('detail', StringType(), True),
    StructField('context', StringType(), True),
])

#: one row per parsed document (pre-explode)
PARSED_SCHEMA = StructType([
    StructField('url', StringType(), False),
    StructField('lang', StringType(), True),
    StructField('text_sha256', StringType(), True),
    StructField('n_lines', IntegerType(), False),
    StructField('n_statements', IntegerType(), False),
    StructField('nodes', ArrayType(NODE_STRUCT), False),
    StructField('edges', ArrayType(EDGE_STRUCT), False),
    StructField('warnings', ArrayType(WARNING_STRUCT), False),
])

#: one row per document of the graph commit (``run_checkpointed``): the
#: nodes and edges its Python task had not emitted yet, and the document's
#: edge count, repeated edges included
COMMIT_PARSED_SCHEMA = StructType([
    PARSED_SCHEMA['url'],
    PARSED_SCHEMA['n_statements'],
    StructField('n_edges', IntegerType(), False),
    PARSED_SCHEMA['nodes'],
    PARSED_SCHEMA['edges'],
    PARSED_SCHEMA['warnings'],
])


def _committed_table(name):
    fields = [StructField('bucket', IntegerType(), True)]
    if name != 'nodes':
        fields.append(StructField('url', StringType(), True))
    return StructType(fields + PARSED_SCHEMA[name].dataType.elementType.fields)


#: the committed tables of ``run_checkpointed`` (``<table>/<commit_id>/``
#: parquet): ``bucket``, then ``url`` except for nodes, then the element
#: fields; given to every read so no read infers the schema from a footer
COMMITTED_TABLE_SCHEMAS = {name: _committed_table(name)
                           for name in ('nodes', 'edges', 'warnings')}

TRIPLES_SCHEMA = StructType([
    StructField('subject', StringType(), False),
    StructField('predicate', StringType(), False),
    StructField('object', StringType(), False),
])

#: per-partition lineage/metrics row for checkpoint-resume
LINEAGE_SCHEMA = StructType([
    StructField('bucket', IntegerType(), False),
    StructField('n_docs', LongType(), False),
    StructField('n_statements', LongType(), False),
    StructField('n_edges', LongType(), False),
    StructField('n_warnings', LongType(), False),
    StructField('status', StringType(), False),
])

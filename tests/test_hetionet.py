"""Hetionet importer: differential parity against the REFERENCE
from_hetionet_json on a synthetic hetionet dict covering every mapping row."""
import os
import sys

import pytest
from pyspark.sql import functions as F

from .conftest import requires_reference

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_reference_importer():
    sys.path.insert(0, os.path.join(REPO, 'fixtures', 'shims'))
    sys.path.insert(0, '/root/reference/src')
    from pybel.io.hetionet.hetionet import from_hetionet_json
    return from_hetionet_json


def _synthetic_hetionet():
    nodes = [
        {'kind': 'Anatomy', 'identifier': 'UBERON:0001', 'name': 'lung'},
        {'kind': 'Gene', 'identifier': 101, 'name': 'GENE1'},
        {'kind': 'Gene', 'identifier': 102, 'name': 'GENE2'},
        {'kind': 'Compound', 'identifier': 'DB01', 'name': 'drugone'},
        {'kind': 'Compound', 'identifier': 'DB02', 'name': 'drugtwo'},
        {'kind': 'Disease', 'identifier': 'DOID:1', 'name': 'illness'},
        {'kind': 'Side Effect', 'identifier': 'C001', 'name': 'headache'},
        {'kind': 'Symptom', 'identifier': 'D001', 'name': 'cough'},
        {'kind': 'Pathway', 'identifier': 'PW1', 'name': 'a pathway'},
        {'kind': 'Biological Process', 'identifier': 'GO:1', 'name': 'growth'},
        {'kind': 'Pharmacologic Class', 'identifier': 'N0000', 'name': 'beta blocker'},
        {'kind': 'Molecular Function', 'identifier': 'GO:9', 'name': 'blacklisted'},
    ]

    def e(skind, sid, kind, tkind, tid, data=None):
        return {'source_id': [skind, sid], 'kind': kind,
                'target_id': [tkind, tid], 'direction': 'both',
                'data': data or {}}

    edges = [
        e('Anatomy', 'UBERON:0001', 'upregulates', 'Gene', 101),
        e('Anatomy', 'UBERON:0001', 'downregulates', 'Gene', 102),
        e('Anatomy', 'UBERON:0001', 'expresses', 'Gene', 101),
        e('Compound', 'DB01', 'resembles', 'Compound', 'DB02',
          {'source': 'somewhere', 'unbiased': True}),
        e('Compound', 'DB01', 'upregulates', 'Gene', 101),
        e('Compound', 'DB01', 'downregulates', 'Gene', 102),
        e('Compound', 'DB01', 'treats', 'Disease', 'DOID:1',
          {'pubmed_ids': ['111', '222']}),
        e('Compound', 'DB02', 'palliates', 'Disease', 'DOID:1'),
        e('Compound', 'DB02', 'causes', 'Side Effect', 'C001'),
        e('Gene', 101, 'interacts', 'Gene', 102),
        e('Gene', 101, 'regulates', 'Gene', 102),
        e('Gene', 101, 'covaries', 'Gene', 102),
        e('Disease', 'DOID:1', 'localizes', 'Anatomy', 'UBERON:0001'),
        e('Disease', 'DOID:1', 'associates', 'Gene', 101),
        e('Disease', 'DOID:1', 'upregulates', 'Gene', 101),
        e('Disease', 'DOID:1', 'downregulates', 'Gene', 102),
        e('Disease', 'DOID:1', 'presents', 'Symptom', 'D001'),
        e('Gene', 101, 'participates', 'Pathway', 'PW1'),
        e('Gene', 102, 'participates', 'Biological Process', 'GO:1'),
        e('Pharmacologic Class', 'N0000', 'includes', 'Compound', 'DB01'),
        e('Compound', 'DB01', 'binds', 'Gene', 101,
          {'actions': ['agonist', 'inhibitor', 'modulator', 'binder']}),
        e('Molecular Function', 'GO:9', 'associates', 'Gene', 101),  # skipped
    ]
    return {'nodes': nodes, 'edges': edges}


@requires_reference
def test_hetionet_differential_vs_reference(spark):
    from pybel_spark.io_hetionet import from_hetionet_json

    het = _synthetic_hetionet()
    kg = from_hetionet_json(spark, het)

    ref_import = _load_reference_importer()
    from pybel.constants import CITATION, CITATION_IDENTIFIER, RELATION
    ref = ref_import(het, use_tqdm=False)

    ref_nodes = {str(n) for n in ref.nodes()}
    got_nodes = {r['node_bel'] for r in kg.nodes.collect()}
    assert got_nodes == ref_nodes

    def ref_edge_key(u, v, d):
        citation = d.get(CITATION)
        return (str(u), d[RELATION], str(v),
                citation.get(CITATION_IDENTIFIER) if citation else None)

    ref_edges = {ref_edge_key(u, v, d)
                 for u, v, d in ref.edges(data=True)}
    got_edges = {(r['source_bel'], r['relation'], r['target_bel'],
                  r['citation_id'])
                 for r in kg.edges.collect()}
    assert got_edges == ref_edges


def test_hetionet_annotations_and_warnings(spark):
    from pybel_spark.io_hetionet import from_hetionet_json

    kg = from_hetionet_json(spark, _synthetic_hetionet())
    resembles = kg.edges.where(F.col('relation') == 'association') \
        .where(F.col('annotations').isNotNull()).collect()
    assert any(dict(r['annotations']).get('source') == ['somewhere']
               for r in resembles)
    # multi-citation edge: one edge per pmid
    treats = kg.edges.where(F.col('relation') == 'decreases') \
        .where(F.col('citation_id').isin(['111', '222']))
    assert treats.count() == 2

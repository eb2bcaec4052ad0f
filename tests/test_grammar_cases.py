"""Statement-level grammar cases: every case compiled by the reference at
fixture-build time must produce identical nodes/md5s/edges/triples/warnings
from our parser — including alternate spellings and legacy forms."""
import json
import os

import pytest

from pybel_spark.bel.compiler import DocumentCompiler
from pybel_spark.corpus import load_corpus_catalog

HERE = os.path.dirname(os.path.abspath(__file__))
CASES_PATH = os.path.join(os.path.dirname(HERE), 'fixtures', 'grammar_cases.json')

with open(CASES_PATH) as f:
    CASES = json.load(f)

HEADER_PATH = os.path.join(os.path.dirname(HERE), 'fixtures', 'pool.json')
with open(HEADER_PATH) as f:
    HEADER = json.load(f)['header']

CONTEXT = [
    'SET Citation = {"PubMed","Case","999999"}',
    'SET Evidence = "grammar case"',
]


@pytest.mark.parametrize('case', CASES, ids=lambda c: c['statement'][:60])
def test_grammar_case(case):
    compiler = DocumentCompiler(resources=load_corpus_catalog())
    result = compiler.compile(HEADER + CONTEXT + [case['statement']])

    got_warnings = sorted(w['error_class'] for w in result['warnings'])
    assert got_warnings == case['warnings'], 'warning mismatch'

    got_nodes = sorted(r['node_bel'] for r in result['nodes'])
    assert got_nodes == case['nodes'], 'node set mismatch'

    for row in result['nodes']:
        assert case['node_md5s'][row['node_bel']] == row['node_id'], \
            'md5 mismatch for {}'.format(row['node_bel'])

    got_edges = sorted(
        (e['source_bel'], e['relation'], e['target_bel'])
        for e in result['edges'])
    assert got_edges == [tuple(e) for e in case['edges']], 'edge mismatch'

    got_triples = sorted(
        (e['triple_subject'], e['triple_predicate'], e['triple_object'])
        for e in result['edges'] if e['triple_subject'] is not None)
    assert got_triples == [tuple(t) for t in case['triples']], 'triple mismatch'

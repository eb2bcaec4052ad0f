"""Differential fuzzing: random BEL statements compiled by BOTH our engine
and the actual reference compiler must agree on nodes, edges, triples, and
warning classes.

The reference runs through the fixture shims (fixtures/reference_oracle) —
this is the strongest grammar-parity evidence short of exhaustive input.
"""
import os
import random
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, 'fixtures'))

from pybel_spark.bel.compiler import DocumentCompiler  # noqa: E402
from pybel_spark.resources import reference_catalog  # noqa: E402

from .conftest import load_pool, requires_reference  # noqa: E402

HEADER = load_pool()['header']

PROTEINS = ['AKT1', 'EGFR', 'FADD', 'CASP8', 'MAPT', 'APP', 'CFTR', 'CAT']
CHEMS = ['"oxygen atom"', 'water', 'superoxide', '"hydrogen peroxide"', 'dioxygen']
PROCS = ['"apoptotic process"', '"cell cycle arrest"']
FUNCS = ['p', 'g', 'r', 'm', 'proteinAbundance', 'geneAbundance']
RELATIONS = ['->', '-|', '=>', '=|', '--', 'increases', 'decreases',
             'association', 'reg', 'cnc', 'pos', 'neg', 'isA', 'partOf',
             'eq', 'binds']
PMODS = ['Ph', 'Ac', 'Me', 'P', 'Sumo', 'phosphorylation']
AMINO = ['Ser', 'Thr', 'Tyr', 'S', 'T', 'Y']


def random_term(rng):
    kind = rng.randrange(14)
    if kind >= 10:
        extra = kind - 10
        if extra == 0:
            return 'composite(a(CHEBI:{}), p(HGNC:{}))'.format(
                rng.choice(CHEMS), rng.choice(PROTEINS))
        if extra == 1:
            return 'rxn(reactants(a(CHEBI:superoxide)), products(a(CHEBI:{})))' \
                .format(rng.choice(['dioxygen', '"hydrogen peroxide"']))
        if extra == 2:
            return '{}(fus(HGNC:{}, "{}.1_79", HGNC:{}, ?))'.format(
                rng.choice(['p', 'r', 'g']),
                rng.choice(PROTEINS), rng.choice(['p', 'r', 'c']),
                rng.choice(PROTEINS))
        return rng.choice([
            'tloc(p(HGNC:{}), fromLoc(GO:intracellular), toLoc(GO:endosome))',
            'sec(p(HGNC:{}))', 'surf(p(HGNC:{}))',
        ]).format(rng.choice(PROTEINS))
    if kind < 4:
        func = rng.choice(FUNCS)
        name = rng.choice(PROTEINS)
        variants = ''
        if rng.random() < 0.4:
            if func.startswith('p'):
                v = rng.randrange(3)
                if v == 0:
                    variants = ', pmod({}, {}, {})'.format(
                        rng.choice(PMODS), rng.choice(AMINO),
                        rng.randrange(1, 999))
                elif v == 1:
                    variants = ', var("p.Ala{}Tyr")'.format(rng.randrange(1, 500))
                else:
                    variants = ', frag({}_{})'.format(
                        rng.randrange(1, 50), rng.randrange(51, 200))
            elif func.startswith('g'):
                variants = ', gmod(Me)' if rng.random() < 0.5 \
                    else ', var("c.{}G>A")'.format(rng.randrange(1, 999))
        return '{}(HGNC:{}{})'.format(func, name, variants)
    if kind < 6:
        return 'a(CHEBI:{})'.format(rng.choice(CHEMS))
    if kind == 6:
        return 'bp(GO:{})'.format(rng.choice(PROCS))
    if kind == 7:
        return 'complex(p(HGNC:{}), p(HGNC:{}))'.format(
            rng.choice(PROTEINS), rng.choice(PROTEINS))
    if kind == 8:
        return 'act(p(HGNC:{}), ma(kin))'.format(rng.choice(PROTEINS))
    return 'deg(p(HGNC:{}))'.format(rng.choice(PROTEINS))


def random_statement(rng):
    # occasionally emit malformed/unknown content to exercise warnings
    roll = rng.random()
    if roll < 0.06:
        return 'p(HGNC:{}) -> p(HGNC:NOPE{})'.format(
            rng.choice(PROTEINS), rng.randrange(100))
    if roll < 0.10:
        return 'p(UNDEF:{}) -> p(HGNC:{})'.format(
            rng.choice(PROTEINS), rng.choice(PROTEINS))
    if roll < 0.13:
        return '{} nonsenseRelation {}'.format(
            random_term(rng), random_term(rng))
    if roll < 0.18:  # nested causal statement
        return '{} {} ({} {} {})'.format(
            random_term(rng), rng.choice(['->', '=>', '-|', '=|']),
            random_term(rng), rng.choice(['->', '-|']), random_term(rng))
    if roll < 0.22:  # list relations
        return '{} {} list(p(HGNC:{}), p(HGNC:{}))'.format(
            'p(HGNC:{})'.format(rng.choice(PROTEINS)),
            rng.choice(['hasMembers', 'hasComponents']),
            rng.choice(PROTEINS), rng.choice(PROTEINS))
    if roll < 0.25:  # singleton term line
        return random_term(rng)
    if roll < 0.28:  # naked name (warning, or DIRTY node when allowed)
        return 'p({}) -> p(HGNC:{})'.format(
            rng.choice(PROTEINS), rng.choice(PROTEINS))
    return '{} {} {}'.format(random_term(rng), rng.choice(RELATIONS),
                             random_term(rng))


@requires_reference
@pytest.mark.parametrize('seed,options', [
    (1, {}), (2, {}), (3, {}), (4, {}),
    (5, {'allow_naked_names': True}),
    (6, {'allow_naked_names': True}),
    (7, {'citation_clearing': False}),
    (8, {'citation_clearing': False}),
    (9, {'disallow_nested': True}),
    (10, {'allow_naked_names': True, 'citation_clearing': False}),
    (11, {'disallow_unqualified_translocations': True}),
    (12, {'required_annotations': ['Species']}),
    (13, {'disallow_nested': True, 'allow_naked_names': True}),
    (14, {}), (15, {}), (16, {}),
])
def test_differential_fuzz(seed, options):
    import logging
    logging.disable(logging.CRITICAL)
    from reference_oracle import compile_bel_lines, graph_to_golden

    rng = random.Random(seed)
    statements = []
    for i in range(100):
        statements.append(
            'SET Citation = {{"PubMed","fuzz","{}"}}'.format(100000 + i))
        statements.append('SET Evidence = "fuzz ev {}"'.format(i))
        if rng.random() < 0.3:
            statements.append('SET Species = "{}"'.format(
                rng.choice(['9606', '10090', '10116'])))
        if rng.random() < 0.1:
            statements.append('SET STATEMENT_GROUP = "g{}"'.format(i % 5))
        statements.append(random_statement(rng))
        roll = rng.random()
        if roll < 0.1:
            statements.append('UNSET ALL')
        elif roll < 0.18:
            statements.append('UNSET Species')  # may warn if not set
        elif roll < 0.22:
            statements.append('UNSET {Species, Evidence}')
    lines = HEADER + statements

    ref = graph_to_golden(compile_bel_lines(lines, **options))
    ours = DocumentCompiler(resources=reference_catalog(), **options).compile(lines)

    got_nodes = sorted(r['node_bel'] for r in ours['nodes'])
    exp_nodes = sorted(r['bel'] for r in ref['nodes'])
    assert got_nodes == exp_nodes

    def norm(rows):
        return sorted(tuple('' if v is None else v for v in row)
                      for row in rows)

    got_edges = norm((e['source_bel'], e['relation'], e['target_bel'],
                      e['citation_id'], e['evidence'])
                     for e in ours['edges'])
    exp_edges = norm((e['source'], e['relation'], e['target'],
                      e['citation_id'], e['evidence'])
                     for e in ref['edges'])
    assert got_edges == exp_edges

    # triples compare as SETS — the reference's get_triples dedupes
    # (io/tsv/api.py:77-84), as does the pipeline's .distinct()
    got_triples = {
        (e['triple_subject'], e['triple_predicate'], e['triple_object'])
        for e in ours['edges'] if e['triple_subject'] is not None}
    exp_triples = {tuple(t) for t in ref['triples']}
    assert got_triples == exp_triples

    got_warnings = sorted(w['error_class'] for w in ours['warnings'])
    exp_warnings = sorted(w['error_class'] for w in ref['warnings'])
    assert got_warnings == exp_warnings

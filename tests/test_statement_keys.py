"""The dedup parse, without Spark. Stage 3: parsing a statement key
against the compile state prepared once per header must give the same
triples as compiling the whole one-statement document the key stands for
(header lines, then a placeholder citation and evidence when the key is
qualified, then the statement), and must never change the prepared state
that later keys of the same header share. Stages 1 and 3 together: the
triples of a page's statement keys must be the triples of compiling the
page, under the same compiler options. The triples path of a whole
page (``compile_triples``) must be the triple columns of its edge
rows."""
import copy
import json
import os
import random

import pytest

from pybel_spark.bel.compiler import (DocumentCompiler, sanitize_lines,
                                      split_sections, statement_key_header)
from pybel_spark.bel.control import is_control_line
from pybel_spark.corpus import load_corpus_catalog

from .test_grammar_cases import CONTEXT as GRAMMAR_CONTEXT

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(os.path.dirname(HERE), 'fixtures')

with open(os.path.join(FIXTURES, 'pool.json')) as f:
    POOL = json.load(f)
with open(os.path.join(FIXTURES, 'grammar_cases.json')) as f:
    GRAMMAR_CASES = json.load(f)

#: the corpus header, which defines LIST, PATTERN and URL annotations
ANNOTATED_HEADER = POOL['header']
#: the same header with its annotation definitions dropped
NAMESPACE_HEADER = [ln for ln in ANNOTATED_HEADER
                    if not ln.startswith('DEFINE ANNOTATION')]
HEADERS = {'annotated': ANNOTATED_HEADER, 'namespaces': NAMESPACE_HEADER,
           'empty': []}


def _statements():
    out = [case['statement'] for case in GRAMMAR_CASES]
    for unit in POOL['units']:
        _, _, statements = split_sections(sanitize_lines(unit['lines']))
        out.extend(line for _, line in statements
                   if not is_control_line(line))
    return list(dict.fromkeys(out))


STATEMENTS = _statements()


def header_key(lines):
    """The header column stage 1 emits for a page with these lines."""
    documents, definitions, _ = split_sections(sanitize_lines(lines))
    return statement_key_header(documents, definitions)


def synthetic_document_triples(compiler, header_lines, statement,
                               qualified):
    """Triples of the key compiled as a whole one-statement document."""
    context = ['SET Citation = {"PubMed", "1"}',
               'SET SupportingText = "-"'] if qualified else []
    result = compiler.compile(header_lines + context + [statement])
    return sorted((e['triple_subject'], e['triple_predicate'],
                   e['triple_object'])
                  for e in result['edges'] if e['triple_subject'] is not None)


def _compiler(citation_clearing, required_annotations=None):
    return DocumentCompiler(resources=load_corpus_catalog(),
                            citation_clearing=citation_clearing,
                            required_annotations=required_annotations)


def _check_key_triples(header_name, citation_clearing,
                       required_annotations=None):
    header_lines = HEADERS[header_name]
    header = header_key(header_lines)
    keyed = _compiler(citation_clearing, required_annotations)
    whole = _compiler(citation_clearing)
    n_with_triples = {True: 0, False: 0}
    for statement in STATEMENTS:
        for qualified in (True, False):
            want = synthetic_document_triples(whole, header_lines,
                                              statement, qualified)
            got = sorted(keyed.statement_key_triples(header, statement,
                                                     qualified))
            assert got == want, (statement, qualified)
            n_with_triples[qualified] += bool(got)
    if header_name != 'empty':
        # both context gates are exercised: qualified keys emit the
        # qualified relations, unqualified keys only structural triples
        assert n_with_triples[True] > n_with_triples[False] > 0, \
            n_with_triples


@pytest.mark.parametrize('citation_clearing', [True, False])
@pytest.mark.parametrize('header_name', sorted(HEADERS))
def test_key_triples_equal_synthetic_document(header_name,
                                              citation_clearing):
    _check_key_triples(header_name, citation_clearing)


@pytest.mark.parametrize('citation_clearing', [True, False])
@pytest.mark.parametrize('header_name', sorted(HEADERS))
def test_key_triples_ignore_required_annotations(header_name,
                                                 citation_clearing):
    """The qualified flag already includes ``required_annotations``, so
    stage 3 must ignore them: a key parses as the synthetic document
    compiled without them."""
    _check_key_triples(header_name, citation_clearing, ['Species'])


def _key_controls(compiler):
    """The prepared control states of every parsed header of
    ``compiler``, by (header text, qualified)."""
    return {(text, qualified): control
            for text, header in compiler._headers.items()
            for qualified, control in header._key_controls.items()}


def test_key_parse_never_mutates_prepared_state():
    compiler = _compiler(True)
    header = header_key(ANNOTATED_HEADER)
    compiler.statement_key_triples(header, STATEMENTS[0], True)
    compiler.statement_key_triples(header, STATEMENTS[0], False)
    prepared = {k: copy.deepcopy(v.__dict__)
                for k, v in _key_controls(compiler).items()}
    assert len(prepared) == 2

    first = {(s, q): compiler.statement_key_triples(header, s, q)
             for s in STATEMENTS for q in (True, False)}
    for control_line in ('SET Citation = {"PubMed", "2"}', 'UNSET ALL',
                         'SET TESTAN1 = "1"', 'UNSET SupportingText'):
        with pytest.raises(ValueError):
            compiler.statement_key_triples(header, control_line, True)
    after = {k: v.__dict__ for k, v in _key_controls(compiler).items()}
    assert after == prepared

    # a fresh compiler walking the keys in reverse order sees the same
    # triples, so no key depends on what was parsed before it
    fresh = _compiler(True)
    for (s, q) in reversed(list(first)):
        assert fresh.statement_key_triples(header, s, q) == first[s, q]


#: control lines of the generated pages: valid and invalid citations,
#: evidence, a required annotation with a legal and an illegal value,
#: and every kind of UNSET
FUZZ_CONTROLS = [
    'SET Citation = {"PubMed", "j", "100"}',
    'SET Citation = {"PubMed", "j", "200"}',
    'SET Citation = {"BAD_TYPE", "x"}',
    'SET Evidence = "e1"',
    'SET Evidence = "e2"',
    'SET Species = "9606"',
    'SET Species = "not-a-taxon"',
    'UNSET Citation',
    'UNSET Evidence',
    'UNSET Species',
    'UNSET ALL',
]


def _pages():
    """Every pool unit as a page under the pool header, then seeded pages
    that interleave pool statements with random control lines."""
    pages = [ANNOTATED_HEADER + unit['lines'] for unit in POOL['units']]
    rng = random.Random(20261018)
    for _ in range(60):
        lines = list(ANNOTATED_HEADER)
        for _ in range(rng.randint(3, 16)):
            if rng.random() < 0.5:
                lines.append(rng.choice(FUZZ_CONTROLS))
            else:
                lines.append(rng.choice(STATEMENTS))
        pages.append(lines)
    return pages


PAGES = _pages()


def _edge_triples(edges):
    return [(e['triple_subject'], e['triple_predicate'], e['triple_object'])
            for e in edges if e['triple_subject'] is not None]


def _triples(edges):
    return set(_edge_triples(edges))


def _dedup_parse_triples(options):
    """Per page: the triples of its statement keys and of its compile,
    each stage on its own compiler built from the same options."""
    stage1, stage3, whole = (
        DocumentCompiler(resources=load_corpus_catalog(), **options)
        for _ in range(3))
    out = []
    for page in PAGES:
        keys = set(stage1.statement_keys(page))
        keyed = {t for key in keys
                 for t in stage3.statement_key_triples(*key)}
        out.append((keyed, _triples(whole.compile(page)['edges'])))
    return out


@pytest.mark.parametrize('options', [
    {}, {'required_annotations': ['Species']}, {'citation_clearing': False}],
    ids=['default', 'required_species', 'no_citation_clearing'])
def test_dedup_parse_equals_compile(options):
    per_page = _dedup_parse_triples(options)
    for page, (keyed, whole) in zip(PAGES, per_page):
        assert keyed == whole, page
    if options.get('required_annotations'):
        # the requirement removes qualified triples the default keeps,
        # so the stage-3 parse must not apply it a second time
        union = set().union(*(whole for _, whole in per_page))
        default = set().union(*(w for _, w in _dedup_parse_triples({})))
        assert union < default


@pytest.mark.parametrize('options', [
    {}, {'required_annotations': ['Species']}, {'citation_clearing': False}],
    ids=['default', 'required_species', 'no_citation_clearing'])
def test_compile_triples_equal_edge_rows(options):
    """``compile_triples`` reads the triples off the edge records that
    ``compile`` turns into rows: same list, order and multiplicity, on
    every pool unit, every grammar case under its header and context,
    and every seeded SET/UNSET page."""
    rows, triples = (
        DocumentCompiler(resources=load_corpus_catalog(), **options)
        for _ in range(2))
    # one statement under three contexts, then once more under the last:
    # three edges with the same triple, and a duplicate edge
    statement = 'p(HGNC:AKT1) increases p(HGNC:EGFR)'
    repeated = ANNOTATED_HEADER + [
        'SET Citation = {"PubMed", "j", "100"}', 'SET Evidence = "e1"',
        statement, 'SET Evidence = "e2"', statement,
        'SET Citation = {"PubMed", "j", "200"}', 'SET Evidence = "e2"',
        statement, statement]
    pages = PAGES + [repeated] + [
        ANNOTATED_HEADER + GRAMMAR_CONTEXT + [case['statement']]
        for case in GRAMMAR_CASES]
    n_triples = 0
    for page in pages:
        want = _edge_triples(rows.compile(page)['edges'])
        assert triples.compile_triples(page) == want, page
        n_triples += len(want)
    assert n_triples
    if not options.get('required_annotations'):
        assert triples.compile_triples(repeated) == \
            [('HGNC:AKT1', 'increasesAmountOf', 'HGNC:EGFR')] * 3

"""Exporter tests, including the canonical BEL-script round-trip."""
import json

import pytest
from pyspark.sql import functions as F

from pybel_spark.corpus import generate_documents, load_corpus_catalog
from pybel_spark.bel.compiler import DocumentCompiler
from pybel_spark import io_formats
from pybel_spark.pipeline import build_graph

N_DOCS = 80

#: DEFINE lines for the round-trip export (same resources as the corpus)
NAMESPACE_URLS = {
    'CHEBI': 'file://chebi-names.belns',
    'HGNC': 'file://hgnc-names.belns',
    'GO': 'file://go-names.belns',
    'MESHD': 'file://mesh-names.belns',
    'TESTNS2': 'file://test_ns_2.belns',
}
ANNOTATION_URLS = {
    'Species': 'file://species-taxonomy-id.belanno',
    'CellLine': 'file://cell-line.belanno',
}


@pytest.fixture(scope='module')
def result(spark):
    docs = generate_documents(spark, N_DOCS, partitions=4)
    r = build_graph(docs)
    r.parsed = r.parsed.persist()
    r.parsed.count()
    yield r


def test_triples_tsv(result):
    lines = [r['value'] for r in
             io_formats.triples_to_tsv(result.triples).collect()]
    assert lines == sorted(lines)
    assert all(len(line.split('\t')) == 3 for line in lines)


def test_edgelist(result):
    lines = [r['value'] for r in
             io_formats.triples_to_edgelist(result.triples).collect()]
    h, t, payload = lines[0].split('\t')
    assert 'relation' in json.loads(payload)


def test_sif_and_csv(result):
    sif = [r['value'] for r in io_formats.to_sif(result.edges).collect()]
    assert sif
    # every line is a re-rendered BEL statement: subject relation object
    assert all(len(line.split('\t')) == 3 for line in sif)
    csv = [r['value'] for r in io_formats.to_csv(result.edges).collect()]
    assert all(len(line.split('\t')) >= 4 for line in csv)


def test_gsea(result):
    lines = [r['value'] for r in io_formats.to_gsea(result.nodes).collect()]
    assert lines[0].startswith('#')
    assert 'AKT1' in lines


def test_nodelink(result):
    payload = io_formats.to_nodelink(result.nodes, result.edges)
    assert payload['directed'] and payload['multigraph']
    assert len(payload['nodes']) == result.nodes.count()
    assert len(payload['links']) == result.edges.count()
    # links reference valid node indices
    n = len(payload['nodes'])
    for link in payload['links']:
        assert 0 <= link['source'] < n and 0 <= link['target'] < n


def test_nodelink_round_trip(spark, result):
    payload = io_formats.to_nodelink(result.nodes, result.edges)
    nodes2, edges2 = io_formats.from_nodelink(spark, payload)
    assert {r['node_id'] for r in nodes2.collect()} \
        == {r['node_id'] for r in result.nodes.collect()}
    got = {(r['source_id'], r['relation'], r['target_id'],
            r['citation_id'], r['evidence']) for r in edges2.collect()}
    expected = {(r['source_id'], r['relation'], r['target_id'],
                 r['citation_id'], r['evidence'])
                for r in result.edges.collect()}
    assert got == expected


def test_jgif(result):
    payload = io_formats.to_jgif(result.nodes, result.edges)
    graph = payload['graph']
    assert len(graph['nodes']) == result.nodes.count()
    assert graph['edges']
    qualified = [e for e in graph['edges'] if e['metadata']['evidences']]
    assert qualified
    assert all('label' in e for e in graph['edges'])


def test_cx(result):
    aspects = io_formats.to_cx(result.nodes, result.edges)
    by_name = {}
    for aspect in aspects:
        by_name.update(aspect)
    assert len(by_name['nodes']) == result.nodes.count()
    assert len(by_name['edges']) == result.edges.count()
    n = len(by_name['nodes'])
    for e in by_name['edges']:
        assert 0 <= e['s'] < n and 0 <= e['t'] < n
    assert by_name['status'][0]['success']


def test_umbrella_nodelink(result):
    payload = io_formats.to_umbrella_nodelink(result.nodes, result.edges)
    labels = {n['bel'] for n in payload['nodes']}
    # modifier-decorated terms appear as their own nodes
    assert any(label.startswith('act(') for label in labels)
    assert len(payload['links']) == result.edges.count()


def test_graphml(result, tmp_path):
    path = str(tmp_path / 'graph.graphml')
    io_formats.to_graphml(result.nodes, result.edges, path)
    import networkx as nx
    graph = nx.read_graphml(path)
    assert graph.number_of_nodes() == result.nodes.count()
    assert graph.number_of_edges() == result.edges.count()


def test_annotation_mutations(spark, result):
    stripped = io_formats.strip_annotations(result.edges)
    assert stripped.where('annotations is not null').count() == 0
    tagged = io_formats.add_annotation_value(result.edges, 'Source', 'corpus')
    from pyspark.sql import functions as F
    n = tagged.where(F.array_contains(
        F.col('annotations').getItem('Source'), 'corpus')).count()
    assert n == result.edges.count()
    removed = io_formats.remove_annotation_value(tagged, 'Source')
    assert removed.where(
        F.map_contains_key('annotations', 'Source')).count() == 0


def test_bel_script_round_trip(result):
    """Export the graph to a canonical BEL script, recompile it, and require
    identical node/edge/triple sets — the strongest exporter correctness
    property (mirrors the reference's own round-trip tests)."""
    lines = io_formats.to_bel_script_lines(
        result.nodes, result.edges,
        metadata={'name': 'roundtrip', 'version': '1.0.0'},
        namespaces=NAMESPACE_URLS, annotations=ANNOTATION_URLS,
        namespace_patterns={'dbSNP': 'rs[0-9]*'},
        annotation_patterns={'TestRegex': '[0-9]+'},
        annotation_lists={'TESTAN1': ['1', '2', '3'],
                          'TESTAN2': ['1', '2', '3']},
    )
    compiled = DocumentCompiler(resources=load_corpus_catalog()).compile(lines)

    original_nodes = {r['node_bel'] for r in result.nodes.collect()}
    recompiled_nodes = {r['node_bel'] for r in compiled['nodes']}
    assert recompiled_nodes == original_nodes

    def edge_key(source, relation, target, citation_db, citation_id, evidence):
        return (source, relation, target, citation_db, citation_id, evidence)

    original_edges = {
        edge_key(r['source_bel'], r['relation'], r['target_bel'],
                 r['citation_db'], r['citation_id'], r['evidence'])
        for r in result.edges.collect()
    }
    recompiled_edges = {
        edge_key(e['source_bel'], e['relation'], e['target_bel'],
                 e['citation_db'], e['citation_id'], e['evidence'])
        for e in compiled['edges']
        # structural edges recompile with no citation; footer edges carry the
        # auto citation — compare only the truly qualified ones
        if e['citation_db'] is not None
        and e['citation_id'] != io_formats.AUTO_PMID
    }
    original_qualified = {
        e for e in original_edges if e[3] is not None
    }
    assert recompiled_edges == original_qualified

    # structural edges re-derive themselves from node structure
    original_structural = {
        (e[0], e[1], e[2]) for e in original_edges if e[3] is None
    }
    recompiled_structural = {
        (e['source_bel'], e['relation'], e['target_bel'])
        for e in compiled['edges']
    }
    assert original_structural <= recompiled_structural

    # triples parity end-to-end
    original_triples = {tuple(r) for r in result.triples.collect()}
    recompiled_triples = {
        (e['triple_subject'], e['triple_predicate'], e['triple_object'])
        for e in compiled['edges'] if e['triple_subject'] is not None
    }
    assert original_triples <= recompiled_triples


def _corpus_header():
    from pybel_spark.corpus import CorpusSpec
    return CorpusSpec().header


def _qualified_edge_keys(rows):
    return {
        (r['source_bel'], r['relation'], r['target_bel'],
         r['citation_db'], r['citation_id'], r['evidence'])
        for r in rows
        if r['citation_db'] is not None
        and r['citation_id'] != io_formats.AUTO_PMID
    }


def test_cx_round_trip(spark, result):
    """to_cx → from_cx reproduces identical node-id and qualified-edge sets
    (reference io/cx.py:365-560)."""
    cx = io_formats.to_cx(result.nodes, result.edges)
    nodes2, edges2 = io_formats.from_cx(
        spark, cx, _corpus_header(), catalog=load_corpus_catalog())

    assert {r['node_id'] for r in nodes2.collect()} \
        == {r['node_id'] for r in result.nodes.collect()}
    assert _qualified_edge_keys(edges2.collect()) \
        == _qualified_edge_keys(result.edges.collect())
    # structural edges re-derive from member terms
    original_structural = {
        (r['source_bel'], r['relation'], r['target_bel'])
        for r in result.edges.collect() if r['citation_db'] is None
    }
    recompiled = {(r['source_bel'], r['relation'], r['target_bel'])
                  for r in edges2.collect()}
    assert original_structural <= recompiled


def test_jgif_round_trip(spark, result):
    """to_jgif → from_jgif reproduces identical node-id and qualified-edge
    sets (reference io/jgif.py:205-296)."""
    jgif = io_formats.to_jgif(result.nodes, result.edges)
    nodes2, edges2 = io_formats.from_jgif(
        spark, jgif, _corpus_header(), catalog=load_corpus_catalog())

    assert {r['node_id'] for r in nodes2.collect()} \
        == {r['node_id'] for r in result.nodes.collect()}
    assert _qualified_edge_keys(edges2.collect()) \
        == _qualified_edge_keys(result.edges.collect())


def test_from_jgif_reference_citation_shape(spark, result):
    """from_jgif also accepts the reference's citation key spelling
    ({'type','id'} instead of our {'db','db_id'}) and skips evidence-less
    edges like the reference."""
    jgif = io_formats.to_jgif(result.nodes, result.edges)
    for edge in jgif['graph']['edges']:
        for ev in edge['metadata']['evidences']:
            c = ev.pop('citation')
            ev['citation'] = {'type': c['db'], 'id': c['db_id']}
    nodes2, edges2 = io_formats.from_jgif(
        spark, jgif, _corpus_header(), catalog=load_corpus_catalog())
    assert _qualified_edge_keys(edges2.collect()) \
        == _qualified_edge_keys(result.edges.collect())


def test_graphdati_nanopubs(result):
    """GraphDati nanopub shape parity (io/graphdati.py:89-135): one nanopub
    per edge, conditional citation, evidence default."""
    pubs = io_formats.to_graphdati(result.edges, creator='tester')
    assert len(pubs) == result.edges.count()
    for pub in pubs:
        np_ = pub['nanopub']
        assert np_['schema_uri'] == io_formats.GRAPHDATI_SCHEMA_URI
        assert np_['type'] == {'name': 'BEL', 'version': '2.1.0'}
        assert np_['id'].startswith('pybel_')
        (assertion,) = np_['assertions']
        assert set(assertion) == {'subject', 'relation', 'object'}
        citation = np_['citation']
        assert ('database' in citation) != ('reference' in citation)
        assert np_['evidence']
    qualified = {p['nanopub']['citation'].get('database', {}).get('id')
                 for p in pubs if 'database' in p['nanopub']['citation']}
    expected = {r['citation_id'] for r in result.edges
                .where(F.col('citation_db').isNotNull()).collect()}
    assert qualified == expected


def test_neo4j_admin_csv(result, tmp_path, spark):
    out = io_formats.to_neo4j_admin_csv(result.nodes, result.edges,
                                        str(tmp_path / 'neo'))
    nodes = spark.read.option('header', True).csv(out['nodes'])
    rels = spark.read.option('header', True).csv(out['relationships'])
    assert nodes.count() == result.nodes.count()
    assert rels.count() == result.edges.count()
    assert 'node_id:ID' in nodes.columns and ':LABEL' in nodes.columns
    assert {':START_ID', ':END_ID', ':TYPE'} <= set(rels.columns)
    # referential integrity: every endpoint id resolves to a node row
    ids = {r['node_id:ID'] for r in nodes.collect()}
    for row in rels.collect():
        assert row[':START_ID'] in ids and row[':END_ID'] in ids


def test_from_bel_script_and_url(spark, tmp_path):
    """from_bel_script / from_bel_script_url (reference io/lines.py:23-50):
    one staged document through the same pipeline; the URL variant uses the
    injectable stdlib fetcher, exercised here over file://."""
    from pybel_spark.corpus import CorpusSpec
    from pybel_spark.io_script import from_bel_script, from_bel_script_url

    spec = CorpusSpec()
    text = spec.doc_text(1)
    path = tmp_path / 'doc1.bel'
    path.write_text(text)
    expected = {tuple(t) for idx in spec.unit_indices(1)
                for t in spec.units[idx]['golden']['triples']}

    got = {tuple(r)
           for r in from_bel_script(spark, str(path)).triples.collect()}
    assert got == expected

    got_url = {tuple(r) for r in from_bel_script_url(
        spark, 'file://' + str(path)).triples.collect()}
    assert got_url == expected


def test_from_bel_script_urls_distributed(spark, tmp_path):
    """The URL-table variant fetches inside mapInPandas; a dead URL
    contributes nothing instead of failing the task."""
    from pybel_spark.corpus import CorpusSpec
    from pybel_spark.io_script import from_bel_script_urls

    spec = CorpusSpec()
    urls = []
    expected = set()
    for i in (0, 1, 2):
        p = tmp_path / 'doc{}.bel'.format(i)
        p.write_text(spec.doc_text(i))
        urls.append(('file://' + str(p),))
        for idx in spec.unit_indices(i):
            expected.update(
                tuple(t) for t in spec.units[idx]['golden']['triples'])
    urls.append(('file:///nonexistent/dead.bel',))

    urls_df = spark.createDataFrame(urls, 'url string')
    result = from_bel_script_urls(urls_df)
    got = {tuple(r) for r in result.triples.collect()}
    assert got == expected
    # the dead URL row still produced a (empty) metrics row
    assert result.doc_metrics.count() == 4


def test_to_web_from_web_round_trip(spark, result):
    """to_web/from_web (reference io/web.py:52-121): POST the nodelink
    payload to the receiver endpoint, GET it back by network id — exercised
    through an injectable in-memory transport (protocol-faithful: endpoint
    paths, basic auth header, public flag)."""
    import base64
    import json as _json

    from pybel_spark import io_web

    server = {}

    def transport(method, url, headers, body=None):
        if method == 'POST':
            assert url.endswith('/api/receive/')
            user_pass = base64.b64decode(
                headers['authorization'].split()[1]).decode()
            assert user_pass == 'alice:secret'
            assert headers['bel-commons-public'] == 'false'
            server['1'] = body
            return _json.dumps({'network_id': 1}).encode()
        assert url.endswith('/api/network/1/export/nodelink')
        return server['1']

    resp = io_web.to_web(result.nodes, result.edges,
                         host='https://bel.example', user='alice',
                         password='secret', transport=transport)
    assert resp == {'network_id': 1}

    nodes2, edges2 = io_web.from_web(spark, 1, host='https://bel.example',
                                     transport=transport)
    assert {r['node_id'] for r in nodes2.collect()} \
        == {r['node_id'] for r in result.nodes.collect()}
    assert edges2.count() == result.edges.count()

    # missing credentials fail loudly, as in the reference
    import pytest as _pytest
    with _pytest.raises(ValueError, match='no user'):
        io_web.to_web(result.nodes, result.edges, host='https://x')


def test_to_html_inline_visualization(spark, result):
    """io_jupyter (reference io/jupyter/inline.py): self-contained HTML
    with labeled, function-colored nodes and relation tooltips."""
    import json as _json
    import re

    from pybel_spark import io_jupyter

    html = io_jupyter.to_html(result.nodes, result.edges)
    assert html.startswith('<!DOCTYPE html>')
    payload = _json.loads(
        re.search(r'var data = (\{.*?\});\n', html, re.S).group(1))
    assert len(payload['nodes']) == result.nodes.count()
    assert len(payload['links']) == result.edges.count()
    bels = {r['node_bel'] for r in result.nodes.collect()}
    assert {n['label'] for n in payload['nodes']} == bels
    protein_colors = {n['color'] for n in payload['nodes']
                      if n['label'].startswith('p(')}
    assert protein_colors == {io_jupyter.DEFAULT_COLOR_MAP['Protein']}
    assert io_jupyter.to_jupyter_str(result.nodes, result.edges) \
        .startswith('<!DOCTYPE html>')

    import pytest as _pytest
    with _pytest.raises(ValueError, match='max_nodes'):
        io_jupyter.to_html(result.nodes, result.edges, max_nodes=2)


class TestNTriples:
    def test_lines_shape_and_escaping(self, spark):
        from pybel_spark.io_formats import triples_to_ntriples
        t = spark.createDataFrame(
            [('p(HGNC:"A B")', 'increases', r'p(HGNC:C\D)')],
            'subject string, predicate string, object string')
        lines = sorted(r['value']
                       for r in triples_to_ntriples(t).collect())
        assert len(lines) == 3  # 2 labels + 1 relation
        labels = [ln for ln in lines if '<urn:bel:label>' in ln]
        rels = [ln for ln in lines if '<urn:bel:relation/' in ln]
        assert len(labels) == 2 and len(rels) == 1
        # quote escaped in the literal, backslash doubled
        assert any(r'\"A B\"' in ln for ln in labels)
        assert any(r'C\\D' in ln for ln in labels)
        assert all(ln.endswith(' .') for ln in lines)
        # relation line references both blank nodes
        import hashlib
        smd5 = hashlib.md5('p(HGNC:"A B")'.encode()).hexdigest()
        assert rels[0].startswith('_:b' + smd5 + ' ')

    def test_write_roundtrip_line_count(self, spark, tmp_path):
        from pybel_spark.io_formats import to_ntriples, triples_to_ntriples
        t = spark.createDataFrame(
            [('a', 'increases', 'b'), ('b', 'decreases', 'c')],
            'subject string, predicate string, object string')
        out = str(tmp_path / 'nt')
        to_ntriples(t, out)
        back = spark.read.text(out)
        assert back.count() == triples_to_ntriples(t).count() == 5

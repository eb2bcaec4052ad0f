"""Per-document BEL compiler: lines in → node/edge/triple/warning rows out.

Replicates the reference compile loop (reference: src/pybel/io/line_utils.py:
36-274 orchestration, parse_bel.py:726-860 graph insertion, struct/graph.py:
345-577 edge/node insertion semantics) as a pure function over one document's
lines. All state is document-local, which is exactly why the Spark pipeline
parallelizes perfectly by document row.
"""
import hashlib
import json
import re

from . import model
from .constants import (
    ACTIVITY, BINDS, COMPLEX,
    DEGRADATION, DIRECTLY_INCREASES, DOCUMENT_KEYS, IS_A, PART_OF,
    HAS_PRODUCT, HAS_REACTANT, HAS_VARIANT, REACTION, REQUIRED_METADATA,
    TRANSLOCATION, TWO_WAY_RELATIONS,
)
from .control import ControlState, is_control_line
from .exc import (
    BELParserWarning, BELSyntaxError, MalformedMetadataException,
    MissingAnnotationWarning, MissingCitationException,
    MissingMetadataException, MissingSupportWarning, RedefinedAnnotationError,
    RedefinedNamespaceError, VersionFormatWarning,
)
from .grammar import BELTermParser, Scanner
from .triples import edge_to_triple

_METADATA_RE = re.compile(r'(SET\s+DOCUMENT|DEFINE\s+NAMESPACE|DEFINE\s+ANNOTATION)')
_SET_DOC_RE = re.compile(
    r'SET\s+DOCUMENT\s+(\w+)\s*=\s*(?:"((?:[^"\\]|\\.)*)"|(\S+))\s*$')
_DEFINE_RE = re.compile(
    r'DEFINE\s+(NAMESPACE|ANNOTATION)\s+(\w+)\s+AS\s+(URL|PATTERN|LIST)\s+(.*)$')

#: entries a compiler's statement memo, node-row cache and seen sets hold
#: at most, to bound executor memory
_CACHE_SIZE = 65536


def sanitize_lines(lines):
    """Strip blank/comment lines, merge backslash continuations, drop //
    trailing comments. Yields (1-based first-physical-line-number, line)."""
    out = []
    it = iter(enumerate(lines, start=1))
    for number, line in it:
        line = line.strip()
        if not line or line.startswith('#'):
            continue
        while line.endswith('\\'):
            line = line[:-1].strip()
            try:
                _, nxt = next(it)
            except StopIteration:
                break
            line = line + ' ' + nxt.strip()
        idx = _trailing_comment_index(line)
        if idx is not None:
            line = line[:idx].strip()
        if line:
            out.append((number, line))
    return out


import functools


@functools.lru_cache(maxsize=8192)  # header/boilerplate lines repeat per page
def _trailing_comment_index(line):
    if '//' not in line:  # fast path: the vast majority of lines
        return None
    in_quote = False
    for i in range(len(line) - 1):
        c = line[i]
        if c == '"':
            in_quote = not in_quote
        elif not in_quote and c == '/' and line[i + 1] == '/':
            return i
    return None


def split_sections(sanitized):
    """Split sanitized (number, line) pairs into (documents, definitions,
    statements) by content, like the BEL script section convention."""
    documents, definitions, statements = [], [], []
    for number, line in sanitized:
        m = _METADATA_RE.match(line)
        if m is None:
            statements.append((number, line))
        elif line.upper().startswith('SET DOCUMENT'):
            documents.append((number, line))
        else:
            definitions.append((number, line))
    return documents, definitions, statements


def statement_key_header(documents, definitions):
    """The header column of a statement key: the md5 of the header text,
    a newline, then the text — the sanitized ``SET DOCUMENT`` and
    ``DEFINE`` lines joined by newlines. Sanitized lines hold no newline,
    so :meth:`DocumentCompiler.statement_key_triples` splits it back."""
    text = '\n'.join(line for _, line in documents + definitions)
    return hashlib.md5(text.encode('utf8')).hexdigest() + '\n' + text  # noqa: S324


def _node_id(bel):
    """Content-addressed node id: the md5 of the canonical BEL string."""
    return hashlib.md5(bel.encode('utf8')).hexdigest()  # noqa: S324


def _edge_id(key):
    """Content-addressed edge id of an edge identity tuple (see
    :meth:`_CompileState.add_edge_row`).

    Same keying components as the reference (utils.py:143-175: source bel,
    target bel, citation, evidence, canonicalized relation+modifiers) but
    hashed over canonical JSON instead of a Python pickle, which is not
    reproducible across processes/languages.
    """
    payload = json.dumps(key, sort_keys=True, separators=(',', ':'))
    return hashlib.md5(payload.encode('utf8')).hexdigest()  # noqa: S324


def _canonicalize_modifier(modifier):
    """Canonical tuple of an edge subject/object modifier (utils.py:222-291).
    Tuples, not lists, so it can sit in a hashable edge identity; JSON
    renders both the same."""
    if not modifier:
        return None
    kind = modifier.get('modifier')
    location = modifier.get('location')
    effect = modifier.get('effect')
    if kind is None and location is None:
        return None
    result = []
    if kind == ACTIVITY:
        if effect:
            result.append((ACTIVITY, effect.get('namespace'),
                           effect.get('identifier'), effect.get('name')))
        else:
            result.append((ACTIVITY,))
    elif kind == DEGRADATION:
        result.append((DEGRADATION,))
    elif kind == TRANSLOCATION:
        if effect:
            fl, tl = effect['from_loc'], effect['to_loc']
            result.append((
                TRANSLOCATION,
                fl.get('namespace'), fl.get('identifier'), fl.get('name'),
                tl.get('namespace'), tl.get('identifier'), tl.get('name'),
            ))
        else:
            result.append((TRANSLOCATION,))
    if location:
        result.append(('location', location.get('namespace'),
                       location.get('identifier'), location.get('name')))
    return tuple(result) or None


def _term_modifier(term):
    """Edge subject/object modifier from a parsed term (modifier_po_to_dict)."""
    if term.get('modifier') is not None:
        return term['modifier']
    if term.get('location') is not None:
        return {'location': term['location']}
    return None


def _warning_row(exc, context):
    extras = getattr(exc, 'extras', None)
    return {
        'line_number': exc.line_number,
        'line': exc.line,
        'position': getattr(exc, 'position', 0),
        'error_class': exc.__class__.__name__,
        'detail': json.dumps(list(extras), default=str) if extras else None,
        'context': json.dumps(context, sort_keys=True, default=sorted)
        if context else None,
    }


def _apply_control_line(control, number, line):
    """Apply one ``SET``/``UNSET`` line to ``control``. A malformed line
    raises at its failure point, keeping the mutations made before it."""
    s = Scanner(line, number)
    if s.read_word() == 'SET':
        control.handle_set(s, line, number)
    else:
        control.handle_unset(s, line, number)


class DocumentCompiler:
    """Compile one BEL document's sanitized lines into output rows.

    :param resources: a ResourceCatalog-like object resolving DEFINE URLs:
        must provide ``namespace(url) -> {name: encoding}`` and
        ``annotation(url) -> set[str]``. Pass None to fail all URL defines.
    """

    def __init__(
        self,
        resources=None,
        citation_clearing=True,
        allow_naked_names=False,
        disallow_nested=False,
        disallow_unqualified_translocations=False,
        required_annotations=None,
        skip_validation=False,
    ):
        self.resources = resources
        self.citation_clearing = citation_clearing
        self.allow_naked_names = allow_naked_names
        self.disallow_nested = disallow_nested
        self.disallow_unqualified_translocations = disallow_unqualified_translocations
        self.required_annotations = required_annotations
        self.skip_validation = skip_validation
        # web corpora repeat boilerplate headers across millions of pages —
        # one parsed header per distinct header text, shared by the page
        # compile and both stages of the dedup parse, so each executor pays
        # the definition cost once per header
        self._headers = {}
        # node rows (md5 + flat columns + canonical JSON) are pure functions
        # of the canonical BEL string — share them across documents
        self._node_row_cache = {}
        # node identities (canonical BEL) and edge identities that
        # compile_new has returned rows for
        self._emitted = (set(), set())

    def compile(self, lines):
        """Compile raw lines → dict of row lists (nodes, edges, warnings,
        metadata)."""
        return self._compiled(lines).result()

    def compile_new(self, lines):
        """:meth:`compile` less the node and edge rows whose identity an
        earlier ``compile_new`` call of this compiler has returned, plus
        ``n_edges``, the document's edge count, repeated edges included.
        The JSON and md5 of a repeated identity are never built. Each seen
        set holds at most ``_CACHE_SIZE`` identities; past that, rows pass
        through, so a caller that drops duplicate ids downstream gets the
        same rows either way."""
        state = self._compiled(lines)
        return dict(state.result(self._emitted), n_edges=len(state.edges))

    def compile_triples(self, lines):
        """The ``(subject, predicate, object)`` triples of one document:
        the triple columns of ``compile(lines)['edges']``, same order and
        multiplicity, without building a node or edge row."""
        return self._compiled(lines).triples()

    def _header(self, text):
        """The parsed header of ``text``: the sanitized ``SET DOCUMENT``
        and ``DEFINE`` lines of a page, joined by newlines."""
        header = self._headers.get(text)
        if header is None:
            header = _Header(self, text)
            if len(self._headers) < 256:  # bound executor memory
                self._headers[text] = header
        return header

    def _split_page(self, lines):
        """``(header, header line numbers, statements)`` of one page: its
        parsed header, the page line of each header line, and its
        statement and control lines."""
        documents, definitions, statements = split_sections(
            sanitize_lines(lines))
        header_lines = documents + definitions
        header = self._header('\n'.join(line for _, line in header_lines))
        return header, [number for number, _ in header_lines], statements

    def _compiled(self, lines):
        """The compile state of one document after its last line. A page
        with no BEL line at all (prose only) is no BEL document: its state
        is empty, without the missing-metadata warnings of a header-less
        BEL document."""
        header, numbers, statements = self._split_page(lines)
        state = _CompileState(header, header.control())
        if numbers or statements:
            state.warnings = header.page_warnings(numbers)
            state.parse_statements(statements)
        return state

    def statement_keys(self, lines):
        """Statement keys of one masked page — stage 1 of
        :func:`pybel_spark.pipeline.extract_triples_deduped`: one
        ``(header, statement, qualified)`` per statement line, in page
        order, from the parsed header and control-line code that
        :meth:`compile` runs. ``qualified`` means that at that line a
        citation and an evidence were set and no required annotation was
        missing — the guards of a qualified relation, which
        :meth:`statement_key_triples` replaces by a placeholder context.
        """
        header, _, statements = self._split_page(lines)
        control = header.control()
        keys = []
        for number, line in statements:
            if is_control_line(line):
                try:
                    _apply_control_line(control, number, line)
                except Exception:
                    # A malformed control line (UndefinedAnnotation,
                    # MissingCitation, InvalidCitation*, ScannerError...)
                    # is a warning in compile(), which goes on with the
                    # page: the line mutates nothing after its failure
                    # point, as in the reference parser. Do not re-raise;
                    # equality with compile() is fuzzed in tests.
                    pass
                continue
            keys.append((header.key, line, bool(
                control.citation_is_set and control.evidence
                and not control.get_missing_required_annotations())))
        return keys

    def statement_key_triples(self, header, statement, qualified):
        """Triples of one distinct statement key — the stage-3 parse of
        :func:`pybel_spark.pipeline.extract_triples_deduped`.

        ``header`` is the key's :func:`statement_key_header`,
        ``statement`` one sanitized statement line, and ``qualified``
        the flag :meth:`statement_keys` gave it in its document.

        The key is parsed under its header's shared
        :meth:`_Header.key_control`: a qualified key under a placeholder
        citation and evidence, an unqualified one under an empty control
        state, so qualified relations raise exactly as they did in the
        document while structural triples still emit. That control state
        is never mutated; a control line would mutate it, so it is
        rejected. Returns a list of ``(subject, predicate, object)``.
        """
        if is_control_line(statement):
            raise ValueError(
                'a statement key cannot be a control line: {!r}'
                .format(statement))
        parsed = self._header(header.partition('\n')[2])
        state = _CompileState(parsed, parsed.key_control(qualified))
        # the line number reaches only warnings and edge rows, not triples
        state.parse_statements([(1, statement)])
        return state.triples()


class _Header:
    """One parsed header: metadata, definitions, warnings, term parser and
    statement memo of a header text, whose lines are numbered from 1. It
    depends on the text alone, so every page and statement key with that
    text shares it; a page restamps the warnings with its own line
    numbers (:meth:`page_warnings`)."""

    def __init__(self, config: DocumentCompiler, text):
        self.config = config
        self.metadata = {}
        self.namespaces = {}           # keyword -> {name: encoding}
        self.namespace_patterns = {}   # keyword -> compiled regex
        self.annotation_terms = {}     # keyword -> set of values
        self.annotation_patterns = {}
        self.annotation_locals = {}
        self.warnings = []
        documents, definitions, _ = split_sections(
            enumerate(text.split('\n') if text else [], start=1))
        #: the header column of this header's statement keys
        self.key = statement_key_header(documents, definitions)
        self.parse_document_section(documents)
        self.parse_definitions(definitions)
        self.term_parser = BELTermParser(
            namespaces=self.namespaces,
            namespace_patterns=self.namespace_patterns,
            allow_naked_names=config.allow_naked_names,
            skip_validation=config.skip_validation,
            disallow_nested=config.disallow_nested,
            disallow_unqualified_translocations=config.disallow_unqualified_translocations,
        )
        self._statements = {}          # line -> parse outcome
        self._key_controls = {}        # qualified -> shared control state

    def parse_document_section(self, documents):
        for number, line in documents:
            m = _SET_DOC_RE.match(line)
            if m is None:
                exc = MalformedMetadataException(number, line, 0)
                self._warn(exc)
                continue
            key = m.group(1)
            value = m.group(2) if m.group(2) is not None else m.group(3)
            norm = DOCUMENT_KEYS.get(key)
            if norm is None:
                self._warn(MalformedMetadataException(number, line, 0))
                continue
            if norm in self.metadata:
                continue  # first definition wins (parse_metadata.py:158-160)
            self.metadata[norm] = value
            if norm == 'version' and not _valid_version(value):
                self._warn(VersionFormatWarning(number, line, 0, value))
        for required in REQUIRED_METADATA:
            if required not in self.metadata:
                exc = MissingMetadataException(None, None, 0, required)
                self.warnings.insert(0, _warning_row(exc, None))

    def parse_definitions(self, definitions):
        for number, line in definitions:
            try:
                self._parse_define(number, line)
            except BELParserWarning as exc:
                self._warn(exc)
            except Exception:
                self._warn(MalformedMetadataException(number, line, 0))

    def _parse_define(self, number, line):
        m = _DEFINE_RE.match(line)
        if m is None:
            raise MalformedMetadataException(number, line, 0)
        kind, keyword, how, rest = m.groups()
        rest = rest.strip()
        if kind == 'NAMESPACE':
            if keyword in self.namespaces or keyword in self.namespace_patterns:
                raise RedefinedNamespaceError(number, line, 0, keyword)
            if how == 'URL':
                url = _unquote(rest)
                self.namespaces[keyword] = self.config.resources.namespace(url)
            elif how == 'PATTERN':
                self.namespace_patterns[keyword] = re.compile(_unquote(rest))
            else:
                raise MalformedMetadataException(number, line, 0)
        else:
            if keyword in self.annotation_terms or keyword in self.annotation_patterns \
                    or keyword in self.annotation_locals:
                raise RedefinedAnnotationError(number, line, 0, keyword)
            if how == 'URL':
                url = _unquote(rest)
                self.annotation_terms[keyword] = self.config.resources.annotation(url)
            elif how == 'PATTERN':
                self.annotation_patterns[keyword] = re.compile(_unquote(rest))
            elif how == 'LIST':
                values = re.findall(r'"((?:[^"\\]|\\.)*)"', rest)
                self.annotation_locals[keyword] = set(values)

    def _warn(self, exc):
        self.warnings.append(_warning_row(exc, None))

    def page_warnings(self, numbers):
        """The header warnings of a page whose header line ``i`` is page
        line ``numbers[i - 1]``. Rows without a line number (missing
        metadata) stay at ``None``."""
        return [row if row['line_number'] is None
                else dict(row, line_number=numbers[row['line_number'] - 1])
                for row in self.warnings]

    def control(self):
        """A fresh control state for one page (SET/UNSET state)."""
        return ControlState(
            annotation_to_term=self.annotation_terms,
            annotation_to_pattern=self.annotation_patterns,
            annotation_to_local=self.annotation_locals,
            citation_clearing=self.config.citation_clearing,
            required_annotations=self.config.required_annotations,
        )

    def key_control(self, qualified):
        """The control state shared by every statement key of this header
        with this ``qualified`` flag: a placeholder citation and evidence
        when qualified, none otherwise. The flag already includes
        ``required_annotations``, so it requires none. Never mutated."""
        control = self._key_controls.get(qualified)
        if control is None:
            control = self._key_controls[qualified] = self.control()
            control.required_annotations = []
            if qualified:
                control.citation_db, control.citation_db_id = 'PubMed', '1'
                control.evidence = '-'
        return control

    def parse_statement(self, number, line):
        """The parse of statement ``line`` at page line ``number``.

        Web corpora repeat statements (boilerplate/syndication) massively,
        and a parse outcome — the result dict (never mutated downstream;
        all node construction is copy-on-build in bel.model) or the raised
        warning — is a pure function of (header, line), so it is memoized
        here. A replayed warning is re-stamped with ``number``."""
        entry = self._statements.get(line)
        if entry is None:
            try:
                entry = ('ok', self.term_parser.parse_statement(line, number))
            except BELParserWarning as exc:
                entry = ('err', exc)
            if len(self._statements) < _CACHE_SIZE:
                self._statements[line] = entry
        if entry[0] == 'err':
            exc = entry[1]
            exc.line_number = number
            raise exc
        return entry[1]


class _CompileState:
    """The per-page state of one compile under a shared :class:`_Header`:
    the control state, the node and edge records, and the warnings."""

    def __init__(self, header: _Header, control):
        self.header = header
        self.control = control
        self.warnings = []
        self.nodes = {}                # bel -> node dict
        self.edges = {}                # edge identity -> edge record

    # ---------------- statements ----------------

    def parse_statements(self, statements):
        for number, line in statements:
            try:
                self._parse_statement_line(number, line)
            except BELParserWarning as exc:
                self._warn(exc)
            except Exception:
                self._warn(BELSyntaxError(number, line, 0))

    def _parse_statement_line(self, number, line):
        if is_control_line(line):
            _apply_control_line(self.control, number, line)
            return

        stmt = self.header.parse_statement(number, line)
        kind = stmt['type']

        if kind == 'term':
            self.ensure_node(stmt['subject']['node'])
            return

        if kind == 'list_relation':
            parent = self.ensure_node(stmt['subject']['node'])
            relation = IS_A if stmt['relation'] == 'hasMembers' else PART_OF
            for child in stmt['children']:
                child_bel = self.ensure_node(child['node'])
                self.add_unqualified_edge(child_bel, parent, relation, number)
            return

        if kind == 'nested':
            inner = stmt['object']
            self._handle_qualified(number, line, stmt['subject'],
                                   stmt['relation'], inner['subject'])
            self._handle_qualified(number, line, inner['subject'],
                                   inner['relation'], inner['object'])
            return

        relation = stmt['relation']
        subject, obj = stmt['subject'], stmt['object']

        if relation in ('hasMember', 'hasComponent'):
            # reversed unqualified insertion (parse_bel.py:841-847)
            u = self.ensure_node(subject['node'])
            v = self.ensure_node(obj['node'])
            self.add_unqualified_edge(v, u, relation, number)
            return

        if relation in (HAS_VARIANT, HAS_REACTANT, HAS_PRODUCT):
            u = self.ensure_node(subject['node'])
            v = self.ensure_node(obj['node'])
            self.add_unqualified_edge(u, v, relation, number)
            return

        self._handle_qualified(number, line, subject, relation, obj)

    def _handle_qualified(self, number, line, subject, relation, obj):
        """Citation/evidence guards + qualified edge insertion
        (parse_bel.py:770-831)."""
        if not self.control.citation_is_set:
            raise MissingCitationException(number, line, 0)
        if not self.control.evidence:
            raise MissingSupportWarning(number, line, 0)
        missing = self.control.get_missing_required_annotations()
        if missing:
            raise MissingAnnotationWarning(number, line, 0, missing)

        u_bel = self.ensure_node(subject['node'])
        v_bel = self.ensure_node(obj['node'])
        u_mod = _term_modifier(subject)
        v_mod = _term_modifier(obj)
        annotations = self.control.prepared_annotations()

        if relation in TWO_WAY_RELATIONS:
            self._add_qualified(number, v_bel, obj['node'], v_mod,
                                relation, u_bel, subject['node'], u_mod, annotations)
        self._add_qualified(number, u_bel, subject['node'], u_mod,
                            relation, v_bel, obj['node'], v_mod, annotations)

    def _add_qualified(self, number, u_bel, u_node, u_mod, relation,
                       v_bel, v_node, v_mod, annotations):
        if relation == BINDS:
            # u binds v → u directlyIncreases complex(u, v) (graph.py:490-510)
            complex_node = model.make_list(COMPLEX, [u_node, v_node])
            v_bel = self.ensure_node(complex_node)
            v_node = complex_node
            relation = DIRECTLY_INCREASES

        self.add_edge_row(
            source=u_bel, target=v_bel, relation=relation,
            citation_db=self.control.citation_db,
            citation_id=self.control.citation_db_id,
            evidence=self.control.evidence,
            annotations=annotations,
            subject_modifier=u_mod, object_modifier=v_mod,
            line=number, source_node=u_node, target_node=v_node,
        )

    # ---------------- insertion primitives ----------------

    def ensure_node(self, node):
        """Register the node and its derived structural edges
        (graph.py:557-577). Returns the canonical BEL string."""
        bel = model.node_as_bel(node)
        if bel in self.nodes:
            return bel
        self.nodes[bel] = node

        if node.get('variants'):
            parent = model.get_parent(node)
            parent_bel = self.ensure_node(parent)
            self.add_unqualified_edge(parent_bel, bel, HAS_VARIANT, None)
        elif node.get('members') is not None:
            for member in node['members']:
                member_bel = self.ensure_node(member)
                self.add_unqualified_edge(member_bel, bel, PART_OF, None)
        elif node['function'] == REACTION:
            for reactant in node['reactants']:
                r_bel = self.ensure_node(reactant)
                self.add_unqualified_edge(bel, r_bel, HAS_REACTANT, None)
            for product in node['products']:
                p_bel = self.ensure_node(product)
                self.add_unqualified_edge(bel, p_bel, HAS_PRODUCT, None)
        return bel

    def add_unqualified_edge(self, u_bel, v_bel, relation, line):
        self.add_edge_row(
            source=u_bel, target=v_bel, relation=relation,
            citation_db=None, citation_id=None, evidence=None,
            annotations=None, subject_modifier=None, object_modifier=None,
            line=line,
            source_node=self.nodes[u_bel], target_node=self.nodes[v_bel],
        )

    def add_edge_row(self, *, source, target, relation, citation_db,
                     citation_id, evidence, annotations, subject_modifier,
                     object_modifier, line, source_node, target_node):
        """Record one edge; first writer wins. The identity holds the
        components of the edge id in the order :func:`_edge_id` hashes
        them, so the row is built from the record only when
        :meth:`result` asks for it."""
        key = (source, target,
               None if citation_db is None
               else '{}:{}'.format(citation_db, citation_id),
               evidence,
               _canonicalize_modifier(subject_modifier),
               _canonicalize_modifier(object_modifier),
               relation)
        if key in self.edges:
            return
        self.edges[key] = (source, target, relation, citation_db,
                           citation_id, evidence, annotations,
                           subject_modifier, object_modifier, line,
                           source_node, target_node)

    # ---------------- output ----------------

    def _warn(self, exc):
        self.warnings.append(_warning_row(exc, {
            'citation_db': self.control.citation_db,
            'citation_id': self.control.citation_db_id,
            'evidence': self.control.evidence,
        }))

    def triples(self):
        """One ``(subject, predicate, object)`` per edge record that has a
        triple, in insertion order."""
        out = []
        for (_, _, relation, _, _, _, _, _, object_modifier, _,
             source_node, target_node) in self.edges.values():
            triple = edge_to_triple(source_node, target_node, relation,
                                    object_modifier)
            if triple:
                out.append(triple)
        return out

    def _node_row(self, bel, node):
        """The node row of ``bel``, through the compiler's row cache."""
        row_cache = self.header.config._node_row_cache
        row = row_cache.get(bel)
        if row is None:
            variants = node.get('variants') or []
            concept = node.get('concept') or {}
            row = {
                'node_bel': bel,
                'node_id': _node_id(bel),
                'function': node['function'],
                'namespace': concept.get('namespace'),
                'name': concept.get('name'),
                'identifier': concept.get('identifier'),
                'variant_kinds': sorted({v['kind'] for v in variants}) or None,
                'n_members': len(node['members'])
                if node.get('members') is not None else None,
                'n_reactants': len(node['reactants'])
                if node.get('reactants') else None,
                'n_products': len(node['products'])
                if node.get('products') else None,
                'has_fusion': bool(node.get('fusion')),
                'node_json': json.dumps(node, sort_keys=True,
                                        separators=(',', ':')),
            }
            if len(row_cache) < _CACHE_SIZE:
                row_cache[bel] = row
        return row

    def result(self, emitted=None):
        """The rows of this page. With ``emitted``, a pair of seen sets
        (node identities, edge identities), only the rows whose identity
        is not in them yet (see :meth:`DocumentCompiler.compile_new`)."""
        nodes = [self._node_row(bel, node) for bel, node in self.nodes.items()
                 if emitted is None or _first_sighting(emitted[0], bel)]
        # endpoint ids without building a row: a skipped node's id is the
        # md5 its row would carry
        ids = {row['node_bel']: row['node_id'] for row in nodes}

        def node_id(bel):
            return ids.get(bel) or _node_id(bel)

        edges = []
        for key, (source, target, relation, citation_db, citation_id,
                  evidence, annotations, subject_modifier, object_modifier,
                  line, source_node, target_node) in self.edges.items():
            if emitted is not None and not _first_sighting(emitted[1], key):
                continue
            triple = edge_to_triple(source_node, target_node, relation,
                                    object_modifier)
            edges.append({
                'edge_id': _edge_id(key),
                'source_bel': source,
                'source_id': node_id(source),
                'target_bel': target,
                'target_id': node_id(target),
                'relation': relation,
                'citation_db': citation_db,
                'citation_id': citation_id,
                'evidence': evidence,
                'annotations': annotations or None,
                'subject_modifier': _json_or_none(subject_modifier),
                'object_modifier': _json_or_none(object_modifier),
                'subject_modifier_kind': (subject_modifier or {}).get('modifier'),
                'object_modifier_kind': (object_modifier or {}).get('modifier'),
                'line': line,
                'triple_subject': triple[0] if triple else None,
                'triple_predicate': triple[1] if triple else None,
                'triple_object': triple[2] if triple else None,
                # populated post-hoc by citations.enrich_pubmed_citations —
                # the reference likewise only gets authors from enrichment
                # (manager/citation_utils.py:137-244), never from parsing
                'citation_authors': None,
            })
        return {
            'metadata': self.header.metadata,
            'nodes': nodes,
            'edges': edges,
            'warnings': self.warnings,
        }


_SEMVER_RE = re.compile(r'(?P<major>\d+)\.(?P<minor>\d+)\.(?P<patch>\d+)'
                        r'(?:-[0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*)?'
                        r'(?:\+[0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*)?')
_DATE_VERSION_RE = re.compile(r'\d{8}$')


def _valid_version(value):
    """Semantic version or YYYYMMDD date version (parse_metadata.py:37-42,
    utils.py valid_date_version)."""
    return bool(_SEMVER_RE.match(value)) or bool(_DATE_VERSION_RE.match(value))


def _unquote(s):
    s = s.strip()
    if s.startswith('"') and s.endswith('"') and len(s) >= 2:
        return s[1:-1]
    return s


def _first_sighting(seen, identity):
    """False if ``identity`` is in ``seen``; else True, and ``identity``
    joins ``seen`` while it holds fewer than ``_CACHE_SIZE`` entries."""
    if identity in seen:
        return False
    if len(seen) < _CACHE_SIZE:
        seen.add(identity)
    return True


def _json_or_none(obj):
    if obj is None:
        return None
    return json.dumps(obj, sort_keys=True, separators=(',', ':'))

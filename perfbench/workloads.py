"""Seeded crawl batches for the KG-construction benchmark.

The benchmark builds its own input from the frozen reference fixtures
(``fixtures/pool.json``: 78 BEL statement units, each with the triples the
reference compiler emitted for it; ``fixtures/resources.json``: the
namespace/annotation values). It does not use ``pybel_spark.corpus``, so no
change to the program can move the workload.

Every page has the shape ``url, warc_ts, html, text, lang``: prose around
the shared definition header and one to three statement units. About 20%
of pages carry only ``html`` (``text`` is NULL), so the pipeline has to
extract their text first.

Two workloads:

- ``syndicated_crawl``: units drawn as they are. Every statement recurs
  thousands of times, so the statement memo and the dedup path collapse
  parsing to about 78 distinct keys.
- ``novel_statements_crawl``: the same pages, but each unit occurrence is
  rewritten by a seeded renaming. HGNC names get an occurrence prefix (the
  new names join the HGNC namespace with the original's encoding) and
  pmod/substitution/HGVS positions are redrawn. The same rewrite is applied
  to the unit's golden triples, so the expected output still comes from the
  reference compiler. Nearly every statement is unique.

The expected triples of a batch are the union of its units' golden
triples, rewritten like the units.
"""
import html
import json
import os
import random
import re
from datetime import datetime, timedelta, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POOL_PATH = os.path.join(ROOT, 'fixtures', 'pool.json')
RESOURCES_PATH = os.path.join(ROOT, 'fixtures', 'resources.json')
HGNC_URL = 'file://hgnc-names.belns'

WORKLOADS = ('syndicated_crawl', 'novel_statements_crawl')

HTML_ONLY_SHARE = 0.2
LANG_DE_SHARE = 1 / 29
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_WORDS = ('alpha beta gamma delta epsilon zeta eta theta iota kappa lambda '
          'mu protein signal pathway cell receptor kinase binding factor '
          'growth').split()
_WORDS_DE = 'zelle signal weg rezeptor bindung faktor wachstum eiweiss'.split()

_HGNC_RE = re.compile(r'HGNC:([A-Za-z0-9_]+)')
_PMOD_POS_RE = re.compile(r'(pmod\([^()]*?,\s*)(\d+)(\s*\))')
_SUB_POS_RE = re.compile(r'(sub\(\s*[A-Za-z]+\s*,\s*)(\d+)')
_VAR_RE = re.compile(r'(var\(\s*"?)([^()"]*)')
_DIGITS_RE = re.compile(r'\d+')
_BASE36 = '0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ'
_CODE_SPACE = 36 ** 5


def load_pool():
    with open(POOL_PATH) as f:
        return json.load(f)


def load_resources():
    with open(RESOURCES_PATH) as f:
        return json.load(f)


def is_statement(line):
    """A BEL statement line of a unit (control lines are SET/UNSET)."""
    return not (line.startswith('SET ') or line.startswith('UNSET '))


class Renamer:
    """Seeded per-occurrence rewrite of a unit and its golden triples.

    Occurrence ``k`` gets the prefix ``'Q' + base36((a*k + b) mod 36^5)``;
    ``a`` is coprime with 36, so prefixes never repeat within a batch. The
    prefix is shared by every name of the occurrence, which keeps the
    relative order of its names, and with it the canonical order of
    complex/composite/reaction members. A redrawn position keeps its length
    and leading digit, so sorted variant lists keep their order too.
    """

    def __init__(self, rng, hgnc):
        self.rng = rng
        self.hgnc = hgnc
        a = rng.randrange(1, _CODE_SPACE)
        while a % 2 == 0 or a % 3 == 0:
            a = rng.randrange(1, _CODE_SPACE)
        self.a, self.b = a, rng.randrange(_CODE_SPACE)
        self.k = 0
        self.new_names = {}

    def _prefix(self):
        code = (self.a * self.k + self.b) % _CODE_SPACE
        self.k += 1
        chars = []
        for _ in range(5):
            code, r = divmod(code, 36)
            chars.append(_BASE36[r])
        return 'Q' + ''.join(chars)

    def _redraw(self, number, positions):
        new = positions.get(number)
        if new is not None:
            return new
        taken = set(positions.values())
        for _ in range(100):
            new = number[0] + ''.join(
                self.rng.choice('0123456789') for _ in number[1:])
            if len(number) == 1 or (new != number and new not in taken):
                break
        positions[number] = new
        return new

    def rewrite(self, unit):
        """(lines, triples) of one renamed occurrence of ``unit``."""
        prefix = self._prefix()
        positions = {}

        def name(m):
            if m.group(1) not in self.hgnc:
                return m.group(0)  # e.g. HGNC:missing stays ungrounded
            new = prefix + m.group(1)
            self.new_names[new] = self.hgnc[m.group(1)]
            return 'HGNC:' + new

        def pos(m):
            return m.group(1) + self._redraw(m.group(2), positions) + \
                (m.group(3) if m.lastindex >= 3 else '')

        def var_line(m):
            return m.group(1) + _DIGITS_RE.sub(
                lambda d: self._redraw(d.group(0), positions), m.group(2))

        lines = []
        for line in unit['lines']:
            if is_statement(line):
                line = _HGNC_RE.sub(name, line)
                line = _PMOD_POS_RE.sub(pos, line)
                line = _SUB_POS_RE.sub(pos, line)
                line = _VAR_RE.sub(var_line, line)
            lines.append(line)

        def known(d):
            return positions.get(d.group(0), d.group(0))

        def triple_part(text):
            text = _HGNC_RE.sub(
                lambda m: 'HGNC:' + prefix + m.group(1)
                if m.group(1) in self.hgnc else m.group(0), text)
            text = _PMOD_POS_RE.sub(
                lambda m: m.group(1) + known(_DIGITS_RE.match(m.group(2)))
                + m.group(3), text)
            return _VAR_RE.sub(
                lambda m: m.group(1) + _DIGITS_RE.sub(known, m.group(2)),
                text)

        triples = [(triple_part(s), p, triple_part(o))
                   for s, p, o in unit['golden']['triples']]
        return lines, triples


def _prose(rng, lang):
    words = _WORDS_DE if lang == 'de' else _WORDS
    return ' '.join(rng.choice(words) for _ in range(8)) + '.'


def _html_page(title, text):
    body = '\n'.join('<p>{}</p>'.format(html.escape(line, quote=False))
                     for line in text.split('\n'))
    return ('<html><head><meta charset="utf-8"><title>{}</title></head>\n'
            '<body>\n{}\n</body></html>').format(title, body).encode('utf-8')


class Batch:
    """One generated crawl batch and everything needed to check it."""

    def __init__(self, workload, seed, n_docs, pool, resources):
        if workload not in WORKLOADS:
            raise ValueError('unknown workload {!r}'.format(workload))
        rng = random.Random('{}:{}:{}'.format(workload, seed, n_docs))
        hgnc = resources['namespaces'][HGNC_URL]
        renamer = Renamer(rng, hgnc) if workload == 'novel_statements_crawl' \
            else None
        header_block = '\n'.join(pool['header'])
        units = pool['units']

        self.n_docs = n_docs
        self.resources = resources
        self.expected = set()
        self.urls, self.ts, self.html, self.text, self.lang = \
            [], [], [], [], []
        statements = []
        for i in range(n_docs):
            lang = 'de' if rng.random() < LANG_DE_SHARE else 'en'
            parts = [_prose(rng, lang), header_block]
            for _ in range(rng.randint(1, 3)):
                unit = units[rng.randrange(len(units))]
                if renamer is None:
                    lines = unit['lines']
                    triples = map(tuple, unit['golden']['triples'])
                else:
                    lines, triples = renamer.rewrite(unit)
                self.expected.update(triples)
                statements.extend(ln for ln in lines if is_statement(ln))
                parts.append('\n'.join(lines))
            parts.append(_prose(rng, lang))
            text = '\n\n'.join(parts)
            self.urls.append('https://crawl.test/{}/{}/{}'.format(
                workload, seed, i))
            self.ts.append(EPOCH + timedelta(seconds=i))
            self.lang.append(lang)
            if rng.random() < HTML_ONLY_SHARE:
                self.html.append(_html_page('Page {}'.format(i), text))
                self.text.append(None)
            else:
                self.html.append(None)
                self.text.append(text)
        self.n_statements = len(statements)
        self.n_distinct_statements = len(set(statements))
        self.new_hgnc_names = renamer.new_names if renamer else {}

    def catalog_dict(self):
        """{'namespaces': ..., 'annotations': ...} with the batch's renamed
        HGNC names added (same encoding as the name they replace)."""
        namespaces = dict(self.resources['namespaces'])
        if self.new_hgnc_names:
            hgnc = dict(namespaces[HGNC_URL])
            hgnc.update(self.new_hgnc_names)
            namespaces[HGNC_URL] = hgnc
        return {'namespaces': namespaces,
                'annotations': {url: set(values) for url, values
                                in self.resources['annotations'].items()}}

    def write_parquet(self, path, n_files):
        """Write the batch as ``n_files`` parquet files under ``path``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            pa.field('url', pa.string(), nullable=False),
            pa.field('warc_ts', pa.timestamp('us', tz='UTC')),
            pa.field('html', pa.binary()),
            pa.field('text', pa.string()),
            pa.field('lang', pa.string()),
        ])
        os.makedirs(path, exist_ok=True)
        step = -(-self.n_docs // n_files)
        for f, start in enumerate(range(0, self.n_docs, step)):
            sl = slice(start, start + step)
            table = pa.table({
                'url': self.urls[sl], 'warc_ts': self.ts[sl],
                'html': self.html[sl], 'text': self.text[sl],
                'lang': self.lang[sl]}, schema=schema)
            pq.write_table(table, os.path.join(
                path, 'part-{:05d}.parquet'.format(f)))

"""Single-core throughput of the pipeline's per-document layers.

Each rate times one public layer entry point in this process, on a fixed
sample of the batch, so it moves only with that layer's code:
``corpus.extract_text``, ``pipeline.mask_non_bel_lines``,
``bel.compiler.DocumentCompiler.compile`` (a fresh compiler per pass
over the sample, as in a Spark task) and
``bel.grammar.BELTermParser.parse_statement`` (a fresh parser, no memo,
the sample's distinct statements).
"""
import re
import time

#: every rate repeats passes over its sample for at least this long
MIN_SECONDS = 0.3

_DEFINE_NS_RE = re.compile(
    r'^DEFINE NAMESPACE (\S+) AS (URL|PATTERN) "(.*)"\s*$')
_CONTROL = ('SET ', 'UNSET', 'DEFINE ')


def _passes_per_second(one_pass):
    """Rate of ``one_pass()`` calls, repeated for MIN_SECONDS."""
    passes = 0
    t0 = time.perf_counter()
    while True:
        one_pass()
        passes += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= MIN_SECONDS:
            return passes / elapsed


def layer_metrics(batch, catalog, header, sample_docs):
    from pybel_spark.bel.compiler import DocumentCompiler
    from pybel_spark.bel.exc import BELParserWarning
    from pybel_spark.bel.grammar import BELTermParser
    from pybel_spark.corpus import extract_text
    from pybel_spark.pipeline import BEL_LINE_RE, mask_non_bel_lines

    html_docs = [h for h in batch.html if h is not None][:sample_docs]
    texts = [t for t in batch.text if t is not None][:sample_docs]
    masked = [mask_non_bel_lines(t) for t in texts]
    n_lines = sum(len(m) for m in masked)
    n_kept = sum(1 for m in masked for line in m if line)
    n_stmts = sum(1 for m in masked for line in m
                  if line and not line.lstrip().startswith(_CONTROL))

    def compile_pass():
        compiler = DocumentCompiler(resources=catalog)
        for lines in masked:
            compiler.compile(lines)

    namespaces, patterns = {}, {}
    for line in header:
        m = _DEFINE_NS_RE.match(line)
        if m is None:
            continue
        keyword, how, value = m.groups()
        if how == 'URL':
            namespaces[keyword] = catalog.namespace(value)
        else:
            patterns[keyword] = re.compile(value)
    statements = sorted({line for t in texts for line in t.split('\n')
                         if BEL_LINE_RE.match(line)
                         and not line.startswith(_CONTROL)})

    def parse_pass():
        parser = BELTermParser(namespaces=namespaces,
                               namespace_patterns=patterns)
        for line in statements:
            try:
                parser.parse_statement(line)
            except BELParserWarning:
                pass  # slushy units are meant to fail

    compile_rate = _passes_per_second(compile_pass)
    return {
        'corpus.extract_text_docs_per_s': len(html_docs) * _passes_per_second(
            lambda: [extract_text(h) for h in html_docs]),
        'pipeline.mask_lines_per_s': n_lines * _passes_per_second(
            lambda: [mask_non_bel_lines(t) for t in texts]),
        'pipeline.bel_line_ratio': n_kept / n_lines,
        'bel.compiler.compile_docs_per_s': len(masked) * compile_rate,
        'bel.compiler.compile_stmts_per_s': n_stmts * compile_rate,
        'bel.grammar.parse_statement_per_s':
            len(statements) * _passes_per_second(parse_pass),
        'workload.distinct_statement_ratio':
            batch.n_distinct_statements / batch.n_statements,
    }

"""Cross-batch incremental parse index: parse each unique statement ONCE
— ever, across all crawl batches — not once per batch.

At 10^12-document scale a crawl is mostly RE-crawl: the same BEL statement
under the same definition header recurs across snapshots, mirrors, and
syndicated pages. :func:`pybel_spark.pipeline.extract_triples_deduped`
already bounds parse cost by the batch's UNIQUE content; this module
persists that unique-content knowledge so the NEXT batch anti-joins the
historical key set and parses only statements never seen before. It is
the parse-stage analogue of the MinHash band index
(``textops/dedup.py`` ``band_index_*``) and composes with it in the
steady-state ingestion loop: near-dedup the new batch against the band
index, then fold the survivors' novel statements here.

Layout at ``<path>`` (any Hadoop-FS scheme Spark can write —
file://, hdfs://, s3a://):

- ``keys/``     parquet ``(key_hash)`` — every statement key ever parsed,
  including keys that produced ZERO triples (otherwise unparseable
  statements would be re-parsed by every future batch);
- ``triples/``  parquet ``(key_hash, subject, predicate, object)`` —
  the parse results, one row per emitted triple;
- ``params.json`` sidecar — a canonical fingerprint of the compiler
  options, so a probe with mismatched semantics fails loudly instead of
  silently mixing two grammars in one index.

Scale shape: the key is a 32-hex md5 of (header, statement, qualified) —
uniformly distributed by construction, so the anti-join shuffles short
uniform strings with no skew. The batch-key distinct runs before the
hash, on the stage-1 columns: its header column is the header's md5, a
newline and the full header text. About 850 bytes of it per key on a
16-line header cross Arrow and are hashed by the distinct; shuffle
compression absorbs the repeated header in the shuffle files (about 70
bytes per key in all on a novel perfbench batch). The
``keys/`` scan reads exactly one 16-byte-entropy column; the index
grows with the corpus's unique-statement space (orders of magnitude
below document count on web corpora), and parse cost is paid once per
unique statement EVER.

Parse notes: the batch keys come from the same stage 1 as
:func:`pybel_spark.pipeline.extract_triples_deduped`
(:meth:`~pybel_spark.bel.compiler.DocumentCompiler.statement_keys`), and
the novel keys are parsed by the same stage 3, both from the caller's
compiler options unchanged. Each executor parses a header once and
prepares one control state per (header, qualified flag) — a placeholder
or empty one — and parses each key's one statement line against them. Before the parse the keys are
repartitioned round-robin over ``defaultParallelism`` partitions:
AQE sizes partitions by bytes and would put the keys of a whole batch
into one partition, while the parse costs CPU per row, so without
the repartition one Python task would parse every novel key while the
other cores idle.

Crash contract (same at-least-once + read-side-collapse discipline as
the manifest committer): :func:`parse_index_update` appends ``triples/``
BEFORE ``keys/``. A crash between the two leaves the affected keys
absent from ``keys/`` → the next update re-parses them and appends
their triples again; the duplicate rows are collapsed by the read-side
``distinct`` in :func:`triples_from_index`. The reverse order would
record keys whose triples were never written — silently LOST output —
so do not "optimize" the write order. A full replay of an
already-folded batch is a no-op: the anti-join leaves nothing novel.

Consistency contract: the sidecar fingerprints the COMPILER OPTIONS;
the resource CATALOG is the caller's responsibility (namespace/
annotation resolution feeds the qualified flag, so probing with a
different catalog than the index was built with can produce keys the
index has never seen — they are parsed as novel, never silently
dropped, but the index then mixes two groundings). Concurrent updaters
are safe in the at-least-once sense: both may parse the same novel
keys and double-append; read-side distinct collapses the output, and
the anti-join semantics are unaffected by duplicate key rows. Wrap
updates in the pipeline's writer lease if exactly-once metrics matter.

Reference parity: the reference compiler has no incremental mode (it
re-parses every document per run, ``/root/reference/src/pybel/io``);
this is a from-scratch capability the north rule's checkpoint-resumable
10^12-doc shape requires.
"""
import json

from pyspark.sql import DataFrame, functions as F

from .pipeline import (_KEYED_TRIPLES_SCHEMA, _parse_statement_keys,
                       _statement_keys, load_corpus_catalog, statement_keys)
from .textops.sidecar import (read_json_sidecar, sidecar_exists,
                              write_json_sidecar)

#: separator for the key preimage — cannot occur in sanitized BEL lines
_SEP = '\u0000'
#: schema of ``keys/``; like ``triples/`` (``_KEYED_TRIPLES_SCHEMA``) it is
#: given to every read, so no read runs a Spark job to infer it from a footer
_KEYS_SCHEMA = 'key_hash string'


def _with_key_hash(keys: DataFrame) -> DataFrame:
    """Attach the uniform 128-bit statement key. concat_ws never sees a
    NULL here (stage 1 emits non-null strings and a non-null boolean),
    so the encoding is injective given the NUL separator."""
    return keys.withColumn(
        'key_hash',
        F.md5(F.concat_ws(_SEP, 'header', 'statement',
                          F.col('qualified').cast('string'))))


def _options_fingerprint(compiler_options) -> str:
    """Canonical JSON of the compiler options (sets become sorted
    lists); probing an index with different options is a semantic
    mismatch, not a tunable."""
    return json.dumps(compiler_options or {}, sort_keys=True,
                      default=lambda o: sorted(o))


def parse_index_exists(spark, path: str) -> bool:
    """True iff the index sidecar EXISTS — the bootstrap-or-update
    decision must not conflate 'no index yet' with 'index unreadable
    right now' (same contract as ``band_index_exists``)."""
    return sidecar_exists(spark, path + '/params.json')


def _check_options(spark, path: str, compiler_options) -> None:
    meta = read_json_sidecar(spark, path + '/params.json')
    fp = _options_fingerprint(compiler_options)
    if meta['options'] != fp:
        raise ValueError(
            'parse index at {} was built with compiler options {} but '
            'probed with {}; rebuild the index or pass matching '
            'options'.format(path, meta['options'], fp))


def _parse_and_write(novel: DataFrame, path: str, catalog_bc,
                     compiler_options, mode: str) -> None:
    """Parse the novel keys and persist results — triples FIRST, then
    keys (see the module crash contract)."""
    _parse_statement_keys(novel, catalog_bc, compiler_options,
                          with_key_hash=True) \
        .write.mode(mode).parquet(path + '/triples')
    novel.select('key_hash').write.mode(mode).parquet(path + '/keys')


def parse_index_write(documents: DataFrame, path: str, catalog=None,
                      compiler_options=None) -> dict:
    """Bootstrap (overwrite) the index from a corpus; returns metrics
    ``{'batch_keys': n, 'novel_keys': n}``. The sidecar is written LAST
    so a crash mid-bootstrap leaves a non-"existing" index rather than
    a half-written one."""
    spark = documents.sparkSession
    if catalog is None:
        catalog = load_corpus_catalog()
    catalog_bc = spark.sparkContext.broadcast(catalog)
    keys = _with_key_hash(
        _statement_keys(documents, catalog_bc, compiler_options)).persist()
    try:
        n = keys.count()
        _parse_and_write(keys, path, catalog_bc, compiler_options,
                         mode='overwrite')
    finally:
        keys.unpersist()
    write_json_sidecar(spark, path + '/params.json', {
        'options': _options_fingerprint(compiler_options)})
    return {'batch_keys': n, 'novel_keys': n}


def parse_index_update(documents: DataFrame, path: str, catalog=None,
                       compiler_options=None) -> dict:
    """Fold a new batch into the index: anti-join the historical key set,
    parse ONLY the novel statement keys, append their results. Returns
    metrics ``{'batch_keys': n, 'novel_keys': n}`` — the per-batch
    novelty rate is the steady-state health signal of an ingestion loop
    (a re-crawl-heavy batch should show novel_keys ≪ batch_keys).

    Idempotent under replay: a batch already folded in contributes zero
    novel keys and writes nothing."""
    spark = documents.sparkSession
    _check_options(spark, path, compiler_options)
    if catalog is None:
        catalog = load_corpus_catalog()
    catalog_bc = spark.sparkContext.broadcast(catalog)
    keys = _with_key_hash(
        _statement_keys(documents, catalog_bc, compiler_options)).persist()
    try:
        n_batch = keys.count()
        known = spark.read.schema(_KEYS_SCHEMA).parquet(path + '/keys')
        novel = keys.join(known, on='key_hash', how='left_anti').persist()
        try:
            n_novel = novel.count()
            if n_novel:
                _parse_and_write(novel, path, catalog_bc,
                                 compiler_options, mode='append')
        finally:
            novel.unpersist()
    finally:
        keys.unpersist()
    return {'batch_keys': n_batch, 'novel_keys': n_novel}


def triples_from_index(spark, path: str, documents: DataFrame = None,
                       catalog=None, compiler_options=None) -> DataFrame:
    """Distinct (subject, predicate, object) triples recorded in the
    index — for the whole historical corpus, or restricted to the
    statements of ``documents`` (which must already be folded in via
    :func:`parse_index_update`; keys absent from the index contribute
    nothing — probe-then-read is the caller's loop, by design, so a
    read never mutates the index)."""
    t = spark.read.schema(_KEYED_TRIPLES_SCHEMA).parquet(
        path + '/triples')
    if documents is None:
        return t.select('subject', 'predicate', 'object').distinct()
    _check_options(spark, path, compiler_options)
    keys = _with_key_hash(
        statement_keys(documents, catalog, compiler_options)) \
        .select('key_hash')
    return (t.join(keys, on='key_hash')
            .select('subject', 'predicate', 'object').distinct())


def extract_triples_incremental(documents: DataFrame, path: str,
                                catalog=None,
                                compiler_options=None) -> DataFrame:
    """The steady-state batch step as one call: bootstrap-or-update the
    index with this batch, then return the batch's distinct triples
    (== ``extract_triples_deduped(documents)``, but parse cost is paid
    only for statements this index has never seen)."""
    spark = documents.sparkSession
    if parse_index_exists(spark, path):
        parse_index_update(documents, path, catalog, compiler_options)
    else:
        parse_index_write(documents, path, catalog, compiler_options)
    return triples_from_index(spark, path, documents, catalog,
                              compiler_options)


def parse_index_stats(spark, path: str) -> dict:
    """Index health metrics: total keys ever parsed, stored triple rows,
    and distinct triples (rows > distinct indicates crash-replay
    duplicates, which are harmless but measurable)."""
    keys = spark.read.schema(_KEYS_SCHEMA).parquet(path + '/keys')
    t = spark.read.schema(_KEYED_TRIPLES_SCHEMA).parquet(
        path + '/triples')
    return {
        'keys': keys.count(),
        'triple_rows': t.count(),
        'distinct_triples':
            t.select('subject', 'predicate', 'object').distinct().count(),
    }

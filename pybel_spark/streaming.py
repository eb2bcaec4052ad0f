"""Structured Streaming over an append-only documents table.

The reference is strictly batch (SURVEY.md §2.9); this is the Spark-native
add-on the north rule anticipates: new web-page files/snapshots land in the
input directory, the SAME vectorized parse stage processes them incrementally,
and outputs append with exactly-once file-sink semantics via the stream
checkpoint. Parsing itself is stateless per document (state lives in the
sink + checkpoint); on top of it sit a watermarked event-time windowed
aggregation (start_crawl_window_stream — late-data policy for crawl
timestamps) and a custom stateful operator (start_citation_stats_stream —
applyInPandasWithState running rollup).

Downstream dedup (distinct triples / nodes) is a batch view over the streamed
edge log: read_stream_output() applies the same content-hash dropDuplicates
used by the batch path.
"""
import os

from pyspark.sql import DataFrame, functions as F

from .corpus import load_corpus_catalog
from .pipeline import edge_triples, make_parse_func
from .schemas import DOCUMENTS_SCHEMA, PARSED_SCHEMA


def read_document_stream(spark, input_dir: str,
                         max_files_per_trigger: int = 16) -> DataFrame:
    """Incrementally read parquet documents dropped into ``input_dir``."""
    return (
        spark.readStream
        .schema(DOCUMENTS_SCHEMA)
        .option('maxFilesPerTrigger', str(max_files_per_trigger))
        .parquet(input_dir)
    )


def parse_document_stream(documents: DataFrame, catalog=None,
                          compiler_options=None) -> DataFrame:
    """The streaming parse: identical mapInPandas stage as the batch path."""
    if catalog is None:
        catalog = load_corpus_catalog()
    parse = make_parse_func(catalog, compiler_options,
                            spark=documents.sparkSession)
    return documents.mapInPandas(parse, schema=PARSED_SCHEMA)


def start_edge_stream(spark, input_dir: str, out_dir: str, catalog=None,
                      compiler_options=None, trigger_available_now=True):
    """Stream documents → exploded edge rows appended to a parquet log.

    Exactly-once via the file sink + checkpoint; restarting after a kill
    resumes from the last committed batch (complements the batch pipeline's
    bucket lineage).
    """
    parsed = parse_document_stream(
        read_document_stream(spark, input_dir), catalog, compiler_options)
    edges = (
        parsed.select(F.col('url'), F.explode('edges').alias('e'))
        .select('url', 'e.*')
    )
    writer = (
        edges.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'edges_log'))
        .option('checkpointLocation', os.path.join(out_dir, 'checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: KMV sketch width: per-citation state holds at most this many 32-char
#: md5 hex strings (~8 KB) no matter how hot the citation gets
CITATION_SKETCH_K = 256


def kmv_merge(new_hashes, old_hashes, overflowed, k):
    """Merge md5-hex hash sets into a k-minimum-values sketch.

    Returns (kept_hashes, overflowed, n_distinct): exact count while the
    union fits in ``k``; past that, the k smallest hashes are kept and the
    count is the KMV estimate ``(k-1)/h_(k)`` (the k-th smallest of n
    uniform hashes sits at ~k/n of the hash space), with ~1/sqrt(k-1)
    relative error. Trimming the union to the k smallest IS the sketch
    union, so merging is associative across micro-batches and restarts.
    """
    merged = set(new_hashes)
    merged.update(old_hashes or [])
    hashes = sorted(merged)
    if len(hashes) > k:
        overflowed = True
    if overflowed:
        hashes = hashes[:k]
        h_k = int(hashes[-1][:16], 16) / float(2 ** 64)
        n_distinct = int(round((len(hashes) - 1) / h_k)) if h_k > 0 \
            else len(hashes)
    else:
        n_distinct = len(hashes)
    return hashes, overflowed, n_distinct


def start_citation_stats_stream(spark, input_dir: str, out_dir: str,
                                catalog=None, compiler_options=None,
                                trigger_available_now=True,
                                sketch_k=CITATION_SKETCH_K,
                                idle_timeout_ms=None):
    """Custom STATEFUL streaming operator: running per-citation statistics.

    ``applyInPandasWithState`` keeps a (n_edges, distinct-evidence) rollup
    per (citation_db, citation_id) across micro-batches — the pattern for
    any custom stateful rollup the built-in windowed aggregations can't
    express. State is checkpointed with the query; a restart resumes.

    State is BOUNDED: the distinct-evidence count uses a KMV
    (k-minimum-values) sketch over md5(evidence) — the state row keeps only
    the ``sketch_k`` smallest hashes. Below the cap the count is exact
    (``evidences_exact`` true); a hot citation (a review PMID cited by
    millions of pages) overflows into the estimator
    ``(k-1) / h_(k)`` with ~1/sqrt(k-1) relative error, and its state stops
    growing. Merging KMV states (trim to k smallest after union) is the
    standard sketch union, so the running value stays consistent across
    micro-batches and restarts.

    TOTAL state size (number of live citation keys) is bounded by the
    optional idle policy: with ``idle_timeout_ms`` set, a citation key not
    observed for that long is evicted (ProcessingTimeTimeout) — its
    counters restart if it ever reappears. Default None keeps lifetime
    totals (the batch-compatible semantics).

    MIGRATION: the state schema gained ``overflowed`` when the sketch
    landed; a checkpoint written by the pre-sketch operator cannot be
    resumed by this one — start it against a fresh checkpointLocation (the
    output parquet log is append-only and survives; only in-flight state
    restarts).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    parsed = parse_document_stream(
        read_document_stream(spark, input_dir), catalog, compiler_options)
    edges = (
        parsed.select(F.explode('edges').alias('e'))
        .select('e.citation_db', 'e.citation_id', 'e.evidence')
        .where(F.col('citation_db').isNotNull())
    )

    output_schema = ('citation_db string, citation_id string, '
                     'n_edges long, n_distinct_evidences long, '
                     'evidences_exact boolean')
    state_schema = ('n_edges long, evidence_hashes array<string>, '
                    'overflowed boolean')

    def update(key, pdfs, state):
        import hashlib

        if state.hasTimedOut:
            # idle citation: evict its state, emit nothing
            state.remove()
            return
        n_new = 0
        hashes = set()
        for pdf in pdfs:
            n_new += len(pdf)
            for ev in pdf['evidence'].dropna().unique().tolist():
                hashes.add(hashlib.md5(ev.encode('utf8')).hexdigest())
        if state.exists:
            n_edges, old_hashes, overflowed = state.get
            n_edges += n_new
        else:
            n_edges, old_hashes, overflowed = n_new, None, False
        hashes, overflowed, n_distinct = kmv_merge(
            hashes, old_hashes, overflowed, sketch_k)
        state.update((n_edges, hashes, overflowed))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
        yield pd.DataFrame([{
            'citation_db': key[0],
            'citation_id': key[1],
            'n_edges': n_edges,
            'n_distinct_evidences': n_distinct,
            'evidences_exact': not overflowed,
        }])

    # operator mode 'append' (emitting the running snapshot each batch) —
    # the file sink only supports Append; downstream reads take max() per key
    timeout = GroupStateTimeout.NoTimeout if idle_timeout_ms is None \
        else GroupStateTimeout.ProcessingTimeTimeout
    stats = edges.groupBy('citation_db', 'citation_id').applyInPandasWithState(
        update, output_schema, state_schema, 'append', timeout)

    writer = (
        stats.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'citation_stats'))
        .option('checkpointLocation', os.path.join(out_dir, 'stats_checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_crawl_window_stream(spark, input_dir: str, out_dir: str,
                              window='1 hour', watermark='2 hours',
                              max_files_per_trigger=16,
                              trigger_available_now=True):
    """Watermarked event-time windowed aggregation over the crawl stream:
    documents-per-(window, lang) keyed by ``warc_ts`` (the crawl event
    time). The watermark bounds state and defines late-data policy: a window
    is emitted exactly once (append mode) when the watermark passes its
    end and its state is evicted; a page arriving behind the watermark
    is guaranteed-dropped once its window's state is gone (Spark may
    still absorb late-but-within-state rows - the documented
    conservative bound). This is the built-in windowed path; custom
    state that windows can't express lives in start_citation_stats_stream.
    """
    docs = read_document_stream(spark, input_dir, max_files_per_trigger)
    counts = (
        docs.withWatermark('warc_ts', watermark)
        .groupBy(F.window('warc_ts', window), 'lang')
        .agg(F.count(F.lit(1)).alias('n_docs'),
             F.sum(F.length('text')).alias('n_chars'))
        .select(F.col('window.start').alias('window_start'),
                F.col('window.end').alias('window_end'),
                'lang', 'n_docs', 'n_chars')
    )
    writer = (
        counts.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'crawl_windows'))
        .option('checkpointLocation',
                os.path.join(out_dir, 'windows_checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_output(spark, out_dir: str) -> dict:
    """Batch views over the streamed edge log with content-hash dedup."""
    edges = spark.read.parquet(os.path.join(out_dir, 'edges_log')) \
        .dropDuplicates(['edge_id'])
    return {'edges': edges, 'triples': edge_triples(edges)}


def start_dedup_stream(spark, input_dir: str, out_dir: str,
                       watermark='2 hours', trigger_available_now=True,
                       max_files_per_trigger=16):
    """Streaming exact-dedup: append each distinct document text once.

    The dedup key is md5(text) (content, not url — syndicated pages dedup
    across sites). State is bounded by ``dropDuplicatesWithinWatermark``:
    a key's state is evicted once the watermark passes its event time, so
    the operator holds hashes for the watermark window only — the
    streaming complement of the batch ``textops.dedup.exact_duplicates``
    (a re-crawl older than the watermark re-admits its page; run the batch
    pass for global dedup).
    """
    docs = read_document_stream(spark, input_dir, max_files_per_trigger)
    unique = (
        docs.withColumn('text_md5', F.md5(F.coalesce('text', F.lit(''))))
        .withWatermark('warc_ts', watermark)
        .dropDuplicatesWithinWatermark(['text_md5'])
    )
    writer = (
        unique.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'unique_docs'))
        .option('checkpointLocation', os.path.join(out_dir,
                                                   'dedup_checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_neardup_candidate_stream(spark, input_dir: str, out_dir: str,
                                   n=3, num_hashes=16, bands=4,
                                   max_state_ids=8,
                                   trigger_available_now=True,
                                   max_files_per_trigger=16,
                                   idle_timeout_ms=None):
    """Streaming MinHash-LSH NEAR-dup candidate generation.

    Per arriving document, band signatures are computed ROW-WISE
    (textops.dedup.band_signatures — pure column algebra, stateless, the
    formulation that needs no per-doc aggregation and is therefore legal
    in a stream). A custom ``applyInPandasWithState`` operator keyed by
    (band, band_sig) then remembers the FIRST ``max_state_ids`` doc_ids
    seen per band bucket and emits a candidate pair (earlier, later) for
    every later arrival — the incremental complement of the batch
    ``minhash_lsh_candidates`` self-join. Downstream, candidates feed the
    same exact-Jaccard verification as the batch path.

    State is BOUNDED: ``max_state_ids`` ids per bucket (a pathological
    boilerplate bucket stops growing; its overflow arrivals still pair
    against the retained representatives, which is exactly what a dedup
    keep-first policy needs), and ``idle_timeout_ms`` evicts buckets not
    seen for that long. Pairs may repeat across bands/batches — the
    consumer applies ``distinct()`` (same as the batch pipeline's final
    dedup of candidate pairs).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .textops.dedup import band_signatures

    docs = read_document_stream(spark, input_dir, max_files_per_trigger)
    # null-url docs must NOT collapse to one identity (their pairs would
    # be silently suppressed by the seen-id dedup): fall back to a
    # content-derived id — identical-content null-url docs are exact
    # dups, which the exact-dedup stage owns anyway
    docs = docs.withColumn(
        'doc_key', F.coalesce(
            F.col('url'),
            F.concat(F.lit('sha:'),
                     F.md5(F.coalesce('text', F.lit(''))))))
    banded = band_signatures(docs, id_col='doc_key', text_col='text',
                             n=n, num_hashes=num_hashes, bands=bands)

    output_schema = 'doc_a string, doc_b string, band int'
    state_schema = 'seen_ids array<string>, overflow boolean'

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            seen, overflow = state.get
            seen = list(seen)
        else:
            seen, overflow = [], False
        out_a, out_b = [], []
        for pdf in pdfs:
            for doc in pdf['doc_id']:
                if doc in seen:
                    continue
                for prior in seen:
                    out_a.append(prior)
                    out_b.append(doc)
                if len(seen) < max_state_ids:
                    seen.append(doc)
                else:
                    overflow = True
        state.update((seen, overflow))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
        if out_a:
            yield pd.DataFrame({
                'doc_a': out_a, 'doc_b': out_b,
                'band': [key[0]] * len(out_a)})

    timeout = GroupStateTimeout.NoTimeout if idle_timeout_ms is None \
        else GroupStateTimeout.ProcessingTimeTimeout
    pairs = (
        banded  # band_signatures already aliases the id column to doc_id
        .groupBy('band', 'band_sig')
        .applyInPandasWithState(update, output_schema, state_schema,
                                'append', timeout)
    )

    writer = (
        pairs.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'neardup_candidates'))
        .option('checkpointLocation', os.path.join(out_dir,
                                                   'neardup_checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_neardup_index_stream(spark, input_dir: str, index_path: str,
                               out_dir: str, n=3, num_hashes=16, bands=4,
                               trigger_available_now=True,
                               max_files_per_trigger=16):
    """Streaming near-dup candidates AGAINST THE PERSISTED BAND INDEX —
    the unification of :func:`start_neardup_candidate_stream` with the
    batch ``dedup_against_index`` loop (r4 verdict task #9): each
    micro-batch probes the same parquet band index the batch pipeline
    serves, emits (index-doc, new-doc) + within-batch candidate pairs,
    then folds its own signatures into the index
    (``band_index_append``). Batch and streaming consumers share ONE
    incremental index; a batch recompute over everything ever streamed
    yields the same candidate set (pinned by the restart test).

    Idempotence: ``foreachBatch`` is at-least-once on restart, so each
    completed batch leaves a marker under ``index_path + '/applied/'``
    and a replayed batch id is skipped. A crash strictly MID-batch (after
    the candidate append, before the marker) can re-fold one batch's
    signatures — that only duplicates (doc, band, sig) rows, which
    produce duplicate candidate PAIRS (removed by the consumer's
    distinct, same contract as the state-store stream) and never new
    false pairs; self-pairs are filtered on doc id. State lives entirely
    in the index files: no state-store bound to tune and no overflow cap
    (the index is disk, not executor memory), at the cost of re-reading
    the probed band partitions per batch."""
    import os as _os

    from .textops.dedup import (
        band_index_append, band_index_exists, band_index_write,
        dedup_against_index, minhash_lsh_candidates,
    )
    from .textops.sidecar import sidecar_exists, write_json_sidecar

    cand_path = _os.path.join(out_dir, 'neardup_candidates')
    applied_dir = index_path.rstrip('/') + '/applied'

    def process_batch(batch_df, batch_id):
        # markers go through the SAME filesystem API as the index itself
        # (Hadoop FS — local paths resolve against the default FS), so a
        # driver restart on another node still sees them; local
        # os.path markers would silently stop protecting an HDFS/S3
        # index (code-review r5)
        marker = '{}/batch-{}'.format(applied_dir, batch_id)
        if sidecar_exists(spark, marker):
            return  # replayed micro-batch: already folded into the index
        batch_df = batch_df.withColumn(
            'doc_key', F.coalesce(
                F.col('url'),
                F.concat(F.lit('sha:'),
                         F.md5(F.coalesce('text', F.lit(''))))))
        docs = batch_df.select(F.col('doc_key').alias('doc_id'), 'text') \
            .persist()
        # EXISTENCE probe, not try/except around the read: a transient
        # FS error while reading an existing index's sidecar must fail
        # the batch (structured streaming retries it), never route into
        # the bootstrap branch whose mode('overwrite') would destroy the
        # accumulated index (code-review r5)
        if band_index_exists(spark, index_path):
            pairs = dedup_against_index(docs, index_path)
            pairs.write.mode('append').parquet(cand_path)
            band_index_append(docs, index_path)
        else:
            # first batch bootstraps the index; candidates are the
            # within-batch self-join (same band parameters)
            pairs = minhash_lsh_candidates(docs, n=n,
                                           num_hashes=num_hashes,
                                           bands=bands)
            pairs.write.mode('append').parquet(cand_path)
            band_index_write(docs, index_path, n=n,
                             num_hashes=num_hashes, bands=bands)
        docs.unpersist()
        write_json_sidecar(spark, marker, {'batch_id': batch_id})

    writer = (
        read_document_stream(spark, input_dir, max_files_per_trigger)
        .writeStream
        .foreachBatch(process_batch)
        .option('checkpointLocation',
                _os.path.join(out_dir, 'neardup_index_checkpoint'))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_decontaminate_stream(spark, input_dir: str, out_dir: str,
                               benchmark, n=8,
                               max_files_per_trigger=16,
                               trigger_available_now=True):
    """Decontaminate AT INGEST: stream documents, drop any that share a
    word ``n``-gram with the benchmark suite, append the clean rows.

    The batch operator's decision per document is stateless (a
    broadcast join against the static, vocabulary-sized benchmark
    n-gram index), but its internals aggregate per (doc, bench) pair —
    illegal as a bare streaming transformation — so each micro-batch
    runs the UNCHANGED batch `textops.decontaminate.decontaminate`
    through ``foreachBatch``. ``benchmark`` is a static DataFrame
    with (bench_id, text). Contaminated documents never reach the clean
    log (the GPT-3 protocol applied before data lands, instead of a
    retrospective sweep).

    Idempotence is stronger than the candidate-pair streams' marker
    pattern, because duplicate DOCUMENT rows (unlike duplicate candidate
    pairs) would corrupt the curation contract: each micro-batch lands
    in its own ``clean_docs/ingest_batch=<id>/`` partition directory
    with ``mode('overwrite')``, so a replay after a mid-batch crash
    REPLACES the partial output instead of appending a second copy.
    The marker only skips redundant recomputation; correctness never
    depends on it. Readers get the batch id back as an ``ingest_batch``
    partition column — per-partition lineage for the clean log."""
    from .textops.decontaminate import decontaminate
    from .textops.sidecar import sidecar_exists, write_json_sidecar

    clean_path = os.path.join(out_dir, 'clean_docs')
    applied_dir = out_dir.rstrip('/') + '/decontaminate_applied'

    def process_batch(batch_df, batch_id):
        marker = '{}/batch-{}'.format(applied_dir, batch_id)
        if sidecar_exists(spark, marker):
            return
        clean = decontaminate(
            batch_df.withColumn('text', F.coalesce('text', F.lit(''))),
            benchmark, n=n, id_col='url')
        clean.write.mode('overwrite').parquet(
            '{}/ingest_batch={}'.format(clean_path, batch_id))
        write_json_sidecar(spark, marker, {'batch_id': batch_id})

    writer = (
        read_document_stream(spark, input_dir, max_files_per_trigger)
        .writeStream
        .foreachBatch(process_batch)
        .option('checkpointLocation',
                os.path.join(out_dir, 'decontaminate_checkpoint'))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _frontier_process_batch(spark, batch_df, batch_id, bloom_path: str,
                            out_dir: str, m_bits: int = 1 << 20,
                            k: int = 3, seed: int = 0):
    """One frontier micro-batch (module-level so the replay contract is
    directly testable): probe urls against the seen-set EXCLUDING this
    batch's own words partition, land flags and the batch's words under
    per-batch overwrite partitions. Re-invoking with the same batch_id
    from ANY crash point reproduces bit-identical outputs — see
    start_frontier_stream's idempotence notes."""
    from .textops.bloom import bloom_bits, bloom_pack, bloom_probe
    from .textops.sidecar import sidecar_exists, write_json_sidecar

    flags_path = os.path.join(out_dir, 'frontier_flags')
    words_path = bloom_path.rstrip('/') + '/words'
    params_marker = bloom_path.rstrip('/') + '/params.json'
    pages = batch_df.select('url').persist()
    # existence probe, not try/except around the read: a transient
    # FS error must fail (and retry) the batch, never misroute into
    # the bootstrap branch and flag a whole batch unseen (the
    # band-index lesson, code-review r5)
    if sidecar_exists(spark, params_marker):
        # the probe EXCLUDES this batch's own words partition: a batch
        # replayed after its fold committed (crash before the streaming
        # checkpoint) would otherwise probe a filter containing its own
        # urls and overwrite its flags partition with
        # all-maybe_seen=true — losing the batch's novel frontier
        # permanently (code-review this round). With the exclusion,
        # every crash window replays to identical flags AND an
        # identical words partition: full idempotence with no marker.
        words = (spark.read.parquet(words_path)
                 .where(F.col('ingest_batch') != batch_id)
                 .groupBy('word_idx')
                 .agg(F.expr('bit_or(word)').alias('word')))
        flags = bloom_probe(words, pages.distinct(), col='url',
                            m_bits=m_bits, k=k, seed=seed)
    else:
        flags = pages.distinct().select(
            'url', F.lit(False).alias('maybe_seen'))
    flags.write.mode('overwrite').parquet(
        '{}/ingest_batch={}'.format(flags_path, batch_id))
    # per-batch partition + overwrite (not a bare append): a replay
    # REPLACES its own contribution, and the read-side bit_or over
    # the other partitions is oblivious either way
    bloom_pack(bloom_bits(pages, col='url', m_bits=m_bits, k=k,
                          seed=seed), m_bits) \
        .write.mode('overwrite').parquet(
            '{}/ingest_batch={}'.format(words_path, batch_id))
    if not sidecar_exists(spark, params_marker):
        write_json_sidecar(spark, params_marker,
                           {'m_bits': m_bits, 'k': k, 'seed': seed})
    pages.unpersist()


def start_frontier_stream(spark, input_dir: str, bloom_path: str,
                          out_dir: str, m_bits: int = 1 << 20, k: int = 3,
                          seed: int = 0, max_files_per_trigger=16,
                          trigger_available_now=True):
    """Crawl-frontier dedup AT INGEST: stream documents, flag each url
    against the persisted Bloom seen-set (textops/bloom.py), append the
    flags, then fold the batch's own urls into the filter. Batch and
    streaming consumers share ONE incremental seen-set; novel urls are
    the ``maybe_seen = false`` rows of ``frontier_flags``.

    Idempotence, with no applied-marker: the Bloom update is a bitwise
    OR (a semilattice join), each batch's words land in their own
    ``words/ingest_batch=<id>/`` partition with overwrite, and the
    probe reads the filter EXCLUDING the current batch's partition —
    so a replayed micro-batch recomputes bit-identical flags and a
    bit-identical words partition no matter where the previous attempt
    crashed (including after its own fold committed, the window where
    a naive probe-then-append would see its own bits and flag the
    whole batch as already crawled). The flags output keeps the
    partition-overwrite contract (``frontier_flags/ingest_batch=<id>/``)
    so replays replace rather than duplicate rows.

    Within-batch url duplicates are flagged against the PRE-batch
    filter (probe happens before the fold), so two copies of a url in
    one micro-batch both read as unseen — frontier granularity is the
    micro-batch, and consumers dedup within a batch with the plain
    ``dropDuplicates`` they already need for retry semantics.

    Filter layout: ``bloom_path`` accumulates appended 63-bit packed
    word rows (word_idx, word); serving ORs them per word_idx. At
    10^10 seen urls that is ~2.3e8 OR-collapsed rows — compact files,
    uniform join key, no driver-side state anywhere. The
    ``params.json`` sidecar is a BOOTSTRAP/config marker ((m, k, seed)
    of the accumulated bits), not a replay marker: it gates the
    probe-vs-bootstrap branch the same way band_index_exists does. The
    only batch that can crash between its append and the sidecar write
    is the first ever — whose pre-batch filter was empty, so its replay
    produces identical flags."""

    def process_batch(batch_df, batch_id):
        _frontier_process_batch(spark, batch_df, batch_id, bloom_path,
                                out_dir, m_bits=m_bits, k=k, seed=seed)

    writer = (
        read_document_stream(spark, input_dir, max_files_per_trigger)
        .writeStream
        .foreachBatch(process_batch)
        .option('checkpointLocation',
                os.path.join(out_dir, 'frontier_checkpoint'))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_kg_index_stream(spark, input_dir: str, index_path: str,
                          catalog=None, compiler_options=None,
                          max_files_per_trigger=16,
                          trigger_available_now=True):
    """Incremental KG construction AT INGEST: each micro-batch folds its
    documents into the cross-batch parse index
    (:mod:`pybel_spark.parse_index`) — only statements the index has
    never seen across ALL prior batches and streams are parsed. The
    index IS the output: ``triples_from_index`` serves whole-corpus or
    batch-restricted reads, and the batch updater
    (``parse_index_update``) shares the same files, so batch and
    streaming ingestion interleave on one accumulated state — the same
    unification contract as ``start_neardup_index_stream`` over the
    band index.

    Idempotence: a completed batch leaves a marker under
    ``index_path + '/applied/'`` whose CONTENT is the batch's metrics
    (batch_keys / novel_keys) — per-batch lineage is exactly-once by
    construction because the metrics record and the replay guard are
    the same atomic file. A replayed batch id is skipped outright; a
    crash strictly mid-batch re-runs ``parse_index_update``, which is
    itself replay-safe (the anti-join sees whatever keys already
    landed; a crash between the triples and keys appends re-parses
    those keys and duplicates triple rows, collapsed by the read-side
    distinct — the batch updater's documented contract). State lives
    entirely in the index files: no state store, no executor-memory
    bound."""
    from . import parse_index as PI
    from .textops.sidecar import sidecar_exists, write_json_sidecar

    applied_dir = index_path.rstrip('/') + '/applied'

    def process_batch(batch_df, batch_id):
        marker = '{}/batch-{}'.format(applied_dir, batch_id)
        if sidecar_exists(spark, marker):
            return  # replayed micro-batch: already folded
        # EXISTENCE probe, not try/except: transient sidecar read errors
        # must fail (and retry) the batch, never route into the
        # bootstrap branch whose overwrite would destroy the index
        if PI.parse_index_exists(spark, index_path):
            metrics = PI.parse_index_update(
                batch_df, index_path, catalog, compiler_options)
        else:
            metrics = PI.parse_index_write(
                batch_df, index_path, catalog, compiler_options)
        write_json_sidecar(spark, marker,
                           dict(metrics, batch_id=batch_id))

    writer = (
        read_document_stream(spark, input_dir, max_files_per_trigger)
        .writeStream
        .foreachBatch(process_batch)
        .option('checkpointLocation',
                index_path.rstrip('/') + '/stream_checkpoint')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_kg_index_metrics(spark, index_path: str) -> list:
    """Per-micro-batch lineage of a KG index stream: one metrics dict
    (batch_id, batch_keys, novel_keys) per applied batch, in batch-id
    order. Exactly-once: the metrics ARE the replay markers."""
    from .textops.sidecar import list_sidecars, read_json_sidecar

    applied_dir = index_path.rstrip('/') + '/applied'
    out = [read_json_sidecar(spark, applied_dir + '/' + name)
           for name in list_sidecars(spark, applied_dir)]
    return sorted(out, key=lambda m: m['batch_id'])


def start_domain_quality_stream(spark, input_dir: str, out_dir: str,
                                window='1 hour', watermark='2 hours',
                                max_files_per_trigger=16,
                                trigger_available_now=True,
                                quality_threshold=0.75):
    """Windowed per-DOMAIN crawl-quality monitor: for each (event-time
    window, registered domain) — document count, token mass, mean
    heuristic quality score, and the count of below-threshold documents.

    The curation layer's quality features are pure column expressions,
    so they run unchanged inside the stream (no state beyond the
    windowed aggregation, watermark-bounded). This is the live view of
    "which domains started shipping junk this hour" that batch
    urls.domain_stats gives retrospectively.
    """
    from .textops.quality import quality_score_col
    from .textops.tokenize import whitespace_tokens
    from .textops.urls import registered_domain

    docs = read_document_stream(spark, input_dir, max_files_per_trigger)
    enriched = (
        docs.withColumn('text', F.coalesce('text', F.lit('')))
        # quality as a pure column expression — a join against the
        # feature table would be an illegal stream-stream self-join
        .withColumn('quality_score', quality_score_col('text'))
        .withColumn('domain', registered_domain(F.col('url')))
        .withColumn('n_tokens', F.size(whitespace_tokens('text')))
    )
    stats = (
        enriched.withWatermark('warc_ts', watermark)
        .groupBy(F.window('warc_ts', window), 'domain')
        .agg(F.count(F.lit(1)).alias('n_docs'),
             F.sum('n_tokens').alias('n_tokens'),
             F.round(F.avg('quality_score'), 6).alias('mean_quality'),
             F.sum((F.col('quality_score') < quality_threshold)
                   .cast('long')).alias('n_low_quality'))
        .select(F.col('window.start').alias('window_start'),
                F.col('window.end').alias('window_end'),
                'domain', 'n_docs', 'n_tokens', 'mean_quality',
                'n_low_quality')
    )
    writer = (
        stats.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'domain_quality'))
        .option('checkpointLocation',
                os.path.join(out_dir, 'domain_quality_checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_session_stream(spark, input_dir: str, out_dir: str,
                         gap='30 minutes', watermark='2 hours',
                         max_files_per_trigger=16,
                         trigger_available_now=True):
    """Streaming sessionization via the built-in ``session_window``:
    per-user gap-merged sessions over the events stream, watermarked so a
    session is emitted exactly once (append mode) when the watermark
    passes its close. The streaming twin of events.session_stats: emitted
    sessions equal the batch recompute (both merge on the exact-gap
    boundary tie, pinned in tests).

    State is bounded by (open sessions per user) x (users inside the
    watermark horizon) — the built-in operator merges/evicts windows, no
    custom state needed. Boundary ties (an event exactly gap after the
    previous) merge in both paths — pinned in tests.
    """
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    schema = StructType([
        StructField('event_id', LongType()),
        StructField('ts', TimestampType()),
        StructField('user_id', LongType()),
        StructField('event_type', StringType()),
        StructField('value', DoubleType()),
        StructField('props', StringType()),
    ])
    ev = (
        spark.readStream.schema(schema)
        .option('maxFilesPerTrigger', str(max_files_per_trigger))
        .parquet(input_dir)
    )
    sess = (
        ev.withWatermark('ts', watermark)
        .groupBy(F.session_window('ts', gap), 'user_id')
        .agg(F.count(F.lit(1)).alias('n_events'),
             F.min('ts').alias('start_ts'),
             F.max('ts').alias('end_ts'),
             F.sum('value').alias('value_sum'))
        .select('user_id', 'n_events', 'start_ts', 'end_ts', 'value_sum')
    )
    writer = (
        sess.writeStream
        .format('parquet')
        .option('path', os.path.join(out_dir, 'sessions'))
        .option('checkpointLocation',
                os.path.join(out_dir, 'sessions_checkpoint'))
        .outputMode('append')
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

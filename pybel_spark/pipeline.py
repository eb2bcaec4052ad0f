"""The KG-construction pipeline: documents → nodes/edges/triples/warnings.

Spark-first design notes (100 TB scale):

- The entire extract→detect→parse→ground→canonicalize block is ONE
  ``mapInPandas`` stage: it is embarrassingly parallel by document row, so the
  only shuffles in the whole job are the content-hash dedups at the end.
- Grounding dictionaries are broadcast once per executor
  (``SparkContext.broadcast``), not re-pickled per task; inside the UDF they
  are plain dict lookups (the reference's SQLite round-trip becomes a hash
  probe).
- Dedup keys are md5 content hashes → uniformly distributed → the dedup
  shuffle has no skew by construction. AQE is on for runtime coalescing.
- Checkpoint-resume: documents are bucketed by ``xxhash64(url)``; a lineage
  row per bucket records completion + metrics. A re-run anti-joins completed
  buckets and appends only missing ones (reference has no equivalent — the
  north rule requires it).
"""
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, functions as F

from .bel.compiler import DocumentCompiler
from .corpus import extract_text, load_corpus_catalog
from .schemas import (COMMIT_PARSED_SCHEMA, COMMITTED_TABLE_SCHEMAS,
                      LINEAGE_SCHEMA, PARSED_SCHEMA)

#: lines that can possibly be BEL content: control/definition records or
#: function-call-shaped statements. Everything else on a web page is prose.
BEL_LINE_RE = re.compile(
    r'^\s*(?:SET\s|UNSET[\s{]|UNSET$|DEFINE\s|[A-Za-z]+\s*\()')


def mask_non_bel_lines(text):
    """Statement detection: blank out non-BEL lines, preserving line numbers
    (so warning line numbers refer to the original page text)."""
    return [
        line if BEL_LINE_RE.match(line) else ''
        for line in text.split('\n')
    ]


def masked_pages(pdf):
    """``(text, masked lines)`` of every page of an Arrow batch, in row
    order. The text is the ``text`` column, else the ``html`` column
    through :func:`extract_text`; a page with neither is the empty page
    ``''``, so every row yields exactly one page."""
    htmls = pdf['html'] if 'html' in pdf else [None] * len(pdf)
    for html, text in zip(htmls, pdf['text']):
        if text is None:
            text = '' if html is None else extract_text(bytes(html))
        yield text, mask_non_bel_lines(text)


def _task_compilers(catalog, compiler_options, spark):
    """A function that builds each Python task's :class:`DocumentCompiler`.
    With a SparkSession, the catalog ships as a broadcast variable."""
    options = compiler_options or {}
    catalog_bc = None
    if spark is not None:
        catalog_bc = spark.sparkContext.broadcast(catalog)

    def new_compiler():
        resources = catalog_bc.value if catalog_bc is not None else catalog
        return DocumentCompiler(resources=resources, **options)

    return new_compiler


def make_parse_func(catalog, compiler_options=None, spark=None):
    """Build the Arrow-batched parse function for ``mapInPandas``: one
    :data:`PARSED_SCHEMA` row per page, with all of its nodes and edges.

    ``catalog`` must be picklable (DictCatalog / ResourceCatalog). When a
    SparkSession is provided, the catalog ships as a BROADCAST variable —
    serialized once and cached per executor — instead of being pickled into
    every task closure; at real namespace scale (HGNC/GO/CHEBI, tens of MB)
    that is the difference between per-task and per-executor transfer.
    """
    import hashlib

    import pandas as pd

    new_compiler = _task_compilers(catalog, compiler_options, spark)

    def parse(batches):
        compiler = new_compiler()
        for pdf in batches:
            out = {k: [] for k in (
                'url', 'lang', 'text_sha256', 'n_lines', 'n_statements',
                'nodes', 'edges', 'warnings')}
            for url, lang, (text, lines) in zip(
                    pdf['url'], pdf['lang'], masked_pages(pdf)):
                n_statements = sum(1 for ln in lines if ln)
                result = compiler.compile(lines)
                out['url'].append(url)
                out['lang'].append(lang)
                out['text_sha256'].append(
                    hashlib.sha256(text.encode('utf8')).hexdigest())
                out['n_lines'].append(len(lines))
                out['n_statements'].append(n_statements)
                out['nodes'].append(result['nodes'])
                out['edges'].append(result['edges'])
                out['warnings'].append(result['warnings'])
            yield pd.DataFrame(out)

    return parse


def _commit_parse_func(catalog, compiler_options, spark):
    """The parse function of the graph commit of :func:`run_checkpointed`:
    one :data:`COMMIT_PARSED_SCHEMA` row per page, with the nodes and edges
    new to the Python task (:meth:`DocumentCompiler.compile_new`) and in
    ``n_edges`` the count of all of the page's edges."""
    import pandas as pd

    new_compiler = _task_compilers(catalog, compiler_options, spark)

    def parse(batches):
        compiler = new_compiler()
        for pdf in batches:
            out = {k: [] for k in COMMIT_PARSED_SCHEMA.names}
            for url, (_, lines) in zip(pdf['url'], masked_pages(pdf)):
                result = compiler.compile_new(lines)
                out['url'].append(url)
                out['n_statements'].append(sum(1 for ln in lines if ln))
                out['n_edges'].append(result['n_edges'])
                out['nodes'].append(result['nodes'])
                out['edges'].append(result['edges'])
                out['warnings'].append(result['warnings'])
            yield pd.DataFrame(out)

    return parse


def extract_triples(documents: DataFrame, catalog=None,
                    compiler_options=None) -> DataFrame:
    """Fast path for the north-star output: documents → distinct (subject,
    predicate, object) triples only.

    Each page runs :meth:`DocumentCompiler.compile_triples`: the compile
    loop of build_graph, which reads each edge record's triple and builds
    no node or edge row (no canonical JSON, no md5 ids). The UDF ships
    just three string columns back through Arrow instead of the full
    nested node/edge/warning rows.
    """
    import pandas as pd

    from .schemas import TRIPLES_SCHEMA

    if catalog is None:
        catalog = load_corpus_catalog()
    options = compiler_options or {}
    catalog_bc = documents.sparkSession.sparkContext.broadcast(catalog)

    def parse(batches):
        compiler = DocumentCompiler(resources=catalog_bc.value, **options)
        for pdf in batches:
            triples = []
            for _, lines in masked_pages(pdf):
                triples.extend(compiler.compile_triples(lines))
            yield pd.DataFrame(triples,
                               columns=['subject', 'predicate', 'object'])

    # explicit projection: Catalyst can't prune columns through mapInPandas,
    # so drop url/warc_ts/lang before the UDF → the parquet scan reads only
    # (html, text)
    return documents.select('html', 'text') \
        .mapInPandas(parse, schema=TRIPLES_SCHEMA).distinct()


def statement_keys(documents: DataFrame, catalog=None,
                   compiler_options=None) -> DataFrame:
    """Distinct (header, statement, qualified) statement keys of a corpus
    — stages 1+2 of the dedup-parse pipeline, exposed for the cross-batch
    parse index (:mod:`pybel_spark.parse_index`). Stage 1 is
    :meth:`DocumentCompiler.statement_keys` on every page, which builds
    the header column that :meth:`DocumentCompiler.statement_key_triples`
    reads back in stage 3 (see :func:`extract_triples_deduped` for why
    the qualified flag, and only that flag, of the surrounding control
    state reaches the triple). The header column is the header's md5, a
    newline and the full header text: on a 16-line header about 850 bytes
    per key, against a few dozen for the statement, cross Arrow and are
    hashed by the distinct. Shuffle compression absorbs the repeated
    header in the shuffle files (about 70 bytes per key in all on a novel
    perfbench batch)."""
    if catalog is None:
        catalog = load_corpus_catalog()
    return _statement_keys(
        documents, documents.sparkSession.sparkContext.broadcast(catalog),
        compiler_options)


def _statement_keys(documents: DataFrame, catalog_bc,
                    compiler_options) -> DataFrame:
    """:func:`statement_keys` against an already broadcast catalog, so a
    caller that also runs stage 3 ships the catalog once."""
    import pandas as pd

    options = compiler_options or {}

    def split(batches):
        compiler = DocumentCompiler(resources=catalog_bc.value, **options)
        for pdf in batches:
            keys = []
            for _, lines in masked_pages(pdf):
                keys.extend(compiler.statement_keys(lines))
            yield pd.DataFrame(keys,
                               columns=['header', 'statement', 'qualified'])

    return (
        documents.select('html', 'text')
        .mapInPandas(
            split, schema='header string, statement string, qualified boolean')
        .distinct()
    )


#: mapInPandas output schema of the stage-3 parse when it keeps the key
_KEYED_TRIPLES_SCHEMA = ('key_hash string, subject string, '
                         'predicate string, object string')


def _parse_statement_keys(keys: DataFrame, catalog_bc, compiler_options,
                          with_key_hash=False) -> DataFrame:
    """Stage 3 of the dedup parse: the triples of each distinct statement
    key, one row per triple. Each key is parsed by
    :meth:`DocumentCompiler.statement_key_triples` against a compile state
    prepared once per header. With ``with_key_hash`` the input carries a
    ``key_hash`` column that is kept on every emitted triple (the
    parse-index layout).

    The keys are first spread round-robin over
    ``defaultParallelism`` partitions. AQE sizes the partitions of the
    preceding distinct by bytes, and a batch's keys, header text
    included, stay far below its advisory partition size, so it
    coalesces them into one partition; but this stage costs CPU per row,
    and one partition would parse every key in a single Python task. A
    ``repartition(n)`` is a ``REPARTITION_BY_NUM`` exchange, which AQE
    leaves at ``n`` partitions."""
    import pandas as pd

    from .schemas import TRIPLES_SCHEMA

    options = compiler_options or {}

    def parse(batches):
        compiler = DocumentCompiler(resources=catalog_bc.value, **options)
        for pdf in batches:
            key_hashes, subjects, predicates, objects = [], [], [], []
            key_vals = pdf['key_hash'] if with_key_hash else \
                [None] * len(pdf)
            for khash, header, stmt, qualified in zip(
                    key_vals, pdf['header'], pdf['statement'],
                    pdf['qualified']):
                for s, p, o in compiler.statement_key_triples(
                        header, stmt, qualified):
                    key_hashes.append(khash)
                    subjects.append(s)
                    predicates.append(p)
                    objects.append(o)
            out = {}
            if with_key_hash:
                out['key_hash'] = key_hashes
            out['subject'] = subjects
            out['predicate'] = predicates
            out['object'] = objects
            yield pd.DataFrame(out)

    cols = ['header', 'statement', 'qualified']
    if with_key_hash:
        cols.insert(0, 'key_hash')
    n = keys.sparkSession.sparkContext.defaultParallelism
    return keys.select(*cols).repartition(n).mapInPandas(
        parse,
        schema=_KEYED_TRIPLES_SCHEMA if with_key_hash else TRIPLES_SCHEMA)


def extract_triples_deduped(documents: DataFrame, catalog=None,
                            compiler_options=None) -> DataFrame:
    """Distinct triples via statement-level pre-parse dedup.

    Web corpora are syndication/boilerplate heavy: the same BEL statement
    under the same definition header appears on many pages. A (subject,
    predicate, object) triple is a pure function of (definition header,
    statement line, *was-the-statement-in-a-qualified-context*): the
    citation/evidence TEXT never reaches the triple, but its PRESENCE
    gates whether a qualified relation emits one at all
    (compiler._handle_qualified raises MissingCitationException /
    MissingSupportWarning / MissingAnnotationWarning otherwise), while
    structural statements (hasMembers, hasComponent, hasVariant, term-only
    lines) emit their triples regardless of context. So the pipeline can
    parse each DISTINCT (header, statement, qualified-flag) triple ONCE:

    stage 1 (cheap, map-only): :meth:`DocumentCompiler.statement_keys`
    splits each page into its header and statement lines and tags each
    statement with its in-situ qualified flag. It runs the parsed header
    and control-line code of :meth:`DocumentCompiler.compile` over the
    page, and both stages build their compiler from the caller's
    options unchanged;
    stage 2: shuffle-distinct on the (header, statement, flag) key, whose
    header column is md5(header), a newline and the full header text
    (about 850 bytes per key on a 16-line header cross Arrow and are
    hashed; the compressed shuffle carries far fewer); stage 3: parse the
    survivors. Stage 3 parses each header once — the header definitions
    and the term parser — and
    prepares one control state per (header, qualified flag): a
    placeholder citation and evidence for qualified keys or an empty
    control state for unqualified ones (so qualified relations are rejected exactly as they were in
    situ) — and parses each key's one line against it
    (:meth:`DocumentCompiler.statement_key_triples`). Its input is
    repartitioned round-robin over ``defaultParallelism`` partitions:
    AQE sizes the distinct's partitions by bytes and would coalesce a
    batch's keys into one partition, while stage 3 costs CPU per row, so
    it must run as one wave across all cores. Parse cost scales with
    UNIQUE content, not corpus size. The output equals
    :func:`extract_triples` on ANY corpus, including hostile pages with
    statements outside citation context and under ``required_annotations``
    (see tests). Use :func:`extract_triples` when per-document context
    (warnings, metrics, edges) is needed.
    """
    if catalog is None:
        catalog = load_corpus_catalog()
    catalog_bc = documents.sparkSession.sparkContext.broadcast(catalog)
    unique = _statement_keys(documents, catalog_bc, compiler_options)
    return _parse_statement_keys(unique, catalog_bc, compiler_options) \
        .distinct()


def edge_triples(edges: DataFrame) -> DataFrame:
    """Distinct (subject, predicate, object) of an edge table: the triple
    columns of every edge that has a triple."""
    return (
        edges.select(
            F.col('triple_subject').alias('subject'),
            F.col('triple_predicate').alias('predicate'),
            F.col('triple_object').alias('object'))
        .where(F.col('subject').isNotNull())
        .distinct()
    )


class GraphResult:
    """Handles to the pipeline's output DataFrames."""

    def __init__(self, parsed: DataFrame):
        self.parsed = parsed

    @property
    def nodes(self) -> DataFrame:
        return (
            self.parsed
            .select(F.explode('nodes').alias('n'))
            .select('n.*')
            .dropDuplicates(['node_id'])
        )

    @property
    def edges(self) -> DataFrame:
        """Globally deduplicated edges (content-hash key, first writer wins —
        same union semantics as the reference's insert-if-new)."""
        return (
            self.parsed
            .select(F.col('url'), F.explode('edges').alias('e'))
            .select('url', 'e.*')
            .dropDuplicates(['edge_id'])
        )

    @property
    def warnings(self) -> DataFrame:
        return (
            self.parsed
            .select(F.col('url'), F.explode('warnings').alias('w'))
            .select('url', 'w.*')
        )

    @property
    def triples(self) -> DataFrame:
        """Distinct (subject, predicate, object) — the north-star output."""
        return edge_triples(
            self.parsed.select(F.explode('edges').alias('e')).select('e.*'))

    @property
    def doc_metrics(self) -> DataFrame:
        return self.parsed.select(
            'url', 'lang', 'text_sha256', 'n_lines', 'n_statements',
            F.size('edges').alias('n_edges'),
            F.size('warnings').alias('n_warnings'),
        )


def build_graph(documents: DataFrame, catalog=None, compiler_options=None,
                persist=False) -> GraphResult:
    """Run the parse pipeline over a documents DataFrame."""
    if catalog is None:
        catalog = load_corpus_catalog()
    parse = make_parse_func(catalog, compiler_options,
                            spark=documents.sparkSession)
    # prune to the columns the UDF consumes (mapInPandas defeats automatic
    # column pruning): warc_ts never reaches the parser
    parsed = documents.select('url', 'html', 'text', 'lang') \
        .mapInPandas(parse, schema=PARSED_SCHEMA)
    if persist:
        parsed = parsed.persist()
    return GraphResult(parsed)


# ----------------------------------------------------------------------- #
# checkpoint-resumable run: manifest-committed transactional MERGE
#
# The on-disk layout is Iceberg-shaped: data files live under
# <out_dir>/<table>/<commit_id>/ and are INVISIBLE until <out_dir>/
# MANIFEST.json — the single metadata pointer — references the commit.
# The manifest is replaced atomically (tmp + os.rename), so readers see
# either the pre-commit or post-commit state, never a partial one. A kill
# at ANY point leaves at most orphan data dirs that no reader touches and
# that the deterministic commit id lets the resume overwrite in place.
# One writer per out_dir is assumed (the driver), exactly like an Iceberg
# single-table committer without a lock service.

_MANIFEST = 'MANIFEST.json'
_LOCK = 'WRITER.lock'
_TABLES = tuple(COMMITTED_TABLE_SCHEMAS)


class ConcurrentWriteError(RuntimeError):
    """A second writer tried to commit into an out_dir that already has a
    live writer, or a writer lost its lease mid-run (see CONCURRENCY.md)."""


class _OutputFS:
    """Filesystem shim for the manifest protocol.

    Local (scheme-less) paths use POSIX I/O with a truly atomic
    ``os.rename`` commit. Scheme'd URIs (``hdfs://``, ``s3a://``,
    ``file://`` …) go through the Hadoop FileSystem API via the session's
    JVM gateway, so checkpoint/resume/read work against the same
    filesystems Spark itself writes to. Caveat shared with every
    rename-based committer: HDFS rename-over-existing needs a
    delete-then-rename pair (a crash exactly between them loses only the
    POINTER, never data — the next writer re-lists data dirs and rewrites
    it), and S3A rename is copy-based, exactly as it is for Hive/older
    Iceberg commit paths.
    """

    def __init__(self, spark, out_dir: str):
        self.out_dir = out_dir.rstrip('/')
        self.remote = '://' in out_dir
        if self.remote:
            jvm = spark._jvm
            self._jvm = jvm
            self._jpath = jvm.org.apache.hadoop.fs.Path
            self._fs = self._jpath(self.out_dir).getFileSystem(
                spark._jsc.hadoopConfiguration())

    def _full(self, *parts):
        import os

        return os.path.join(self.out_dir, *parts) if not self.remote \
            else '/'.join((self.out_dir,) + parts)

    def read_bytes(self, *parts):
        if not self.remote:
            import os

            path = self._full(*parts)
            if not os.path.exists(path):
                return None
            with open(path, 'rb') as f:
                return f.read()
        path = self._jpath(self._full(*parts))
        if not self._fs.exists(path):
            return None
        stream = self._fs.open(path)
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils
                         .toByteArray(stream))
        finally:
            stream.close()

    def write_atomic(self, name: str, data: bytes):
        if not self.remote:
            import os

            os.makedirs(self.out_dir, exist_ok=True)
            tmp = self._full(name + '.tmp')
            with open(tmp, 'wb') as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, self._full(name))
            return
        tmp = self._jpath(self._full(name + '.tmp'))
        final = self._jpath(self._full(name))
        out = self._fs.create(tmp, True)
        try:
            out.write(data)
        finally:
            out.close()
        if self._fs.exists(final):
            self._fs.delete(final, False)
        self._fs.rename(tmp, final)

    def create_exclusive(self, name: str, data: bytes) -> bool:
        """Create ``name`` iff it does not exist; True on success.

        Local: ``O_CREAT|O_EXCL`` (atomic on POSIX). Remote: Hadoop
        ``create(path, overwrite=false)`` — atomic on HDFS; on S3A it is
        check-then-create, the same residual race every rename-based
        committer has there (documented in CONCURRENCY.md).
        """
        if not self.remote:
            import os

            os.makedirs(self.out_dir, exist_ok=True)
            try:
                fd = os.open(self._full(name),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                os.write(fd, data)
                os.fsync(fd)
            finally:
                os.close(fd)
            return True
        path = self._jpath(self._full(name))
        try:
            out = self._fs.create(path, False)
        except Exception:
            return False
        try:
            out.write(data)
        finally:
            out.close()
        return True

    def delete_file(self, name: str) -> None:
        if not self.remote:
            import os

            try:
                os.remove(self._full(name))
            except FileNotFoundError:
                pass
            return
        path = self._jpath(self._full(name))
        if self._fs.exists(path):
            self._fs.delete(path, False)

    def rename_file(self, src: str, dst: str) -> bool:
        """Move ``src`` to ``dst``; False if ``src`` is gone (someone
        else moved/deleted it first). Local os.rename and HDFS rename
        are both atomic, so two racers can never BOTH win the same
        source file — the primitive the lease break is built on."""
        if not self.remote:
            import os

            try:
                os.rename(self._full(src), self._full(dst))
            except FileNotFoundError:
                return False
            return True
        try:
            return bool(self._fs.rename(self._jpath(self._full(src)),
                                        self._jpath(self._full(dst))))
        except Exception:
            return False

    def restore_no_clobber(self, src: str, dst: str) -> bool:
        """Put ``src`` back at ``dst`` WITHOUT overwriting a newer file;
        ``src`` is removed either way. Local: hard-link (O_EXCL-like,
        fails on EEXIST) then unlink; HDFS rename refuses an existing
        destination. Used to undo an accidental capture of a fresh lock."""
        if not self.remote:
            import os

            ok = True
            try:
                os.link(self._full(src), self._full(dst))
            except (FileExistsError, FileNotFoundError, OSError):
                ok = False
            try:
                os.remove(self._full(src))
            except FileNotFoundError:
                pass
            return ok
        ok = self.rename_file(src, dst)
        if not ok:
            self.delete_file(src)
        return ok

    def part_files(self, *parts):
        """Names of the ``part-`` data files under ``parts``, recursively
        (none when the directory does not exist)."""
        if not self.remote:
            import os

            for _root, _dirs, files in os.walk(self._full(*parts)):
                yield from (f for f in files if f.startswith('part-'))
            return
        path = self._jpath(self._full(*parts))
        if not self._fs.exists(path):
            return
        it = self._fs.listFiles(path, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if name.startswith('part-'):
                yield name

    def list_dir(self, *parts) -> list:
        if not self.remote:
            import os

            path = self._full(*parts)
            return os.listdir(path) if os.path.isdir(path) else []
        path = self._jpath(self._full(*parts))
        if not self._fs.exists(path):
            return []
        return [st.getPath().getName()
                for st in self._fs.listStatus(path)]

    def delete_recursive(self, *parts):
        if not self.remote:
            import shutil

            shutil.rmtree(self._full(*parts), ignore_errors=True)
            return
        path = self._jpath(self._full(*parts))
        if self._fs.exists(path):
            self._fs.delete(path, True)


class _WriterLease:
    """Advisory single-writer lease over an out_dir (see CONCURRENCY.md).

    The committer assumes ONE writer per table directory — the same
    contract as an Iceberg single-table committer without a lock service,
    or Delta on S3 without an external LogStore. This class makes the
    contract *enforced* instead of assumed:

    - acquire(): exclusive-create ``WRITER.lock`` carrying
      ``{token, pid, host, ts}``. A live competing lock → fail fast with
      :class:`ConcurrentWriteError` (no silent lost-update race).
    - Stale-lock takeover: a lock whose pid is dead on this host, or whose
      ``ts`` is older than ``lease_seconds`` (cross-host, clock-based), is
      broken and re-acquired — this is what lets the kill/resume drill
      restart immediately after a SIGKILL. The break is an atomic RENAME
      to a per-acquirer tombstone, so of two concurrent breakers exactly
      one wins the stale file; a breaker that discovers it captured a
      competitor's fresh lock instead restores it no-clobber and backs
      off.
    - check()/renew(): fencing — before EVERY manifest swap the writer
      verifies the lock still carries its own token and refreshes ``ts``.
      A writer whose lease was taken over refuses to publish.

    Residual window (inherent to lease protocols without compare-and-swap
    primitives): between check() and the manifest swap another writer
    could break a lease that expired at that exact moment. With the
    default 10-minute lease and per-commit-group renewal this requires a
    writer stalled >10 min between its fencing check and one os.rename.
    """

    def __init__(self, fs: _OutputFS, lease_seconds: float = 600.0):
        import os
        import socket
        import uuid

        self.fs = fs
        self.lease_seconds = lease_seconds
        self.token = uuid.uuid4().hex
        self.pid = os.getpid()
        self.host = socket.gethostname()

    def _payload(self) -> bytes:
        import json
        import time

        return json.dumps({
            'token': self.token, 'pid': self.pid, 'host': self.host,
            'ts': time.time(),
        }).encode('utf8')

    def _read(self):
        import json

        raw = self.fs.read_bytes(_LOCK)
        if raw is None:
            return None
        try:
            return json.loads(raw.decode('utf8'))
        except ValueError:
            return {}  # corrupt lock: treat as held-but-unparseable

    def _is_stale(self, cur: dict) -> bool:
        import os
        import time

        ts = cur.get('ts')
        if isinstance(ts, (int, float)) \
                and time.time() - ts > self.lease_seconds:
            return True
        pid = cur.get('pid')
        if cur.get('host') == self.host and isinstance(pid, int):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                return True  # holder died on this host
            except PermissionError:
                pass  # alive, owned by someone else
        return False

    def acquire(self) -> '_WriterLease':
        import json

        for _attempt in range(3):
            if self.fs.create_exclusive(_LOCK, self._payload()):
                return self
            raw = self.fs.read_bytes(_LOCK)
            if raw is None:
                continue  # raced with a release; retry the create
            try:
                cur = json.loads(raw.decode('utf8'))
            except ValueError:
                cur = {}
            if not self._is_stale(cur):
                raise ConcurrentWriteError(
                    'out_dir {} already has a live writer (pid {} on {}); '
                    'one writer per output directory — see CONCURRENCY.md'
                    .format(self.fs.out_dir, cur.get('pid'),
                            cur.get('host')))
            # break the stale lock by RENAMING it to a per-acquirer
            # tombstone: rename is atomic, so of two concurrent breakers
            # only ONE can win the source file — the earlier
            # read-compare-then-DELETE break let a second breaker delete
            # the first breaker's freshly created lock, leaving two
            # writers holding leases until the next fencing point
            # (code-review r5).
            tomb = _LOCK + '.broken.' + self.token + str(_attempt)
            if not self.fs.rename_file(_LOCK, tomb):
                continue  # lost the break race; re-read the winner's lock
            moved = self.fs.read_bytes(tomb)
            if moved == raw:
                # we broke exactly the lock we judged stale
                self.fs.delete_file(tomb)
                continue  # retry the exclusive create
            # the lock changed between our read and our rename — we
            # captured a COMPETITOR'S FRESH lock. Put it back without
            # clobbering anything newer and back off: there is a live
            # writer.
            self.fs.restore_no_clobber(tomb, _LOCK)
            raise ConcurrentWriteError(
                'out_dir {} already has a live writer (lost a lease-break '
                'race); one writer per output directory — see '
                'CONCURRENCY.md'.format(self.fs.out_dir))
        raise ConcurrentWriteError(
            'could not acquire writer lock under ' + self.fs.out_dir)

    def check(self) -> None:
        cur = self._read()
        if not cur or cur.get('token') != self.token:
            raise ConcurrentWriteError(
                'writer lease for {} lost (taken over by pid {} on {}); '
                'refusing to publish'.format(
                    self.fs.out_dir,
                    cur.get('pid') if cur else None,
                    cur.get('host') if cur else None))

    def renew(self) -> None:
        self.check()
        self.fs.write_atomic(_LOCK, self._payload())

    def release(self) -> None:
        cur = self._read()
        if cur and cur.get('token') == self.token:
            self.fs.delete_file(_LOCK)


def _read_manifest(fs: _OutputFS) -> dict:
    import json

    raw = fs.read_bytes(_MANIFEST)
    if raw is None:
        return {'commits': []}
    return json.loads(raw.decode('utf8'))


def _swap_manifest(fs: _OutputFS, manifest: dict) -> None:
    import json

    fs.write_atomic(_MANIFEST, json.dumps(
        manifest, indent=1, sort_keys=True).encode('utf8'))


def _committed_paths(fs: _OutputFS, manifest: dict, table: str) -> list:
    return [
        fs._full(table, c['commit_id'])
        for c in manifest['commits'] if c['tables'].get(table)
    ]


def _read_table(spark, table: str, paths: list) -> DataFrame:
    """The committed ``table`` under ``paths``, read with its known schema:
    a schema-less read runs a Spark job to read a parquet footer."""
    return spark.read.schema(COMMITTED_TABLE_SCHEMAS[table]).parquet(*paths)


def _write_tables(spark, fs: _OutputFS, cid: str, frames: dict) -> dict:
    """Overwrite ``<table>/<cid>/`` with each ``{table: DataFrame}`` of
    ``frames``, one thread per table, and return ``{table: wrote a part
    file}``.

    The tables of a commit do not depend on each other, and a small
    table's write often ends in one task (AQE coalesces its shuffle into
    one partition), so writing them one after another leaves the other
    cores idle. Each thread runs under the caller's job group, local
    properties and tags; each is wrapped on its own, because a wrap
    captures one properties object and a Spark job sets its SQL execution
    id in it. Every write has finished before the first error, in table
    order, is raised, so no job of the caller outlives the call."""
    def write(table, df):
        df.write.mode('overwrite').parquet(fs._full(table, cid))

    def target():
        wrap = inheritable_thread_target(spark)
        # without pinned threads (PYSPARK_PIN_THREAD=false) the wrap is the
        # SparkSession itself, and no thread carries JVM local properties
        return wrap(write) if callable(wrap) else write

    with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
        futures = [pool.submit(target(), table, df)
                   for table, df in frames.items()]
    for future in futures:
        future.result()
    # an all-duplicates unit writes zero part files; record that so
    # readers never scan a schema-less empty dir
    return {table: any(fs.part_files(table, cid)) for table in frames}


def run_checkpointed(spark, documents: DataFrame, out_dir: str,
                     n_buckets: int = 64, catalog=None,
                     compiler_options=None, commit_groups: int = 8,
                     lease_seconds: float = 600.0) -> dict:
    """Materialize the graph under ``out_dir`` with per-bucket lineage and
    transactional MERGE commits.

    Buckets (xxhash64(url) % n_buckets) are processed in ``commit_groups``
    commit units. Per unit:

    1. parse the unit's documents (one mapInPandas pass). Each Python
       task emits a node or edge row only the first time it meets its
       identity (a seen set of canonical BEL strings and edge identity
       tuples, capped at 65,536 entries each), so a repeated row is
       neither built nor shipped through Arrow; the ``dropDuplicates`` on
       ``node_id`` / ``edge_id`` removes what tasks still share. Each
       document's edge count, repeated edges included, travels as a
       scalar column for the lineage metrics. The parse is cached for
       the unit's four jobs and released whether the unit commits or
       fails,
    2. lineage: collect the per-bucket metrics — the cheapest job, run
       first so that it is the one that fills the cache,
    3. MERGE: drop rows whose content-hash key (node_id / edge_id) is
       already committed — an anti-join against the committed key column
       only (column-pruned parquet scan, uniform hash keys, the
       get-or-create upsert of the reference ``insert_graph``,
       cache_manager.py:848-903, expressed as a distributed join),
    4. write the survivors of the nodes, edges and warnings tables to
       ``<table>/<commit_id>/`` at once, one thread per table,
       each under the caller's job group (the commit id is a pure
       function of the bucket group, so a rerun after a kill overwrites
       its own orphans); the call waits for all three writes, and a
       failed write raises only after the others have finished,
    5. atomically swap MANIFEST.json to publish the commit + its
       per-bucket lineage metrics. Nothing reads a table before this
       swap, so the order of the writes does not matter.

    A kill mid-unit loses at most that unit's work; a re-invocation with
    the same ``out_dir`` skips manifest-committed buckets and reprocesses
    the rest. Readers (``read_graph``) need NO read-time dedup: the
    on-disk committed state is duplicate-free by construction.

    Concurrency: one writer per ``out_dir``, ENFORCED by an advisory
    lease (``WRITER.lock``) — a second live writer raises
    :class:`ConcurrentWriteError` at acquire time, and the lease token is
    re-checked (fencing) before every manifest swap. See CONCURRENCY.md.
    """
    docs = documents.withColumn(
        'bucket', F.pmod(F.xxhash64('url'), F.lit(n_buckets)).cast('int'))

    fs = _OutputFS(spark, out_dir)
    lease = _WriterLease(fs, lease_seconds).acquire()
    try:
        return _run_checkpointed_locked(
            spark, docs, fs, lease, n_buckets, catalog, compiler_options,
            commit_groups)
    finally:
        lease.release()


def _run_checkpointed_locked(spark, docs, fs, lease, n_buckets, catalog,
                             compiler_options, commit_groups) -> dict:
    import hashlib

    manifest = _read_manifest(fs)
    done = {b for c in manifest['commits'] for b in c['buckets']}

    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return {'skipped_buckets': len(done), 'processed_buckets': 0}

    if catalog is None:
        catalog = load_corpus_catalog()
    parse = _commit_parse_func(catalog, compiler_options, spark)

    # NOTE: the raw documents table is deliberately NOT persisted — at design
    # scale (100 TB of html/text) caching the input is impossible; the bucket
    # column is a cheap xxhash64 recomputed per scan, and each commit group's
    # scan is pruned by the bucket filter.
    group_size = max(1, (len(todo) + commit_groups - 1) // commit_groups)
    n_processed = 0
    for start in range(0, len(todo), group_size):
        group = todo[start:start + group_size]
        cid = 'g{:04d}-{}'.format(group[0], hashlib.md5(
            ','.join(map(str, group)).encode()).hexdigest()[:8])
        parsed = (
            docs.where(F.col('bucket').isin(group))
            .select('url', 'html', 'text')
            .mapInPandas(parse, schema=COMMIT_PARSED_SCHEMA)
            .withColumn('bucket', F.pmod(F.xxhash64('url'),
                                         F.lit(n_buckets)).cast('int'))
            .persist())
        try:
            # per-bucket lineage metrics (≤ |group| small rows collected)
            # first: the cheapest job that fills the cache the writes
            # read. A bucket without documents keeps its zeros, so
            # it is still done
            zeros = {'n_docs': 0, 'n_statements': 0, 'n_edges': 0,
                     'n_warnings': 0}
            metrics = {str(b): dict(zeros) for b in group}
            for r in parsed.groupBy('bucket').agg(
                    F.count('*').alias('n_docs'),
                    F.sum('n_statements').alias('n_statements'),
                    F.sum('n_edges').alias('n_edges'),
                    F.sum(F.size('warnings')).alias('n_warnings')).collect():
                metrics[str(r['bucket'])] = {k: r[k] for k in zeros}

            # each Python task emitted a node or edge once, but tasks
            # overlap
            nodes = (parsed.select('bucket', F.explode('nodes').alias('n'))
                     .select('bucket', 'n.*').dropDuplicates(['node_id']))
            edges = (parsed.select('bucket', 'url',
                                   F.explode('edges').alias('e'))
                     .select('bucket', 'url', 'e.*')
                     .dropDuplicates(['edge_id']))
            # warnings have no content key; urls are bucket-disjoint, so
            # groups can never overlap — no dedup needed
            warnings = (parsed.select('bucket', 'url',
                                      F.explode('warnings').alias('w'))
                        .select('bucket', 'url', 'w.*'))

            old_nodes = _committed_paths(fs, manifest, 'nodes')
            if old_nodes:
                nodes = nodes.join(
                    _read_table(spark, 'nodes', old_nodes).select('node_id'),
                    on='node_id', how='left_anti')
            old_edges = _committed_paths(fs, manifest, 'edges')
            if old_edges:
                edges = edges.join(
                    _read_table(spark, 'edges', old_edges).select('edge_id'),
                    on='edge_id', how='left_anti')

            tables = _write_tables(spark, fs, cid, {
                'nodes': nodes, 'edges': edges, 'warnings': warnings})
        finally:
            parsed.unpersist()

        # publish: fencing check + atomic swap is the commit point
        lease.renew()
        manifest['commits'].append({
            'commit_id': cid,
            'buckets': group,
            'tables': tables,
            'metrics': metrics,
        })
        _swap_manifest(fs, manifest)
        n_processed += len(group)

    return {'skipped_buckets': len(done), 'processed_buckets': n_processed}


def read_lineage(spark, out_dir: str) -> DataFrame:
    """Per-bucket lineage metrics reconstructed from the manifest."""
    manifest = _read_manifest(_OutputFS(spark, out_dir))
    rows = []
    for c in manifest['commits']:
        for bucket, m in c['metrics'].items():
            rows.append((int(bucket), m['n_docs'], m['n_statements'],
                         m['n_edges'], m['n_warnings'], 'done'))
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def compact_output(spark, out_dir: str, lease_seconds: float = 600.0) -> dict:
    """Compact a manifest-committed output: rewrite every table as ONE
    commit clustered by bucket, swap the manifest to reference only it,
    then delete the superseded data dirs.

    The Iceberg analogy is rewrite-data-files + snapshot expiration: the
    committed state is already duplicate-free (MERGE happens at write
    time), so compaction only bounds small-file growth and drops orphan
    dirs from killed attempts. Crash-safe ordering: new files → atomic
    manifest swap → cleanup; a crash leaves orphans, never partial reads.

    Compaction is a writer: it takes the same single-writer lease as
    :func:`run_checkpointed` (see CONCURRENCY.md).
    """
    fs = _OutputFS(spark, out_dir)
    lease = _WriterLease(fs, lease_seconds).acquire()
    try:
        return _compact_output_locked(spark, fs, lease)
    finally:
        lease.release()


def _compact_output_locked(spark, fs, lease) -> dict:
    import hashlib

    manifest = _read_manifest(fs)
    old_cids = [c['commit_id'] for c in manifest['commits']]
    if not old_cids:
        return {}
    new_cid = 'compact-' + hashlib.md5(
        ','.join(old_cids).encode()).hexdigest()[:8]

    def n_part_files(table, cid):
        return sum(1 for _ in fs.part_files(table, cid))

    frames = {}
    files_before = {}
    for table in _TABLES:
        paths = _committed_paths(fs, manifest, table)
        if paths:
            frames[table] = _read_table(spark, table, paths) \
                .repartition(F.col('bucket')).sortWithinPartitions('bucket')
            files_before[table] = sum(
                n_part_files(table, c['commit_id'])
                for c in manifest['commits'] if c['tables'].get(table))
    written = _write_tables(spark, fs, new_cid, frames)
    stats = {table: {'files_before': n,
                     'files_after': n_part_files(table, new_cid)}
             for table, n in files_before.items()}
    tables = {table: written.get(table, False) for table in _TABLES}

    merged_metrics = {}
    all_buckets = []
    for c in manifest['commits']:
        all_buckets.extend(c['buckets'])
        merged_metrics.update(c['metrics'])
    lease.renew()
    _swap_manifest(fs, {'commits': [{
        'commit_id': new_cid,
        'buckets': sorted(set(all_buckets)),
        'tables': tables,
        'metrics': merged_metrics,
    }]})

    # expire superseded + orphan dirs (anything but the new commit)
    for table in _TABLES:
        for d in fs.list_dir(table):
            if d != new_cid:
                fs.delete_recursive(table, d)
    return stats


def read_graph(spark, out_dir: str) -> dict:
    """Read back a checkpointed run. No read-time dedup is needed: the
    manifest references only MERGE-committed, duplicate-free data."""
    fs = _OutputFS(spark, out_dir)
    manifest = _read_manifest(fs)
    if not manifest['commits']:
        raise ValueError('no committed data under {}'.format(out_dir))

    def table(name):
        paths = _committed_paths(fs, manifest, name)
        if not paths:  # e.g. a warning-free corpus
            return spark.createDataFrame([], COMMITTED_TABLE_SCHEMAS[name])
        return _read_table(spark, name, paths)

    edges = table('edges')
    return {'nodes': table('nodes'), 'edges': edges,
            'warnings': table('warnings'), 'triples': edge_triples(edges)}


def triples_delta(triples_a: DataFrame, triples_b: DataFrame) -> DataFrame:
    """KG crawl-delta: classify each distinct (subject, predicate, object)
    as ``kept`` (in both crawls), ``added`` (new in B) or ``removed``
    (gone from A) — the knowledge-graph diff between two crawl batches
    that drives incremental downstream refresh (only added/removed
    triples re-enter entity linking, serving indexes, etc.).

    One full-outer equi-join on the triple key; both sides are the
    already-deduplicated north-star outputs, so the join carries three
    short strings per row.
    """
    a = triples_a.select('subject', 'predicate', 'object') \
        .distinct().withColumn('_in_a', F.lit(True))
    b = triples_b.select('subject', 'predicate', 'object') \
        .distinct().withColumn('_in_b', F.lit(True))
    return (
        a.join(b, on=['subject', 'predicate', 'object'], how='full_outer')
        .select(
            'subject', 'predicate', 'object',
            F.when(F.col('_in_a').isNotNull() & F.col('_in_b').isNotNull(),
                   'kept')
            .when(F.col('_in_b').isNotNull(), 'added')
            .otherwise('removed').alias('status'))
    )

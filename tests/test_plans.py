"""Plan-shape regression tests: the physical plans PLANS.md promises must
stay true — a regression (lost pushdown, extra shuffle, plan-bloating
literals) fails CI instead of surfacing as a scale incident.

Plans are asserted on the exact strings Spark's formatted explain emits
(Exchange operators, ReadSchema, PushedFilters), captured via
``_jdf.queryExecution``, or on the node classes and partitioning of the
physical plan tree itself (:func:`plan_nodes`).
"""
import re

import pytest

from pyspark.sql import functions as F

from pybel_spark.corpus import generate_documents
from pybel_spark.pipeline import extract_triples


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def plan_nodes(df) -> list:
    """Every node of the physical plan as JVM ``SparkPlan`` objects, with
    the AQE wrapper and cached relations opened up."""
    nodes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node_class(node)
        if cls == 'AdaptiveSparkPlanExec':
            stack.append(node.executedPlan())
            continue
        if cls == 'InMemoryTableScanExec':
            stack.append(node.relation().cachedPlan())
        nodes.append(node)
        stack.extend(seq_items(node.children()))
    return nodes


def node_class(jobj) -> str:
    return jobj.getClass().getSimpleName()


def seq_items(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def output_names(node) -> list:
    return [a.name() for a in seq_items(node.output())]


def n_exchanges(plan: str) -> int:
    # AQE wraps shuffles but every shuffle still prints one 'Exchange' node
    return len(re.findall(r'\bExchange\b', plan))


@pytest.fixture(scope='module')
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp('plans') / 'docs')
    generate_documents(spark, 50).write.mode('overwrite').parquet(path)
    return path


def test_extract_triples_single_exchange_and_pruned_scan(spark, docs_path):
    """The flagship plan: parquet scan reading ONLY (html, text) → one
    mapInPandas → exactly one Exchange (the distinct on 3 short strings)."""
    docs = spark.read.parquet(docs_path)
    plan = physical_plan(extract_triples(docs))
    assert n_exchanges(plan) == 1, plan
    scan = re.search(r'ReadSchema: struct<([^>]*)>', plan)
    assert scan is not None, plan
    cols = {c.split(':')[0] for c in scan.group(1).split(',') if c}
    assert cols == {'html', 'text'}, cols


def test_documents_filter_pushed_to_scan(spark):
    """Filters and projections must reach the parquet scan."""
    dd = spark.read.parquet('/root/testdata/sf0.01/documents.parquet')
    q = dd.where("lang = 'en'").select('doc_id', F.length('text').alias('n'))
    plan = physical_plan(q)
    assert 'PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]' in plan, plan
    scan = re.search(r'ReadSchema: struct<([^>]*)>', plan)
    cols = {c.split(':')[0] for c in scan.group(1).split(',') if c}
    assert cols == {'doc_id', 'lang', 'text'}, cols


def test_lsh_plan_has_no_hyperplane_literal_columns(spark):
    """The LSH signature stage must compute all dot products inside ONE
    numpy mapInPandas — a dim×planes×tables pile of Catalyst literals was
    the round-1 plan-bloat bug."""
    from pybel_spark.textops import similarity
    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    sigs = similarity.lsh_signatures(vectors, n_planes=4, n_tables=8)
    plan = optimized_plan(sigs)
    # a literal-column formulation embeds thousands of float literals;
    # the healthy plan is a short scan → mapInPandas pipeline
    assert len(plan) < 4000, 'plan bloated to {} chars'.format(len(plan))
    assert plan.count('MapInPandas') == 1, plan


def test_connected_components_round_shuffles(spark):
    """One label-propagation round = the neighbor-min aggregate + the
    pointer-doubling self-join: 4 Exchanges (sym probe, two label sides,
    partial/final agg pair collapses into one pair on uniform ids) — and
    NEVER a per-round growth (localCheckpoint keeps lineage flat)."""
    from pybel_spark.ops.graph import KG

    nodes = spark.createDataFrame(
        [('n%d' % i,) for i in range(20)], ['node_id'])
    edges = spark.createDataFrame(
        [('n%d' % i, 'n%d' % (i + 1)) for i in range(19)],
        ['source_id', 'target_id'])
    sym = edges.unionByName(
        edges.select(F.col('target_id').alias('source_id'),
                     F.col('source_id').alias('target_id'))).distinct()
    labels = nodes.select('node_id', F.col('node_id').alias('component'))
    labels = labels.localCheckpoint(eager=True)
    neighbor_min = (
        sym.join(labels.withColumnRenamed('node_id', 'source_id'),
                 on='source_id')
        .groupBy(F.col('target_id').alias('node_id'))
        .agg(F.min('component').alias('neighbor_component'))
    )
    shortcut = (
        labels.alias('a')
        .join(labels.alias('b'), F.col('a.component') == F.col('b.node_id'))
        .select(F.col('a.node_id').alias('node_id'),
                F.col('b.component').alias('grand_component'))
    )
    one_round = (
        labels.join(neighbor_min, on='node_id', how='left')
        .join(shortcut, on='node_id', how='left')
        .select('node_id', F.least(
            F.col('component'),
            F.coalesce('neighbor_component', F.col('component')),
            F.coalesce('grand_component', F.col('component'))
        ).alias('component'))
    )
    baseline = n_exchanges(physical_plan(one_round))
    # the shape must not grow with iteration count: localCheckpoint
    # truncation means round N's plan is identical to round 1's
    assert baseline <= 8, physical_plan(one_round)


def test_triangle_wedge_join_is_equi_join(spark):
    """The oriented wedge join must key on node-id EQUALITY (hash/sort-merge
    join with the order predicate as residual) — a nested-loop or cartesian
    plan here is quadratic in edges."""
    from pybel_spark.ops import KG, analytics

    nodes, edges = analytics.synthetic_skewed_graph(spark, 500, 4)
    plan = physical_plan(analytics.triangles(KG(nodes, edges)))
    assert 'BroadcastNestedLoopJoin' not in plan, plan
    assert 'CartesianProduct' not in plan, plan


def test_pagerank_plan_flat_across_iterations(spark):
    """localCheckpoint truncation: the per-round plan must not grow with
    the iteration count (10 rounds explain == bounded size)."""
    from pybel_spark.ops import KG, analytics

    nodes, edges = analytics.synthetic_skewed_graph(spark, 200, 4)
    g = KG(nodes, edges)
    p2 = physical_plan(analytics.pagerank(g, n_iterations=2))
    p6 = physical_plan(analytics.pagerank(g, n_iterations=6))
    # identical shape modulo plan/exprId numbering: same operator count
    assert abs(n_exchanges(p6) - n_exchanges(p2)) == 0, (p2, p6)
    assert len(p6) < 1.3 * len(p2) + 500, (len(p2), len(p6))


def _no_auto_broadcast(spark):
    """Context: disable size-based auto-broadcast so any BroadcastExchange
    in the plan can only come from an explicit F.broadcast hint."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
        try:
            yield
        finally:
            spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)
    return ctx()


def test_lsh_topk_all_pairs_never_broadcasts(spark):
    """lsh_topk with query_ids=None is corpus-vs-corpus: the query side is
    the full signature table and must go through the salted equi-join,
    never an F.broadcast hint (driver OOM at scale)."""
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    with _no_auto_broadcast(spark):
        out = similarity.lsh_topk(vectors, k=3, n_planes=4, n_tables=2,
                                  query_ids=None)
        plan = physical_plan(out)
    assert 'BroadcastExchange' not in plan, plan
    assert 'BroadcastHashJoin' not in plan, plan
    # the salted key must actually reach the join
    assert '_salt' in plan, plan


def test_lsh_topk_selective_still_broadcasts(spark):
    """The selective-serving path keeps the broadcast: a filtered query set
    is small by construction and the big side must stream un-shuffled."""
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    with _no_auto_broadcast(spark):
        out = similarity.lsh_topk(vectors, k=3, n_planes=4, n_tables=2,
                                  query_ids=[0, 1, 2])
        plan = physical_plan(out)
    assert 'BroadcastExchange' in plan, plan


def test_ivf_index_serving_external_queries_no_broadcast(spark, tmp_path):
    """ivf_index_topk with an external (unknown-size) query DataFrame must
    not broadcast the probe side — corpus-sized serving batches OOM
    otherwise — while keeping the partition-pruned index read."""
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    path = str(tmp_path / 'ivf_plan_index')
    similarity.ivf_index_write(vectors, path, n_lists=4)
    q = vectors.select(F.col('vec_id').alias('q_id'),
                       F.col('embedding').alias('q_vec'))
    with _no_auto_broadcast(spark):
        out = similarity.ivf_index_topk(spark, path, k=3, n_probe=2,
                                        queries=q)
        plan = physical_plan(out)
    assert 'BroadcastExchange' not in plan, plan
    assert '_salt' in plan, plan
    # pruning filter on the partition column is still in the scan
    assert re.search(r'PartitionFilters: \[[^\]]*list_id', plan), plan


def test_grounding_join_is_broadcast(spark):
    """The namespace-grounding path must broadcast the small dictionary
    side, never shuffle the big mention side."""
    import json

    from pybel_spark.grounding import ground_concepts_join

    node = {'function': 'Protein',
            'concept': {'namespace': 'HGNC', 'name': 'AKT1'}}
    nodes = spark.createDataFrame(
        [('id%d' % i, json.dumps(node)) for i in range(100)],
        ['node_id', 'node_json'])
    terms = spark.createDataFrame(
        [('HGNC', 'AKT1', 'GRP'), ('HGNC', 'EGFR', 'GRP')],
        ['namespace', 'name', 'encoding'])
    out = ground_concepts_join(nodes, terms)
    plan = physical_plan(out)
    assert 'BroadcastHashJoin' in plan, plan
    assert 'SortMergeJoin' not in plan, plan


def test_grounding_salted_shuffle_plan(spark):
    """The larger-than-memory-dictionary path (broadcast_terms=False,
    salt_buckets) must (a) not broadcast the terms side, (b) carry the
    salt as a real join key so the hot mention key spreads over
    salt_buckets reducers."""
    from pybel_spark.grounding import ground_mentions_join

    mentions = spark.range(1000).select(
        F.concat(F.lit('n'), F.col('id').cast('string')).alias('node_id'),
        F.lit('HGNC').alias('namespace'), F.lit('TP53').alias('name'),
        F.lit(None).cast('string').alias('identifier'))
    terms = spark.createDataFrame(
        [('HGNC', 'TP53', 'GRP')], ['namespace', 'name', 'encoding'])
    out = ground_mentions_join(mentions, terms, broadcast_terms=False,
                               salt_buckets=8)
    plan = physical_plan(out)
    assert '_salt' in plan, plan
    assert 'BroadcastHashJoin' not in plan, plan
    # and the result still grounds every mention exactly once
    rows = out.collect()
    assert len(rows) == 1000
    assert all(r['is_grounded'] for r in rows)


def test_pagerank_rounds_never_broadcast_rank_table(spark):
    """Fixpoint state⋈edges joins are merge-pinned: no broadcast
    exchange of the per-round rank table regardless of the session's
    autoBroadcastJoinThreshold (at 10^9 nodes a broadcast would OOM;
    below it, per-round re-broadcast pays driver fan-out every
    iteration)."""
    from pybel_spark.ops import KG, analytics

    nodes, edges = analytics.synthetic_skewed_graph(spark, 2000, 4)
    out = analytics.pagerank(KG(nodes, edges), n_iterations=2)
    plan = physical_plan(out)
    assert 'BroadcastHashJoin' not in plan, plan


def test_iter_node_concepts_has_no_python_stage(spark):
    """The concept walk must stay in whole-stage codegen: no MapInPandas
    (the round-3 formulation walked node JSON row-by-row in Python)."""
    import json

    from pybel_spark.ops import summary

    node = {'function': 'Protein',
            'concept': {'namespace': 'HGNC', 'name': 'AKT1'}}
    nodes = spark.createDataFrame(
        [('n%d' % i, json.dumps(node)) for i in range(10)],
        ['node_id', 'node_json'])
    plan = physical_plan(summary.iter_node_concepts(nodes))
    assert 'MapInPandas' not in plan, plan
    assert 'ArrowEvalPython' not in plan, plan
    assert 'BatchEvalPython' not in plan, plan


def test_bucketed_join_elides_both_exchanges(spark, tmp_path):
    """storage.write_bucketed: two tables bucketed on the same key with
    the same bucket count join WITHOUT any Exchange — the pre-shuffled
    layout replaces the per-query shuffle (the repeated-join scale
    shape). A plain parquet round-trip of the same data shuffles both
    sides; the assertion pins the difference."""
    from pyspark.sql import functions as F

    from pybel_spark import storage

    docs = spark.range(10_000).select(
        F.col('id').alias('doc_id'),
        (F.col('id') % 97).alias('score'))
    meta = spark.range(10_000).select(
        F.col('id').alias('doc_id'),
        (F.col('id') % 13).alias('lang_id'))
    prev = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        storage.write_bucketed(docs, 'b_docs',
                               str(tmp_path / 'b_docs'), 'doc_id',
                               n_buckets=8)
        storage.write_bucketed(meta, 'b_meta',
                               str(tmp_path / 'b_meta'), 'doc_id',
                               n_buckets=8)
        joined = storage.read_bucketed(spark, 'b_docs').join(
            storage.read_bucketed(spark, 'b_meta'), on='doc_id')
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert 'Exchange' not in plan, plan
        assert joined.count() == 10_000

        # control: the same join over plain parquet shuffles
        docs.write.mode('overwrite').parquet(str(tmp_path / 'p_docs'))
        meta.write.mode('overwrite').parquet(str(tmp_path / 'p_meta'))
        plain = spark.read.parquet(str(tmp_path / 'p_docs')).join(
            spark.read.parquet(str(tmp_path / 'p_meta')), on='doc_id')
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert 'Exchange' in plain_plan or 'Broadcast' in plain_plan
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', prev)
        spark.sql('DROP TABLE IF EXISTS b_docs')
        spark.sql('DROP TABLE IF EXISTS b_meta')


def formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode='formatted')
    return buf.getvalue()


def _salted_exchange_inputs(plan: str):
    """Yield the Input column list of every Exchange node whose
    partitioning includes the _salt key (formatted-explain sections)."""
    sections = re.split(r'\n\(\d+\) ', plan)
    for sec in sections:
        if not sec.startswith('Exchange'):
            continue
        args = re.search(r'Arguments: (.*)', sec)
        if args is None or '_salt' not in args.group(1):
            continue
        inputs = re.search(r'Input \[\d+\]: \[([^\]]*)\]', sec)
        assert inputs is not None, sec
        yield inputs.group(1)


VEC_COLS = ('embedding', 'q_vec', 'n_vec', 'a_vec', 'b_vec')


def test_lsh_topk_salted_exchange_carries_no_vector(spark):
    """r4 verdict finding #1: the ×32 salt replication in the all-pairs
    LSH join must move (bucket, id) rows only — the embedding payload
    (dim×8 bytes/row) re-attaches by id join AFTER the candidate dedup."""
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    with _no_auto_broadcast(spark):
        out = similarity.lsh_topk(vectors, k=3, n_planes=4, n_tables=2,
                                  query_ids=None)
        plan = formatted_plan(out)
    salted = list(_salted_exchange_inputs(plan))
    assert salted, plan  # the salted join must still exist
    for cols in salted:
        assert not any(v in cols for v in VEC_COLS), cols


def test_near_duplicates_salted_exchange_carries_no_vector(spark):
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    with _no_auto_broadcast(spark):
        out = similarity.embedding_near_duplicates(vectors, threshold=0.9,
                                                   n_planes=4, n_tables=2)
        plan = formatted_plan(out)
    salted = list(_salted_exchange_inputs(plan))
    assert salted, plan
    for cols in salted:
        assert not any(v in cols for v in VEC_COLS), cols


def test_ivf_topk_salted_exchange_carries_no_vector(spark):
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    with _no_auto_broadcast(spark):
        out = similarity.ivf_topk(vectors, k=3, n_lists=4, n_probe=2,
                                  query_ids=None)
        plan = formatted_plan(out)
    salted = list(_salted_exchange_inputs(plan))
    assert salted, plan
    for cols in salted:
        assert not any(v in cols for v in VEC_COLS), cols


def test_ivf_index_salted_exchange_carries_no_vector(spark, tmp_path):
    from pybel_spark.textops import similarity

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    path = str(tmp_path / 'ivf_novec_index')
    similarity.ivf_index_write(vectors, path, n_lists=4)
    q = vectors.select(F.col('vec_id').alias('q_id'),
                       F.col('embedding').alias('q_vec'))
    with _no_auto_broadcast(spark):
        out = similarity.ivf_index_topk(spark, path, k=3, n_probe=2,
                                        queries=q)
        plan = formatted_plan(out)
    salted = list(_salted_exchange_inputs(plan))
    assert salted, plan
    for cols in salted:
        assert not any(v in cols for v in VEC_COLS), cols


def test_parse_index_probe_is_slim_equi_antijoin(spark, docs_path,
                                                 tmp_path):
    """The incremental-parse probe: the historical keys/ scan must read
    ONLY the key_hash column, and the batch-vs-index anti-join must be
    a hash or sort-merge equi-join on that uniform key — never a
    nested-loop join or cartesian product (which would cross the batch
    against the whole historical index)."""
    from pybel_spark import parse_index as PI
    from pybel_spark.pipeline import load_corpus_catalog, statement_keys

    path = str(tmp_path / 'pidx_plan')
    docs = spark.read.parquet(docs_path)
    PI.parse_index_write(docs, path)

    catalog = load_corpus_catalog()
    keys = PI._with_key_hash(statement_keys(docs, catalog))
    known = spark.read.parquet(path + '/keys')
    novel = keys.join(known, on='key_hash', how='left_anti')
    nodes = plan_nodes(novel)
    classes = [node_class(n) for n in nodes]
    assert 'BroadcastNestedLoopJoinExec' not in classes, classes
    assert 'CartesianProductExec' not in classes, classes
    [join] = [n for n in nodes if node_class(n) in (
        'BroadcastHashJoinExec', 'ShuffledHashJoinExec', 'SortMergeJoinExec')]
    assert join.joinType().toString() == 'LeftAnti', join.toString()
    # one equi-key: the batch's key_hash expression against the stored
    # key_hash column
    assert join.leftKeys().size() == 1, join.toString()
    assert [k.name() for k in seq_items(join.rightKeys())] == ['key_hash'], \
        join.toString()
    # the keys/ parquet scan reads exactly one column
    key_scans = [n for n in nodes if node_class(n) == 'FileSourceScanExec'
                 and 'key_hash' in output_names(n)]
    assert key_scans, classes
    for scan in key_scans:
        assert list(scan.requiredSchema().fieldNames()) == ['key_hash'], \
            scan.toString()


def test_statement_key_parse_input_is_round_robin_exchange(spark,
                                                           docs_path):
    """Stage 3 of the dedup parse costs CPU per key, but AQE sizes the
    distinct-key partitions by bytes and coalesces the short keys into
    one. Both callers must feed the stage-3 mapInPandas through an
    explicit round-robin repartition into defaultParallelism partitions
    (a REPARTITION_BY_NUM exchange, which AQE never coalesces)."""
    from pybel_spark import parse_index as PI, pipeline

    docs = spark.read.parquet(docs_path)
    catalog = pipeline.load_corpus_catalog()
    keys = PI._with_key_hash(pipeline.statement_keys(docs, catalog))
    index_parse = pipeline._parse_statement_keys(
        keys, spark.sparkContext.broadcast(catalog), {}, with_key_hash=True)
    n = spark.sparkContext.defaultParallelism
    for df in (pipeline.extract_triples_deduped(docs), index_parse):
        nodes = plan_nodes(df)
        [parse] = [m for m in nodes if node_class(m) == 'MapInPandasExec'
                   and 'subject' in output_names(m)]
        exchange = parse.child()
        assert node_class(exchange) == 'ShuffleExchangeExec', \
            [node_class(m) for m in nodes]
        part = exchange.outputPartitioning()
        assert node_class(part) == 'RoundRobinPartitioning', part.toString()
        assert part.numPartitions() == n, part.toString()
        assert exchange.shuffleOrigin().toString() == 'REPARTITION_BY_NUM'


def test_host_link_graph_single_exchange(spark):
    """host_link_graph: anchor extraction + href resolution fuse into
    the page scan; the ONLY exchange is the (src_host, dst_host) hash
    aggregation, and it is preceded by a map-side partial aggregate so
    hub hosts cannot skew the shuffle."""
    from pybel_spark.textops import links

    pages = spark.createDataFrame(
        [('https://a.example.com/p',
          b'<a href="https://b.example.com/x">t</a>')],
        'url string, html binary')
    plan = physical_plan(links.host_link_graph(pages))
    assert n_exchanges(plan) == 1, plan
    assert plan.index('HashAggregate') < plan.index('Exchange'), plan


def test_semdedup_pairs_one_grouped_exchange_no_pair_join(spark):
    """SemDeDup r7 contract (grouped Arrow scoring): each cluster's
    vectors cross ONE Exchange keyed by list_id — every vector moves
    once (O(n·dim) bytes), never once per candidate pair (the previous
    salted-join + per-pair re-attach moved the payload quadratically).
    The pairs plan is scan → assign → one Exchange(list_id) →
    FlatMapGroupsInPandas: no join node of any kind, and the one
    exchange is keyed on list_id alone (no salt key)."""
    from pybel_spark.textops import semdedup

    vectors = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    with _no_auto_broadcast(spark):
        out = semdedup.semdedup_pairs(vectors, threshold=0.9, n_clusters=4,
                                      refine_iterations=0)
        nodes = plan_nodes(out)
    classes = [node_class(n) for n in nodes]
    exchanges = [n for n in nodes if 'Exchange' in node_class(n)]
    assert [node_class(n) for n in exchanges] == ['ShuffleExchangeExec'], \
        classes
    part = exchanges[0].outputPartitioning()
    assert node_class(part) == 'HashPartitioning', part.toString()
    assert [e.name() for e in seq_items(part.expressions())] == \
        ['list_id'], part.toString()
    [grouped] = [n for n in nodes
                 if node_class(n) == 'FlatMapGroupsInPandasExec']
    child = grouped.child()
    while node_class(child) == 'SortExec':
        child = child.child()
    assert node_class(child) == 'ShuffleExchangeExec', classes
    assert not [c for c in classes
                if 'Join' in c or c == 'CartesianProductExec'], classes


def test_bfs_result_plan_is_flat_checkpoint_union(spark):
    """bfs_distances: every hop is localCheckpoint-truncated, so the
    RETURNED plan must be nothing but a union over checkpointed RDD
    scans — no joins, no exchanges, no re-evaluation of the hop chain.
    The per-hop adjacency/explode expansion itself is pinned by
    test_frontier_hop_shape on the live (pre-checkpoint) hop plan."""
    from pybel_spark.ops import KG, analytics
    from pybel_spark.ops.paths import bfs_distances

    nodes, edges = analytics.synthetic_skewed_graph(spark, 2000, 4)
    out = bfs_distances(KG(nodes, edges), nodes.limit(3), max_hops=3)
    plan = physical_plan(out)
    assert 'Scan ExistingRDD' in plan, plan
    assert n_exchanges(plan) == 0, plan
    assert 'Join' not in plan, plan


def test_frontier_hop_shape(spark):
    """The PLANS.md §31 hop contract, asserted on a LIVE hop plan (the
    operators checkpoint-truncate theirs): frontier ⋈ adjacency-array +
    explode must compile to one SortMergeJoin followed by a Generate —
    no broadcast of the frontier, no shuffle of an O(edges) pair table.
    Built with the exact expressions bfs_distances/_power_iteration use."""
    from pybel_spark.ops import analytics

    nodes, edges = analytics.synthetic_skewed_graph(spark, 2000, 4)
    adj = (edges.select('source_id', 'target_id').distinct()
           .groupBy(F.col('source_id').alias('node_id'))
           .agg(F.collect_list('target_id').alias('nbrs')))
    frontier = nodes.select('node_id', F.lit(0).alias('distance'))
    hop = (frontier.hint('merge').join(adj, on='node_id')
           .select(F.explode('nbrs').alias('node_id'),
                   F.lit(1).alias('distance')))
    plan = physical_plan(hop)
    assert 'SortMergeJoin' in plan, plan
    assert 'BroadcastHashJoin' not in plan, plan
    assert 'Generate explode' in plan, plan


def test_betweenness_plan_no_broadcast_state(spark):
    """Brandes (PLANS.md §32): frontier/σ/δ state joins are merge-pinned
    — no BroadcastHashJoin anywhere in the final plan regardless of the
    session broadcast threshold."""
    from pybel_spark.ops import KG, analytics

    nodes, edges = analytics.synthetic_skewed_graph(spark, 2000, 4)
    out = analytics.betweenness_centrality(
        KG(nodes, edges), max_hops=4, source_fraction=0.01)
    plan = physical_plan(out)
    assert 'BroadcastHashJoin' not in plan, plan


def test_node2vec_result_plan_flat_and_jvm_only(spark):
    """node2vec_walks: per-step plans are checkpoint-truncated (the
    returned union must be scan-only, like BFS), and nothing anywhere in
    the operator drops to Python — the second-order weight fold is pure
    column algebra (aggregate/transform higher-order functions)."""
    from pybel_spark.ops import KG, analytics

    nodes, edges = analytics.synthetic_skewed_graph(spark, 2000, 4)
    out = analytics.node2vec_walks(KG(nodes, edges), walk_length=3,
                                   walks_per_node=1)
    plan = physical_plan(out)
    assert 'Scan ExistingRDD' in plan, plan
    assert n_exchanges(plan) == 0, plan
    assert 'MapInPandas' not in plan and 'BatchEvalPython' not in plan, plan

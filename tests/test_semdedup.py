"""SemDeDup (textops/semdedup.py): clustering reuse, ε-ball grouping,
keep-the-outlier policy, and the id-only salted pair join."""
import math

import pytest
from pyspark.sql import functions as F


def _vectors(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        'vec_id int, embedding array<double>')


def test_semdedup_groups_and_keep_policy(spark):
    """Two planted duplicate groups inside one cluster (pure ε-ball
    semantics): exact copies + a blend form one transitive group, and
    the member with the LOWEST centroid cosine survives, ties breaking
    to the lowest id."""
    from pybel_spark.textops import semdedup

    # group A: two exact e1 copies + one blend; group B: two exact e2
    # copies; plus two singletons. With ONE cluster the centroid is the
    # global mean, which the blend's extra e2 component tilts toward —
    # so the blend sits CLOSER to the centroid than the pure copies and
    # the copies are the "outliers"; the lowest-id copy is kept.
    e1, e2, e3 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], \
        [0.0, 0.0, 1.0, 0.0]
    blend = [1.0, 0.25, 0.0, 0.0]  # cos vs e1 ≈ 0.970
    rows = [(0, e1), (1, e1), (2, blend),
            (10, e2), (11, e2),
            (20, e3), (21, [0.0, 0.0, 0.0, 1.0])]
    out = semdedup.semdedup(
        _vectors(spark, rows), threshold=0.9, n_clusters=1,
        refine_iterations=1).orderBy('vec_id')
    got = {r['vec_id']: r.asDict() for r in out.collect()}
    assert len(got) == 7

    # exact copies + blend form one group labeled by the min id
    assert got[0]['group_id'] == got[1]['group_id'] == \
        got[2]['group_id'] == 0
    assert got[10]['group_id'] == got[11]['group_id'] == 10
    for vid in (20, 21):
        assert got[vid]['group_id'] == vid and got[vid]['keep']

    # keep policy: the blend is nearer the global-mean centroid than the
    # copies, so the copies have the lower centroid_sim (exact tie with
    # each other) and the lowest-id copy survives
    assert got[2]['centroid_sim'] > got[0]['centroid_sim']
    assert got[0]['centroid_sim'] == got[1]['centroid_sim']
    assert got[0]['keep'] and not got[1]['keep'] and not got[2]['keep']
    # group B ties exactly → lowest id survives
    assert got[10]['keep'] and not got[11]['keep']

    # exactly one survivor per group
    kept = [v for v in got.values() if v['keep']]
    assert len(kept) == 4


def test_semdedup_is_cluster_local(spark):
    """Near-identical vectors split across DIFFERENT clusters do not
    pair — the documented SemDeDup recall trade-off (raise n_clusters →
    smaller ε-balls but more cross-cluster misses)."""
    from pybel_spark.textops import semdedup
    from pybel_spark.textops.similarity import ivf_assignments

    e1 = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, e1) for i in range(3)] + \
        [(10, [0.0, 1.0, 0.0, 0.0]), (11, [0.0, 0.0, 1.0, 0.0])]
    vecs = _vectors(spark, rows)
    assigns, _ = ivf_assignments(vecs, n_lists=5, seed=7,
                                 refine_iterations=0)
    by_list = {r['vec_id']: r['list_id'] for r in assigns.collect()}
    pairs = semdedup.semdedup_pairs(vecs, threshold=0.9, n_clusters=5,
                                    refine_iterations=0)
    for r in pairs.collect():
        assert by_list[r['vec_a']] == by_list[r['vec_b']]


def test_semdedup_pairs_threshold(spark):
    from pybel_spark.textops import semdedup

    e1 = [1.0, 0.0, 0.0, 0.0]
    near = [1.0, 0.1, 0.0, 0.0]     # cos ≈ 0.995
    far = [1.0, 1.0, 0.0, 0.0]      # cos ≈ 0.707
    rows = [(0, e1), (1, near), (2, far)]
    pairs = semdedup.semdedup_pairs(
        _vectors(spark, rows), threshold=0.9, n_clusters=1,
        refine_iterations=0)
    got = {(r['vec_a'], r['vec_b']): r['similarity']
           for r in pairs.collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(1 / math.sqrt(1.01))


def test_semdedup_filter_drops_losers(spark):
    from pybel_spark.textops import semdedup

    e1 = [1.0, 0.0]
    rows = [(0, e1), (1, e1), (2, [0.0, 1.0])]
    vecs = _vectors(spark, rows)
    verdicts = semdedup.semdedup(vecs, threshold=0.9, n_clusters=2,
                                 refine_iterations=1)
    docs = spark.createDataFrame(
        [(0, 'a'), (1, 'b'), (2, 'c')], 'doc_id int, text string')
    kept = semdedup.semdedup_filter(docs, verdicts)
    assert sorted(r['doc_id'] for r in kept.collect()) == [0, 2]


def test_semdedup_empty_and_single(spark):
    from pybel_spark.textops import semdedup

    one = _vectors(spark, [(7, [1.0, 2.0])])
    out = semdedup.semdedup(one, threshold=0.9, n_clusters=1,
                            refine_iterations=0).collect()
    assert len(out) == 1 and out[0]['keep'] and out[0]['group_id'] == 7

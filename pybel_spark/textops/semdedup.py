"""SemDeDup — semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): remove *semantic* duplicates — documents whose
embeddings are nearly identical even when their text is not — by
clustering the embedding space and pruning within-cluster ε-balls.

The published recipe, re-expressed Spark-first:

1. k-means the corpus embeddings into ``n_clusters`` lists. We reuse the
   IVF coarse quantizer (:func:`similarity.ivf_assignments`) verbatim:
   deterministic md5-seeded init + distributed Lloyd steps, so the
   clustering is reproducible in any engine and identical to the ANN
   index's partitioning (one quantizer serves both ops at scale).
2. Within each cluster, pairwise cosine; pairs with sim ≥ ``threshold``
   are semantic duplicates. This is the algorithm's cost model —
   O(Σ|c|²) *within* clusters instead of O(n²) globally. Each cluster
   is scored in ONE grouped Arrow stage: every vector crosses the
   exchange and the Python boundary once per cluster (O(n·dim) bytes),
   never once per candidate pair; the pairwise cosines are one chunked
   numpy pass inside the stage (see :func:`semdedup_pairs`).
3. Duplicate groups = connected components over the pair graph (shared
   pointer-doubling engine, :func:`dedup.near_duplicate_clusters`).
4. Keep policy (the paper's): within each duplicate group keep the ONE
   example with the LOWEST cosine similarity to its cluster centroid —
   prototypical near-copies are dropped, the outlier survives. Ties
   break to the lowest id; singletons always survive.

All scoring is float64 numpy inside Arrow-batched stages (no per-row
Python); the per-vector centroid similarity is one map-side projection
against the broadcast-size (n_clusters × dim) centroid matrix.
"""
from pyspark.sql import DataFrame, Window, functions as F

from .similarity import _matrix, _unit_rows, ivf_assignments


def _centroid_sims(assignments: DataFrame, centroids, id_col, vec_col
                   ) -> DataFrame:
    """(id, list_id, centroid_sim): cosine of each vector to its assigned
    centroid — one numpy stage, centroids (a few KB) in the closure."""
    import numpy as np

    normed = _unit_rows(np.asarray(centroids, dtype=np.float64))

    def score(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            emb = _unit_rows(_matrix(pdf[vec_col], dim=normed.shape[1]))
            sims = (emb * normed[pdf['list_id'].to_numpy()]).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                'list_id': pdf['list_id'],
                                'centroid_sim': sims})

    id_type = assignments.schema[id_col].dataType.simpleString()
    return assignments.select(id_col, vec_col, 'list_id').mapInPandas(
        score, schema='{} {}, list_id int, centroid_sim double'
        .format(id_col, id_type))


def semdedup_pairs(vectors: DataFrame, threshold=0.7, n_clusters=16,
                   seed=7, refine_iterations=1, id_col='vec_id',
                   vec_col='embedding', _assignments=None) -> DataFrame:
    """(vec_a, vec_b, similarity) semantic-duplicate pairs: within-cluster
    cosine ≥ threshold, vec_a < vec_b.

    Scale shape: each cluster is scored in ONE grouped Arrow stage —
    every vector crosses the Python boundary ONCE per cluster
    (O(n · dim) bytes) instead of once per candidate pair
    (O(Σ|c|² · dim), the previous salted-join + per-pair re-attach
    shape, which moved the heavy payload quadratically — guide-§8
    "decide with small rows, move big rows once"). Pair enumeration is
    chunked inside the stage so peak memory is bounded regardless of
    cluster size; the quadratic Σ|c|² FLOP cost is inherent to SemDeDup
    and bounded by raising n_clusters, which shrinks clusters (the
    paper's own lever — a cluster is also this stage's parallelism
    unit). Similarities are computed by the exact cosine_pairs numpy
    expression, so every (pair, similarity) is bit-identical to the
    previous shape.
    """
    import numpy as np

    if _assignments is None:
        _assignments, _ = ivf_assignments(
            vectors, n_clusters, seed, id_col, vec_col, refine_iterations)
    id_type = _assignments.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def score_cluster(pdf):
        import pandas as pd
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({'vec_a': [], 'vec_b': [],
                                 'similarity': []})
        pdf = pdf.sort_values(id_col)
        emb = _matrix(pdf[vec_col])
        ids = pdf[id_col].to_numpy()
        ia, ib = np.triu_indices(n, k=1)
        out_a, out_b, out_s = [], [], []
        chunk = 2_000_000
        for lo in range(0, len(ia), chunk):
            ca, cb = ia[lo:lo + chunk], ib[lo:lo + chunk]
            a, b = emb[ca], emb[cb]
            # the exact cosine_pairs arithmetic (bit-identical sims)
            dot = (a * b).sum(axis=1)
            denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            sim = np.where(denom > 0,
                           dot / np.where(denom == 0, 1.0, denom), 0.0)
            keep = sim >= thr
            out_a.append(ids[ca[keep]])
            out_b.append(ids[cb[keep]])
            out_s.append(sim[keep])
        return pd.DataFrame({'vec_a': np.concatenate(out_a),
                             'vec_b': np.concatenate(out_b),
                             'similarity': np.concatenate(out_s)})

    return (_assignments.select(id_col, vec_col, 'list_id')
            .groupBy('list_id')
            .applyInPandas(score_cluster,
                           schema='vec_a {t}, vec_b {t}, similarity double'
                           .format(t=id_type)))


def semdedup(vectors: DataFrame, threshold=0.7, n_clusters=16, seed=7,
             refine_iterations=1, id_col='vec_id',
             vec_col='embedding') -> DataFrame:
    """Full SemDeDup verdict table: (vec_id, cluster_id, centroid_sim,
    group_id, keep).

    group_id = min id reachable through the ≥threshold pair graph
    (singletons group with themselves); keep = the group member with the
    LOWEST centroid similarity (ties → lowest id) — the paper's
    keep-the-outlier policy — plus every singleton.
    """
    assignments, centroids = ivf_assignments(
        vectors, n_clusters, seed, id_col, vec_col, refine_iterations)
    assignments = assignments.persist()
    pairs = semdedup_pairs(
        vectors, threshold, n_clusters, seed, refine_iterations,
        id_col, vec_col, _assignments=assignments)

    from .dedup import near_duplicate_clusters

    groups = near_duplicate_clusters(pairs, id_a='vec_a', id_b='vec_b') \
        .select(F.col('doc_id').alias(id_col),
                F.col('cluster_id').alias('group_id'))
    scored = _centroid_sims(assignments, centroids, id_col, vec_col)
    labeled = (scored.join(groups, on=id_col, how='left')
               .withColumn('group_id',
                           F.coalesce('group_id', F.col(id_col))))
    w = Window.partitionBy('group_id').orderBy('centroid_sim', id_col)
    return (labeled
            .withColumn('keep', F.row_number().over(w) == 1)
            .select(F.col(id_col).alias('vec_id'),
                    F.col('list_id').alias('cluster_id'),
                    'centroid_sim', 'group_id', 'keep'))


def semdedup_filter(docs: DataFrame, verdicts: DataFrame,
                    id_col='doc_id', vec_id_col='vec_id') -> DataFrame:
    """Apply a :func:`semdedup` verdict table to a document table: keep
    rows whose id survives (anti-join on the dropped ids — only the id
    column of the verdict table ever moves)."""
    dropped = verdicts.where(~F.col('keep')) \
        .select(F.col(vec_id_col).alias(id_col))
    return docs.join(dropped, on=id_col, how='left_anti')
